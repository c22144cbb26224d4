package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec

/** One benchmark run in one process: set-up, a closed loop of timed
  * iterations (each starts when the previous one ends), an optional traced
  * loop with per-layer metrics, and an untimed correctness pass. Writes
  * `record.json` (and `spans.json` when traced) under `--out`.
  *
  *   perfbench.Main --workload W --seconds S --trace 0|1 --data DIR --out DIR [-- CLI args]
  */
object Main {
  /** Every per-layer metric name; a workload reports 0 for the ones it does not exercise. */
  val layerNames: Seq[String] = Seq(
    "geo.contains_ns", "geo.cell_encode_ns", "geo.cover_geometry_us", "geo.tile_xy_ns", "geo.hilbert_ns",
    "spatial_join.s", "spatial_join.candidates", "spatial_join.hits", "spatial_join.hit_ratio",
    "spatial_join.cover_cells", "spatial_join.broadcast_bytes",
    "functions.cell_encode_s", "functions.tile_s",
    "sources.scan_s", "sources.rows_read", "sources.bytes_read",
    "cli.run_s", "cli.write_s", "pipeline.rows_out", "sorted_sink.jobs",
    "sorted_sink.shuffle_write_bytes", "sorted_sink.spill_bytes", "sorted_sink.bytes_written",
    "sorted_sink.out_bytes_per_row") ++
    CurateMultijob.queries.flatMap(q => Seq("s", "jobs", "driver_wait_s", "shuffle_write_bytes", "cached_bytes_after")
      .map(m => s"catalog.$q.$m")) ++
    Seq("spark.task_s", "spark.gc_s", "spark.driver_wait_s", "spark.task_skew",
      "spark.peak_exec_mem_bytes", "trace_overhead")

  final case class Opts(workload: String, seconds: Double, trace: Boolean,
                        data: String, out: String, cliArgs: Seq[String])

  def parse(args: Array[String]): Opts = {
    val (own, rest) = args.span(_ != "--")
    val kv = own.grouped(2).map { case Array(k, v) => k -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}") }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seconds").toDouble, need("--trace") == "1",
      need("--data"), need("--out"), rest.drop(1).toSeq)
  }

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.out}/warehouse")
    // the extract path runs with the engine's plan rules on, as Cli.main does
    if (o.workload == "extract_sorted") b.withExtensions(new graft.plans.GraftExtensions)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def runIter(wl: Workload): Iter =
    try wl.iterate()
    catch { case NonFatal(e) =>
      System.err.println(s"perfbench: iteration failed: $e")
      Iter(Double.NaN, 1, 1)
    }

  /** Closed loop: at least one iteration, then more until `seconds` have passed. */
  private def loop(wl: Workload, seconds: Double): Seq[Iter] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer[Iter]()
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) out += runIter(wl)
    out.toSeq
  }

  private def okSecs(its: Seq[Iter]): Seq[Double] = its.filter(_.failed == 0).map(_.secs)

  /** Spark-wide figures per traced iteration: task time, GC, time with no
    * task running, worst-stage skew, peak execution memory, and the rows
    * and file bytes the scans read. */
  private def sparkLayers(ctx: Ctx): Map[String, Double] = {
    val its = ctx.tracer.named("iteration")
    val per = its.map { it =>
      val tasks = ctx.sparkTrace.tasksOf(ctx.sparkTrace.jobsIn(ctx.tracer.subtree(it.id)))
      val skew = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
        val runs = ts.map(_.runMs.toDouble)
        runs.max / math.max(Stats.median(runs), 1.0)
      }.maxOption.getOrElse(1.0)
      (tasks.map(_.runMs).sum / 1e3, tasks.map(_.gcMs).sum / 1e3,
        Stats.uncovered(it.startUs, it.endUs, tasks.map(t => (t.launchUs, t.finishUs))) / 1e6,
        skew, tasks.map(_.peakExecMem).maxOption.getOrElse(0L).toDouble)
    }
    // file scans of every query the traced loop ran, per iteration
    val scans = ctx.planTrace.all.flatMap(qe => PlanTrace.nodes(qe.executedPlan))
      .collect { case f: FileSourceScanExec => f }
    Map(
      "spark.task_s" -> Stats.median(per.map(_._1)),
      "spark.gc_s" -> Stats.median(per.map(_._2)),
      "spark.driver_wait_s" -> Stats.median(per.map(_._3)),
      "spark.task_skew" -> per.map(_._4).max,
      "spark.peak_exec_mem_bytes" -> per.map(_._5).max,
      "sources.rows_read" -> scans.map(PlanTrace.metric(_, "numOutputRows")).sum.toDouble / its.size,
      "sources.bytes_read" -> scans.map(PlanTrace.metric(_, "filesSize")).sum.toDouble / its.size)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val mainUs = Clock.nowUs
    val hostStart = Host.fingerprint()
    Files.createDirectories(Paths.get(o.out, "verify"))
    val spark = session(o)
    val sessionUs = Clock.nowUs
    val ctx = new Ctx(spark, o.data, o.out)
    val wl = Workload(o.workload, ctx, o.cliArgs)
    wl.load()
    val loadUs = Clock.nowUs
    val warm = mutable.ArrayBuffer[Iter]()
    while (warm.size < wl.warmups || (Clock.nowUs - loadUs) / 1e6 < o.seconds) warm += runIter(wl)
    val setupEndUs = Clock.nowUs
    val setupS = (setupEndUs - jvmStartUs) / 1e6

    val timed = loop(wl, if (o.trace) o.seconds / 2 else o.seconds)
    val record = mutable.LinkedHashMap[String, Any]()
    var all = warm ++ timed
    if (o.trace) {
      ctx.traceOn()
      val traced = loop(wl, o.seconds / 2)
      ctx.drain()
      all ++= traced
      val layers = mutable.LinkedHashMap[String, Double]()
      layerNames.foreach(n => layers(n) = 0.0)
      layers ++= sparkLayers(ctx)
      layers ++= wl.layers()
      layers("trace_overhead") = Stats.median(okSecs(traced)) / Stats.median(okSecs(timed))
      ctx.traceOff()
      val unknown = layers.keySet -- layerNames
      require(unknown.isEmpty, s"unlisted layer metrics: $unknown")
      record("layers") = layers
      // Spark jobs join the tree as child spans of the span that submitted them
      val base = ctx.tracer.spans.length
      val jobSpans = ctx.sparkTrace.jobsIn(ctx.tracer.spans.map(_.id).toSet).zipWithIndex.map {
        case (j, i) => Span(base + i, s"spark.job.${j.id}", j.span, j.startUs, j.endUs)
      }
      val tree = ctx.tracer.spans.toSeq ++ jobSpans
      val kids = tree.groupBy(_.parent)
      val spans = tree.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_us" -> s.startUs, "end_us" -> s.endUs,
        "self_us" -> Tracer.selfTimeUs(s, kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs)))))
      Files.writeString(Paths.get(o.out, "spans.json"), Json.write(spans))
    }

    val checks = try wl.verify() catch {
      case NonFatal(e) => Seq(Check("verify_pass", ok = false, e.toString))
    }
    val secs = okSecs(timed)
    val jobS = if (secs.isEmpty) Double.NaN else Stats.median(secs)
    val (q1, _, q3) = if (secs.length >= 2) Stats.quartiles(secs) else (jobS, jobS, jobS)
    record ++= Seq(
      "workload" -> o.workload, "seconds" -> o.seconds, "trace" -> o.trace,
      "setup_s" -> setupS,
      "setup_phases" -> Map("jvm_s" -> (mainUs - jvmStartUs) / 1e6,
        "session_s" -> (sessionUs - mainUs) / 1e6, "load_s" -> (loadUs - sessionUs) / 1e6,
        "warmup_s" -> (setupEndUs - loadUs) / 1e6),
      "job_s" -> jobS, "job_q1" -> q1, "job_q3" -> q3, "job_n" -> secs.length,
      "samples" -> timed.map(_.secs), "warmup_samples" -> warm.map(_.secs),
      "input_rows" -> wl.inputRows, "rows_per_s" -> wl.inputRows / jobS,
      "attempted" -> all.map(_.attempted).sum, "failed" -> all.map(_.failed).sum,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "extras" -> wl.extras(),
      "peak_rss_mb" -> Host.peakRssKb / 1024.0,
      "host_start" -> hostStart, "host_end" -> Host.fingerprint())
    Files.writeString(Paths.get(o.out, "record.json"), Json.write(record))
    spark.stop()
  }
}
