package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.{Cli, SparkEntry}
import graft.functions.GeomConstructors.cover_cells
import graft.functions.geofunctions._
import graft.geo.{Cell, Hilbert, Tile, Wkb}
import graft.operators.{GeoParquetMeta, SpatialJoin}

/** What a workload sees of the run: the session, the tracer and listeners,
  * its generated inputs (`data`) and a directory for its outputs. */
final class Ctx(val spark: SparkSession, val data: String, val out: String) {
  val tracer = new Tracer(spark.sparkContext)
  val sparkTrace = new SparkTrace
  val planTrace = new PlanTrace

  def traceOn(): Unit = {
    spark.sparkContext.addSparkListener(sparkTrace)
    spark.listenerManager.register(planTrace)
    tracer.enabled = true
  }

  def traceOff(): Unit = {
    drain()
    tracer.enabled = false
    spark.sparkContext.removeSparkListener(sparkTrace)
    spark.listenerManager.unregister(planTrace)
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Median seconds of `reps` noop-sunk executions of `df`, each in a span. */
  def noopSecs(name: String, df: => DataFrame, reps: Int = 3): Double =
    Stats.median((1 to reps).map(_ => secs(tracer.span(name)(noop(df)))._2))

  /** Single-threaded ns per call of `f(i)` over `n` inputs, median of 5 passes. */
  def nsPerCall(n: Int)(f: Int => Long): Double = {
    require(n > 0, "no inputs to time")
    val per = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var acc = 0L
      var i = 0
      while (i < n) { acc ^= f(i); i += 1 }
      Ctx.sink = acc
      (System.nanoTime() - t0).toDouble / n
    }
    Stats.median(per)
  }
}

object Ctx {
  @volatile var sink = 0L
}

final case class Check(name: String, ok: Boolean, detail: String)

/** One timed iteration: seconds of timed work and operations attempted and failed. */
final case class Iter(secs: Double, attempted: Int, failed: Int)

trait Workload {
  /** Input rows of one iteration: the base of `rows_per_s`. */
  def inputRows: Long
  /** Read and plan the inputs (part of set-up). */
  def load(): Unit
  /** Untimed iterations at the end of set-up: at least this many, and at
    * least as many seconds of them as the timed loop will run, so JIT,
    * codegen and broadcasts have settled before timing (the JIT needs a
    * count of executions, not a length of time). */
  def warmups: Int = 10
  def iterate(): Iter
  /** Workload-specific per-layer metrics, measured with tracing on after the traced loop. */
  def layers(): Map[String, Double]
  /** Untimed correctness pass: in-process checks, plus artifacts that run.py checks. */
  def verify(): Seq[Check]
  /** Extra figures for the record. */
  def extras(): Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, ctx: Ctx, cliArgs: Seq[String]): Workload = name match {
    case "pip_tile" => new PipTile(ctx)
    case "extract_sorted" => new ExtractSorted(ctx, cliArgs)
    case "curate_multijob" => new CurateMultijob(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def sampleXY(df: DataFrame, n: Int): (Array[Double], Array[Double]) = {
    val rows = df.select(col("lat"), col("lng")).limit(n).collect()
    (rows.map(_.getDouble(0)), rows.map(_.getDouble(1)))
  }
}

/** Points joined to polygons with `SpatialJoin.pointsInPolygons(res = 5)`,
  * tiles at z12, noop sink. */
final class PipTile(ctx: Ctx) extends Workload {
  import ctx._
  private var points: DataFrame = _
  private var polys: DataFrame = _
  var inputRows = 0L

  def load(): Unit = {
    points = spark.read.parquet(s"$data/points")
    polys = spark.read.parquet(s"$data/polygons.parquet")
    inputRows = points.count()
  }

  private def joined(pts: DataFrame) = SpatialJoin.pointsInPolygons(pts, polys, res = 5)
  private def tiled(pts: DataFrame) = joined(pts)
    .withColumn("tile_x", tile_x(col("lng"), 12))
    .withColumn("tile_y", tile_y(col("lat"), 12))
    .select("page_id", "poly_id", "theme", "tile_x", "tile_y")

  def iterate(): Iter = {
    val (_, s) = secs(tracer.span("iteration") {
      val df = tracer.span("operators.spatial_join.plan")(tiled(points))
      tracer.span("sink.noop")(noop(df))
    })
    Iter(s, 1, 0)
  }

  def layers(): Map[String, Double] = {
    // cumulative plans, each adding one layer to the one before and all
    // projecting small rows, so differences are the added layer's cost
    val tScan = noopSecs("layer.scan", points)
    val tEncode = noopSecs("layer.cell_encode",
      points.withColumn("_cell", cell_encode(col("lat"), col("lng"), 5)))
    val tJoin = noopSecs("layer.points_in_polygons",
      joined(points).select("page_id", "poly_id", "theme", "lat", "lng"))
    val tTile = noopSecs("layer.tiles", tiled(points))

    // the refine runs as the broadcast join's condition, so the join's
    // output rows are the hits; candidates (pairs sharing a res-5 cell)
    // come from the same join without the refine
    planTrace.clear()
    tracer.span("layer.sql_metrics")(noop(tiled(points)))
    drain()
    val ns = planTrace.all.lastOption.map(qe => PlanTrace.nodes(qe.executedPlan)).getOrElse(Nil)
    val hits = ns.collect { case j: BroadcastHashJoinExec => PlanTrace.metric(j, "numOutputRows") }.sum
    val bcastBytes = ns.collect { case b: BroadcastExchangeExec => PlanTrace.metric(b, "dataSize") }.sum
    val candidates = tracer.span("layer.candidates") {
      points.withColumn("_cell", cell_encode(col("lat"), col("lng"), 5))
        .join(broadcast(polys.select(explode(cover_cells(col("geometry"), 5)).as("_cell"))), "_cell")
        .count()
    }

    val geoms = polys.select("geometry").collect().map(_.getAs[Array[Byte]](0))
    val covers = geoms.map(g => Cell.coverGeometry(g, 5))
    val (lat, lng) = Workload.sampleXY(points.where(col("page_id") % 10 === 0), 200000)
    val byCell = mutable.HashMap[Long, mutable.ArrayBuffer[Int]]()
    for ((cs, p) <- covers.zipWithIndex; c <- cs) byCell.getOrElseUpdate(c, mutable.ArrayBuffer()) += p
    val pairs = (0 until lat.length).iterator
      .flatMap(i => byCell.getOrElse(Cell.encode(lat(i), lng(i), 5), Nil).map(p => (i, p)))
      .take(200000).toArray

    Map(
      "sources.scan_s" -> tScan,
      "functions.cell_encode_s" -> (tEncode - tScan),
      "spatial_join.s" -> (tJoin - tEncode),
      "functions.tile_s" -> (tTile - tJoin),
      "spatial_join.candidates" -> candidates.toDouble,
      "spatial_join.hits" -> hits.toDouble,
      "spatial_join.hit_ratio" -> (if (candidates > 0) hits.toDouble / candidates else 0.0),
      "spatial_join.cover_cells" -> covers.map(_.length).sum.toDouble,
      "spatial_join.broadcast_bytes" -> bcastBytes.toDouble,
      "geo.cell_encode_ns" -> nsPerCall(lat.length)(i => Cell.encode(lat(i), lng(i), 5)),
      "geo.cover_geometry_us" -> nsPerCall(geoms.length)(i => Cell.coverGeometry(geoms(i), 5).length.toLong) / 1000.0,
      "geo.contains_ns" -> nsPerCall(pairs.length) { k =>
        val (i, p) = pairs(k)
        if (Wkb.containsPoint(geoms(p), lng(i), lat(i))) 1L else 0L
      },
      "geo.tile_xy_ns" -> nsPerCall(lat.length)(i => Tile.tileX(lng(i), 12) ^ Tile.tileY(lat(i), 12)))
  }

  /** The engine's result for a fixed sample of points (every 97th id);
    * run.py compares it with a brute-force even-odd test. */
  def verify(): Seq[Check] = {
    tiled(points.where(col("page_id") % 97 === 0))
      .select("page_id", "poly_id", "tile_x", "tile_y")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/verify/pip_sample")
    Nil
  }
}

/** The reference's convert path through `Cli.parseArgs`, `Cli.run` and
  * `Cli.write`: bbox ∧ filter ∧ projection → Hilbert-sorted zstd GeoParquet. */
final class ExtractSorted(ctx: Ctx, cliArgs: Seq[String]) extends Workload {
  import ctx._
  private val input = s"$data/features"
  private val output = s"$out/extract"
  private val argv = (Seq("--input", input, "--output", output) ++ cliArgs).toArray
  var inputRows = 0L
  private var rowsOut = 0L
  private var bytesOut = 0L

  def load(): Unit = inputRows = spark.read.parquet(input).count()

  def iterate(): Iter = {
    val (_, s) = secs(tracer.span("iteration") {
      val a = tracer.span("cli.parse_args")(Cli.parseArgs(argv))
      val df = tracer.span("cli.run")(Cli.run(spark, a))
      tracer.span("cli.write")(Cli.write(spark, df, a))
    })
    Iter(s, 1, 0)
  }

  private def outputSize(): Unit = {
    rowsOut = spark.read.parquet(output).count()
    val dir = new java.io.File(output)
    bytesOut = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.endsWith(".parquet")).map(_.length).sum
  }

  private def outBytesPerRow: Double = if (rowsOut > 0) bytesOut.toDouble / rowsOut else 0.0

  def layers(): Map[String, Double] = {
    val w = tracer.named("cli.write")
    val last = w.last
    val jobs = sparkTrace.jobsIn(tracer.subtree(last.id))
    val tasks = sparkTrace.tasksOf(jobs)
    val (lat, lng) = Workload.sampleXY(spark.read.parquet(input), 200000)
    val env = Wkb.envelope(Cli.parseArgs(argv).geom.get._2)
    outputSize()
    Map(
      "cli.run_s" -> Stats.median(tracer.named("cli.run").map(_.durUs / 1e6)),
      "cli.write_s" -> Stats.median(w.map(_.durUs / 1e6)),
      "pipeline.rows_out" -> tasks.map(_.recordsWritten).sum.toDouble,
      "sorted_sink.jobs" -> jobs.size.toDouble,
      "sorted_sink.shuffle_write_bytes" -> tasks.map(_.shuffleWriteBytes).sum.toDouble,
      "sorted_sink.spill_bytes" -> tasks.map(_.spillBytes).sum.toDouble,
      "sorted_sink.bytes_written" -> tasks.map(_.bytesWritten).sum.toDouble,
      "sorted_sink.out_bytes_per_row" -> outBytesPerRow,
      "sources.scan_s" -> noopSecs("layer.scan", spark.read.parquet(input)),
      "geo.hilbert_ns" -> nsPerCall(lat.length)(i =>
        Hilbert.index(lat(i), lng(i), env._1, env._2, env._3, env._4, 16)))
  }

  /** The `geo` footer is read here with the engine's reader; run.py checks
    * row count, schema and Hilbert order of the same files. */
  def verify(): Seq[Check] = {
    outputSize()
    val geo = GeoParquetMeta.readGeo(spark, output)
    Seq(Check("extract.geo_footer", geo.exists(_.contains("\"geometry\"")),
      geo.map(_.take(120)).getOrElse("no geo footer")))
  }

  override def extras(): Map[String, Any] =
    Map("rows_out" -> rowsOut, "bytes_out" -> bytesOut, "out_bytes_per_row" -> outBytesPerRow)
}

/** Six multi-job catalog queries called through `SparkEntry.queries`, each
  * on a cleared cache. */
final class CurateMultijob(ctx: Ctx) extends Workload {
  import ctx._
  import CurateMultijob.queries
  var inputRows = 0L
  override def warmups: Int = 1
  private val last = mutable.LinkedHashMap[String, (StructType, Array[Row])]()
  private val cachedAfter = mutable.LinkedHashMap[String, Long]()
  private var queriesRun = 0
  private var dirtyStarts = 0
  // every cached relation a query's plan read, to catch one read again later
  private val seenCaches = new java.util.IdentityHashMap[AnyRef, String]()
  private var reusedCaches = 0

  def load(): Unit = {
    inputRows = Seq("documents", "lineitem", "region")
      .map(t => spark.read.parquet(s"$data/$t.parquet").count()).sum
  }

  private def sc = spark.sparkContext

  /** Drops cached relations and every persisted RDD, including the blocks
    * `localCheckpoint` leaves behind, which `clearCache()` does not drop. */
  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def cachesEmpty: Boolean =
    spark.sharedState.cacheManager.isEmpty && sc.getPersistentRDDs.isEmpty

  private def cachedBytes: Long = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def iterate(): Iter = {
    var total = 0.0
    var failed = 0
    tracer.span("iteration") {
      for (q <- queries) {
        clearCaches()
        queriesRun += 1
        if (!cachesEmpty) { dirtyStarts += 1; failed += 1 }
        else try {
          val ((df, rows), s) = secs(tracer.span(s"catalog.$q") {
            val df = SparkEntry.queries(q)(spark, data)
            (df, df.collect())
          })
          total += s
          last(q) = (df.schema, rows)
          PlanTrace.nodes(df.queryExecution.executedPlan)
            .collect { case m: InMemoryTableScanExec => m.relation.cacheBuilder }.distinct
            .foreach { b =>
              if (seenCaches.containsKey(b)) reusedCaches += 1
              else seenCaches.put(b, s"$q#$queriesRun")
            }
        } catch {
          case NonFatal(e) =>
            failed += 1
            System.err.println(s"perfbench: $q failed: $e")
        }
        cachedAfter(q) = cachedBytes
      }
      clearCaches()
    }
    Iter(total, queries.size, failed)
  }

  def layers(): Map[String, Double] = queries.flatMap { q =>
    val spans = tracer.named(s"catalog.$q")
    val lastSpan = spans.last
    val jobs = sparkTrace.jobsIn(tracer.subtree(lastSpan.id))
    val tasks = sparkTrace.tasksOf(jobs)
    Seq(
      s"catalog.$q.s" -> Stats.median(spans.map(_.durUs / 1e6)),
      s"catalog.$q.jobs" -> jobs.size.toDouble,
      s"catalog.$q.driver_wait_s" ->
        Stats.uncovered(lastSpan.startUs, lastSpan.endUs, tasks.map(t => (t.launchUs, t.finishUs))) / 1e6,
      s"catalog.$q.shuffle_write_bytes" -> tasks.map(_.shuffleWriteBytes).sum.toDouble,
      s"catalog.$q.cached_bytes_after" -> cachedAfter.getOrElse(q, 0L).toDouble)
  }.toMap

  /** Writes the last timed results and the oracle SQL for run.py's DuckDB check. */
  def verify(): Seq[Check] = {
    import scala.jdk.CollectionConverters._
    for ((q, (schema, rows)) <- last)
      spark.createDataFrame(rows.toSeq.asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/verify/$q")
    val sql = queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/verify/oracle_sql.json"), Json.write(sql))
    Seq(Check("curate.cache_clean_before_each_query", dirtyStarts == 0,
        s"$dirtyStarts of $queriesRun query starts found a cached relation or persisted RDD"),
      Check("curate.no_cached_relation_reused", reusedCaches == 0,
        s"$reusedCaches cached relations read by more than one query run; ${seenCaches.size} distinct"))
  }

  override def extras(): Map[String, Any] = Map("cached_bytes_after" -> cachedAfter.toMap)
}

object CurateMultijob {
  val queries = Seq("s_knn", "d_heavy_hitters", "d_chunk_pack", "d_curate_full",
    "d_dedup_keep_best", "d_dup_clusters")
}
