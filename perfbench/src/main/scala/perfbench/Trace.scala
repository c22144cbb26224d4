package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for spans and Spark's task timestamps: epoch microseconds. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** A timed interval around one call into a layer. `parent` is the id of
  * the enclosing span, -1 at the top. */
final case class Span(id: Int, name: String, parent: Int, startUs: Long, var endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Spans recorded from the benchmark's own code around its calls into the
  * engine; nothing inside the engine is instrumented. Spans live in memory
  * and are written out when the run ends. While a span is open its id is a
  * Spark local property, so [[SparkTrace]] can hang the jobs it starts
  * under it (`sc` may be null where no Spark runs). Disabled, [[span]]
  * just runs its body. */
final class Tracer(sc: SparkContext) {
  var enabled = false
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val ctx = Option(sc)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), Clock.nowUs, -1L)
      spans += s
      stack = s :: stack
      val prev = ctx.map(_.getLocalProperty(Tracer.SpanKey))
      ctx.foreach(_.setLocalProperty(Tracer.SpanKey, s.id.toString))
      try body
      finally {
        s.endUs = Clock.nowUs
        stack = stack.tail
        ctx.foreach(_.setLocalProperty(Tracer.SpanKey, prev.orNull))
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** The span and every span below it (a span's id is its index, and
    * children are opened after their parent). */
  def subtree(id: Int): Set[Int] =
    spans.iterator.drop(id + 1).foldLeft(Set(id))((acc, s) => if (acc(s.parent)) acc + s.id else acc)
}

object Tracer {
  final val SpanKey = "perfbench.span"

  /** Duration minus the part of it that child intervals cover. */
  def selfTimeUs(span: Span, children: Seq[(Long, Long)]): Long =
    Stats.uncovered(span.startUs, span.endUs, children)
}

final case class TaskRec(stage: Int, launchUs: Long, finishUs: Long, runMs: Long, gcMs: Long,
                         shuffleWriteBytes: Long, spillBytes: Long, peakExecMem: Long,
                         bytesWritten: Long, recordsWritten: Long)
final case class JobRec(id: Int, span: Int, startUs: Long, var endUs: Long, stages: Seq[Int])

/** Job, stage and task records from Spark's listener bus, each job tied to
  * the benchmark span that was open when it was submitted. */
final class SparkTrace extends SparkListener {
  private val jobs = ArrayBuffer[JobRec]()
  private val tasks = ArrayBuffer[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs += JobRec(e.jobId, span, e.time * 1000L, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endUs = e.time * 1000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks += TaskRec(e.stageId, i.launchTime * 1000L, i.finishTime * 1000L,
      m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.peakExecutionMemory, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
  }

  def jobsIn(spanIds: Set[Int]): Seq[JobRec] = synchronized(jobs.filter(j => spanIds(j.span)).toSeq)
  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = synchronized {
    val stages = js.flatMap(_.stages).toSet
    tasks.filter(t => stages(t.stage)).toSeq
  }
}

/** Successful query executions, in completion order, for reading SQL
  * operator metrics after a traced pass. */
final class PlanTrace extends QueryExecutionListener {
  private val done = ArrayBuffer[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(done += qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def all: Seq[QueryExecution] = synchronized(done.toSeq)
  def clear(): Unit = synchronized(done.clear())
}

object PlanTrace {
  /** Every physical operator of an executed plan, looking through adaptive
    * wrappers, query stages, reused exchanges, commands and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)
}
