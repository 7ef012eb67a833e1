package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program. Disabled, a
  * span only runs its body. Enabled, it attaches a SparkListener (task
  * time, executor CPU, shuffle write, spill), a QueryExecutionListener
  * (planning time) and reads Spark's codegen compile counter, and
  * records each span's counter deltas. Spans are kept in memory and
  * written out when the run ends. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private final case class Task(durMs: Long, cpuNs: Long, shuffleBytes: Long, spillBytes: Long)
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val planningNs = new java.util.concurrent.atomic.AtomicLong()

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) tasks.add(Task(e.taskInfo.duration, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def planned(qe: QueryExecution): Unit =
        planningNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = planned(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)
    })
  }

  /** Counter values at one instant. Task lists are taken by position:
    * the queue only grows, so a span owns the tasks between its two
    * snapshots' positions. */
  private final case class Snap(ns: Long, nTasks: Int, planning: Long, compiles: Long)

  private def snap(): Snap = {
    if (enabled) PerfbenchBus.drain(spark.sparkContext)
    Snap(System.nanoTime(), if (enabled) tasks.size else 0, planningNs.get,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
      counters: Map[String, Any])

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  private def counters(a: Snap, b: Snap): Map[String, Any] = {
    val ts = tasks.iterator.asScala.slice(a.nTasks, b.nTasks).toSeq
    Map(
      "wall_s" -> (b.ns - a.ns) / 1e9,
      "exec_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "shuffle_write_mb" -> ts.map(_.shuffleBytes).sum / 1e6,
      "spill_mb" -> ts.map(_.spillBytes).sum / 1e6,
      "task_ms" -> ts.map(_.durMs),
      "codegen_compiles" -> (b.compiles - a.compiles),
      "planning_s" -> (b.planning - a.planning) / 1e9)
  }

  private def newId(): Int = { val id = nextId; nextId += 1; id }

  /** Runs `body` as span `name`, a child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.getOrElse(-1)
      val id = newId() // taken first, so children can name their parent
      stack = id :: stack
      val a = snap()
      try body
      finally {
        val b = snap()
        stack = stack.tail
        spans += Span(id, name, parent, a.ns, b.ns, counters(a, b))
      }
    }

  /** Consecutive spans cut at marks the program itself reports (e.g.
    * a pipeline's per-stage callback): `cut(name)` closes the span
    * that began at the previous cut (or at `marks()`), under the
    * innermost open span. */
  final class Marks private[Tracer] (private var from: Snap) {
    def cut(name: String): Unit = if (enabled) {
      val now = snap()
      spans += Span(newId(), name, stack.headOption.getOrElse(-1), from.ns, now.ns,
        counters(from, now))
      from = now
    }
  }

  def marks(): Marks = new Marks(if (enabled) snap() else null)

  def json: Seq[Map[String, Any]] = spans.sortBy(_.id).map(s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9) ++ s.counters).toSeq
}
