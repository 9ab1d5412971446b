package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with `System.nanoTime` resolution, so
  * harness timestamps compare with the launcher's `time.time_ns()` and
  * with Spark's epoch-millisecond event times. */
object Clock {
  private val offset = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano - System.nanoTime()
  }
  def now(): Long = offset + System.nanoTime()
}

/** In-memory span recorder. A span has a name, start, end, parent and
  * the id of the operation it belongs to; spans are kept until the run
  * ends. `on` is flipped per operation by the single traced client. */
final class Tracer {
  @volatile var on = false
  private val seq = new AtomicInteger()
  val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stack = ThreadLocal.withInitial[List[(Int, Int)]](() => Nil)

  /** Run `f` inside a span; `newOp` starts a new operation. */
  def span[T](name: String, newOp: Boolean = false)(f: => T): T =
    if (!on) f
    else {
      val id = seq.incrementAndGet()
      val outer = stack.get
      val parent = outer.headOption.map(_._1).getOrElse(0)
      val op = if (newOp || outer.isEmpty) id else outer.head._2
      stack.set((id, op) :: outer)
      val t0 = Clock.now()
      try f
      finally {
        val t1 = Clock.now()
        stack.set(outer)
        spans.add(Map("id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
          "start" -> t0, "end" -> t1))
      }
    }

  /** The operation id of the innermost open span on this thread (0 if none). */
  def currentOp: Int = stack.get.headOption.map(_._2).getOrElse(0)
}

/** Spark job/stage/task events and Catalyst phase times, recorded with
  * their own timestamps so the launcher can attribute each to the span
  * whose window holds it. Registered only for traced runs. */
final class Events extends SparkListener with QueryExecutionListener {
  val q = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val ms = 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    q.add(Map("kind" -> "job", "t" -> e.time * ms))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    q.add(Map("kind" -> "stage",
      "t" -> e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) * ms))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) q.add(Map("kind" -> "task",
      "t" -> e.taskInfo.launchTime * ms, "end" -> e.taskInfo.finishTime * ms,
      "run_ms" -> m.executorRunTime, "cpu_ms" -> m.executorCpuTime / 1e6,
      "gc_ms" -> m.jvmGCTime, "input_rows" -> m.inputMetrics.recordsRead,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    q.add(Events.phases(qe) ++ Map("kind" -> "qe", "t" -> Clock.now(), "func" -> funcName))

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    q.add(Events.phases(qe) ++ Map("kind" -> "qe", "t" -> Clock.now(), "func" -> funcName,
      "failed" -> true))
}

object Events {
  /** Catalyst phase durations (ms) from a query's planning tracker. */
  def phases(qe: QueryExecution): Map[String, Any] = {
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").map { k =>
      s"${k}_ms" -> p.get(k).map(_.durationMs).getOrElse(0L)
    }.toMap
  }
}
