package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call: `op` is the operation it ran under (-1: none), `phase`
  * the part of the run (-2 set-up, -1 warm-up, n ≥ 0 timed round n). */
final case class Span(id: Int, name: String, op: Int, phase: Int, parent: Int,
    startNs: Long, endNs: Long)

/** Spans around the benchmark's own calls into the program's modules.
  * When disabled, [[span]] runs its body and records nothing, so untraced
  * runs pay one branch per call. When enabled, spans are kept in memory
  * and written out with the run's result. */
final class Tracer(val enabled: Boolean) {
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var opId: Int = -1
  var phase: Int = -2

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      spans += Span(id, name, opId, phase, stack.headOption.getOrElse(-1), System.nanoTime() - t0, -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime() - t0)
      }
    }
}

/** Task and job counters for the traced run, registered by the benchmark
  * itself. Counters are cumulative; the caller drains the listener bus
  * and takes differences around each operation. */
final class ExecListener extends SparkListener {
  private val c = mutable.LinkedHashMap(Seq("jobs", "tasks", "task_ms", "cpu_ms", "gc_ms",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "output_bytes").map(_ -> new AtomicLong): _*)

  override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("task_ms").addAndGet(m.executorRunTime)
      c("cpu_ms").addAndGet(m.executorCpuTime / 1000000L)
      c("gc_ms").addAndGet(m.jvmGCTime)
      c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("output_bytes").addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => ("exec." + k) -> v.get }.toMap
}
