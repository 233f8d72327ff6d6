package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The work Spark reports per job and per task, each with the wall
  * clock time it happened at: jobs, tasks, input bytes, input records,
  * executor cpu ns, task gc ms, shuffle read bytes, shuffle write
  * bytes, output bytes.
  */
final class TaskEvents extends SparkListener {
  val events = ArrayBuffer.empty[(Long, Array[Long])]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { events += e.time -> Array(1L, 0, 0, 0, 0, 0, 0, 0, 0) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    events += e.taskInfo.finishTime -> (if (m == null) Array(0L, 1, 0, 0, 0, 0, 0, 0, 0)
      else Array(0L, 1, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten))
  }
}

/** One traced call into a layer's public function: its wall clock
  * interval, the codegen and JVM GC work it caused (read directly),
  * and, once the run ends, the Spark job/task work inside the interval.
  */
final case class Span(layer: String, fn: String, startMs: Long, endMs: Long,
    ms: Double, direct: Array[Long], rows: Long, failed: Boolean) {
  var counters: Array[Long] = Array.empty
}

/** Measures calls into graft from the outside. In a traced run every
  * call is a span; the listener's events are attributed to spans by
  * time after the run (one client thread, so spans never overlap), so
  * the measured calls never wait for the listener bus. Spans stay in
  * memory and are written once at the end.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val listener = new TaskEvents
  if (on) spark.sparkContext.addSparkListener(listener)
  val spans = ArrayBuffer.empty[Span]
  var recording = false

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  /** codegen compiles, codegen ns, JVM gc ms */
  private def direct(): Array[Long] = Array(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime,
    gcBeans.map(_.getCollectionTime).sum)

  /** Run `body` as one call of `layer`.`fn`. */
  def span[T](layer: String, fn: String)(body: => T): T =
    spanRows(layer, fn, (_: T) => -1L)(body)

  /** [[span]] for a call that returns rows; `rows` counts them. */
  def spanRows[T](layer: String, fn: String, rows: T => Long)(body: => T): T = {
    if (!on || !recording) return body
    val before = direct()
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def close(n: Long, failed: Boolean): Unit = {
      val ms = (System.nanoTime() - t0) / 1e6
      val after = direct()
      spans += Span(layer, fn, start, System.currentTimeMillis(), ms,
        after.indices.map(i => after(i) - before(i)).toArray, n, failed)
    }
    val out = try body catch {
      case e: Throwable => close(-1L, failed = true); throw e
    }
    close(rows(out), failed = false)
    out
  }

  /** Attribute the listener's events to the spans they fall in; call
    * once, after the measured region.
    */
  def settle(): Unit = if (on) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val events = listener.synchronized(listener.events.toVector)
    spans.foreach { s =>
      val sum = new Array[Long](9)
      events.foreach { case (t, c) =>
        if (t >= s.startMs && t <= s.endMs) c.indices.foreach(i => sum(i) += c(i))
      }
      s.counters = sum ++ s.direct
    }
  }
}
