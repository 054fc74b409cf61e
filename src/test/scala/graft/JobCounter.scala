package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a context starts and the classes Janino
  * compiles, for the pass specs' pins and `Probe`'s per-run readings.
  * Janino's counter is JVM-wide, so a reading covers every session in
  * the JVM. Remove the listener with [[close]].
  */
final class JobCounter(sc: SparkContext) extends AutoCloseable {
  private val started = new AtomicInteger(0)
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
  }
  sc.addSparkListener(listener)

  /** Jobs started so far. The listener bus is asynchronous: this waits
    * until the count stops moving. */
  def settledJobs(): Int = {
    var last = -1
    while (started.get() != last) { last = started.get(); Thread.sleep(300) }
    last
  }

  /** Classes compiled so far in this JVM. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `body`'s result with the Spark jobs it started and the classes it
    * compiled. */
  def count[T](body: => T): (T, Int, Long) = {
    val (j0, c0) = (settledJobs(), compiles)
    val out = body
    val c = compiles - c0
    (out, settledJobs() - j0, c)
  }

  def close(): Unit = sc.removeSparkListener(listener)
}
