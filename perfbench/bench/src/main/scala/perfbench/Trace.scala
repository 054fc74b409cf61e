package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listens to one traced pass from outside the program.
  *
  * Every Spark job carries the layer of the public call that started it
  * (the `perfbench.layer` local property, which Spark copies into the pool
  * threads a call fans out on). Stage metrics follow their job's layer.
  * Planning phases of each Dataset action are matched to a layer by the
  * time window of the call they started in.
  */
final class Trace(spark: SparkSession, slots: Int)
    extends SparkListener with QueryExecutionListener {
  import Trace._

  private val sc = spark.sparkContext
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, ms)
  private var tasks = 0L
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long, Double)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey)))
      .getOrElse(Unattributed)
    jobs(e.jobId) = Job(layer, e.time, e.time)
    e.stageIds.foreach(s => stageLayer.getOrElseUpdate(s, layer))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized { tasks += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += Stage(stageLayer.getOrElse(i.stageId, Unattributed),
      m.executorCpuTime, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Runs `body` as one call of `layer`: tags its jobs, records its window. */
  def layer[A](name: String)(body: => A): A = {
    val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
    sc.setLocalProperty(LayerKey, name)
    try body
    finally {
      sc.setLocalProperty(LayerKey, null)
      val (ms1, ns1) = (System.currentTimeMillis(), System.nanoTime())
      synchronized { windows += ((name, ms0, ms1, (ns1 - ns0) / 1e9)) }
    }
  }

  /** Runs one pass under the listeners and returns every per-layer metric. */
  def measure(pass: => Unit): Map[String, Double] = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    val (gc0, cpu0, ns0, ms0) = (gcMs, cpuNs, System.nanoTime(), System.currentTimeMillis())
    var end = (0L, 0L, 0L, 0L)
    try pass
    finally {
      end = (gcMs, cpuNs, System.nanoTime(), System.currentTimeMillis())
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
    val (gc1, cpu1, ns1, ms1) = end
    synchronized {
      report((ns1 - ns0) / 1e9, (ms0, ms1), (cpu1 - cpu0) / 1e9, (gc1 - gc0) / 1e3)
    }
  }

  /** Milliseconds of `[from, to)` during which no job of `js` was running. */
  private def idleMs(js: Iterable[Job], from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    js.toSeq.map(j => (math.max(j.start, from), math.min(j.end, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (to - from) - covered
  }

  private def report(wallS: Double, pass: (Long, Long), cpuS: Double,
                     gcS: Double): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    Layers.foreach { l =>
      val ws = windows.filter(_._1 == l)
      val js = jobs.values.filter(_.layer == l)
      val st = stages.filter(_.layer == l)
      out(s"$l.wall_s") = ws.map(_._4).sum
      out(s"$l.jobs") = js.size
      out(s"$l.idle_s") = ws.map(w => idleMs(js, w._2, w._3)).sum / 1e3
      out(s"$l.plan_s") = phases.filter(p => ws.exists(w =>
        p._1 >= w._2 && p._1 <= w._3)).map(_._2).sum / 1e3
      out(s"$l.task_cpu_s") = st.map(_.cpuNs).sum / 1e9
      out(s"$l.shuffle_mb") = st.map(_.shuffleBytes).sum / MiB
    }
    val taskCpu = stages.map(_.cpuNs).sum / 1e9
    val taskRun = stages.map(_.runMs).sum / 1e3
    out("spark.jobs") = jobs.size
    out("spark.stages") = stages.size
    out("spark.tasks") = tasks.toDouble
    out("spark.task_cpu_s") = taskCpu
    out("spark.task_run_s") = taskRun
    out("spark.slot_busy") = taskRun / (wallS * slots)
    out("spark.driver_cpu_s") = cpuS - taskCpu
    out("spark.gc_s") = gcS
    out("spark.shuffle_mb") = stages.map(_.shuffleBytes).sum / MiB
    out("spark.spill_mb") = stages.map(_.spillBytes).sum / MiB
    out("spark.plan_s") = phases.map(_._2).sum / 1e3
    out("spark.idle_s") = idleMs(jobs.values, pass._1, pass._2) / 1e3
    out("spark.cached_rdds") = sc.getPersistentRDDs.size
    out("trace.wall_s") = wallS
    out.toMap
  }
}

object Trace {
  private final case class Job(layer: String, start: Long, var end: Long)
  private final case class Stage(layer: String, cpuNs: Long, runMs: Long,
                                 shuffleBytes: Long, spillBytes: Long)
  val LayerKey = "perfbench.layer"
  val Unattributed = "unattributed"
  private val MiB = 1024.0 * 1024.0
  val Layers: Seq[String] = Seq("io.read", "io.write", "infer", "frame",
    "stats.describe", "stats.value_counts", "stats.dependence", "stats.outliers",
    "stats.frequency", "stats.key_discovery", "ops.dedup")
}
