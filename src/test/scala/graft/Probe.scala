package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc perf probe (not part of the driver contract): times a named query
  * three times to separate plan-compile cost from steady-state cost, and
  * prints beside each time the Spark jobs the run started and the classes
  * Janino compiled for it.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counter = new JobCounter(spark.sparkContext)
    val fn = Queries.all(name)
    for (i <- 1 to 3) {
      val ((n, t), jobs, compiles) = counter.count {
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).collect().length
        (n, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[probe] $name run$i rows=$n t=$t%.2fs jobs=$jobs compiles=$compiles")
    }
    spark.stop()
  }
}
