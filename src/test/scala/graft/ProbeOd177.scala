package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe (r17): q177 approx ODs — the r16 multi-y batch (2 concurrent
  * jobs) vs the r15 per-pair geometry (3 concurrent jobs), one JVM.
  */
object ProbeOd177 {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def q177() = Queries.q177ApproxOds(spark, dir)
    def run(df: DataFrame): Unit = { df.queryExecution.toRdd.count() }
    // per-pair geometry: three single-y calls through the SAME public
    // API (each batch has one y), overlapped
    def perPair(): Unit = {
      val ev = Queries.table(spark, dir, "events")
      val k = stats.KeyDiscovery
      val parts = graft.util.Concurrency.runConcurrently(Seq(
          "event_id" -> "ts", "event_id" -> "value", "user_id" -> "value"))(
        pair => k.approximateOrderDependencies(ev, Seq(pair), epsilon = 0.02))
      run(parts.reduce(_ unionAll _).orderBy("on_column", "ordered_column"))
    }
    run(q177()); perPair()
    val rs = (1 to 4).map(_ => (t(run(q177())), t(perPair())))
    println(f"[od177] batched ${rs.map(_._1).min}%6.2f  per-pair ${rs.map(_._2).min}%6.2f")
    println("[od177] rounds batched=" + rs.map(r => f"${r._1}%.2f").mkString(",") +
      " perpair=" + rs.map(r => f"${r._2}%.2f").mkString(","))
    spark.stop()
  }
}
