package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe: decompose exact describe's cost at scale — the sort-free
  * quantile walk alone vs the melt (nunique/mode) job alone — so the scale
  * ratio is attributed to the piece that actually carries it.
  */
object ProbeQuantiles {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
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
    val df = Queries.table(spark, sfDir, "lineitem")
    val numCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    val n = df.count()
    val targets = numCols.map(c =>
      c -> Seq(0.25, 0.5, 0.75).map(_ * (n - 1).toDouble)).toMap
    // warm
    stats.Describe.exactQuantiles(df, targets)
    val q = (1 to 3).map(_ => t(stats.Describe.exactQuantiles(df, targets))).min
    // melt: the per-column value-groupBy (nunique + mode shape)
    def melt(): Seq[Row] = graft.util.Concurrency.runConcurrently(numCols) { c =>
      df.select(col(c).cast("double").as("v")).where(col("v").isNotNull)
        .groupBy("v").agg(count(lit(1)).as("cnt"))
        .agg(min(struct((-col("cnt")).as("negCnt"), col("v"))),
          count(lit(1)), sum(col("cnt")), min(col("v")), max(col("v")))
        .head()
    }
    melt()
    val m = (1 to 3).map(_ => t(melt())).min
    println(f"[probeq] dir=$sfDir rows=$n quantiles=$q%6.2fs melt=$m%6.2fs")
    spark.stop()
  }
}
