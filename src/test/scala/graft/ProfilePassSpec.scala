package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.frame.WoodworkFrame
import graft.infer.TypeInference
import graft.stats.{Dependence, Describe, FrequencyInference, Outliers, ValueCounts}

/** A warm profiling pass reuses its plans: the pass of the `profile_long`
  * benchmark workload (inference, init, describe, value counts, every
  * dependence measure, box plots, the medcouple box plot and frequency
  * inference), run twice over one fixed parquet table. The second pass
  * is pinned on its Spark job count and on its Janino compiles. Spark's
  * generated-class cache is JVM-wide and holds 100 entries, so a pass
  * whose distinct plans outnumber it recompiles them on every run, and
  * every job is planning and scheduling the driver pays again.
  */
class ProfilePassSpec extends SparkSpec {
  import spark.implicits._

  /** id, an hourly ts, a gaussian x, z strictly increasing in x, a
    * geometric qty with rare large values, and a skewed 8-label cat with
    * about 2% nulls: the shape of the benchmark's long table.
    */
  private def table(dir: String): DataFrame = {
    val r = new java.util.Random(1)
    val labels = Seq("amber", "birch", "cedar", "delta", "ember", "fjord", "grove", "heath")
    val rows = (0 until 4000).map { i =>
      val x = 50 + 10 * r.nextGaussian()
      var q = 1L
      while (r.nextDouble() > 0.3) q += 1
      val qty = if (r.nextInt(200) == 0) 150L + r.nextInt(300) else q
      val cat = if (r.nextInt(50) == 0) None else Some(labels(r.nextInt(labels.size)))
      (i.toLong, new java.sql.Timestamp(1704067200000L + i * 3600000L), x,
        3 * x + 7 + 2 * math.sin(x), qty, cat)
    }
    rows.toDF("id", "ts", "x", "z", "qty", "cat").repartition(4)
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def pass(raw: DataFrame): Unit = {
    val types = TypeInference.inferTypes(raw)
    val frame = WoodworkFrame.init(raw, index = Some("id"), timeIndex = Some("ts"),
      logicalTypes = types)
    Describe.describe(frame).collect()
    ValueCounts.valueCounts(frame).collect()
    Dependence.dependence(frame(Seq("x", "z", "cat")),
      Seq("pearson", "spearman", "mutual_info", "max")).collect()
    Outliers.boxPlots(frame.df, Seq("x", "qty"))
    Outliers.medcoupleBoxPlot(frame.df, "qty")
    FrequencyInference.inferFrequencies(frame)
  }

  test("a warm profiling pass pins its job count and its Janino compiles") {
    val dir = Files.createTempDirectory("profile-pass").resolve("long").toString
    val raw = table(dir)
    val counter = new JobCounter(spark.sparkContext)
    try {
      pass(raw)
      val (_, warmJobs, warmCompiles) = counter.count(pass(raw))
      info(s"warm pass: $warmJobs jobs, $warmCompiles compiles")
      // one plan per column, pair and quantile level ran 112 jobs and
      // compiled 278 classes here; the column-batched plans run 64 and
      // compile 210-223 (the count moves with the order concurrent jobs
      // reach the cache)
      assert(warmJobs <= 66, s"warm pass ran $warmJobs Spark jobs")
      assert(warmCompiles <= 230, s"warm pass compiled $warmCompiles classes")
    } finally counter.close()
  }
}
