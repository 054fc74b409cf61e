package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.ops.Dedup
import graft.stats.KeyDiscovery

/** A warm curation pass runs few Spark jobs: the pass of the `curate`
  * benchmark workload (key, FD, IND and OD discovery, then near-duplicate
  * pairs and their clusters), run twice over small fixed parquet tables.
  * The second pass is pinned on its Spark job count: at bench scale each
  * job's fixed driver cost, not data volume, is what a discovery call
  * pays.
  */
class CuratePassSpec extends SparkSpec {
  import spark.implicits._

  private def parquet(df: DataFrame, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name"
    df.repartition(2).write.parquet(path)
    spark.read.parquet(path)
  }

  /** orders, customers, promos and docs in the shape of the benchmark's
    * star: (cust_id, line_no) is a key, prod_id → category holds, one
    * promo_id dangles, ts ascends with order_id, and the corpus holds
    * planted near-duplicate clusters.
    */
  private def tables(dir: String): Map[String, DataFrame] = {
    val r = new java.util.Random(7)
    val lines = scala.collection.mutable.Map.empty[Long, Long]
    val orders = (1 to 2000).map { i =>
      val cust = 1L + r.nextInt(200)
      val line = lines.getOrElse(cust, 0L) + 1
      lines(cust) = line
      val prod = 1L + r.nextInt(60)
      (i.toLong, cust, line, prod, s"cat${prod % 10}", Seq("low", "mid", "high")((prod % 3).toInt),
        if (i == 999) 21L else 1L + r.nextInt(20), 1000L * i + r.nextInt(900),
        r.nextInt(100000) / 100.0, f"R$i%06d")
    }.toDF("order_id", "cust_id", "line_no", "prod_id", "category", "price_band",
      "promo_id", "ts", "amount", "ref_code")
    val vocab = Array.fill(800)(Seq.fill(6)(('a' + r.nextInt(26)).toChar).mkString)
    def doc(): Array[String] = Array.fill(30)(vocab(r.nextInt(vocab.length)))
    val texts = Seq.fill(150)(doc()) ++ Seq.fill(15)(doc()).flatMap { base =>
      val v = base.clone()
      v(r.nextInt(v.length)) = vocab(r.nextInt(vocab.length))
      Seq(base, v)
    }
    Map(
      "orders" -> parquet(orders, dir, "orders"),
      "customers" -> parquet((1L to 200L).toDF("cust_id"), dir, "customers"),
      "promos" -> parquet((1L to 20L).toDF("promo_id"), dir, "promos"),
      "docs" -> parquet(texts.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }
        .toDF("doc_id", "text"), dir, "docs"))
  }

  private def pass(t: Map[String, DataFrame]): Unit = {
    val orders = t("orders")
    KeyDiscovery.discoverKeys(orders, Seq("cust_id", "line_no", "ref_code"), maxArity = 2)
      .collect()
    KeyDiscovery.functionalDependencies(orders, Seq("prod_id", "category", "price_band"))
      .collect()
    KeyDiscovery.discoverInds(Seq(
      ("orders", orders, Seq("cust_id", "promo_id")),
      ("customers", t("customers"), Seq("cust_id")),
      ("promos", t("promos"), Seq("promo_id")))).collect()
    KeyDiscovery.orderDependencies(orders, Seq("order_id" -> "ts", "order_id" -> "amount"))
      .collect()
    val pairs = Dedup.minhashLshPairs(t("docs"), "doc_id", "text", threshold = 0.6)
    pairs.collect()
    Dedup.duplicateClusters(pairs).collect()
  }

  test("a warm curation pass pins its Spark job count") {
    val dir = Files.createTempDirectory("curate-pass").toString
    val t = tables(dir)
    val counter = new JobCounter(spark.sparkContext)
    try {
      pass(t)
      val (_, warmJobs, warmCompiles) = counter.count(pass(t))
      info(s"warm pass: $warmJobs jobs, $warmCompiles compiles")
      // one confirm join per IND candidate and one FD job per ordered pair
      // ran 100 jobs here; one plan per IND level and one job per unordered
      // FD pair run 51
      assert(warmJobs <= 54, s"warm pass ran $warmJobs Spark jobs")
    } finally counter.close()
  }
}
