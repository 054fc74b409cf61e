package graft.stats

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.WorkingSet

/** Dependence's average-rank table on its range path (more than 64k
  * distinct values): the per-value counts stay cached while the scope
  * that built the table is open, and nothing stays persisted after it.
  */
class RankTableSpec extends SparkSpec {
  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("avgRankTable's range path holds its counts until the scope exits") {
    // 70,000 rows over 65,537 distinct values: 0..4462 appear twice
    val distinct = 65537L
    val df = spark.range(70000).select((col("id") % distinct).cast("double").as("v"))
    val before = persisted
    val (low, top) = WorkingSet.scoped { ws =>
      val table = Dependence.avgRankTable(ws, df, "v", Some(distinct))
      assert((persisted -- before).size == 1)
      val r = table.agg(min("__avg_rank"), max("__avg_rank")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    assert(low == 1.5 && top == 70000.0)
    assert((persisted -- before).isEmpty)
  }
}
