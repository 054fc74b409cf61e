package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global 0-based row numbering that never serializes an unbounded input
  * into one window task — the shared machinery behind every
  * "rank the distinct-value table" site (frequency encoding, vocabulary
  * ordinals), and the per-partition offsets behind every range-partitioned
  * position or prefix sum (`iloc`, curriculum bins, Dependence's rank
  * tables).
  */
object Ranks {

  /** Row count below which a single-task window is cheaper than the
    * range-partitioned path: ~1M slim rows ≈ 10s-of-MB heaps per task.
    * Each caller of [[partitionOffsets]] keeps its own bound
    * (Dependence's rank tables switch at 64k distinct values).
    */
  val SingleTaskBound: Long = 1L * 1000 * 1000

  /** Global start offset of each range partition of a `__pid`-tagged
    * frame: one collect of the per-`__pid` sums of `weight` (`lit(1L)`
    * to count rows), a prefix scan over them on the driver, folded into
    * a `__pid` → offset column. Returns that column and the total
    * weight. P driver scalars, never a single-task global window.
    */
  private[graft] def partitionOffsets(tagged: DataFrame,
                                      weight: Column): (Column, Long) = {
    val sums = tagged.groupBy("__pid").agg(sum(weight))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pids = sums.keys.toSeq.sorted
    val prefix = pids.scanLeft(0L)((acc, p) => acc + sums(p))
    val offset = pids.zip(prefix).foldLeft(lit(0L)) { case (acc, (p, o)) =>
      when(col("__pid") === p, lit(o)).otherwise(acc)
    }
    (offset, prefix.last)
  }

  /** Append `rankCol` = the global 0-based row number of each row under
    * `ordering` (a total order — include a tiebreaker column).
    *
    * Below `bound` input rows: one single-task window (the input is
    * vocabulary-sized by construction at every call site). Above it:
    * range-repartition on the ordering, per-partition `row_number`, and
    * driver-side partition-count prefix offsets — each task ranks only its
    * own range partition, so a mistyped high-cardinality column degrades
    * to a parallel sort instead of a one-task serialization.
    *
    * Execution contract: the input is materialized ONCE up front via
    * `localCheckpoint` (an eager fit, like every fit in this library) —
    * the count that picks the regime, the prefix-offset job, and the
    * caller's downstream actions all read the materialized table instead
    * of re-running the caller's aggregation, and the range partitioning
    * stays frozen between the offset collection and the final plan.
    * SCALE NOTE: localCheckpoint blocks are not replicated; losing an
    * executor that holds them fails the fit, which is then simply re-run
    * — the table is a distinct-value mapping, not hours of lineage.
    */
  def globalRowNumber(df: DataFrame, ordering: Seq[Column],
                      rankCol: String,
                      bound: Long = SingleTaskBound): DataFrame = {
    val mapping = df.localCheckpoint()
    val n = mapping.count()
    if (n <= bound) {
      val w = Window.orderBy(ordering: _*)
      mapping.withColumn(rankCol, (row_number().over(w) - 1).cast("long"))
    } else {
      val parts = math.max(df.sparkSession.sparkContext.defaultParallelism, 4)
      val gn = mapping.repartitionByRange(parts, ordering: _*)
        .withColumn("__pid", spark_partition_id())
      val (offExpr, _) = partitionOffsets(gn, lit(1L))
      val w = Window.partitionBy("__pid").orderBy(ordering: _*)
      gn.withColumn(rankCol,
          (row_number().over(w) - 1).cast("long") + offExpr)
        .drop("__pid")
    }
  }
}
