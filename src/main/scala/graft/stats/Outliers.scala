package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.util.Concurrency.both

/** Outlier detection: IQR box plot and medcouple-adjusted (skewed) box plot
  * (reference: woodwork/column_accessor.py:389-546; engine
  * statistics_utils/_get_box_plot_info_for_column.py,
  * _get_medcouple_statistic.py, _medcouple_implementation.py).
  *
  * Quantiles are a distributed agg; the medcouple O(n²) kernel runs on a
  * ≤10k-row sample collected to the driver — the same scale bound the
  * reference uses (config medcouple_sample_size), which keeps driver work
  * constant at any table size.
  */
object Outliers {

  final case class BoxPlotInfo(
      low: Double, high: Double,
      q1: Double, median: Double, q3: Double,
      min: Double, max: Double,
      numLow: Long, numHigh: Long,
      method: String)

  /** Exact {min, q1, median, q3, max} per column WITHOUT `percentile`'s
    * ObjectHashAggregate (whose final merge holds every distinct value in one
    * process): min/max/count from one cheap agg, quartiles from the shared
    * sort-free histogram walk ([[graft.stats.Describe.exactQuantiles]]),
    * seeded with this agg's count/min/max so no stat scan repeats.
    * Interpolation is identical to SQL percentile, so oracle parity carries
    * over. `extra` aggregates ride the same agg; the second result holds
    * their values, in order.
    */
  private def quantilesFor(df: DataFrame, cols: Seq[String], extra: Seq[Column] = Nil)
      : (Map[String, (Double, Double, Double, Double, Double)], Row) = {
    val aggExprs = cols.flatMap { n =>
      val c = col(n).cast(DoubleType)
      Seq(count(c).as(s"cnt__$n"), min(c).as(s"mn__$n"), max(c).as(s"mx__$n"))
    } ++ extra
    val r = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    def cnt(n: String): Long = r.getLong(r.fieldIndex(s"cnt__$n"))
    // all-null / empty columns: min and max aggregate to NULL, and
    // Row.getDouble would NPE — report NaN like the quartile path
    def d(nm: String): Double = {
      val i = r.fieldIndex(nm)
      if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
    }
    val targets = cols.filter(cnt(_) > 0).map { n =>
      n -> Seq(0.25, 0.5, 0.75).map(p => p * (cnt(n) - 1))
    }.toMap
    val stats = targets.keys.map(n =>
      n -> ((cnt(n), d(s"mn__$n"), d(s"mx__$n")))).toMap
    val quarts = Describe.exactQuantiles(df, targets, stats)
    (cols.map { n =>
      val q = quarts.getOrElse(n, Seq(Double.NaN, Double.NaN, Double.NaN))
      n -> (d(s"mn__$n"), q(0), q(1), q(2), d(s"mx__$n"))
    }.toMap, Row.fromSeq(r.toSeq.drop(3 * cols.size)))
  }

  private def outlierCounts(df: DataFrame, colName: String,
                            low: Double, high: Double): (Long, Long) = {
    val c = col(colName).cast(DoubleType)
    val r = df.agg(
      coalesce(sum(when(c < low, 1L)), lit(0L)),
      coalesce(sum(when(c > high, 1L)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Standard IQR box plot: bounds q1-1.5·IQR / q3+1.5·IQR clamped to
    * min/max (reference: _get_box_plot_info_for_column.py:69-91).
    */
  def boxPlot(df: DataFrame, colName: String): BoxPlotInfo =
    boxPlots(df, Seq(colName))(colName)

  /** Multi-column box plots from three plans whatever the column count:
    * one count/min/max agg, one multi-column quartile walk (one job chain
    * per narrowing level) and one outlier-count agg.
    */
  def boxPlots(df: DataFrame, cols: Seq[String]): Map[String, BoxPlotInfo] = {
    val (qs, _) = quantilesFor(df, cols)
    val bounds = cols.map { n =>
      val (mn, q1, _, q3, mx) = qs(n)
      val iqr = q3 - q1
      n -> (math.max(q1 - 1.5 * iqr, mn), math.min(q3 + 1.5 * iqr, mx))
    }.toMap
    val cntExprs = cols.flatMap { n =>
      val c = col(n).cast(DoubleType)
      val (lo, hi) = bounds(n)
      Seq(coalesce(sum(when(c < lo, 1L)), lit(0L)).as(s"nl__$n"),
        coalesce(sum(when(c > hi, 1L)), lit(0L)).as(s"nh__$n"))
    }
    val r = df.agg(cntExprs.head, cntExprs.tail: _*).head()
    cols.map { n =>
      val (mn, q1, med, q3, mx) = qs(n)
      val (lo, hi) = bounds(n)
      n -> BoxPlotInfo(lo, hi, q1, med, q3, mn, mx,
        r.getLong(r.fieldIndex(s"nl__$n")), r.getLong(r.fieldIndex(s"nh__$n")),
        "box_plot")
    }.toMap
  }

  /** Medcouple statistic on a ≤`sampleSize` sample
    * (kernel: med over h(xi,xj) = ((xj-med) + (xi-med)) / (xj-xi) for
    * xi ≤ med ≤ xj; reference: _medcouple_implementation.py:4-37;
    * sampling reference: _get_medcouple_statistic.py:19-44).
    */
  def medcouple(df: DataFrame, colName: String, sampleSize: Int = 10000,
                seed: Long = 42): Double = {
    val c = col(colName).cast(DoubleType)
    // ONE scan: per-partition top-n by a seeded random key
    // (TakeOrderedAndProject holds a sampleSize-entry heap of bare doubles
    // per task, never the partition). The old count()-then-Bernoulli path
    // paid a full extra scan just to size the fraction — at 100 TB the
    // pre-count costs more than the medcouple kernel it bounds. Same
    // contract as Similarity.sampleVectors: deterministic for a fixed
    // dataset and seed; when the column has ≤ sampleSize non-null values
    // the "sample" is exactly all of them.
    val values = df.where(c.isNotNull).select(c.as("v"))
      .withColumn("__r", rand(seed))
      .orderBy(col("__r")).limit(sampleSize)
      .select(col("v")).collect().map(_.getDouble(0)).sorted
    medcoupleKernel(values)
  }

  /** Naive medcouple kernel with the exact tie handling of the Hubert &
    * Vandervieren algorithm as implemented by statsmodels (the reference
    * calls that implementation, _medcouple_implementation.py:4-39): for the
    * k observations equal to the median, the k×k tie block takes the signum
    * matrix sign(r + c - (k-1)) instead of 0/0 divisions.
    */
  private[graft] def medcoupleKernel(sorted: Array[Double]): Double = {
    val n = sorted.length
    if (n < 3) return 0.0
    val med =
      if (n % 2 == 1) sorted(n / 2)
      else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
    val lower = sorted.filter(_ <= med) // ascending: negatives then med-ties
    val upper = sorted.filter(_ >= med) // ascending: med-ties then positives
    val ties = sorted.count(_ == med)
    val tieColStart = lower.length - ties // med-ties are the tail of lower
    val arr = new Array[Double](lower.length * upper.length)
    var k = 0
    var i = 0
    while (i < lower.length) {
      val xi = lower(i)
      var j = 0
      while (j < upper.length) {
        val xj = upper(j)
        arr(k) =
          if (xi == med && xj == med) {
            // signum tie block: rows are upper's tie indices, cols are the
            // last `ties` indices of lower, value = sign(r + c - (ties-1))
            val r = j
            val c = i - tieColStart
            java.lang.Math.signum(r + c - (ties - 1).toDouble)
          } else ((xj - med) - (med - xi)) / (xj - xi)
        k += 1
        j += 1
      }
      i += 1
    }
    val m = arr.length
    if (m == 0) 0.0
    else if (m % 2 == 1) quickselect(arr, m / 2)
    else {
      // selection in O(m) instead of sorting the n²/4-element kernel array:
      // select the upper-middle, then the lower-middle is the max of the
      // (partitioned-below) left side
      val hi = quickselect(arr, m / 2)
      var lo = arr(0)
      var i = 1
      while (i < m / 2) { if (arr(i) > lo) lo = arr(i); i += 1 }
      (lo + hi) / 2.0
    }
  }

  /** In-place quickselect: returns the k-th smallest and leaves arr
    * partitioned so that arr(i) <= arr(k) for i < k.
    */
  private def quickselect(a: Array[Double], k: Int): Double = {
    val rnd = new java.util.Random(42)
    var lo = 0
    var hi = a.length - 1
    while (lo < hi) {
      val p = a(lo + rnd.nextInt(hi - lo + 1))
      var i = lo
      var j = hi
      while (i <= j) {
        while (a(i) < p) i += 1
        while (a(j) > p) j -= 1
        if (i <= j) { val t = a(i); a(i) = a(j); a(j) = t; i += 1; j -= 1 }
      }
      if (k <= j) hi = j
      else if (k >= i) lo = i
      else { lo = k; hi = k }
    }
    a(k)
  }

  /** Medcouple-adjusted bounds: q1 - 1.5·e^(c1·MC)·IQR, q3 + 1.5·e^(c2·MC)·IQR
    * with coefficients from the sample skewness capped at 3.5
    * (reference: _get_box_plot_info_for_column.py:42-66
    * `_determine_coefficients`; exponents -4/3 for left, -3/4·sign pattern).
    */
  def medcoupleBoxPlot(df: DataFrame, colName: String,
                       knownMc: Option[Double] = None): BoxPlotInfo = {
    // the sample skewness rides the quartiles' count/min/max agg; the
    // medcouple sample needs neither, so it is drawn alongside
    val ((qs, extra), mc) = both(
      quantilesFor(df, Seq(colName), Seq(skewness(col(colName).cast(DoubleType)))),
      knownMc.getOrElse(medcouple(df, colName)))
    val (mn, q1, med, q3, mx) = qs(colName)
    val iqr = q3 - q1
    val skew = if (extra.isNullAt(0)) Double.NaN else extra.getDouble(0)
    val cap = 3.5
    val a = math.min(math.abs(skew), cap)
    val (c1, c2) = if (mc >= 0) (-a, a) else (a, -a)
    val low = math.max(q1 - 1.5 * math.exp(c1 * mc) * iqr, mn)
    val high = math.min(q3 + 1.5 * math.exp(c2 * mc) * iqr, mx)
    val (nl, nh) = outlierCounts(df, colName, low, high)
    BoxPlotInfo(low, high, q1, med, q3, mn, mx, nl, nh, "medcouple")
  }

  /** Dispatch heuristic: sampled |MC| < threshold → plain box plot, else
    * medcouple (reference: column_accessor.py:389-439 `get_outliers`,
    * _determine_best_outlier_method at _get_box_plot_info_for_column.py:19-39).
    */
  def bestOutliers(df: DataFrame, colName: String, threshold: Double = 0.3): BoxPlotInfo = {
    val mc = medcouple(df, colName)
    if (math.abs(mc) < threshold) boxPlot(df, colName)
    else medcoupleBoxPlot(df, colName, knownMc = Some(mc))
  }

  /** Rows outside the box-plot bounds, as a DataFrame (distributed; use this
    * instead of collecting outlier values when counts may be large).
    */
  def outlierRows(df: DataFrame, colName: String, info: BoxPlotInfo): DataFrame = {
    val c = col(colName).cast(DoubleType)
    df.where(c < info.low || c > info.high)
  }
}
