package graft.stats

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.frame.WoodworkFrame
import graft.util.WorkingSet

/** Temporal frequency inference for datetime columns
  * (reference: `df.ww.infer_temporal_frequencies`,
  * woodwork/table_accessor.py:1591-1637; engine
  * statistics_utils/_infer_temporal_frequencies.py and frequency_inference/).
  *
  * Spark-first shape: the per-window `pd.infer_freq` voting becomes one
  * distributed lag-diff + groupBy over the sorted column — the winning delta
  * must hold in ≥ threshold of windows (default 0.9,
  * reference: frequency_inference/_constants.py:1-3). The pandas offset-alias
  * mapping is reimplemented for fixed-period aliases plus calendar
  * month/quarter/year detection from (year, month, day) patterns.
  */
object FrequencyInference {

  final case class FreqResult(column: String, alias: Option[String],
                              dominantShare: Double, nObserved: Long)

  private[stats] val DayUs = 86400000000L
  private[stats] val WeekUs = 7 * DayUs

  private val fixedAliases: Seq[(Long, String)] = {
    val us = 1L
    val ms = 1000L * us
    val s = 1000L * ms
    val min = 60L * s
    val h = 60L * min
    val d = 24L * h
    Seq(
      d * 7 -> "W", d -> "D", h -> "H", min -> "T", s -> "S", ms -> "L", us -> "U")
  }

  /** ISO weekday (1=Mon..7=Sun) → pandas anchor abbreviation. */
  private[stats] val weekdayNames =
    Array("MON", "TUE", "WED", "THU", "FRI", "SAT", "SUN")

  /** Render a microsecond delta as a pandas-style offset alias ("D", "2H",
    * "15T", ...), or None for irregular deltas.
    */
  def aliasFor(deltaMicros: Long): Option[String] = {
    if (deltaMicros <= 0) return None
    fixedAliases.collectFirst {
      case (unit, name) if deltaMicros % unit == 0 =>
        val k = deltaMicros / unit
        if (k == 1) name else s"$k$name"
    }
  }

  /** Infer the most likely frequency for each Datetime column of the frame.
    * One job per column: sort-free lag over a window, diff counts, vote.
    */
  def inferFrequencies(frame: WoodworkFrame,
                       threshold: Double = 0.9): Seq[FreqResult] = {
    val dtCols = frame.schema.columns.collect {
      case (n, c) if c.isDatetime => n
    }.toSeq
    dtCols.map(n => inferFrequency(frame.df, n, threshold))
  }

  def inferFrequency(df: DataFrame, colName: String,
                     threshold: Double = 0.9): FreqResult = {
    val c = col(colName)
    // A global-window lag would collapse to ONE partition. Range-partition on
    // the timestamp and lag within partitions instead: fully parallel. The
    // per-partition window loses the one diff straddling each partition
    // boundary; those are recovered below from the per-partition (min,max) —
    // ≤ parts-1 values, driver-side — so the delta multiset is EXACTLY the
    // sorted-series diffs, independent of partition count.
    val spark = df.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism, 4)
    val (top, observed) = WorkingSet.scoped { ws =>
      val withPid = ws.cache(df.where(c.isNotNull)
        .select(unix_micros(c.cast("timestamp")).as("us"))
        .repartitionByRange(parts, col("us"))
        .withColumn("pid", spark_partition_id()))
      val inner = withPid
        .withColumn("diff", col("us") -
          lag(col("us"), 1).over(Window.partitionBy("pid").orderBy("us")))
        .where(col("diff").isNotNull)
        .select("diff")
      val bounds = withPid.groupBy("pid")
        .agg(min("us").as("mn"), max("us").as("mx"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      val boundary = bounds.toSeq.sliding(2).collect {
        case Seq(a, b) => b._1 - a._2
      }.toSeq
      import spark.implicits._
      val all =
        if (boundary.isEmpty) inner
        else inner.unionAll(boundary.toDF("diff"))
      // one aggregate over the grouped deltas yields both the winner —
      // highest count, then SMALLEST delta, deterministically — and the
      // total observed count
      val r = all.groupBy("diff").agg(count(lit(1)).as("cnt"))
        .agg(min(struct((-col("cnt")).as("negCnt"), col("diff"))),
          coalesce(sum("cnt"), lit(0L)))
        .head()
      (Option(r.getStruct(0)), r.getLong(1))
    }
    if (top.isEmpty || observed == 0)
      return FreqResult(colName, None, 0.0, observed)
    val (bestDelta, bestCnt) = (top.get.getLong(1), -top.get.getLong(0))
    val share = bestCnt.toDouble / observed
    if (share >= threshold) {
      // weekly deltas anchor on the dominant weekday like pandas ("W-SUN"),
      // one tiny weekday-histogram agg only when the winner is a week multiple
      val alias =
        if (bestDelta > 0 && bestDelta % WeekUs == 0) {
          val wd = df.where(c.isNotNull)
            .groupBy(((dayofweek(c.cast("date")) + lit(5)) % 7 + 1).as("wd"))
            .agg(count(lit(1)).as("cnt"))
            .orderBy(col("cnt").desc, col("wd").asc)
            .limit(1).head().getInt(0)
          val k = bestDelta / WeekUs
          val nm = weekdayNames(wd - 1)
          Some(if (k == 1) s"W-$nm" else s"${k}W-$nm")
        } else aliasFor(bestDelta)
      FreqResult(colName, alias, share, observed)
    } else {
      // calendar-frequency check, most specific first (reference infers these
      // through pandas' offset aliases: year end/start, quarter end/start,
      // month end/start — _determine_most_likely_freq.py + fixtures
      // tests/fixtures/datetime_freq.py)
      val d = c.cast("date")
      val isLast = d === last_day(d)
      val cal = df.where(c.isNotNull)
        .agg(
          count(lit(1)).as("n"),
          coalesce(sum(when(month(d) === 12 && dayofmonth(d) === 31, 1L)), lit(0L)),
          coalesce(sum(when(month(d) === 1 && dayofmonth(d) === 1, 1L)), lit(0L)),
          coalesce(sum(when(month(d).isin(3, 6, 9, 12) && isLast, 1L)), lit(0L)),
          coalesce(sum(when(month(d).isin(1, 4, 7, 10) && dayofmonth(d) === 1, 1L)), lit(0L)),
          coalesce(sum(when(isLast, 1L)), lit(0L)),
          coalesce(sum(when(dayofmonth(d) === 1, 1L)), lit(0L)))
        .head()
      val n = cal.getLong(0)
      // pandas quirks preserved: quarter-start infers "QS-OCT", year-start
      // "AS-JAN" (tests/fixtures/datetime_freq.py ALL_ALIASES)
      val checks = Seq(
        cal.getLong(1) -> "A-DEC", cal.getLong(2) -> "AS-JAN",
        cal.getLong(3) -> "Q-DEC", cal.getLong(4) -> "QS-OCT",
        cal.getLong(5) -> "M", cal.getLong(6) -> "MS")
      checks.collectFirst {
        case (cnt, al) if n > 0 && cnt.toDouble / n >= threshold =>
          FreqResult(colName, Some(al), cnt.toDouble / n, observed)
      }.getOrElse(FreqResult(colName, None, share, observed))
    }
  }

  // ------------------------------------------------------------ oracle SQL
  /** DuckDB replica of the full inference decision, generated from the same
    * priority list the Scala path uses so both engines cannot drift. `src`
    * must yield a single timestamp/date column named `ts`.
    */
  object Sql {
    def decision(src: String, colName: String, threshold: Double = 0.9): String = {
      val units = Seq(
        86400000000L -> "D", 3600000000L -> "H", 60000000L -> "T",
        1000000L -> "S", 1000L -> "L", 1L -> "U")
      val wkName = "CASE wk.wd WHEN 1 THEN 'MON' WHEN 2 THEN 'TUE' " +
        "WHEN 3 THEN 'WED' WHEN 4 THEN 'THU' WHEN 5 THEN 'FRI' " +
        "WHEN 6 THEN 'SAT' ELSE 'SUN' END"
      val weekly = s"WHEN diff % $WeekUs = 0 THEN " +
        s"(CASE WHEN diff / $WeekUs = 1 THEN 'W-' || $wkName " +
        s"ELSE CAST(diff / $WeekUs AS VARCHAR) || 'W-' || $wkName END)"
      val fixedCase = weekly + " " + units.map { case (u, nm) =>
        s"WHEN diff % $u = 0 THEN (CASE WHEN diff / $u = 1 THEN '$nm' " +
          s"ELSE CAST(diff / $u AS VARCHAR) || '$nm' END)"
      }.mkString(" ")
      val calChecks = Seq(
        "yends" -> "A-DEC", "ystarts" -> "AS-JAN", "qends" -> "Q-DEC",
        "qstarts" -> "QS-OCT", "lasts" -> "M", "firsts" -> "MS")
      val calAlias = calChecks.map { case (f, al) =>
        s"WHEN CAST(cal.$f AS DOUBLE) / cal.n >= $threshold THEN '$al'"
      }.mkString(" ")
      val calShare = calChecks.map { case (f, _) =>
        s"WHEN CAST(cal.$f AS DOUBLE) / cal.n >= $threshold " +
          s"THEN CAST(cal.$f AS DOUBLE) / cal.n"
      }.mkString(" ")
      s"""WITH src AS ($src),
         |d AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) -
         |        lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (ORDER BY ts) AS diff
         |      FROM src WHERE ts IS NOT NULL),
         |g AS (SELECT diff, count(*) AS cnt FROM d WHERE diff IS NOT NULL GROUP BY diff),
         |t AS (SELECT diff, cnt FROM g ORDER BY cnt DESC, diff ASC LIMIT 1),
         |o AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS observed FROM g),
         |wk AS (SELECT isodow(CAST(ts AS DATE)) AS wd, count(*) AS c
         |       FROM src WHERE ts IS NOT NULL
         |       GROUP BY 1 ORDER BY c DESC, wd ASC LIMIT 1),
         |cal AS (SELECT count(*) AS n,
         |  coalesce(sum(CASE WHEN month(CAST(ts AS DATE)) = 12 AND day(CAST(ts AS DATE)) = 31 THEN 1 END), 0) AS yends,
         |  coalesce(sum(CASE WHEN month(CAST(ts AS DATE)) = 1 AND day(CAST(ts AS DATE)) = 1 THEN 1 END), 0) AS ystarts,
         |  coalesce(sum(CASE WHEN month(CAST(ts AS DATE)) IN (3,6,9,12) AND CAST(ts AS DATE) = last_day(CAST(ts AS DATE)) THEN 1 END), 0) AS qends,
         |  coalesce(sum(CASE WHEN month(CAST(ts AS DATE)) IN (1,4,7,10) AND day(CAST(ts AS DATE)) = 1 THEN 1 END), 0) AS qstarts,
         |  coalesce(sum(CASE WHEN CAST(ts AS DATE) = last_day(CAST(ts AS DATE)) THEN 1 END), 0) AS lasts,
         |  coalesce(sum(CASE WHEN day(CAST(ts AS DATE)) = 1 THEN 1 END), 0) AS firsts
         |  FROM src WHERE ts IS NOT NULL)
         |SELECT '$colName' AS column_name,
         | CASE WHEN CAST(t.cnt AS DOUBLE) / o.observed >= $threshold
         |        THEN (CASE WHEN diff <= 0 THEN 'none' $fixedCase ELSE 'none' END)
         |      $calAlias
         |      ELSE 'none' END AS alias,
         | round(CASE WHEN CAST(t.cnt AS DOUBLE) / o.observed >= $threshold
         |              THEN CAST(t.cnt AS DOUBLE) / o.observed
         |            $calShare
         |            ELSE CAST(t.cnt AS DOUBLE) / o.observed END, 4) AS dominant_share,
         | o.observed AS n_observed
         |FROM t, o, wk, cal""".stripMargin
    }
  }

  /** Gap diagnosis for a near-regular series: missing timestamps vs the ideal
    * `sequence(min, max, delta)` grid, duplicate timestamps, extra (off-grid)
    * values, and null entries
    * (reference: frequency_inference/_determine_{missing,duplicate,extra,nan}_values.py).
    * Fully distributed: grid generation is `sequence` + explode, comparisons
    * are anti-joins.
    */
  def gapReport(df: DataFrame, colName: String, deltaMicros: Long): DataFrame = {
    val c = col(colName).cast("timestamp")
    val spark = df.sparkSession
    val Row(lo: Long, hi: Long) = df.where(c.isNotNull)
      .agg(min(unix_micros(c)), max(unix_micros(c))).head()
    val grid = spark.range(lo, hi + 1, deltaMicros)
      .select(timestamp_micros(col("id")).as("expected_ts"))
    val actual = df.where(c.isNotNull).groupBy(c.as("ts"))
      .agg(count(lit(1)).as("cnt"))
    val missing = grid.join(actual, grid("expected_ts") === actual("ts"), "left_anti")
      .select(col("expected_ts").as("ts"), lit("missing").as("kind"), lit(1L).as("cnt"))
    val dups = actual.where(col("cnt") > 1)
      .select(col("ts"), lit("duplicate").as("kind"), (col("cnt") - 1).as("cnt"))
    val extra = actual.join(grid, actual("ts") === grid("expected_ts"), "left_anti")
      .select(col("ts"), lit("extra").as("kind"), lit(1L).as("cnt"))
    val nans = df.where(c.isNull)
      .agg(count(lit(1)).as("cnt")).where(col("cnt") > 0)
      .select(lit(null).cast("timestamp").as("ts"), lit("nan").as("kind"),
        col("cnt"))
    missing.unionAll(dups).unionAll(extra).unionAll(nans).orderBy("ts", "kind")
  }
}
