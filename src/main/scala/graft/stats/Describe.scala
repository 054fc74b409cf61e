package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.frame.WoodworkFrame
import graft.types.LogicalType
import graft.util.Concurrency.{both, runConcurrently}

import scala.jdk.CollectionConverters._

/** Distributed column profiling (reference: `df.ww.describe`,
  * woodwork/table_accessor.py:1454-1567; engine
  * statistics_utils/_get_describe_dict.py:51-231).
  *
  * Spark-first shape: wide `agg` jobs compute count/nan_count/mean/std/min/
  * max/num_true/num_false for every profiled column, BATCHED at
  * [[StatBatchSize]] columns per concurrent job — one giant agg over a
  * 500-column frame emits ~5,500 aggregate expressions in a single
  * generated method and falls past Janino's 64KB whole-stage-codegen limit
  * (the same hazard dependence's pair batching guards). Parquet column
  * pruning makes the k batch scans read the same bytes as one full-width
  * pass. mode/nunique come from ONE stacked `(cid, value)` aggregation over
  * every column, and the exact quartiles from ONE multi-column histogram
  * walk, so a call runs a fixed handful of plans whatever the table's
  * width. Nothing is collected but the final per-column stat rows (bounded
  * by table width, not height).
  */
object Describe {

  /** Columns describe operates on: index/time_index excluded
    * (reference: _get_describe_dict.py:96-99), optional include selectors.
    */
  private def columnsFor(frame: WoodworkFrame, include: Seq[String])
      : Seq[(String, graft.schema.WwColumnSchema)] = {
    val schema = frame.schema
    val base = schema.columns.toSeq
      .filterNot { case (_, c) => c.isIndex || c.isTimeIndex }
    if (include.isEmpty) base
    else {
      val sel = schema.filterCols(include).toSet
      base.filter { case (n, _) => sel.contains(n) }
    }
  }

  /** Columns per concurrent stat-agg job. 25 columns × 11 aggregates ≈ 275
    * aggregate expressions per generated method — comfortably inside
    * Janino's 64KB limit, so wide frames stay in whole-stage codegen.
    */
  private[graft] val StatBatchSize = 25

  /** Run one named struct-aggregate per column, batched at
    * [[StatBatchSize]] per concurrent agg job. Returns column → its stat
    * struct. Parquet pruning means each batch job scans only its own
    * columns, so total IO matches a single full-width agg.
    */
  private[graft] def batchedStructAgg(df: DataFrame,
                               items: Seq[(String, Column)]): Map[String, Row] = {
    runConcurrently(items.grouped(StatBatchSize).toSeq) { batch =>
      val exprs = batch.map(_._2)
      val r = df.agg(exprs.head, exprs.tail: _*).head()
      batch.zipWithIndex.map { case ((n, _), i) => n -> r.getStruct(i) }
    }.flatten.toMap
  }

  /** Reference-parity table profile (`describe`, _get_describe_dict.py).
    * Quartiles are EXACT interpolated order statistics via the sort-free
    * histogram walk ([[exactQuantiles]]) — since r11 also the FASTER path
    * at every measured scale (150×/90M rows: exact 11.2 s vs
    * `percentile_approx` 47.3 s, whose non-codegen ObjectHashAggregate
    * dominates; BENCH_SF1 §r11), so there is no approximate mode.
    */
  def describe(frame: WoodworkFrame,
               include: Seq[String] = Nil,
               callback: Option[(Long, Long, Long, String, Double) => Unit] = None)
      : DataFrame = {
    val df = frame.df
    val cols = columnsFor(frame, include)
    require(cols.nonEmpty, "No columns to describe")

    val aggExprs: Seq[(String, Column)] = cols.map { case (n, cs) =>
      val c = col(n)
      val d = c.cast(DoubleType)
      val isNum = cs.isNumeric
      val isDt = cs.isDatetime
      val isBool = cs.isBoolean
      n -> struct(
        count(lit(1)).as("total"),
        count(c).as("count"),
        (if (isNum) avg(d) else lit(null).cast(DoubleType)).as("mean"),
        (if (isNum) stddev_samp(d) else lit(null).cast(DoubleType)).as("std"),
        (if (isNum) min(d) else lit(null).cast(DoubleType)).as("min"),
        (if (isNum) max(d) else lit(null).cast(DoubleType)).as("max"),
        (if (isBool) coalesce(sum(when(c === true, 1L)), lit(0L))
         else lit(null).cast(LongType)).as("num_true"),
        (if (isBool) coalesce(sum(when(c === false, 1L)), lit(0L))
         else lit(null).cast(LongType)).as("num_false"),
        (if (isDt) min(c).cast(TimestampType) else lit(null).cast(TimestampType)).as("min_dt"),
        (if (isDt) max(c).cast(TimestampType) else lit(null).cast(TimestampType)).as("max_dt"),
        (if (isDt) timestamp_micros(avg(unix_micros(c)).cast(LongType))
         else lit(null).cast(TimestampType)).as("mean_dt")
      ).as(n)
    }

    val numCols = cols.collect { case (n, cs) if cs.isNumeric => n }
    // exact nunique + mode come out of the single melt job (one
    // (column,value) shuffle instead of a count_distinct Expand); exact
    // quartiles come from the sort-free histogram walk seeded by the stat
    // aggs' count/min/max — never a percentile ObjectHashAggregate (whose
    // final merge holds every distinct value in one process — a
    // non-starter at 100 TB) and never a Sort node. The two chains read
    // the frame independently, so they run side by side.
    val ((statOf, quartiles), (modes, nuniques)) = both({
      val statOf = batchedStructAgg(df, aggExprs)
      val stats = numCols.map(n => n -> statOf(n)).collect {
        case (n, s) if s.getLong(1) > 0 =>
          n -> ((s.getLong(1), s.getDouble(4), s.getDouble(5)))
      }.toMap
      val targets = stats.map { case (n, (nonNull, _, _)) =>
        n -> Seq(0.25, 0.5, 0.75).map(p => p * (nonNull - 1))
      }
      (statOf, exactQuantiles(df, targets, stats))
    }, meltStats(df, cols.map(_._1), numCols.toSet))
    val spark = df.sparkSession
    // per-column progress callbacks (reference: _get_describe_dict.py:226-230)
    val caller = new graft.config.CallbackCaller(callback, "column", cols.size.toLong)
    val out = cols.map { case (n, cs) =>
      caller.update(1)
      val s = statOf(n)
      val total = s.getLong(0); val cnt = s.getLong(1)
      def dOpt(j: Int): Any = if (s.isNullAt(j)) null else s.getDouble(j)
      val quart: Seq[Double] = quartiles.getOrElse(n, null)
      Row(
        n,
        frame.df.schema(n).dataType.simpleString,
        cs.logicalType.name,
        cs.allTags.toSeq.sorted.mkString(";"),
        cnt,
        nuniques.getOrElse(n, 0L),
        total - cnt,
        dOpt(2), dOpt(3), dOpt(4),
        if (quart == null) null else quart(0),
        if (quart == null) null else quart(1),
        if (quart == null) null else quart(2),
        dOpt(5),
        if (s.isNullAt(6)) null else s.getLong(6),
        if (s.isNullAt(7)) null else s.getLong(7),
        modes.getOrElse(n, null),
        if (s.isNullAt(8)) null else s.getTimestamp(8),
        if (s.isNullAt(9)) null else s.getTimestamp(9),
        if (s.isNullAt(10)) null else s.getTimestamp(10)
      )
    }
    val outSchema = StructType(Seq(
      StructField("column_name", StringType, false),
      StructField("physical_type", StringType, false),
      StructField("logical_type", StringType, false),
      StructField("semantic_tags", StringType, false),
      StructField("count", LongType, false),
      StructField("nunique", LongType, false),
      StructField("nan_count", LongType, false),
      StructField("mean", DoubleType), StructField("std", DoubleType),
      StructField("min", DoubleType),
      StructField("first_quartile", DoubleType),
      StructField("second_quartile", DoubleType),
      StructField("third_quartile", DoubleType),
      StructField("max", DoubleType),
      StructField("num_true", LongType), StructField("num_false", LongType),
      StructField("mode", StringType),
      StructField("min_datetime", TimestampType),
      StructField("max_datetime", TimestampType),
      StructField("mean_datetime", TimestampType)))
    // a local relation: reading the result back runs no Spark job
    spark.createDataFrame(out.asJava, outSchema)
  }

  /** Buckets per region and level of the exact-quantile histogram walk:
    * regions·4096 groups per agg keeps the shuffle a few KB while shrinking
    * region width ~4096× per level.
    */
  private[graft] val QuantileBuckets = 4096

  /** Exact interpolated order statistics with NO Sort node anywhere:
    * iterative histogram narrowing, every target column in ONE walk. The
    * columns are stacked once as `(cid, v: double)` rows; each level
    * partitions every unresolved value region of every column into
    * [[QuantileBuckets]] equal-width buckets with ONE narrow agg over the
    * stacked rows (count/min/max per (region, bucket) — map-side
    * combined, so the shuffle carries ≤ regions·buckets rows regardless of
    * data size or column count). A bucket whose observed min == max is a
    * single distinct value and resolves every rank that falls inside it;
    * any other bucket holding a wanted rank recurses with its OBSERVED
    * [min,max] as the next region bounds. Both region endpoints always
    * land in different buckets (v=lo → bucket 0, v=hi → clamp(⌊B⌋) = B−1),
    * so width shrinks ~B× per level and an adjacent-double region splits
    * into two single-valued buckets — ≤ log_B(width/ulp) levels for any
    * double column (≈6 worst case, 2–3 in practice). A column's regions
    * never depend on another column's, so each column resolves exactly as
    * a walk of its own would, while a k-column call runs one job per level
    * instead of k. Each level stacks only the columns that still have an
    * open region, so a column that resolved early is not read again: the
    * work is Σ levels·N over the columns, as with one walk per column. At
    * 100 TB the levels are narrow column scans with bounded shuffles, and
    * nothing ever sorts.
    *
    * `targets` maps column → fractional order-statistic positions p·(n−1);
    * interpolation matches SQL `percentile`:
    * v_lo·(⌈pos⌉−pos) + v_hi·(pos−⌊pos⌋). `stats` optionally supplies
    * per-column (nonNullCount, min, max) a caller already aggregated (the
    * describe/boxplot/dependence paths have them); missing entries are
    * computed in one batched agg. Columns with zero non-null values are
    * absent from the result. NaN values follow Spark's sort order (greater
    * than any real); a rank that lands among NaNs resolves to NaN.
    */
  def exactQuantiles(df: DataFrame, targets: Map[String, Seq[Double]],
                     stats: Map[String, (Long, Double, Double)] = Map.empty)
      : Map[String, Seq[Double]] = {
    if (targets.isEmpty) return Map.empty
    val missing = targets.keys.filterNot(stats.contains).toSeq
    val computed: Map[String, (Long, Double, Double)] =
      if (missing.isEmpty) Map.empty
      else {
        val exprs = missing.map { n =>
          val d = col(n).cast(DoubleType)
          n -> struct(count(d), min(d), max(d)).as(n)
        }
        batchedStructAgg(df, exprs).map { case (n, s) =>
          n -> ((s.getLong(0),
            if (s.isNullAt(1)) Double.NaN else s.getDouble(1),
            if (s.isNullAt(2)) Double.NaN else s.getDouble(2)))
        }
      }
    val all = stats ++ computed
    val names = targets.keys.toSeq.sorted.filter(n => all(n)._1 > 0)
    if (names.isEmpty) return Map.empty
    names.zip(bisect(df, names, names.map(n => (targets(n), all(n))))).toMap
  }

  /** The non-null values of the `(column, cid)` pairs in `cols` as
    * `(cid, v: double)` rows. One column is a plain projection; more are
    * exploded from one struct array per input row, so a walk level reads
    * the input once.
    */
  private def stackDoubles(df: DataFrame, cols: Seq[(String, Int)]): DataFrame = {
    val stacked = cols match {
      case Seq((n, cid)) =>
        df.select(lit(cid).as("cid"), col(n).cast(DoubleType).as("v"))
      case _ =>
        df.select(explode(array(cols.map { case (n, cid) =>
          struct(lit(cid).as("cid"), col(n).cast(DoubleType).as("v"))
        }: _*)).as("e")).select("e.cid", "e.v")
    }
    stacked.where(col("v").isNotNull)
  }

  /** PER-GROUP exact quantiles — "median by category" at scale: for each
    * group of `groupCols`, the interpolated order statistics of
    * `valueCol` at probabilities `ps` (SQL `percentile` interpolation,
    * the [[exactQuantiles]] convention). Null and NaN values are
    * excluded (NaN ordering is engine-specific — the one cross-engine
    * ambiguity, removed by contract); groups with no remaining value
    * read null quantiles but still appear (their rows counted by `n`).
    *
    * Scale shape — raw rows NEVER sort: one map-side-combined
    * aggregation collapses to per-(group, value) counts (shuffle ≤
    * distinct pairs), ONE per-group window over that collapsed frame
    * computes cumulative ranks (partition size = the group's DISTINCT
    * values, not its rows — the [[graft.stats.KeyDiscovery]] OD
    * collapse-then-window philosophy), and rank selection + the final
    * interpolation are one more group-sized aggregation and projection.
    * Driver state is zero: unlike the iterative [[exactQuantiles]] walk
    * (which would pay its driver rounds PER GROUP), the whole thing is
    * one lazy plan, the right trade when groups are many and per-group
    * distinct values are collapse-bounded.
    *
    * Output: (groupCols..., n — the group's TOTAL row count, null/NaN
    * values included —, then one `p<percent>` column per probability —
    * p50, p90, p99_9 for 0.5/0.9/0.999), one row per group, ordered by
    * the group columns.
    */
  def groupedQuantiles(df: DataFrame, groupCols: Seq[String],
                       valueCol: String, ps: Seq[Double]): DataFrame =
    // the final global order pays a range-partitioner SAMPLING pass that
    // re-executes everything since the last shuffle boundary — here the
    // whole window + rank-pick stage, ~25–35% of q172/q175 (r17 probe;
    // the r15 join shape dodged it by accident because that pipeline sat
    // behind a once-built BroadcastExchange, which is why the r16 fusion
    // measured SLOWER on few-group shapes despite strictly less work).
    // A LAZY localCheckpoint of the one-row-per-group result makes the
    // sampling pass materialize that tiny frame once and the real sort
    // re-read it: scale-free (the stored rows ARE the output rows), not
    // eager, and not a cross-run cache — each call builds a fresh plan.
    // An explicit repartition boundary does NOT work here: adjacent
    // user-then-required exchanges collapse at the physical layer
    // (probed: the hash exchange survives the optimized logical plan and
    // vanishes in the executed plan).
    groupedQuantilesUnsorted(df, groupCols, valueCol, ps)
      .localCheckpoint(eager = false)
      .orderBy(groupCols.map(c => col(c).asc_nulls_last): _*)

  /** [[groupedQuantiles]] without the final global sort — for callers
    * that immediately re-aggregate the walk rows (the sequential-gap
    * sweep pivots by pair), where an output order would be thrown away
    * at the next exchange AND its range-sampling pass would re-run the
    * window stage (r17).
    */
  private[graft] def groupedQuantilesUnsorted(
      df: DataFrame, groupCols: Seq[String],
      valueCol: String, ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupCols.nonEmpty, "need at least one group column")
    require(ps.nonEmpty, "need at least one probability")
    require(ps.forall(p => p >= 0 && p <= 1), s"probabilities in [0,1]: $ps")
    (groupCols :+ valueCol).foreach(c =>
      require(df.columns.contains(c), s"column '$c' not in frame"))
    // decimal-string construction, not binary: BigDecimal(0.07 * 100)
    // would inherit double noise (p7_000000000000001)
    def label(p: Double): String =
      "p" + (BigDecimal(p.toString) * 100).underlying
        .stripTrailingZeros.toPlainString
        .replace(".", "_").replace("-", "")
    val labels = ps.map(label)
    require(labels.distinct.size == labels.size,
      s"probability labels collide: $labels")
    require(labels.intersect(groupCols :+ "n").isEmpty,
      "quantile label collides with a group column")
    // full re-projection onto __-internal names (the actorProgress
    // convention): a user group column named __cum/__v/... can never
    // collide with the machinery below
    val gNames = groupCols.indices.map(i => s"__g$i")
    val gs = gNames.map(col)
    val base = df.select(
      groupCols.zip(gNames).map { case (c, g) => col(c).as(g) } :+
        col(valueCol).cast(DoubleType).as("__val"): _*)
    val v = col("__val")
    // ONE collapse of the raw rows with null/NaN kept as their own value
    // rows, and ONE window pass carrying both the rank machinery (gated
    // to valid rows) and the per-group TOTAL row count (r16
    // optimization): the former shape aggregated `base` a second time
    // for the all-groups row counts and re-attached them with a
    // null-safe left join — two extra stages and a join hazard, both
    // gone. Null values sort first and NaN last under the ascending
    // order, and every rank/pick expression is gated on validity, so
    // their presence in the frame cannot shift a rank. Groups whose
    // every value is null/NaN keep a null __n and read null quantiles
    // over the real row count — including the NULL group key, which
    // groupBy preserves (DuckDB GROUP BY + quantile_cont parity).
    val counts0 = base
      .groupBy(gs :+ v.as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val valid = col("__v").isNotNull && !isnan(col("__v"))
    val wOrd = Window.partitionBy(gs: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(gs: _*)
    val ranked = counts0
      .withColumn("__cum", sum(when(valid, col("__c")).otherwise(0L))
        .over(wOrd))
      .withColumn("__n", sum(when(valid, col("__c"))).over(wAll))
      .withColumn("__rows", sum(col("__c")).over(wAll))
    // a valid value row covers 0-based ranks [__cum − __c, __cum); for
    // each p the wanted ranks are floor/ceil of p·(n−1) — pick the
    // covering value with a conditional max (exactly one row matches
    // per rank)
    val aggs = max(col("__rows")).as("__gRows") +:
      max(col("__n")).as("__total") +:
      ps.zip(labels).flatMap { case (p, l) =>
        val pos = lit(p) * (col("__n") - 1)
        def at(r: Column): Column = max(when(
          valid && col("__cum") - col("__c") <= r && r < col("__cum"),
          col("__v")))
        Seq(at(floor(pos)).as(s"__lo_$l"), at(ceil(pos)).as(s"__hi_$l"))
      }
    // same partitioning as the window — no further exchange
    val picked = ranked.groupBy(gs: _*).agg(aggs.head, aggs.tail: _*)
    picked
      .select(groupCols.zip(gNames).map { case (c, g) => col(g).as(c) } ++
        (col("__gRows").as("n") +:
        ps.zip(labels).map { case (p, l) =>
          val pos = lit(p) * (col("__total") - 1)
          val lo = col(s"__lo_$l"); val hi = col(s"__hi_$l")
          when(col("__total").isNull, lit(null).cast(DoubleType))
            .when(ceil(pos) === floor(pos), lo)
            .otherwise(lo * (ceil(pos) - pos) + hi * (pos - floor(pos)))
            .as(l)
        }): _*)
  }

  /** One unresolved value region of the histogram walk: the column it
    * belongs to, the predicate that defines membership, its observed
    * [lo,hi] bounds, the column-wide rank of its first value (`offset`),
    * and the wanted ranks inside it.
    */
  private final case class QRegion(cid: Int, filter: Column, lo: Double,
                                   hi: Double, offset: Long, ranks: Seq[Long])

  /** Core of [[exactQuantiles]]. Column `names(cid)` of `df` has the
    * wanted positions and (non-null count, min, max) of `cols(cid)`.
    * Returns each column's values at its positions, in `cols` order.
    */
  private def bisect(df: DataFrame, names: Seq[String],
                     cols: Seq[(Seq[Double], (Long, Double, Double))])
      : Seq[Seq[Double]] = {
    val B = QuantileBuckets
    val v = col("v")
    // bucket assignment for a region [lo,hi]. Every branch is monotone in
    // Spark's value order (NaN last, -0.0 = 0.0), so a bucket's members are
    // exactly the column's values between its OBSERVED min and max: the
    // next level's membership is that closed range — one compare pair per
    // region, not the chain of every enclosing region's bucket expression
    def mkBucket(lo: Double, hi: Double): Column = {
      val w = hi - lo
      if (java.lang.Double.isFinite(w) && w > 0)
        // NaN shares the top bucket with the largest reals (Spark sorts NaN
        // last); the child level's NaN branch peels them apart
        when(isnan(v), lit(B - 1)).otherwise(
          least(greatest(floor((v - lit(lo)) / lit(w) * B).cast(IntegerType),
            lit(0)), lit(B - 1)))
      else if (lo.isNaN || hi.isNaN)
        // mixed real/NaN region: one split peels the NaNs off the top
        when(isnan(v), lit(1)).otherwise(lit(0))
      else if (lo.isNegInfinity || hi.isPosInfinity)
        // infinite ENDPOINT(s): peel them into their own single-valued
        // buckets (which resolve immediately) so the finite middle recurses
        // with finite bounds. A compare-split would loop here: with
        // lo = -Inf the midpoint lo/2 + hi/2 is itself -Inf and every row
        // lands in one bucket, so the region never narrows. Bucket ids keep
        // value order (-Inf < finite < +Inf < NaN).
        when(isnan(v), lit(3))
          .when(v === lit(Double.NegativeInfinity), lit(0))
          .when(v === lit(Double.PositiveInfinity), lit(2))
          .otherwise(lit(1))
      else {
        // finite endpoints whose WIDTH overflows a double: halve by compare
        // (lo/2 + hi/2 cannot overflow)
        val mid = lo / 2 + hi / 2
        when(isnan(v), lit(1)).when(v < lit(mid), lit(0)).otherwise(lit(1))
      }
    }
    // (cid, rank) → value
    val resolved = scala.collection.mutable.Map.empty[(Int, Long), Double]
    var regions: List[QRegion] = cols.zipWithIndex.toList.flatMap {
      case ((positions, (cnt, mn, mx)), cid) =>
        val wanted = positions
          .flatMap(p => Seq(math.floor(p).toLong, math.ceil(p).toLong))
          .distinct.filter(r => r >= 0 && r < cnt)
        if (wanted.isEmpty) Nil
        else if (mn == mx || (mn.isNaN && mx.isNaN)) {
          wanted.foreach(r => resolved((cid, r)) = mn); Nil
        }
        else List(QRegion(cid, col("cid") === cid, mn, mx, 0L, wanted))
    }
    var level = 0
    while (regions.nonEmpty && level < 64) {
      level += 1
      val buckets = regions.map(r => mkBucket(r.lo, r.hi))
      val rid = regions.zipWithIndex.foldRight(lit(-1)) {
        case ((reg, i), acc) => when(reg.filter, lit(i)).otherwise(acc)
      }
      val bk = regions.zip(buckets).foldRight(lit(-1)) {
        case ((reg, b), acc) => when(reg.filter, b).otherwise(acc)
      }
      val open = regions.map(_.cid).distinct.sorted
      val rows = stackDoubles(df, open.map(cid => names(cid) -> cid))
        .where(regions.map(_.filter).reduce(_ || _))
        .groupBy(rid.as("rid"), bk.as("b"))
        .agg(count(lit(1)).as("c"), min(v).as("mn"), max(v).as("mx"))
        .collect()
      val byRegion = rows.groupBy(_.getInt(0))
      val next = List.newBuilder[QRegion]
      regions.zipWithIndex.foreach { case (reg, i) =>
        val bs = byRegion.getOrElse(i, Array.empty).sortBy(_.getInt(1))
        var cum = reg.offset
        bs.foreach { r =>
          val b = r.getInt(1); val c = r.getLong(2)
          val bmn = r.getDouble(3); val bmx = r.getDouble(4)
          val inside = reg.ranks.filter(rk => rk >= cum && rk < cum + c)
          if (inside.nonEmpty) {
            if (bmn == bmx || (bmn.isNaN && bmx.isNaN))
              inside.foreach(rk => resolved((reg.cid, rk)) = bmn)
            else next += QRegion(reg.cid,
              col("cid") === reg.cid && v >= lit(bmn) && v <= lit(bmx),
              bmn, bmx, cum, inside)
          }
          cum += c
        }
      }
      regions = next.result()
    }
    cols.zipWithIndex.map { case ((positions, _), cid) =>
      positions.map { pos =>
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        def at(ix: Long): Double = resolved.getOrElse((cid, ix), Double.NaN)
        if (lo == hi) at(lo)
        else at(lo) * (hi - pos) + at(hi) * (pos - lo)
      }
    }
  }

  /** Per-column mode and exact nunique, from ONE stacked aggregation:
    *
    *   - mode per column: `min(struct(-cnt, value))` over the value groups —
    *     max count with smallest-value tie-break (pandas `mode()[0]`,
    *     reference: statistics_utils/_get_mode.py:1-6; `numericCols`
    *     tie-break on the numeric value, the rest lexicographically);
    *   - exact nunique: the group count.
    *
    * Each input row explodes into one `(cid, d: double, s: string)` row per
    * column — `d` set for `numericCols`, which never pass through a string
    * cast, `s` for the rest — grouped per `(cid, value)` and then reduced
    * per `cid`. Every column's statistics come from one job chain, whatever
    * the table's width. A column without a non-null value is absent from
    * both maps.
    *
    * Numeric envelope: numeric columns group on their DoubleType cast, so
    * integral values beyond 2⁵³ collapse — the SAME float64 envelope as the
    * pandas reference, whose describe/mode paths also route int64 through
    * float64.
    */
  def meltStats(df: DataFrame, cols: Seq[String],
                numericCols: Set[String] = Set.empty)
      : (Map[String, String], Map[String, Long]) = {
    if (cols.isEmpty) return (Map.empty, Map.empty)
    val integral = numericCols.filter(n =>
      LogicalType.isIntegralType(df.schema(n).dataType))
    val nullD = lit(null).cast(DoubleType)
    val nullS = lit(null).cast(StringType)
    val stacked = df.select(explode(array(cols.zipWithIndex.map { case (n, i) =>
      val isNum = numericCols(n)
      struct(lit(i).as("cid"),
        (if (isNum) col(n).cast(DoubleType) else nullD).as("d"),
        (if (isNum) nullS else col(n).cast(StringType)).as("s"))
    }: _*)).as("e")).select("e.cid", "e.d", "e.s")
      .where(col("d").isNotNull || col("s").isNotNull)
    // one row per column holding a non-null value: (cid, top, nunique)
    val found = stacked.groupBy("cid", "d", "s").agg(count(lit(1)).as("cnt"))
      .groupBy("cid")
      .agg(min(struct((-col("cnt")).as("negCnt"), col("d"), col("s"))).as("top"),
        count(lit(1)).as("nu"))
      .collect().map(r => cols(r.getInt(0)) -> r).toMap
    val modes = found.map { case (n, r) =>
      val t = r.getStruct(1)
      n -> (if (!numericCols(n)) t.getString(2)
        else if (integral(n)) t.getDouble(1).toLong.toString
        else t.getDouble(1).toString)
    }
    (modes, found.map { case (n, r) => n -> r.getLong(2) })
  }

  /** Equal-width histogram of a numeric column in `bins` buckets
    * (reference: statistics_utils/_get_histogram_values.py:4-37). Bounds come
    * from one agg; bucketing is a `width_bucket` groupBy — two scans total.
    */
  def histogram(df: DataFrame, colName: String, bins: Int = 10): DataFrame = {
    val c = col(colName).cast(DoubleType)
    val Row(lo: Double, hi: Double) = df.agg(min(c), max(c)).head()
    val hiAdj = if (hi == lo) lo + 1 else hi
    // explicit floor arithmetic (not width_bucket) so the exact same IEEE
    // expression is reproducible in any ANSI engine
    val bin = least(greatest(
      floor((c - lit(lo)) / (lit(hiAdj) - lit(lo)) * bins).cast(LongType) + 1L,
      lit(1L)), lit(bins.toLong))
    df.where(c.isNotNull)
      .groupBy(bin.as("bin")).agg(count(lit(1)).as("frequency"))
      .orderBy("bin")
  }

  /** Top-x most recent date counts for a datetime column
    * (reference: statistics_utils/_get_recent_value_counts.py:1-18).
    */
  def recentValueCounts(df: DataFrame, colName: String, x: Int = 10): DataFrame =
    df.where(col(colName).isNotNull)
      .groupBy(to_date(col(colName)).as("value"))
      .agg(count(lit(1)).as("count"))
      .orderBy(col("value").desc)
      .limit(x)
      .orderBy(col("count").desc, col("value").asc)

  /** Counts for every integer in [min,max] when the range is small enough
    * (reference: statistics_utils/_get_numeric_value_counts_in_range.py:4-23).
    */
  def numericValueCountsInRange(df: DataFrame, colName: String, bins: Int = 10): DataFrame = {
    val c = col(colName)
    df.where(c.isNotNull)
      .groupBy(c.cast(LongType).as("value"))
      .agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col("value").asc)
      .limit(bins)
  }

  private val HistEntry = ArrayType(StructType(Seq(
    StructField("bin", LongType), StructField("frequency", LongType))))
  private val CountEntry = ArrayType(StructType(Seq(
    StructField("value", StringType), StructField("count", LongType))))

  /** describe with the reference's `extra_stats=True` columns assembled in
    * (reference: _get_describe_dict.py:199-224): per-column
    *
    *   - numeric: `histogram` (bins buckets); integer-family types whose
    *     value range fits in `bins` additionally get numeric `top_values`
    *   - categorical: `top_values` (top_x most frequent)
    *   - datetime: `recent_values` (recent_x most recent date counts)
    *
    * Extras are bounded lists (≤ bins/top_x/recent_x entries), computed as
    * one small concurrent job per qualifying column over pruned scans and
    * attached as array<struct> columns; `value` is stringified so one schema
    * carries every type.
    */
  def describeWithExtras(frame: WoodworkFrame,
                         include: Seq[String] = Nil,
                         bins: Int = 10, topX: Int = 10, recentX: Int = 10,
                         callback: Option[(Long, Long, Long, String, Double) => Unit] = None)
      : DataFrame = {
    val base = describe(frame, include, callback = callback)
    val df = frame.df
    val cols = columnsFor(frame, include)
    val intFamily = Set("Age", "AgeNullable", "Integer", "IntegerNullable")

    // per-numeric-column min/max/non-null/non-integral (batched wide aggs) —
    // decides histogram applicability and the numeric top_values condition
    val numCols = cols.collect { case (n, cs) if cs.isNumeric => n }
    val numInfo: Map[String, (Option[Double], Option[Double], Long, Long)] = {
      val exprs = numCols.map { n =>
        val d = col(n).cast(DoubleType)
        n -> struct(min(d), max(d), count(d),
          coalesce(sum(when(d % 1 =!= 0, 1L)), lit(0L))).as(n)
      }
      batchedStructAgg(df, exprs).map { case (n, s) =>
        n -> (if (s.isNullAt(0)) None else Some(s.getDouble(0)),
          if (s.isNullAt(1)) None else Some(s.getDouble(1)),
          s.getLong(2), s.getLong(3))
      }
    }

    def counted(d: DataFrame): Seq[Row] =
      d.select(col("value").cast(StringType), col("count")).collect().toSeq
    // per column: Row(name, histogram, top_values, recent_values), an
    // absent extra as null
    val extraRows = runConcurrently(cols) { case (n, cs) =>
      if (cs.isNumeric) numInfo(n) match {
        case (Some(lo), Some(hi), _, nonIntegral) =>
          val rangeLen = hi.toLong + 1 - lo.toLong
          Row(n, histogram(df, n, bins).collect().toSeq,
            if (intFamily.contains(cs.logicalType.name) && rangeLen <= bins &&
                nonIntegral == 0)
              counted(numericValueCountsInRange(df, n, bins))
            else null, null)
        case _ => Row(n, Seq.empty, null, null) // all-null numeric → empty histogram
      }
      else if (cs.isCategorical)
        Row(n, null, counted(ValueCounts.topValues(df, n, topX)), null)
      else if (cs.isDatetime)
        Row(n, null, null, counted(recentValueCounts(df, n, recentX)))
      else Row(n, null, null, null)
    }

    val spark = df.sparkSession
    val extraSchema = StructType(Seq(
      StructField("column_name", StringType),
      StructField("histogram", HistEntry),
      StructField("top_values", CountEntry),
      StructField("recent_values", CountEntry)))
    val extras = spark.createDataFrame(extraRows.asJava, extraSchema)
    base.join(extras, Seq("column_name"), "left")
  }
}
