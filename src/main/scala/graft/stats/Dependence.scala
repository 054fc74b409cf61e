package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.frame.WoodworkFrame
import graft.util.Concurrency.runConcurrently
import graft.util.{Ranks, WorkingSet}

import scala.jdk.CollectionConverters._

/** Pairwise column dependence: Pearson, Spearman, adjusted mutual information,
  * and their signed max (reference: `df.ww.dependence`,
  * woodwork/table_accessor.py:881-1433; engine
  * statistics_utils/_get_dependence_dict.py:31-264,
  * _calculate_dependence_measure.py:11-95).
  *
  * Spark-first layout:
  *   - ONE agg computes every pair's shared/union row counts AND every
  *     Pearson coefficient (`corr` skips null pairs natively = the
  *     reference's intersection semantics).
  *   - Spearman uses global average-ranks (one window per column) when a
  *     pair is null-free; only null-bearing pairs fall back to per-pair
  *     rank jobs.
  *   - MI bins numeric columns by exact quantiles (pd.qcut equivalent,
  *     one multi-column walk seeded by the pass-1 count/min/max), then
  *     every pair's contingency table (bounded by the reference's
  *     800/6000-nunique drop rule) comes back to the driver from ONE
  *     stacked groupBy, and the sklearn-parity AMI correction runs on the
  *     k×k counts.
  * Every score is scaled by shared/union rows
  * (reference: _calculate_dependence_measure.py:85).
  */
object Dependence {

  val AllMeasures = Seq("mutual_info", "pearson", "spearman", "max")

  /** reference: statistics_utils/_parse_measures.py:7-76 */
  def parseMeasures(measures: Seq[String]): (Seq[String], Seq[String], Boolean) = {
    require(measures.nonEmpty, "No measures supplied")
    val norm = if (measures.contains("all")) AllMeasures else measures
    norm.foreach(m => require(AllMeasures.contains(m), s"Unknown measure $m"))
    val calcMax = norm.contains("max")
    val calc =
      if (calcMax) Seq("mutual_info", "pearson", "spearman")
      else norm.filterNot(_ == "max")
    (norm, calc, calcMax)
  }

  /** Distinct-value count below which the rank table's prefix sums run as one
    * single-task window over the (already-reduced) per-value counts — no
    * second shuffle, no driver offsets, no cache. Above it, the
    * range-partitioned prefix-sum path takes over. r17: lowered 1M → 64k;
    * a near-unique 600k-value column was sorting single-threaded inside
    * the one-partition window (~1 s of q06) while 31 cores idled — the
    * range path runs the same prefix sums as parallel per-partition
    * windows.
    */
  private val SingleTaskBound = 64L * 1000

  /** Largest `nrows` sample drawn by the one-scan per-partition-heap path;
    * 1M slim prep rows (a few doubles each) ≈ 10s-of-MB heaps per task.
    * Larger requests fall back to the two-scan Bernoulli fraction.
    */
  private[stats] val HeapSampleBound = 1L * 1000 * 1000

  /** Distributed average-rank lookup table (value → avg rank) for one
    * column. Shape: per-value counts (one shuffle) → range partition by
    * value → per-partition cumulative counts (parallel windows) + partition
    * offsets computed from P driver-side scalars. Equal values land in one
    * range partition, so tie groups never split. Produces exactly the
    * classic `rank() + (count_same-1)/2` average ranks without the
    * single-partition global-sort window.
    *
    * The range path caches its per-value counts in `ws`, so the table
    * stays valid until that scope exits: open the scope around the last
    * action that reads the table.
    */
  private[stats] def avgRankTable(ws: WorkingSet, df: DataFrame, v: String,
                                  nuniqueHint: Option[Long] = None): DataFrame = {
    val perValue = df.where(col(v).isNotNull)
      .groupBy(col(v).as("__v")).agg(count(lit(1)).as("__c"))
    if (nuniqueHint.exists(_ <= SingleTaskBound)) {
      val w = Window.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      return perValue
        .withColumn("__cumLess", coalesce(sum(col("__c")).over(w), lit(0L)))
        .select(col("__v"),
          (col("__cumLess") + (col("__c") + 1) / 2.0).as("__avg_rank"))
    }
    val parts = math.max(df.sparkSession.sparkContext.defaultParallelism, 4)
    val counts = ws.cache(perValue
      .repartitionByRange(parts, col("__v"))
      .withColumn("__pid", spark_partition_id()))
    val (offExpr, _) = Ranks.partitionOffsets(counts, col("__c"))
    val w = Window.partitionBy("__pid").orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    counts
      .withColumn("__cumLess", coalesce(sum(col("__c")).over(w), lit(0L)))
      .select(col("__v"),
        (col("__cumLess") + offExpr + (col("__c") + 1) / 2.0).as("__avg_rank"))
  }

  /** Named single-measure variants (reference API surface:
    * table_accessor.py:881-1433 `mutual_information`, `pearson_correlation`,
    * `spearman_correlation` and their `_dict` forms — all delegate to the
    * same engine, as here).
    */
  def mutualInformation(frame: WoodworkFrame, numBins: Int = 10,
                        nrows: Option[Long] = None, minShared: Long = 25,
                        maxNunique: Long = 6000,
                        targetCol: Option[String] = None): DataFrame =
    dependence(frame, Seq("mutual_info"), numBins, nrows, minShared,
      maxNunique, targetCol)

  def pearsonCorrelation(frame: WoodworkFrame, nrows: Option[Long] = None,
                         minShared: Long = 25,
                         targetCol: Option[String] = None): DataFrame =
    dependence(frame, Seq("pearson"), nrows = nrows, minShared = minShared,
      targetCol = targetCol)

  def spearmanCorrelation(frame: WoodworkFrame, nrows: Option[Long] = None,
                          minShared: Long = 25,
                          targetCol: Option[String] = None): DataFrame =
    dependence(frame, Seq("spearman"), nrows = nrows, minShared = minShared,
      targetCol = targetCol)

  final case class PairResult(
      col1: String, col2: String,
      sharedRows: Long, unionRows: Long,
      var mutualInfo: Double = Double.NaN,
      var pearson: Double = Double.NaN,
      var spearman: Double = Double.NaN,
      var max: Double = Double.NaN)

  def dependence(frame: WoodworkFrame,
                 measures: Seq[String] = Seq("mutual_info"),
                 numBins: Int = 10,
                 nrows: Option[Long] = None,
                 minShared: Long = 25,
                 maxNunique: Long = 6000,
                 targetCol: Option[String] = None,
                 callback: Option[(Long, Long, Long, String, Double) => Unit] = None)
      : DataFrame = {
    val (returned, calcOrder, calcMax) = parseMeasures(measures)
    val schema = frame.schema

    // columns valid per measure (reference: utils.py:330-398; booleans are
    // treated as IntegerNullable, reference: _get_dependence_dict.py:109-112)
    def validFor(measure: String)(n: String): Boolean = {
      val c = schema(n)
      if (c.isIndex || c.isTimeIndex) false
      else measure match {
        case "pearson" => c.isNumeric || c.isDatetime || c.isBoolean
        case "spearman" => c.isNumeric || c.isDatetime || c.isBoolean ||
          c.logicalType.name == "Ordinal"
        case "mutual_info" => c.isNumeric || c.isCategorical || c.isDatetime ||
          c.isBoolean
      }
    }
    // columns valid for AT LEAST ONE requested measure (reference:
    // _get_dependence_dict.py:118-149 builds the column set from the union of
    // the requested measures' valid types — a pearson-only call must not emit
    // all-NaN rows for categorical pairs)
    val allCols = schema.columns.keys.toSeq.filter(n =>
      calcOrder.exists(m => validFor(m)(n)))
    targetCol.foreach { t =>
      require(schema.columns.contains(t),
        s"target_col '$t' not found in schema")
      require(allCols.contains(t),
        s"target_col '$t' is not valid for measures: ${calcOrder.mkString(", ")}")
    }
    require(allCols.size >= 2,
      "Not enough valid columns to measure dependence")

    // numeric working view: bool→int, datetime→epoch, ordinal→rank
    val prepCols: Seq[Column] = allCols.map { n =>
      val c = schema(n)
      val raw = col(n)
      val v: Column =
        if (c.isBoolean) raw.cast(IntegerType).cast(DoubleType)
        else if (c.isDatetime) unix_micros(raw.cast(TimestampType)).cast(DoubleType)
        else if (c.logicalType.name == "Ordinal")
          c.logicalType.asInstanceOf[graft.types.LogicalType.Ordinal] match {
            case o if o.order.nonEmpty => o.rank(raw).cast(DoubleType)
            case _ => raw.cast(StringType).cast(DoubleType)
          }
        else if (c.isNumeric) raw.cast(DoubleType)
        else raw.cast(StringType) // categorical: label for MI only
      v.as(n)
    }
    // row sampling (reference: _get_dependence_dict.py:163-165 nrows) — a
    // ONE-SCAN bounded sample over the SLIM measure projection (a few
    // doubles/labels per row, not the full frame): per-partition top-n by
    // a seeded random key (TakeOrderedAndProject holds an n-entry heap of
    // slim rows per task, never the partition), then a cheap n-row
    // round-robin shuffle restores parallelism for the agg passes. rand(0)
    // is a function of (partition, row position), so projecting first
    // samples the exact same rows the unprojected scan would. Above
    // HeapSampleBound (n-entry heaps of slim rows ≈ 100s of MB/task) the
    // two-scan Bernoulli fraction path remains as the constant-memory
    // escape hatch — profiling samples never realistically reach it.
    val prepped = frame.df.select(prepCols: _*)
    val df0 = nrows match {
      case Some(n) if n <= HeapSampleBound =>
        val parts = math.max(frame.df.sparkSession.sparkContext
          .defaultParallelism / 4, 2)
        prepped.withColumn("__r", rand(0)).orderBy(col("__r")).limit(n.toInt)
          .drop("__r").repartition(parts)
      case Some(n) =>
        val total = prepped.count()
        if (total <= n) prepped
        else prepped.sample(withReplacement = false, n.toDouble / total, 0)
      case None => prepped
    }
    WorkingSet.scoped { ws =>
      val prep = ws.cache(df0)
      val numericSet = allCols.filter { n =>
        val c = schema(n)
        c.isNumeric || c.isDatetime || c.isBoolean ||
          (c.logicalType.name == "Ordinal")
      }.toSet

      // ---- pass 1: per-column nonnull/nunique + per-pair shared + pearson
      val pairs: Seq[(String, String)] = targetCol match {
        case Some(t) => allCols.filterNot(_ == t).map(_ -> t)
        case None => allCols.combinations(2).map(s => (s(0), s(1))).toSeq
      }
      // exact distinct ONLY where semantics depend on it (the >800/Σ6000
      // categorical drop rule); numeric columns use nunique purely as a path
      // hint (single-task rank window, broadcast join, bin guard), where
      // approx_count_distinct avoids the Expand that would multiply the agg's
      // input by (#exact-distinct columns + 1).
      // nunique aggregates run in their OWN job (r17): approx_count_distinct
      // is an ImperativeAggregate, and ONE of those in an agg knocks the
      // whole HashAggregate out of whole-stage codegen — the combined
      // pass-1 agg measured 1.64 s where corr-only reads 0.17 s and
      // acd-only 0.24 s (sf0.1 lineitem, cached prep). Splitting keeps
      // the counts/corr job codegen'd; both jobs run concurrently.
      // Columns whose nunique nothing reads (numeric columns in a
      // pearson-only call — the hints serve the spearman/MI paths, the
      // drop rule is categorical-only) skip the aggregate entirely.
      val needNunique: String => Boolean = n =>
        !numericSet(n) ||
          calcOrder.contains("spearman") || calcOrder.contains("mutual_info")
      // numeric min/max ride the same agg: they seed MI's quantile walk,
      // which then needs no stats job of its own
      val colAggs: Seq[Column] = allCols.flatMap(n =>
        count(col(n)).as(s"cnt__$n") +: (
          if (calcOrder.contains("mutual_info") && numericSet(n))
            Seq(min(col(n)).as(s"mn__$n"), max(col(n)).as(s"mx__$n"))
          else Nil))
      val nunAggs: Seq[Column] = allCols.filter(needNunique).map { n =>
        val dc =
          if (numericSet(n)) approx_count_distinct(col(n))
          else count_distinct(col(n))
        dc.as(s"nun__$n")
      }
      val pearsonCols = allCols.filter(validFor("pearson")).toSet
      def pairAggsFor(ps: Seq[(String, String)]): Seq[Column] =
        ps.flatMap { case (a, b) =>
          val shared = coalesce(
            sum(when(col(a).isNotNull && col(b).isNotNull, 1L)), lit(0L))
            .as(s"sh__${a}__$b")
          val pe =
            if (calcOrder.contains("pearson") && pearsonCols(a) && pearsonCols(b))
              Seq(corr(col(a), col(b)).as(s"pe__${a}__$b"))
            else Nil
          shared +: pe
        }
      // k columns → k·(k-1)/2 pair aggregates: one agg holding all of them
      // is fine at profile width ~20, but a 60-column frame (1,770 pairs)
      // blows past Janino's 64KB generated-method limit and falls out of
      // whole-stage codegen. Cap ~200 pairs per agg job; batches run
      // concurrently over the cached prep, so latency is ~max not sum.
      val pairBatchSize = 200
      val declGroups: Seq[Seq[Column]] =
        if (pairs.size <= pairBatchSize)
          Seq(colAggs ++ pairAggsFor(pairs) ++
            Seq(count(lit(1)).as("total__")))
        else
          (colAggs ++ Seq(count(lit(1)).as("total__"))) +:
            pairs.grouped(pairBatchSize).map(pairAggsFor).toSeq
      // the imperative nunique job rides the same concurrent fan-out as
      // the declarative groups — never the same agg (codegen, above)
      val groups: Seq[Seq[Column]] =
        if (nunAggs.isEmpty) declGroups else declGroups :+ nunAggs
      val r1s: Seq[Row] =
        runConcurrently(groups)(as => prep.agg(as.head, as.tail: _*).head())
      val fieldOf: Map[String, (Row, Int)] = r1s.flatMap(r =>
        r.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> (r, i) })
        .toMap
      def g(nm: String): Long = { val (r, i) = fieldOf(nm); r.getLong(i) }
      def gd(nm: String): Double = {
        val (r, i) = fieldOf(nm)
        if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
      }
      val total = g("total__")
      val nonNull = allCols.map(n => n -> g(s"cnt__$n")).toMap
      // absent key = nunique provably unused on this call path (loud
      // failure if that invariant ever breaks)
      val nunique: Map[String, Long] = allCols.filter(needNunique)
        .map(n => n -> g(s"nun__$n")).toMap

      // large-categorical drop (reference: _get_dependence_dict.py:276-299)
      val largeCats = allCols.filter(n =>
        !numericSet(n) && nunique(n) > 800).sortBy(n => -nunique(n))
      var catSum = allCols.filter(n => !numericSet(n)).map(nunique).sum
      var dropped = Set.empty[String]
      for (n <- largeCats if catSum > maxNunique && (largeCats.size - dropped.size) > 1) {
        dropped += n; catSum -= nunique(n)
      }

      val results: Seq[PairResult] = pairs
        .filterNot { case (a, b) => dropped(a) || dropped(b) }
        .map { case (a, b) =>
          val shared = g(s"sh__${a}__$b")
          val union = nonNull(a) + nonNull(b) - shared
          val pr = PairResult(a, b, shared, union)
          if (calcOrder.contains("pearson") && pearsonCols(a) && pearsonCols(b) &&
              shared >= minShared && union > 0)
            pr.pearson = gd(s"pe__${a}__$b") * shared / union
          pr
        }
      // per-(pair, measure) progress callbacks
      // (reference: _get_dependence_dict.py callback plumbing)
      val caller = new graft.config.CallbackCaller(callback, "pair-measure",
        results.size.toLong * calcOrder.size)
      if (calcOrder.contains("pearson")) caller.update(results.size.toLong)

      // ---- spearman and mutual info read only pass-1 results and fill
      // disjoint fields of each pair, so they run concurrently
      val spearmanPart: () => Unit = () => if (calcOrder.contains("spearman")) {
        val spCols = allCols.filter(validFor("spearman")).filterNot(dropped)
        // distributed average-ranks (never a single-partition global sort),
        // joined back by value — valid for null-free pairs
        val spPairs = results.filter(r =>
          spCols.contains(r.col1) && spCols.contains(r.col2) &&
            r.sharedRows >= minShared)
        val (nullFree, withNulls) = spPairs.partition(r =>
          nonNull(r.col1) == total && nonNull(r.col2) == total)
        if (nullFree.nonEmpty) {
          val rankedCols = spCols.filter(n =>
            nullFree.exists(r => r.col1 == n || r.col2 == n))
          // each rank table runs a small driver-side action; build them
          // concurrently so k tables cost ~one table of wall-clock
          WorkingSet.scoped { tables =>
            val rankTables = runConcurrently(rankedCols)(n =>
              n -> avgRankTable(tables, prep, n, Some(nunique(n))))
            // join each rank table back by value; tables up to ~2M rows
            // (known from the pass-1 nunique) broadcast — a rank-table row
            // is two 8-byte values, so 2M rows ≈ 32 MB of data, well under
            // the guide's few-hundred-MB broadcast comfort zone — and every
            // broadcast avoids re-shuffling the ENTIRE base frame by that
            // column's value (r17: the former 100k bound pushed sf0.1's
            // near-unique price column into a base-frame sort-merge join).
            // Genuinely high-cardinality columns still shuffle.
            val ranked = rankTables.foldLeft(prep) { case (d, (n, rt0)) =>
              val rt = if (nunique(n) <= 2000000) broadcast(rt0) else rt0
              d.join(rt, d(n) === rt("__v"), "left")
                .drop("__v").withColumnRenamed("__avg_rank", s"rk__$n")
            }
            val exprs = nullFree.map(r =>
              corr(col(s"rk__${r.col1}"), col(s"rk__${r.col2}"))
                .as(s"sp__${r.col1}__${r.col2}"))
            val row = ranked.agg(exprs.head, exprs.tail: _*).head()
            nullFree.foreach { r =>
              val i = row.fieldIndex(s"sp__${r.col1}__${r.col2}")
              val v = if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
              r.spearman = v * r.sharedRows / r.unionRows
              caller.update(1)
            }
          }
        }
        runConcurrently(withNulls) { r =>
          // ranks on the pair's shared rows, same distributed rank shape
          val sub = prep.select(col(r.col1), col(r.col2))
            .where(col(r.col1).isNotNull && col(r.col2).isNotNull)
          WorkingSet.scoped { tables =>
            val ra = avgRankTable(tables, sub, r.col1)
              .withColumnRenamed("__avg_rank", "ra").withColumnRenamed("__v", "__va")
            val rb = avgRankTable(tables, sub, r.col2)
              .withColumnRenamed("__avg_rank", "rb").withColumnRenamed("__v", "__vb")
            val rr = sub
              .join(ra, col(r.col1) === col("__va"))
              .join(rb, col(r.col2) === col("__vb"))
              .agg(corr(col("ra"), col("rb"))).head()
            val v = if (rr.isNullAt(0)) Double.NaN else rr.getDouble(0)
            r.spearman = v * r.sharedRows / r.unionRows
            caller.update(1)
          }
        }
      }

      // ---- mutual info (AMI)
      val mutualInfoPart: () => Unit = () => if (calcOrder.contains("mutual_info")) {
        val keep = allCols.filterNot(dropped)
        // quantile-bin numeric cols with >2 distinct values
        // (reference: _bin_numeric_cols_into_categories.py:4-27). Exact
        // quantile boundaries via the shared sort-free histogram walk —
        // never `percentile`'s single-process distinct-value merge.
        val toBin = keep.filter(n => numericSet(n) && nunique(n) > 2)
        val boundaries: Map[String, Array[Double]] =
          if (toBin.isEmpty) Map.empty
          else {
            val qs = (1 until numBins).map(_.toDouble / numBins)
            val binTargets = toBin.map(n =>
              n -> qs.map(p => p * (nonNull(n) - 1))).toMap
            val quants = Describe.exactQuantiles(prep, binTargets,
              toBin.map(n => n -> ((nonNull(n), gd(s"mn__$n"), gd(s"mx__$n")))).toMap)
            toBin.map { n =>
              val bs = quants.get(n)
                .map(_.filterNot(_.isNaN).distinct.sorted.toArray)
                .getOrElse(Array.empty[Double])
              n -> bs
            }.toMap
          }
        val binned = keep.foldLeft(prep) { (d, n) =>
          boundaries.get(n) match {
            case Some(bs) if bs.nonEmpty =>
              val c = col(n)
              val code = bs.zipWithIndex.foldLeft(lit(0)) { case (acc, (b, i)) =>
                when(c > b, lit(i + 1)).otherwise(acc)
              }
              d.withColumn(s"bin__$n", when(c.isNotNull, code.cast(StringType)))
            case _ =>
              d.withColumn(s"bin__$n", col(n).cast(StringType))
          }
        }
        val miPairs = results.filter(r => !dropped(r.col1) && !dropped(r.col2) &&
          r.sharedRows >= minShared)
        // every pair's contingency table from ONE groupBy(pair, binA, binB)
        // over a stacked projection of the bin columns; cells are sorted so
        // the AMI sums run in a fixed order
        val cells = if (miPairs.isEmpty) Map.empty[Int, Array[Row]] else
          binned.select(explode(array(miPairs.zipWithIndex.map { case (r, i) =>
            struct(lit(i).as("p"), col(s"bin__${r.col1}").as("a"),
              col(s"bin__${r.col2}").as("b"))
          }: _*)).as("e")).select("e.p", "e.a", "e.b")
            .where(col("a").isNotNull && col("b").isNotNull)
            .groupBy("p", "a", "b").agg(count(lit(1)).as("n"))
            .collect().groupBy(_.getInt(0))
        miPairs.zipWithIndex.foreach { case (r, i) =>
          val ct = cells.getOrElse(i, Array.empty[Row]).toSeq
            .map(row => (row.getString(1), row.getString(2), row.getLong(3)))
            .sortBy(c => (c._1, c._2))
          r.mutualInfo = Ami.adjustedMutualInfo(ct) * r.sharedRows / r.unionRows
          caller.update(1)
        }
      }

      runConcurrently(Seq(spearmanPart, mutualInfoPart))(_())

      // ---- max (reference: _calculate_max_dependence_for_pair.py:5-50)
      if (calcMax) results.foreach { r =>
        val candidates = Seq(
          "mutual_info" -> r.mutualInfo,
          "pearson" -> math.abs(r.pearson),
          "spearman" -> math.abs(r.spearman)).filterNot(_._2.isNaN)
        if (candidates.nonEmpty) {
          val best = candidates.maxBy(_._2)._1
          r.max = best match {
            case "mutual_info" => r.mutualInfo
            case "pearson" => r.pearson
            case "spearman" => r.spearman
          }
        }
      }

      // ---- assemble, sort desc by first returned measure (NaN last)
      val firstMeasure = returned.head
      def measureOf(r: PairResult, m: String): Double = m match {
        case "mutual_info" => r.mutualInfo
        case "pearson" => r.pearson
        case "spearman" => r.spearman
        case "max" => r.max
      }
      val sorted = results.sortBy { r =>
        val v = measureOf(r, firstMeasure)
        (v.isNaN, -v)
      }
      val spark = frame.df.sparkSession
      val fields = StructField("column_1", StringType, false) ::
        StructField("column_2", StringType, false) ::
        returned.map(m => StructField(m, DoubleType)).toList
      val rows = sorted.map { r =>
        Row.fromSeq(r.col1 +: r.col2 +: returned.map { m =>
          val v = measureOf(r, m)
          if (v.isNaN) null else v
        })
      }
      // a local relation: reading the result back runs no Spark job
      spark.createDataFrame(rows.asJava, StructType(fields))
    }
  }
}

/** Adjusted mutual information with sklearn parity: MI and entropies from the
  * contingency table, expected MI via the exact hypergeometric formula, and
  * the "arithmetic" average-method normalization (the sklearn default the
  * reference calls, reference: _calculate_dependence_measure.py:79-83).
  * All driver-side on a bounded k×k table.
  */
object Ami {

  /** Lanczos log-gamma (g=7, n=9 coefficients; standard public constants). */
  private[stats] def lgamma(x: Double): Double = {
    if (x < 0.5)
      math.log(math.Pi / math.sin(math.Pi * x)) - lgamma(1.0 - x)
    else {
      val g = 7.0
      val c = Array(
        0.99999999999980993, 676.5203681218851, -1259.1392167224028,
        771.32342877765313, -176.61502916214059, 12.507343278686905,
        -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
      val xx = x - 1.0
      var a = c(0)
      val t = xx + g + 0.5
      var i = 1
      while (i < 9) { a += c(i) / (xx + i); i += 1 }
      0.5 * math.log(2 * math.Pi) + (xx + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  def adjustedMutualInfo(cells: Seq[(String, String, Long)]): Double = {
    if (cells.isEmpty) return Double.NaN
    val aKeys = cells.map(_._1).distinct
    val bKeys = cells.map(_._2).distinct
    val aSum = cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val bSum = cells.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val n = cells.map(_._3).sum.toDouble
    if (n == 0) return Double.NaN
    // single-cluster degenerate cases → 1.0 (sklearn convention)
    if (aKeys.size == 1 && bKeys.size == 1) return 1.0

    val mi = cells.map { case (a, b, nij) =>
      val p = nij / n
      p * (math.log(nij * n) - math.log(aSum(a).toDouble * bSum(b)))
    }.sum

    def entropy(sums: Iterable[Long]): Double =
      -sums.filter(_ > 0).map { s => val p = s / n; p * math.log(p) }.sum
    val hU = entropy(aSum.values)
    val hV = entropy(bSum.values)
    // When exactly ONE side is constant (hU xor hV zero), sklearn's AMI falls
    // through to the normal formula: mi=0, emi=0 → (0-0)/(meanH) = 0.0 — a
    // constant column carries no information. Only the both-single-cluster
    // case above short-circuits to 1.0.

    val emi = expectedMutualInfo(aSum.values.toArray, bSum.values.toArray, n.toLong)
    val meanH = (hU + hV) / 2.0
    var denom = meanH - emi
    val eps = 2.220446049250313e-16
    denom = if (denom < 0) math.min(denom, -eps) else math.max(denom, eps)
    // identical partitions give mi = meanH up to rounding, which can read
    // a few ulps above 1: AMI is bounded above by 1
    math.min(1.0, (mi - emi) / denom)
  }

  /** Exact-EMI work cap: the Vinh hypergeometric sum iterates
    * Σᵢⱼ min(aᵢ,bⱼ) terms, which grows with ROW COUNT, not table width —
    * on an unsampled billion-row table the driver loop would effectively
    * never finish. Above the cap we switch to the large-N asymptotic
    * E[MI] ≈ (R−1)(C−1)/(2N) nats (the χ²_{(R−1)(C−1)} mean of the G
    * statistic under independence — Vinh et al. 2010 §4 limit), which is
    * exactly the regime where the exact sum is intractable and the
    * correction is vanishing anyway. Exact (sklearn-parity) below the cap;
    * every pinned oracle fixture is far below it.
    */
  private val EmiExactIterBound = 50000000L

  /** Expected MI under the permutation model (Vinh, Epps, Bailey 2010 —
    * the formula sklearn implements in `expected_mutual_information`).
    */
  def expectedMutualInfo(a: Array[Long], b: Array[Long], nL: Long): Double = {
    val n = nL.toDouble
    val logN = math.log(n)
    // one cheap R×C pass to size the exact sum before paying for it
    var work = 0L
    var wi = 0
    while (wi < a.length && work <= EmiExactIterBound) {
      var wj = 0
      while (wj < b.length) {
        val span = math.min(a(wi), b(wj)) - math.max(1L, a(wi) + b(wj) - nL) + 1
        if (span > 0) work += span
        wj += 1
      }
      wi += 1
    }
    if (work > EmiExactIterBound) {
      // visible runtime signal: consumers comparing against sklearn must
      // know this value came from the asymptotic regime, not the exact sum
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"expectedMutualInfo: exact Vinh sum needs >$EmiExactIterBound " +
          s"terms (R=${a.length}, C=${b.length}, N=$nL); using the " +
          "asymptotic (R-1)(C-1)/(2N) approximation")
      return (a.length - 1).toDouble * (b.length - 1).toDouble / (2.0 * n)
    }
    // r17 per-task-work pass (guide §1.2 step 2): every lgamma argument in
    // the Vinh sum is an INTEGER (+1) bounded by n+1, so for modest n a
    // lookup table of lgamma at integer points replaces ~9 transcendental
    // evaluations per term with array reads (same lgamma at the same
    // double arguments), measured ~10x on the 10x10/150k-row fixture
    // shape. Above the memory cap the five (i,j)-invariant calls are still
    // hoisted out of the innermost loop (~2x). The hoisting regroups the
    // sums, so logTerm and logHyper may differ from the unhoisted
    // expression in the last bits: values agree to rounding, not bit for
    // bit.
    val tableMax = 1L << 23 // 8M doubles = 64 MB driver ceiling
    val lg: Long => Double =
      if (nL + 1 <= tableMax) {
        val tab = new Array[Double]((nL + 2).toInt)
        var k = 0
        while (k < tab.length) { tab(k) = lgamma(k.toDouble); k += 1 }
        x => tab(x.toInt)
      } else x => lgamma(x.toDouble)
    val lgN1 = lg(nL + 1)
    var emi = 0.0
    var i = 0
    while (i < a.length) {
      val ai = a(i).toDouble
      val logAi = math.log(ai)
      val lgAi1 = lg(a(i) + 1)
      val lgNai1 = lg(nL - a(i) + 1)
      var j = 0
      while (j < b.length) {
        val bj = b(j).toDouble
        val start = math.max(1L, a(i) + b(j) - nL)
        val end = math.min(a(i), b(j))
        // (i, j)-invariant part of logTerm/logHyper, hoisted
        val logBase = logN - logAi - math.log(bj)
        val hyperBase = lgAi1 + lg(b(j) + 1) + lgNai1 + lg(nL - b(j) + 1) -
          lgN1
        var nij = start
        while (nij <= end) {
          val nd = nij.toDouble
          val logTerm = logBase + math.log(nd)
          val logHyper = hyperBase -
            lg(nij + 1) - lg(a(i) - nij + 1) - lg(b(j) - nij + 1) -
            lg(nL - a(i) - b(j) + nij + 1)
          emi += (nd / n) * logTerm * math.exp(logHyper)
          nij += 1
        }
        j += 1
      }
      i += 1
    }
    emi
  }
}
