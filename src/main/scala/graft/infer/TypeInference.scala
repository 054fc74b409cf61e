package graft.infer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.WwConfig
import graft.stats.Describe
import graft.types.{ColStats, LogicalType, TypeSystem}
import graft.util.Concurrency.both
import graft.util.WorkingSet

/** Distributed logical-type inference.
  *
  * The reference evaluates per-type python predicates over a ≤100k-row sample
  * series-by-series (reference: woodwork/type_sys/type_system.py:336-437).
  * Spark-first re-expression: batched `agg` jobs over the sample compute
  * every statistic each predicate needs, for every candidate column at
  * once, and one stacked aggregation the exact distinct counts; the DAG
  * walk then runs driver-side on the collected numbers. The plan count
  * grows with table width over the batch size, not with the column count,
  * and the plans are fully codegen/vectorized (no UDFs).
  */
object TypeInference {

  /** Common English words used by NaturalLanguage inference. Word list data
    * from the reference distribution (reference: woodwork/data/1-1000.txt,
    * loaded at inference_functions.py:18-22) — a public top-1000 English word
    * list; threshold at inference_functions.py:169-174.
    */
  lazy val commonWords: Array[String] = {
    val in = getClass.getResourceAsStream("/graft/common-words-1000.txt")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim.toLowerCase).filter(_.nonEmpty).toArray
    finally in.close()
  }

  /** reference: inference_functions.py:24 NL_delimiters */
  val nlDelimiters: String = "[- \\[\\].,!?;\n]"

  private val intRegex = "^\\s*[-+]?[0-9]+\\s*$"

  /** Shared multi-format timestamp parse — the same parser the Datetime
    * coercion uses, so infer-as-Datetime implies coerces-as-Datetime.
    */
  private def tsParse(s: Column): Column = LogicalType.parseTimestamp(s)

  private def cnt(cond: Column): Column =
    coalesce(sum(when(cond, 1L)), lit(0L))

  /** Aggregate expressions producing one struct per column; collected into
    * [[ColStats]] driver-side with the distinct count from
    * [[distinctCounts]].
    */
  private def statExprs(name: String, dt: DataType): Column = {
    val opts = WwConfig.options
    val c = col(name)
    val allBoolTokens =
      opts.booleanTransformMappings.keySet.toSeq.sorted
    dt match {
      case StringType =>
        val s = LogicalType.replaceNans(c, StringType)
        val lowered = lower(s)
        val dbl = s.try_cast(DoubleType)
        struct(
          count(lit(1)).as("total"),
          count(s).as("nonNull"),
          cnt(s.isNotNull && !s.rlike(intRegex)).as("intFail"),
          cnt(s.isNotNull && dbl.isNull).as("dblFail"),
          cnt(dbl.isNotNull && dbl % 1 =!= 0).as("dblNonIntegral"),
          lit(0L).as("numNonIntegral"),
          // cheap disqualifier ahead of the 12-format cascade: no supported
          // datetime shape (numeric separators, 3-letter month abbrevs, 'T')
          // contains a run of 4+ letters, and Or short-circuits — so
          // "1-URGENT"/"AUTOMOBILE"-style values never pay a parse attempt.
          // Exception: a trailing region zone-id ("... Europe/Paris"), which
          // the native timestamp cast accepts — those fall through to the
          // parse instead of being disqualified by their letter run.
          cnt(s.isNotNull &&
            ((s.rlike("[A-Za-z]{4}") &&
              !s.rlike("[A-Za-z_]+(/[A-Za-z_]+)+\\s*$")) || tsParse(s).isNull))
            .as("dtFail"),
          cnt(s.isNotNull && !lowered.isin(allBoolTokens: _*)).as("boolBad"),
          // per-token presence flags instead of collect_set: a
          // TypedImperativeAggregate in the agg list forces the ENTIRE wide
          // agg out of whole-stage codegen; 8 max(when(...)) flags stay in.
          array(allBoolTokens.map(t =>
            coalesce(max(when(lowered === t, 1)), lit(0))): _*).as("boolTokens"),
          // each expensive regex is short-circuited by a cheap guard: a row
          // failing the guard counts as a fail without running the regex
          cnt(s.isNotNull && !(s.contains("@") &&
            LogicalType.startMatch(s, opts.emailInferenceRegex)))
            .as("emailFail"),
          cnt(s.isNotNull && !(length(s).between(7, 24) &&
            LogicalType.startMatch(s, opts.phoneInferenceRegex)))
            .as("phoneFail"),
          cnt(s.isNotNull && !(length(s).between(5, 10) &&
            LogicalType.startMatch(s, opts.postalCodeInferenceRegex)))
            .as("postalFail"),
          cnt(s.isNotNull && !(s.startsWith("http") &&
            LogicalType.startMatch(s, opts.urlInferenceRegex)))
            .as("urlFail"),
          cnt(s.isNotNull && !(length(s).between(2, 45) &&
            (s.contains(".") || s.contains(":")) &&
            LogicalType.startMatch(s,
              s"(${opts.ipv4InferenceRegex})|(${opts.ipv6InferenceRegex})")))
            .as("ipFail"),
          // NL word-counting is NOT computed here: a higher-order filter
          // lambda falls out of codegen and evaluates the 1000-word set
          // linearly per token. It runs as a deferred explode+InSet job only
          // for columns nothing else matched — which is also exactly the
          // reference's evaluation order (type_system.py:391-411).
          lit(Double.NaN).as("nlAvg"),
          // date-shape screen for the learned-format deferred pass: only a
          // column whose EVERY non-null value looks like a 3-field date pays
          // the driver-side format vote (DatetimeFormat.guessFormat)
          cnt(s.isNotNull && s.rlike(DatetimeFormat.dateShapeRegex))
            .as("dateShape")
        ).as(name)
      case _: NumericType =>
        val nonIntegral: Column =
          if (LogicalType.isFractionalType(dt)) cnt(c.isNotNull && c % 1 =!= 0)
          else lit(0L)
        struct(
          count(lit(1)).as("total"),
          count(c).as("nonNull"),
          lit(0L).as("intFail"), lit(0L).as("dblFail"),
          lit(0L).as("dblNonIntegral"),
          nonIntegral.as("numNonIntegral"),
          lit(0L).as("dtFail"), lit(0L).as("boolBad"),
          array().cast(ArrayType(IntegerType)).as("boolTokens"),
          lit(1L).as("emailFail"), lit(1L).as("phoneFail"),
          lit(1L).as("postalFail"), lit(1L).as("urlFail"), lit(1L).as("ipFail"),
          lit(Double.NaN).as("nlAvg"), lit(0L).as("dateShape")
        ).as(name)
      case _ =>
        struct(
          count(lit(1)).as("total"),
          count(c).as("nonNull"),
          lit(0L).as("intFail"), lit(0L).as("dblFail"),
          lit(0L).as("dblNonIntegral"), lit(0L).as("numNonIntegral"),
          lit(0L).as("dtFail"), lit(0L).as("boolBad"),
          array().cast(ArrayType(IntegerType)).as("boolTokens"),
          lit(1L).as("emailFail"), lit(1L).as("phoneFail"),
          lit(1L).as("postalFail"), lit(1L).as("urlFail"), lit(1L).as("ipFail"),
          lit(Double.NaN).as("nlAvg"), lit(0L).as("dateShape")
        ).as(name)
    }
  }

  private def rowToStats(s: Row, dt: DataType, distinct: Long): ColStats =
    ColStats(
      dataType = dt,
      totalCount = s.getLong(0),
      nonNullCount = s.getLong(1),
      distinctCount = distinct,
      intParseFail = s.getLong(2),
      dblParseFail = s.getLong(3),
      dblNonIntegral = s.getLong(4),
      numNonIntegral = s.getLong(5),
      dtParseFail = s.getLong(6),
      boolBadToken = s.getLong(7),
      boolTokens = {
        val flags = Option(s.getSeq[Int](8)).getOrElse(Seq.empty)
        val tokens = WwConfig.options.booleanTransformMappings.keySet.toSeq.sorted
        tokens.zip(flags).collect { case (t, f) if f == 1 => t }.toSet
      },
      emailFail = s.getLong(9),
      phoneFail = s.getLong(10),
      postalFail = s.getLong(11),
      urlFail = s.getLong(12),
      ipFail = s.getLong(13),
      nlAvgCommonWords = if (s.isNullAt(14)) Double.NaN else s.getDouble(14),
      dateShapeCount = s.getLong(15)
    )

  /** Exact distinct counts of the string and numeric `fields` over `df` in
    * ONE stacked aggregation: every row explodes into one
    * `(cid, l: long, d: double, s: string)` row per column, with integral
    * values in `l`, float/double values in `d` (grouping normalizes NaN
    * and -0.0 as `count_distinct` does) and strings — after null-sentinel
    * replacement — or decimals in `s`. Grouped per `(cid, value)`, then
    * counted per `cid`: two shuffles for any width, where a
    * `count_distinct` per column plans an Expand and three stages each.
    * Returns column → distinct count; a column without a non-null value is
    * absent.
    */
  private def distinctCounts(df: DataFrame, fields: Seq[StructField])
      : Map[String, Long] = {
    if (fields.isEmpty) return Map.empty
    val slots = Seq(LongType, DoubleType, StringType)
    val stacked = df.select(explode(array(fields.zipWithIndex.map { case (f, i) =>
      val slot = f.dataType match {
        case StringType => StringType
        case _: DecimalType => StringType
        case t if LogicalType.isFractionalType(t) => DoubleType
        case _ => LongType
      }
      val v = LogicalType.replaceNans(col(f.name), f.dataType).cast(slot)
      struct(lit(i).as("cid") +: slots.zip(Seq("l", "d", "s")).map {
        case (t, nm) => (if (t == slot) v else lit(null).cast(t)).as(nm)
      }: _*)
    }: _*)).as("e")).select("e.cid", "e.l", "e.d", "e.s")
      .where(col("l").isNotNull || col("d").isNotNull || col("s").isNotNull)
    stacked.distinct().groupBy("cid").count()
      .collect().map(r => fields(r.getInt(0)).name -> r.getLong(1)).toMap
  }

  /** Compute [[ColStats]] for the given columns over the inference sample.
    * Sampling matches the reference's bound (100k rows, seed 42; reference:
    * type_system.py:101,349-358); tables at or below the bound are used whole,
    * which pins exact reproducibility at test scale.
    */
  def collectStats(df: DataFrame, cols: Seq[String]): Map[String, ColStats] =
    WorkingSet.scoped(ws => collectStatsWithSample(ws, df, cols)._1)

  /** Returns the stats and the sample frame, cached in `ws`, for follow-up
    * jobs (the NL and learned-datetime passes reuse it). Without sampling
    * the sample is `df` itself, uncached, so a caller's cache on `df` is
    * reused and left in place. Beyond the row count that sizes the sample,
    * the stats take ⌈columns / StatBatchSize⌉ batched aggs plus one stacked
    * distinct aggregation, concurrently — not one agg per column.
    */
  private def collectStatsWithSample(
      ws: WorkingSet, df: DataFrame,
      cols: Seq[String]): (Map[String, ColStats], DataFrame) = {
    if (cols.isEmpty) return (Map.empty, df)
    val sampleSize = WwConfig.options.inferenceSampleSize
    val total = df.count()
    // Above the bound, Bernoulli sampling lands within ~1% of the reference's
    // exact 100k sample; an exact-size sample would need a limit() that
    // collapses the stats agg to one partition. Tables at or below the bound
    // are used whole (exact reproducibility at test scale).
    // A drawn sample is cached: the first job to read one of its
    // partitions caches it, and the concurrent jobs below wait for that
    // block instead of drawing it again. A table within the bound is read
    // as it is: its few re-reads cost less than a cache build's own job.
    val sampled =
      if (total > sampleSize)
        ws.cache(df.sample(withReplacement = false, sampleSize.toDouble / total, 42))
      else df
    val fields = df.schema.fields.toSeq.filter(f => cols.contains(f.name))
    // Batched stat aggs over the sample, string columns first so a
    // batch holds one physical kind (the heavy string predicates or the
    // cheap numeric counts) but at most one mixed batch, each batch
    // capped at Describe.StatBatchSize columns so every generated method
    // stays inside Janino's and the JIT's limits; exact distinct counts
    // come from ONE stacked aggregation, run concurrently with them.
    val (strs, rest) = fields.partition(_.dataType == StringType)
    val (statOf, distinctOf) = both(
      Describe.batchedStructAgg(sampled,
        (strs ++ rest).map(f => f.name -> statExprs(f.name, f.dataType))),
      distinctCounts(sampled, fields.filter(f =>
        f.dataType == StringType || f.dataType.isInstanceOf[NumericType])))
    (fields.map { f =>
      f.name -> rowToStats(statOf(f.name), f.dataType,
        distinctOf.getOrElse(f.name, 0L))
    }.toMap, sampled)
  }

  /** Mean common-word count per cell for one column over the sample
    * (reference: inference_functions.py:169-174). Explode + InSet filter:
    * the token-set membership stays in whole-stage codegen as an O(1) hash
    * probe, and the mean is total matches / non-null cells.
    */
  def nlAvgCommonWords(sampled: DataFrame, colName: String,
                       nonNullCells: Long): Double = {
    if (nonNullCells == 0) return Double.NaN
    val s = LogicalType.replaceNans(col(colName), StringType)
    val matches = sampled
      .select(explode(split(lower(s), nlDelimiters)).as("tok"))
      .where(col("tok").isin(commonWords.toIndexedSeq: _*))
      .count()
    matches.toDouble / nonNullCells
  }

  /** Infer logical types for `cols` (defaults to every column). */
  def inferTypes(df: DataFrame, cols: Seq[String] = Nil,
                 ts: TypeSystem = TypeSystem.global): Map[String, LogicalType] = {
    val target = if (cols.isEmpty) df.columns.toSeq else cols
    WorkingSet.scoped { ws =>
      val (stats, sampled) = collectStatsWithSample(ws, df, target)
      val first = stats.map { case (n, st) => n -> ts.inferFromStats(st) }
      // deferred learned-datetime pass: a string column whose every non-null
      // value is date-SHAPED but which the fixed format cascade could not
      // parse (e.g. dd.MM.yyyy) gets a bounded driver-side format vote
      // (reference: utils.py:595-650); a winning format re-enters the DAG
      // with dtParseFail=0 and is stored as the Datetime format param so
      // coercion uses it distributedly.
      val learned = stats.collect {
        case (n, st) if st.dataType == StringType && st.nonNullCount > 0 &&
            st.dtParseFail > 0 && st.dateShapeCount == st.nonNullCount &&
            st.dblParseFail == st.nonNullCount =>
          val sampleN = WwConfig.options.datetimeFormatSampleSize
          val s = LogicalType.replaceNans(col(n), StringType)
          val vals = sampled.select(s.as("v")).where(col("v").isNotNull)
            .limit(sampleN).collect().map(_.getString(0)).toSeq
          n -> DatetimeFormat.guessFormat(vals).flatMap { fmt =>
            ts.inferFromStats(stats(n).copy(dtParseFail = 0)) match {
              case _: LogicalType.Datetime =>
                Some(LogicalType.Datetime(datetimeFormat = Some(fmt)))
              case _ => None
            }
          }
      }.collect { case (n, Some(lt)) => n -> (lt: LogicalType) }
      val afterDt = first ++ learned
      // deferred NaturalLanguage pass for unmatched string columns
      val nlCandidates = afterDt.collect {
        case (n, lt) if lt == ts.defaultType && stats(n).dataType == StringType &&
          stats(n).nonNullCount > 0 => n
      }.toSeq
      afterDt ++ nlCandidates.map { n =>
        val avgWords = nlAvgCommonWords(sampled, n, stats(n).nonNullCount)
        n -> ts.inferFromStats(stats(n).copy(nlAvgCommonWords = avgWords))
      }
    }
  }
}
