package graft.infer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.WwConfig
import graft.types.{ColStats, LogicalType, TypeSystem}
import graft.util.Concurrency.runConcurrently
import graft.util.WorkingSet

/** Distributed logical-type inference.
  *
  * The reference evaluates per-type python predicates over a ≤100k-row sample
  * series-by-series (reference: woodwork/type_sys/type_system.py:336-437).
  * Spark-first re-expression: ONE `agg` job computes every statistic each
  * predicate needs, for every candidate column at once; the DAG walk then runs
  * driver-side on the collected numbers. Cost is a single sample scan
  * regardless of table width or height, and the plan is fully
  * codegen/vectorized (no UDFs).
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
    * [[ColStats]] driver-side.
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
          count_distinct(s).as("distinct"),
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
          count_distinct(c).as("distinct"),
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
          lit(0L).as("distinct"),
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

  private def rowToStats(r: Row, idx: Int, dt: DataType): ColStats = {
    val s = r.getStruct(idx)
    ColStats(
      dataType = dt,
      totalCount = s.getLong(0),
      nonNullCount = s.getLong(1),
      distinctCount = s.getLong(2),
      intParseFail = s.getLong(3),
      dblParseFail = s.getLong(4),
      dblNonIntegral = s.getLong(5),
      numNonIntegral = s.getLong(6),
      dtParseFail = s.getLong(7),
      boolBadToken = s.getLong(8),
      boolTokens = {
        val flags = Option(s.getSeq[Int](9)).getOrElse(Seq.empty)
        val tokens = WwConfig.options.booleanTransformMappings.keySet.toSeq.sorted
        tokens.zip(flags).collect { case (t, f) if f == 1 => t }.toSet
      },
      emailFail = s.getLong(10),
      phoneFail = s.getLong(11),
      postalFail = s.getLong(12),
      urlFail = s.getLong(13),
      ipFail = s.getLong(14),
      nlAvgCommonWords = if (s.isNullAt(15)) Double.NaN else s.getDouble(15),
      dateShapeCount = s.getLong(16)
    )
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
    * the sample is `df` itself, so a caller's cache on `df` is reused and
    * left in place.
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
    val base =
      if (total > sampleSize)
        df.sample(withReplacement = false, sampleSize.toDouble / total, 42)
      else df
    val sampled = ws.cache(base)
    sampled.count() // ONE full-table scan materializes the bounded sample
    val fields = df.schema.fields.filter(f => cols.contains(f.name))
    // One SMALL agg per column, run concurrently over the cached sample:
    // a single wide agg across every column is one giant whole-stage-codegen
    // function whose Janino compile costs more than the sample scan itself;
    // per-column plans compile in parallel on the job-submitter threads and
    // each re-scan hits the in-memory bounded sample.
    val rows = runConcurrently(fields.toSeq)(f =>
      sampled.agg(statExprs(f.name, f.dataType)).head())
    (fields.zip(rows).map { case (f, r) =>
      f.name -> rowToStats(r, 0, f.dataType)
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
