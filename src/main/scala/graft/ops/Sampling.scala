package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.{Ranks, WorkingSet}

/** Deterministic sampling and dataset splitting for training-data pipelines.
  *
  * Everything here is a pure projection or filter on a content hash of the
  * row's id — no RNG state, no shuffle, no driver coordination — so split
  * membership is reproducible across runs, engines, partitionings and
  * cluster sizes (the property a 100 TB pipeline needs: re-running a stage
  * must not re-deal the train/test split). The hash is the first 8 hex
  * digits of md5, which every engine computes identically.
  */
object Sampling {

  /** Deterministic hash of an id into [0, 1): first 8 md5 hex digits of
    * `"<id>:<salt>"` scaled by 2^-32. Changing the salt re-deals every
    * assignment; the same (id, salt) always lands on the same point.
    */
  def hash01(id: Column, salt: String = ""): Column =
    conv(substring(md5(concat(id.cast(StringType), lit(":" + salt))), 1, 8),
      16, 10).cast(LongType).cast(DoubleType) / 4294967296.0

  /** Named split assignment (e.g. train/val/test = 0.9/0.05/0.05): adds a
    * `split` column chosen by where the id hash falls among the cumulative
    * fraction boundaries. Fractions must sum to 1 (the last split absorbs
    * rounding). One codegen'd projection; zero shuffle.
    */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)],
                salt: String = ""): DataFrame = {
    require(splits.nonEmpty, "at least one split required")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    val h = hash01(col(idCol), salt)
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
    val cases = splits.init.zip(bounds.init).foldLeft[Option[Column]](None) {
      case (acc, ((name, _), hi)) =>
        Some(acc.fold(when(h < hi, name))(_.when(h < hi, name)))
    }
    val assigned = cases.fold(lit(splits.head._1))(_.otherwise(splits.last._1))
    df.withColumn("split", assigned)
  }

  /** Keep a deterministic `fraction` of rows by id hash. Unlike
    * `DataFrame.sample` the kept set is a pure function of (id, salt):
    * stable under retries, re-partitioning and incremental reprocessing.
    */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double,
                          salt: String = ""): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0,1]")
    df.where(hash01(col(idCol), salt) < fraction)
  }

  /** ROW-LEVEL probability sampling: each row keeps with its own
    * probability — `probCol`, clamped into [0, 1] — against the
    * deterministic id hash: `hash01(id, salt) < clamp(prob)`. The
    * importance-sampling primitive ([[stratifiedSample]] rates vary by
    * stratum; here every row carries its own rate, e.g. a quality score
    * or a [[temperatureWeights]]-derived column), still one codegen'd
    * filter projection, zero shuffle, stable under retries and
    * reprocessing. Rows with a null or NaN probability are dropped
    * (an unknown keep-rate is not a keep).
    */
  def probabilitySample(df: DataFrame, idCol: String, probCol: String,
                        salt: String = ""): DataFrame = {
    Seq(idCol, probCol).foreach(c =>
      require(df.columns.contains(c), s"column '$c' not in frame"))
    val p = col(probCol).cast(DoubleType)
    df.where(p.isNotNull && !isnan(p) &&
      hash01(col(idCol), salt) < least(greatest(p, lit(0.0)), lit(1.0)))
  }

  /** Per-stratum deterministic sampling: each row keeps with the fraction
    * configured for its stratum value (`default` for unlisted strata).
    * Still a single filter projection — the per-stratum rate rides in a
    * CASE chain, so there is no join and no shuffle.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       fractions: Map[String, Double],
                       default: Double = 0.0,
                       salt: String = ""): DataFrame = {
    fractions.values.foreach(f =>
      require(f >= 0.0 && f <= 1.0, "fractions must be in [0,1]"))
    val rate = fractions.foldLeft[Column](lit(default)) {
      case (acc, (value, f)) =>
        when(col(strataCol).cast(StringType) === value, f).otherwise(acc)
    }
    df.where(hash01(col(idCol), salt) < rate)
  }

  /** Mixture sampling: downsample each source so the surviving corpus
    * matches the target weights — the "mix web/books/wiki at 60/25/15"
    * op of a pretraining pipeline. Per-source rates come from one small
    * count-by-source aggregation: the largest achievable mixture keeps
    * `T = min_i(n_i / w_i)` total rows, so `rate_i = w_i · T / n_i` (the
    * scarcest source relative to its weight is kept whole). Row membership
    * is then the same deterministic id-hash filter as
    * [[stratifiedSample]] — stable under retries and repartitioning.
    * Sources absent from the data are dropped from the mixture; rows of
    * unlisted sources are dropped from the output.
    */
  def mixtureSample(df: DataFrame, idCol: String, sourceCol: String,
                    weights: Map[String, Double],
                    salt: String = ""): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive")
    val wSum = weights.values.sum
    val w = weights.view.mapValues(_ / wSum).toMap
    val counts = df.where(col(sourceCol).isin(w.keys.toSeq: _*))
      .groupBy(col(sourceCol).cast(StringType).as("s"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = w.filter { case (s, _) => counts.getOrElse(s, 0L) > 0L }
    require(present.nonEmpty, "no listed source present in the data")
    val t = present.map { case (s, wi) => counts(s) / wi }.min
    val rates = present.map { case (s, wi) =>
      s -> math.min(1.0, wi * t / counts(s))
    }
    stratifiedSample(df, idCol, sourceCol, rates, default = 0.0, salt)
  }

  /** Temperature-scaled source weights (multilingual-sampling convention,
    * e.g. mBERT/XLM-R exponential smoothing): with p_s the source's corpus
    * share, target weight_s ∝ p_s^alpha, normalized to sum 1. alpha = 1
    * keeps natural proportions; alpha = 0 is uniform; 0 < alpha < 1
    * up-samples the tail. One count aggregation; the result feeds
    * [[mixtureSample]] directly. Output: (source, n, share, weight),
    * heaviest first (source tie-break), doubles rounded to 6.
    */
  def temperatureWeights(df: DataFrame, sourceCol: String,
                         alpha: Double): DataFrame = {
    require(alpha >= 0.0, s"need alpha >= 0, got $alpha")
    val counts = df.where(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol).cast(StringType).as("source"))
      .agg(count(lit(1)).as("n"))
    // SCALE NOTE: both empty-partition windows run over the per-SOURCE
    // count table (mixture sources are an enumerated handful), not the
    // input — the single window task holds |sources| rows at any corpus
    // size
    val total = sum(col("n")).over(Window.partitionBy())
    val share = col("n").cast(DoubleType) / total
    val scaled = pow(share, lit(alpha))
    val wSum = sum(scaled).over(Window.partitionBy())
    counts
      .withColumn("share", round(share, 6))
      .withColumn("weight", round(scaled / wSum, 6))
      .orderBy(col("n").desc, col("source").asc)
  }

  // ------------------------------------------------------------ oracle SQL
  /** DuckDB mirrors of the expressions above (same md5 arithmetic). */
  object Sql {
    def hash01(idExpr: String, salt: String = ""): String =
      s"(CAST(CAST(concat('0x', substr(md5(CAST($idExpr AS VARCHAR) || ':$salt'), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0)"

    /** [[Sampling.probabilitySample]]'s predicate in SQL: identical
      * hash, identical clamp.
      */
    def probabilityKeep(idExpr: String, probExpr: String,
                        salt: String = ""): String =
      s"($probExpr IS NOT NULL AND NOT isnan(CAST($probExpr AS DOUBLE)) " +
        s"AND ${hash01(idExpr, salt)} < " +
        s"least(greatest(CAST($probExpr AS DOUBLE), 0.0), 1.0))"

    def splitCase(idExpr: String, splits: Seq[(String, Double)],
                  salt: String = ""): String = {
      val h = hash01(idExpr, salt)
      val bounds = splits.scanLeft(0.0)(_ + _._2).tail
      val whens = splits.init.zip(bounds.init).map { case ((name, _), hi) =>
        s"WHEN $h < $hi THEN '$name'"
      }.mkString(" ")
      s"(CASE $whens ELSE '${splits.last._1}' END)"
    }

    /** [[Sampling.mixtureSample]] replayed in SQL: same normalization
      * (identical Scala fold over the SAME insertion-ordered map → the
      * normalized weights embed as bit-exact double literals), same
      * `min(n/w)` target, same `least(1, w·t/n)` rates, same id-hash
      * membership — rates land on identical doubles in both engines.
      * Pass the very same (ordered) map the Spark query uses.
      */
    def mixtureQuery(table: String, idCol: String, sourceCol: String,
                     weights: Map[String, Double], salt: String,
                     select: String): String = {
      val wSum = weights.values.sum
      val w = weights.view.mapValues(_ / wSum).toMap
      val inList = weights.keys.map(s => s"'$s'").mkString("(", ",", ")")
      def wCase(col: String) = "CASE " + col +
        weights.keys.map(s => s" WHEN '$s' THEN CAST(${w(s)} AS DOUBLE)")
          .mkString + " END"
      s"""WITH n AS (
         |  SELECT CAST($sourceCol AS VARCHAR) AS s, count(*) AS n
         |  FROM $table WHERE CAST($sourceCol AS VARCHAR) IN $inList
         |  GROUP BY 1),
         |t AS (SELECT min(n / (${wCase("s")})) AS t FROM n),
         |r AS (SELECT s, least(CAST(1.0 AS DOUBLE), (${wCase("s")}) * t.t / n) AS rate
         |      FROM n, t)
         |SELECT $select FROM $table d
         |JOIN r ON CAST(d.$sourceCol AS VARCHAR) = r.s
         |WHERE ${hash01(s"d.$idCol", salt)} < r.rate""".stripMargin
    }
  }

  /** Deterministic exact-N sample: the `n` rows whose id-hash is smallest
    * (ties broken by id). Unlike `df.sample(fraction)`, the result size is
    * EXACT and membership is a pure function of (id, salt) — reproducible
    * across runs, engines and partitionings. Compiles to
    * TakeOrderedAndProject: per-task n-entry heaps, no sort shuffle, so it
    * scales to any corpus as long as n fits one executor's memory.
    */
  def exactSample(df: DataFrame, idCol: String, n: Int,
                  salt: String = ""): DataFrame = {
    require(n > 0, s"need n > 0, got $n")
    df.withColumn("__ww_sample_h", hash01(col(idCol), salt))
      .orderBy(col("__ww_sample_h"), col(idCol))
      .limit(n)
      .drop("__ww_sample_h")
  }

  /** Token-budget selection per group: walk each group's rows in id-hash
    * order and keep rows while the group's running token total stays
    * within `budget` — "give me ≤ B tokens per source, chosen
    * reproducibly". The first row of a group always survives (a document
    * bigger than the whole budget would otherwise starve the group).
    *
    * The cumulative sum is a window PARTITIONED BY GROUP — never a global
    * single-partition order — so the plan holds at any corpus size; skew
    * is bounded by the largest group's sort spill.
    *
    * Output: input columns + n_tokens + cum_tokens.
    */
  def tokenBudgetPerGroup(df: DataFrame, groupCol: String, idCol: String,
                          tokenCount: Column, budget: Long,
                          salt: String = ""): DataFrame = {
    require(budget > 0, s"need budget > 0, got $budget")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(hash01(col(idCol), salt), col(idCol))
    // the starvation guard is literal first-row-ness (row_number), not
    // cum == n_tokens: the latter would also admit an over-budget doc
    // preceded only by zero-token rows
    df.withColumn("n_tokens", tokenCount)
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("__rn", row_number().over(w))
      .where(col("cum_tokens") <= budget || col("__rn") === 1)
      .drop("__rn")
  }

  /** Curriculum binning: assign each row a difficulty bin in [0, bins) by
    * its GLOBAL rank under (score, id) — the "order by difficulty, feed in
    * stages" step of curriculum training. bin = ⌊rank·bins/n⌋ with rank
    * 0-based, so bins are equal-sized up to remainder and the assignment is
    * deterministic (id breaks score ties).
    *
    * Plan shape for 100 TB: the global rank comes from range partitioning
    * on (score, id) + per-partition offsets (P driver scalars from one
    * count pass), NEVER a corpus-wide single-partition window. The range-
    * partitioned frame is cached so the count pass and the ranked output
    * see identical partition boundaries (RangePartitioner sampling is not
    * stable across jobs); the result is EAGER (localCheckpoint) so the
    * cache can be freed at once — same contract as `WoodworkFrame.iloc`.
    *
    * Output: (id, score, rank, bin).
    */
  def curriculumBins(df: DataFrame, idCol: String, scoreCol: String,
                     bins: Int): DataFrame = {
    require(bins > 0, s"need bins > 0, got $bins")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism, 4)
    WorkingSet.scoped { ws =>
      val base = ws.cache(df.select(col(idCol).as("id"), col(scoreCol).as("score"))
        .repartitionByRange(parts, col("score"), col("id"))
        .withColumn("__pid", spark_partition_id()))
      val (offExpr, n) = Ranks.partitionOffsets(base, lit(1L))
      if (n == 0L) base.select(col("id"), col("score"),
        lit(0L).as("rank"), lit(0L).as("bin")).where(lit(false))
      else {
        val w = Window.partitionBy(col("__pid"))
          .orderBy(col("score"), col("id"))
        // exact while rank·bins < 2^53 (IEEE double); fine for any real corpus
        base
          .withColumn("rank",
            row_number().over(w).cast(LongType) - 1 + offExpr)
          .select(col("id"), col("score"), col("rank"),
            floor(col("rank") * lit(bins) / lit(n.toDouble)).cast(LongType)
              .as("bin"))
          .localCheckpoint(true)
      }
    }
  }
}
