package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.WorkingSet

/** End-to-end corpus curation: the standard pretraining front door — rule
  * gate → PII scrub → exact dedup → quality annotation — composed from the
  * individual operators so one call produces a training-ready corpus plus
  * a per-source funnel report. Everything stays ONE lazy plan per output:
  * the gate and scrub are projections, dedup is a fingerprint window +
  * first-wins filter, and the report is three small aggregates joined on
  * source. Nothing here adds a shuffle the component operators don't
  * already have.
  */
object Pipeline {

  /** The curated corpus: documents that pass the Gopher rules, with PII
    * redacted, exact duplicates dropped (first id wins on the REDACTED
    * fingerprint — two docs differing only in their PII literals are
    * duplicates), and quality/language annotations.
    *
    * Output: (id, source, clean_text, fingerprint, quality_score,
    * lang_pred).
    */
  def curate(df: DataFrame, idCol: String, textCol: String,
             sourceCol: String, minWords: Long = 50L): DataFrame = {
    val gated = df.where(TextAnalysis.gopherPass(col(textCol), minWords))
    val red = gated.select(col(idCol).as("id"), col(sourceCol).as("source"),
      TextAnalysis.redactPii(col(textCol)).as("clean_text"))
    val fp = red.withColumn("fingerprint",
      TextAnalysis.fingerprint(col("clean_text")))
    val w = Window.partitionBy(col("fingerprint")).orderBy(col("id"))
    fp.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
      .withColumn("quality_score",
        TextAnalysis.qualityScore(col("clean_text")))
      .withColumn("lang_pred", TextAnalysis.langId(col("clean_text")))
  }

  /** Offline replay of [[graft.streaming.StreamingFrame.ingestGate]]'s
    * stateless chain — Gopher gate → Bloom decontamination (on RAW text,
    * matching the streaming order) → PII scrub, applied to a batch frame.
    * The streaming stages are stateless projections/filters, so this calls
    * the SAME functions with the same expressions: an offline replay of
    * ingest decisions agrees with the live gate bit-for-bit, and the
    * driver's SQL oracle can hash-check the equivalence (q125).
    *
    * Excluded: the final watermarked near-dup stage, whose state is
    * arrival order (no batch analog). On a simhash-signature-distinct
    * corpus it is the identity — IngestTwinSpec constructs exactly that
    * and asserts the full streaming gate emits these rows verbatim.
    */
  def ingestReplay(df: DataFrame, textCol: String,
                   bloomBits: Array[Long], n: Int = 13,
                   model: Option[graft.ops.Classifier.NbModel] = None,
                   keep: Seq[String] = Seq.empty): DataFrame = {
    val S = graft.streaming.StreamingFrame
    val gated = S.gopherGate(df, textCol)
    val clean = S.bloomDecontaminate(gated, textCol, bloomBits, n)
    val scrubbed = S.piiScrub(clean, textCol)
    model.map(m => S.classifyGate(scrubbed, textCol, m, keep))
      .getOrElse(scrubbed)
  }

  /** The full release pipeline as one funnel report: quality gate → exact
    * dedup (first id wins on the normalized fingerprint) → near-dup
    * resolution keeping each cluster's LONGEST member → benchmark
    * decontamination (drop corpus docs sharing ≥ `crossThreshold` Jaccard
    * with any benchmark doc) → sequence packing under a token budget,
    * sharded by source. One row per stage: (stage_order, stage, docs,
    * tokens) — for the final stage `docs` is the PACK count.
    *
    * Every stage is one of the library's verified operators composed
    * as-is; the report collapses each stage to two numbers, so the only
    * driver-side data is the 6×2 funnel itself.
    *
    * ORACLE NOTE (repo convention, as for q65–q67): the near-dup and
    * decontamination stages use MinHash-LSH candidate generation, whose
    * recall near the threshold is probabilistic (a pair at Jaccard j is
    * missed with probability (1-j^b)^bands). The q123 oracle enumerates
    * pairs exhaustively, so the hash-equivalence is EXACT at fixture scale
    * (every fixture pair sits far from the threshold) and probabilistic at
    * corpus scale — the standard LSH trade, not a correctness bug.
    */
  def releaseFunnel(corpus: DataFrame, idCol: String, textCol: String,
                    sourceCol: String,
                    bench: DataFrame, benchIdCol: String, benchTextCol: String,
                    minWords: Long = 50L, nearDupThreshold: Double = 0.6,
                    crossThreshold: Double = 0.5,
                    budget: Long = 512L): DataFrame = WorkingSet.scoped { ws =>
    val spark = corpus.sparkSession
    import spark.implicits._
    val s0 = corpus.select(col(idCol).as("id"), col(sourceCol).as("source"),
      col(textCol).as("text"))
    // every stage feeds multiple downstream actions (its own stat + the
    // next stage), so each expensive transform — the Gopher rule gate, the
    // fingerprint window, the MinHash clustering — is cached to run ONCE;
    // without this the gate alone re-evaluates ~5x across the report
    val s1 = ws.cache(s0.where(TextAnalysis.gopherPass(col("text"), minWords)))
    val w = Window.partitionBy(TextAnalysis.fingerprint(col("text")))
      .orderBy(col("id"))
    val s2t = ws.cache(s1.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
      .withColumn("__tok", TextAnalysis.tokenCount(col("text"))))
    // ONE ww_minhash bucket pass serves BOTH near-dup stages (r17): the
    // keep-best LSH self-join reads it whole, and decontamination reads
    // the survivor subset (bandBuckets is per-row, so filtering to s3's
    // ids equals rebuilding buckets over s3) — formerly each stage
    // re-tokenized and re-hashed the corpus
    val buckets = ws.cache(Dedup.bandBuckets(s2t, "id", "text", n = 3,
      numHashes = 64, bands = 32))
    val pairs = Dedup.minhashLshPairsFromBuckets(s2t, buckets, "id", "text",
      n = 3, threshold = nearDupThreshold)
    val s3 = Dedup.deduplicateKeepBestFromPairs(s2t, pairs, "id", "__tok")
    val benchStd = bench.select(col(benchIdCol).as("id"),
      col(benchTextCol).as("text"))
    val s3c = ws.cache(s3)
    val s3Buckets = buckets.join(s3c.select(col("id")), Seq("id"),
      "left_semi")
    val contaminated = Dedup.crossMinhashMatchesFromBuckets(s3c, s3Buckets,
        benchStd, "id", "text", n = 3, numHashes = 64, bands = 32,
        crossThreshold)
      .select(col("corpus_id").as("id")).distinct()
    val s4 = ws.cache(s3c.join(contaminated, Seq("id"), "left_anti"))
    val packed = Packing.packByCumsum(s4, "id", "__tok", budget,
      shardCol = Some("source"))

    def stat(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(TextAnalysis.tokenCount(col("text"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // stages that already carry __tok sum it directly instead of
    // re-tokenizing the text
    def statTok(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(col("__tok")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // the input stat is the one stage-independent job — overlap it with
    // the (inherently serial: each stat materializes the next stage's
    // cached input) chain (r17, guide §2.6)
    var in: (Long, Long) = (0L, 0L)
    var rest: Seq[(Int, String, (Long, Long))] = Nil
    graft.util.Concurrency.runConcurrently(Seq(0, 1)) {
      case 0 => in = stat(s0)
      case _ =>
        val g = stat(s1)
        val e = statTok(s2t)
        val nb = statTok(s3c)
        val de = statTok(s4)
        val packRow = {
          val r = packed.agg(countDistinct(col("pack_id")),
            coalesce(sum(col("__tok")), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
        rest = Seq((1, "gated", g), (2, "exact_dedup", e),
          (3, "neardup_keep_best", nb), (4, "decontaminated", de),
          (5, "packed", packRow))
    }
    val rows = (0, "input", in) +: rest
    rows.map { case (o, n, (d, t)) => (o, n, d, t) }
      .toDF("stage_order", "stage", "docs", "tokens")
      .orderBy("stage_order")
  }

  /** Per-source curation funnel: how many documents entered, passed the
    * gate, survived dedup, and what the surviving corpus looks like.
    * Quality is averaged in fixed-point (score × 10⁴ as BIGINT) so the
    * mean is order-independent (same contract as [[Corpus.datacard]]).
    *
    * Output: (source, docs_in, gate_pass, kept, total_tokens,
    * avg_quality).
    */
  def curateReport(df: DataFrame, idCol: String, textCol: String,
                   sourceCol: String, minWords: Long = 50L): DataFrame = {
    val in = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("docs_in"))
    val pass = df.where(TextAnalysis.gopherPass(col(textCol), minWords))
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("gate_pass"))
    val kept = curate(df, idCol, textCol, sourceCol, minWords)
      .select(col("source"),
        TextAnalysis.tokenCount(col("clean_text")).as("toks"),
        (round(col("quality_score") * 10000)).cast(LongType).as("q4"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept"),
        sum(col("toks")).as("total_tokens"),
        round(sum(col("q4")).cast(DoubleType) /
          (count(lit(1)) * lit(10000)).cast(DoubleType), 4)
          .as("avg_quality"))
    // NULL-SAFE joins: a null source is a legitimate group (groupBy keeps
    // it on every side) and plain EqualTo would never match it against
    // its own gate_pass/kept row — the groupedQuantiles hazard class
    val j1 = in.join(pass, in("source") <=> pass("source"), "left")
      .select(in("source").as("source"), col("docs_in"), col("gate_pass"))
    j1.join(kept, j1("source") <=> kept("source"), "left")
      .select(j1("source"), col("docs_in"),
        coalesce(col("gate_pass"), lit(0L)).as("gate_pass"),
        coalesce(col("kept"), lit(0L)).as("kept"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        col("avg_quality"))
  }
}
