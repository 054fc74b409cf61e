package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.TextAnalysis
import graft.schema.{SchemaMetadata, WwTableSchema}

/** Structured Streaming extension (beyond the reference, which is
  * batch-only — SURVEY §2.9): apply a known typing schema to a stream and run
  * the engine's profiling/quality expressions as windowed streaming
  * aggregations. Typing inference itself stays batch (you infer on a sample,
  * then apply the schema to the stream — the standard pattern).
  */
object StreamingFrame {

  /** Apply a previously inferred/declared schema's coercions to a streaming
    * DataFrame (transforms are pure Column expressions, so they stream
    * as-is).
    */
  def applySchema(stream: DataFrame, schema: WwTableSchema): DataFrame =
    stream.select(schema.columns.map { case (n, cs) =>
      cs.logicalType.transform(col(n), stream.schema(n).dataType)
        .as(n, SchemaMetadata.columnMetadata(cs))
    }.toSeq: _*)

  /** Windowed profile of a numeric column over event time: count, mean, min,
    * max per window with a watermark for late data. The streaming analog of
    * `describe` (approximate stats only — exact percentiles don't stream).
    */
  def windowedProfile(stream: DataFrame, tsCol: String, valueCol: String,
                      windowDuration: String = "1 hour",
                      watermark: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(
        count(col(valueCol)).as("count"),
        avg(col(valueCol)).as("mean"),
        min(col(valueCol)).as("min"),
        max(col(valueCol)).as("max"),
        approx_count_distinct(col(valueCol)).as("approx_nunique"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("count"), col("mean"), col("min"), col("max"),
        col("approx_nunique"))

  /** Windowed frequent values over event time: the streaming twin of
    * [[graft.ops.Sketches.heavyHitters]]. Each window's aggregation state
    * is ONE capacity-bounded Misra–Gries summary (the native
    * `ww_heavy_hitters` [[graft.expressions.HeavyHitters]]), so state size
    * per window is independent of the value column's cardinality — where a
    * per-(window, value) count aggregation would hold every distinct value
    * in the state store. Exact (count_lo = count_hi) while a window's
    * distinct count stays ≤ capacity.
    */
  def windowedHeavyHitters(stream: DataFrame, tsCol: String, valueCol: String,
                           capacity: Int,
                           windowDuration: String = "1 hour",
                           watermark: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(call_function("ww_heavy_hitters",
        col(valueCol).cast("string"), lit(capacity)).as("hh"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        explode(col("hh")).as("h"))
      .select(col("window_start"), col("window_end"),
        col("h.value").as("value"),
        col("h.count_lo").as("count_lo"),
        col("h.count_hi").as("count_hi"))

  /** Streaming gap-based sessionization: per-session event counts and bounds
    * via Spark's native session_window (dynamic gap-merged windows with
    * watermark eviction) — the streaming twin of [[graft.ops.Sessionize]],
    * whose batch lag/cumsum formulation produces the same sessions.
    */
  def streamingSessionize(stream: DataFrame, keyCol: String, tsCol: String,
                          gap: String = "30 minutes",
                          watermark: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Per-session SUMMARY over the stream — the streaming twin of
    * [[graft.ops.Sessionize.sessionStats]] (r16): the same per-session
    * outputs (n_events, start_us/end_us — exact epoch micros of the
    * first/last event, not the gap-extended window bounds —,
    * duration_us), sessions formed by the native `session_window` gap
    * merge [[streamingSessionize]] already rides, whose state store
    * carries exactly the min/max/count this summary needs. Replay ≡
    * batch is spec-pinned on the same fixture and gap.
    *
    * Caveats (documented, not silent): (a) rows later than the
    * watermark are dropped by the state store — a late event that
    * would have extended or merged sessions in batch under-counts
    * here; parity holds for replays inside the watermark. (b) the
    * exact-gap boundary differs by convention: the batch lag/cumsum
    * keeps a pair spaced EXACTLY `gap` apart in one session (`> gap`
    * starts a new one), while `session_window`'s half-open
    * [start, start + gap) merge opens a new session there — spacings
    * exactly equal to the gap are the one divergence (a config
    * mismatch between the twins' gaps diverges far sooner;
    * spec-pinned).
    */
  def streamingSessionStats(stream: DataFrame, keyCol: String,
                            tsCol: String,
                            gap: String = "30 minutes",
                            watermark: String = "10 minutes"): DataFrame = {
    val us = unix_micros(col(tsCol).cast(TimestampType))
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"), min(us).as("start_us"),
        max(us).as("end_us"))
      .select(col(keyCol), col("start_us"), col("end_us"),
        col("n_events"),
        (col("end_us") - col("start_us")).as("duration_us"))
  }

  /** Streaming benchmark decontamination: drop documents sharing any word
    * n-gram with the (pre-collected) eval gram set at the ingest door —
    * before contaminated text ever lands in the corpus. Build the set once
    * with `Corpus.benchmarkGramSet`; the check is a single per-row scalar
    * expression (native `ww_ngrams` + InSet probe), so it streams with no
    * join, no window and no state.
    */
  def decontaminate(stream: DataFrame, textCol: String,
                    benchGramSet: Set[String], n: Int = 13): DataFrame =
    stream
      .withColumn("contaminated_grams",
        graft.ops.Corpus.contaminationHits(stream.sparkSession, textCol, n,
          benchGramSet))
      .where(col("contaminated_grams") === 0)
      .drop("contaminated_grams")

  /** Streaming Bloom-filter decontamination: like [[decontaminate]] but the
    * membership side is the packed bitset from
    * [[graft.ops.Corpus.buildGramBloom]] instead of an exact gram set —
    * constant memory at any contamination-set size, zero false negatives
    * (a false positive drops a clean document at the filter's configured
    * rate). Pure stateless projection + filter, so it runs on any output
    * mode with no watermark or state store.
    */
  def bloomDecontaminate(stream: DataFrame, textCol: String,
                         bits: Array[Long], n: Int = 13,
                         numHashes: Int = 5): DataFrame =
    stream
      .withColumn("bloom_hits",
        graft.ops.Corpus.bloomHits(stream.sparkSession, textCol, n, bits,
          numHashes))
      .where(col("bloom_hits") === 0)
      .drop("bloom_hits")

  /** Streaming text-quality filter: score documents as they arrive and keep
    * those above the threshold — the streaming front door of a training-data
    * ingest pipeline.
    */
  def qualityFilter(stream: DataFrame, textCol: String,
                    minScore: Double = 0.5): DataFrame =
    stream
      .withColumn("quality_score", TextAnalysis.qualityScore(col(textCol)))
      .withColumn("lang_pred", TextAnalysis.langId(col(textCol)))
      .withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
      .where(col("quality_score") >= minScore)

  /** Streaming Gopher gate: the rule conjunction is one stateless predicate
    * projection (never a stream-stream join), so it streams at any rate —
    * the batch twin with per-rule diagnostics is
    * [[graft.ops.TextAnalysis.gopherRules]].
    */
  def gopherGate(stream: DataFrame, textCol: String): DataFrame =
    stream.where(TextAnalysis.gopherPass(col(textCol)))

  /** Stateless per-row Gopher REPETITION gate (duplicate-line and n-gram
    * repetition thresholds, Rae et al. 2021 Table A1): drops documents
    * failing `TextAnalysis.repetitionMetrics(...).pass`. A pure filter —
    * no explode, no state — the streaming twin of the batch
    * [[graft.ops.TextAnalysis.gopherRepetition]] profile (per-row ==
    * batch equality is spec-pinned).
    */
  def repetitionGate(stream: DataFrame, textCol: String): DataFrame =
    stream.where(
      TextAnalysis.repetitionMetrics(col(textCol)).getField("pass"))

  /** Stateless C4 page-cleaning gate (Raffel et al. 2020 §2.2): drops
    * pages failing the sentence-minimum / lorem-ipsum / curly-brace
    * rules and REPLACES the text with the line-cleaned version — the
    * streaming twin of [[graft.ops.TextAnalysis.c4Clean]] (same
    * predicates, shared line-survival rule).
    */
  def c4Gate(stream: DataFrame, textCol: String, minLineWords: Int = 3,
             minSentences: Int = 3): DataFrame = {
    // refuse rather than silently clobber a caller column with the
    // scratch name
    require(!stream.columns.contains("__c4"),
      "c4Gate uses '__c4' as a scratch column; rename the input column")
    stream
      .withColumn("__c4",
        TextAnalysis.c4Metrics(col(textCol), minLineWords, minSentences))
      .where(col("__c4.page_kept"))
      .withColumn(textCol, col("__c4.clean_text"))
      .drop("__c4")
  }

  /** The composed streaming front door: Gopher rule gate → Bloom
    * decontamination (on RAW text, matching batch) → PII scrub →
    * (optional) classifier filter → near-dup suppression — the streaming
    * twin of [[graft.ops.Pipeline.curate]].
    * Every stage is a stateless projection/filter except the final
    * watermarked dedup, so the chain runs at ingest rate with one bounded
    * state store.
    */
  def ingestGate(stream: DataFrame, textCol: String, tsCol: String,
                 bloomBits: Array[Long], n: Int = 13,
                 model: Option[graft.ops.Classifier.NbModel] = None,
                 keep: Seq[String] = Seq.empty,
                 watermark: String = "1 hour"): DataFrame = {
    val gated = gopherGate(stream, textCol)
    // decontaminate BEFORE the PII scrub: the Bloom set indexes RAW
    // benchmark text, so probing redacted text would let PII-bearing
    // contaminated spans slip past the gate that batch decontamination
    // (also raw-text) would drop — ingest and offline must agree
    val clean = bloomDecontaminate(gated, textCol, bloomBits, n)
    val scrubbed = piiScrub(clean, textCol)
    val classed = model.map(m => classifyGate(scrubbed, textCol, m, keep))
      .getOrElse(scrubbed)
    streamingNearDedup(classed, textCol, tsCol, watermark)
  }

  /** Streaming classifier gate: tag each arriving document with the Naive
    * Bayes argmax class (model trained offline, broadcast inside the
    * scorer) and optionally keep only the wanted classes. Stateless per-row
    * scoring — no join, no state store — with arithmetic identical to the
    * batch scorer, so offline and ingest decisions agree bit-for-bit.
    */
  def classifyGate(stream: DataFrame, textCol: String,
                   model: graft.ops.Classifier.NbModel,
                   keep: Seq[String] = Seq.empty): DataFrame = {
    val tagged = stream.withColumn("pred",
      graft.ops.Classifier.predictExpr(model)(col(textCol)))
    if (keep.isEmpty) tagged else tagged.where(col("pred").isin(keep: _*))
  }

  /** Streaming exact-dedup within the watermark horizon: drop rows whose
    * fingerprint already appeared. dropDuplicatesWithinWatermark — NOT
    * plain dropDuplicates, whose state is only evicted when the event-time
    * column is part of the key and so would grow one state row per
    * distinct fingerprint forever on a non-event-time key like ours.
    */
  def streamingDedup(stream: DataFrame, textCol: String, tsCol: String,
                     watermark: String = "1 hour"): DataFrame =
    stream
      .withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming image near-dup gate: per-row perceptual dHash
    * ([[graft.ops.Multimodal.withDHash]] — the mapPartitions decode is
    * stateless, so it streams) then exact-duplicate suppression on the
    * hash within the watermark horizon. Perceptually identical frames
    * (re-encodes, uniform brightness shifts, pixel-doubled rescales)
    * collapse; undecodable payloads fall back to their byte md5 so they
    * pass through unless byte-identical.
    */
  def streamingImageDedup(stream: DataFrame, payloadCol: String,
                          tsCol: String,
                          watermark: String = "1 hour"): DataFrame = {
    // null payloads must pass through: md5(null) is null, and a null dedup
    // key would collapse EVERY payload-less row into the first one
    val tagged = graft.ops.Multimodal.withDHash(stream, payloadCol)
    val deduped = tagged.where(col(payloadCol).isNotNull)
      .withColumn("image_key",
        coalesce(col("dhash").cast("string"), md5(col(payloadCol))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("image_key")
      .drop("image_key")
    deduped.unionByName(tagged.where(col(payloadCol).isNull))
  }

  /** Streaming audio near-dup gate: the [[streamingImageDedup]] shape over
    * the PCM envelope hash — perceptually identical clips (level-scaled
    * re-encodes) collapse within the watermark; undecodable payloads fall
    * back to byte md5.
    */
  def streamingAudioDedup(stream: DataFrame, payloadCol: String,
                          tsCol: String,
                          watermark: String = "1 hour"): DataFrame = {
    val tagged = graft.ops.Multimodal.withAudioHash(stream, payloadCol)
    val deduped = tagged.where(col(payloadCol).isNotNull)
      .withColumn("audio_key",
        coalesce(col("ahash").cast("string"), md5(col(payloadCol))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("audio_key")
      .drop("audio_key")
    deduped.unionByName(tagged.where(col(payloadCol).isNull))
  }

  /** Streaming data-quality gate: tag each arriving row with the row-level
    * constraints it violates ([[graft.ops.Constraints.quarantine]] — one
    * stateless projection) and optionally keep only clean rows. The same
    * constraint declarations drive the batch report (q118), batch routing
    * (q119), and this gate, so offline and ingest decisions agree exactly.
    */
  def constraintsGate(stream: DataFrame,
                      constraints: Seq[graft.ops.Constraints.Constraint],
                      keepClean: Boolean = true): DataFrame = {
    val tagged = graft.ops.Constraints.quarantine(stream, constraints)
    if (keepClean) tagged.where(size(col("dq_failed")) === 0) else tagged
  }

  /** Streaming PII scrub: redact email/url/ip/phone hits in place and carry
    * the hit counts — one stateless projection, streams at any rate.
    */
  def piiScrub(stream: DataFrame, textCol: String): DataFrame =
    stream
      .withColumns(TextAnalysis.piiPatterns.map { case (nm, pat) =>
        s"pii_$nm" -> regexp_count(col(textCol), lit(pat)).cast(LongType)
      }.toMap)
      .withColumn(textCol, TextAnalysis.redactPii(col(textCol)))

  /** Streaming NEAR-duplicate suppression: the per-row native `ww_simhash`
    * signature (no shuffle, no state to build it) keys a watermarked
    * dropDuplicates — near-identical documents collapse to one signature and
    * later arrivals within the horizon drop. Falls back to the exact md5
    * fingerprint when the native expression isn't registered (documented
    * degradation: exact-dup-only).
    */
  def streamingNearDedup(stream: DataFrame, textCol: String, tsCol: String,
                         watermark: String = "1 hour"): DataFrame = {
    val nativeSimhash =
      try stream.sparkSession.catalog.functionExists("ww_simhash")
      catch { case _: Throwable => false }
    val sig =
      if (nativeSimhash)
        call_function("ww_simhash", TextAnalysis.tokens(col(textCol)))
      else TextAnalysis.fingerprint(col(textCol))
    stream
      .withColumn("near_sig", sig.cast(StringType))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("near_sig")
  }

  /** Running per-key profile carried in CUSTOM state
    * (`mapGroupsWithState`): count/mean/min/max updated incrementally per
    * micro-batch — the stateful-operator shape for accumulating per-group
    * statistics that windowed aggs can't express (state lives across
    * windows). Emit in update mode.
    *
    * STATE-SCHEMA NOTE (r9): the persisted state type is the VERSIONED
    * envelope [[StateEnvelope.Enveloped]] — a (version, payload) pair
    * whose Spark-visible schema never changes. ADOPTING the envelope is
    * itself a one-time state-schema break: checkpoints from builds that
    * persisted the raw case class (everything before r9) are NOT
    * readable — Spark's state-store schema check rejects the (int,
    * string) layout — so upgrading an existing query to this build still
    * means restarting from a fresh checkpoint. What the envelope buys is
    * every change AFTER it: profile-field evolution now touches only the
    * JSON payload plus a version bump with an upgrade arm in
    * [[StateEnvelope.decodeKeyProfile]] (the version-1 arm is that
    * convention exercised end-to-end: a spec feeds the pre-`sum` payload
    * through it), and a payload from a version this build doesn't know
    * fails with the NAMED [[StateEnvelope.StateVersionMismatch]] instead
    * of a bare Kryo/encoder exception.
    */
  final case class KeyProfile(key: String, count: Long, sum: Double,
                              mean: Double, min: Double, max: Double)

  /** Versioned persistence envelope for custom streaming state. The
    * payload is a flat JSON object whose doubles travel as IEEE-754 BIT
    * PATTERNS (longs) — exact round-trip, and NaN/±Inf (legal stream
    * values) cannot produce unparseable literals. The envelope schema
    * (int, string) is frozen: new profile fields change only the payload
    * and bump [[CurrentVersion]] with an upgrade arm in the decoder.
    */
  object StateEnvelope {
    val CurrentVersion = 2

    final case class Enveloped(version: Int, json: String)

    /** Checkpoint state written by a binary this build no longer
      * understands (or a future one): restart from a fresh checkpoint or
      * upgrade through an intermediate release that still decodes it.
      */
    final class StateVersionMismatch(found: Int)
        extends IllegalStateException(
          s"streaming state envelope version $found is not decodable by " +
            s"this build (supported: 1..$CurrentVersion)")

    import org.json4s.{JField, JInt, JLong, JObject, JString}
    import org.json4s.jackson.JsonMethods.{compact, render}

    private def payload(fields: JField*): String =
      compact(render(JObject(fields: _*)))
    private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    private def undo(l: String): Double =
      java.lang.Double.longBitsToDouble(l.toLong)

    def encodeKeyProfile(p: KeyProfile): Enveloped = Enveloped(
      CurrentVersion,
      payload("key" -> JString(p.key), "count" -> JLong(p.count),
        "sum" -> JLong(bits(p.sum)), "mean" -> JLong(bits(p.mean)),
        "min" -> JLong(bits(p.min)), "max" -> JLong(bits(p.max))))

    def decodeKeyProfile(e: Enveloped): KeyProfile = {
      val m = graft.schema.SchemaMetadata.parseJsonValueMap(e.json)
      e.version match {
        case CurrentVersion =>
          KeyProfile(m("key"), m("count").toLong, undo(m("sum")),
            undo(m("mean")), undo(m("min")), undo(m("max")))
        case 1 =>
          // pre-`sum` layout: reconstruct the running sum as mean·count —
          // the same (rounding-prone) quantity the old binary carried, so
          // the upgrade loses nothing the old state had
          val count = m("count").toLong
          val mean = undo(m("mean"))
          KeyProfile(m("key"), count, mean * count, mean,
            undo(m("min")), undo(m("max")))
        case v => throw new StateVersionMismatch(v)
      }
    }

    /** Funnel-state payload: four integer scalars, no doubles — version
      * 2 of its own payload kind (the kind is implied by which decoder
      * the operator calls; versions advance per kind); v2 added the
      * conversion-window anchor, with a v1 upgrade arm for unwindowed
      * resumes. The payload also
      * carries the STEP COUNT the state was written against: a `reached`
      * index is only meaningful relative to its steps list, so a restart
      * whose funnel has a different length must fail loudly instead of
      * silently reinterpreting progress (the same cross-binary misread
      * class the envelope itself exists to make loud).
      */
    val FunnelVersion = 2

    /** Checkpoint funnel state written against a different steps list. */
    final class FunnelConfigMismatch(found: Int, expected: Int)
        extends IllegalStateException(
          s"streaming funnel state was written for a $found-step funnel; " +
            s"this query declares $expected steps — reached indices are " +
            "not transferable, restart from a fresh checkpoint")

    def encodeFunnel(k: Int, reached: Int, lastMicros: Long,
                     anchorMicros: Long, windowSeconds: Long): Enveloped =
      Enveloped(FunnelVersion,
        payload("k" -> JInt(k), "reached" -> JInt(reached),
          "last" -> JLong(lastMicros), "anchor" -> JLong(anchorMicros),
          "win" -> JLong(windowSeconds)))

    /** Checkpoint funnel state written under a different conversion
      * window: `reached` indices embody deadlines that were (or were
      * not) applied — progress is not transferable across window
      * configurations, the same class as a steps-list change.
      */
    final class FunnelWindowMismatch(found: Long, expected: Long)
        extends IllegalStateException(
          s"streaming funnel state was written with windowSeconds=$found; " +
            s"this query declares windowSeconds=$expected — restart from " +
            "a fresh checkpoint")

    /** (reached, lastMicros, anchorMicros) — `anchor` is the step-1
      * advance time, the conversion-window deadline base. Version 2
      * carries the window the state was written under and fails loudly
      * on a mismatch; the version-1 arm (pre-window payloads) accepts
      * UNWINDOWED resumes only — v1 progress never applied any
      * deadline, so resuming it into a windowed funnel must fail.
      */
    def decodeFunnel(e: Enveloped, expectedK: Int,
                     windowSeconds: Long = 0L): (Int, Long, Long) = {
      if (e.version != 1 && e.version != FunnelVersion)
        throw new StateVersionMismatch(e.version)
      val m = graft.schema.SchemaMetadata.parseJsonValueMap(e.json)
      val k = m("k").toInt
      if (k != expectedK) throw new FunnelConfigMismatch(k, expectedK)
      e.version match {
        case FunnelVersion =>
          val win = m("win").toLong
          if (win != windowSeconds)
            throw new FunnelWindowMismatch(win, windowSeconds)
          (m("reached").toInt, m("last").toLong, m("anchor").toLong)
        case 1 =>
          if (windowSeconds > 0)
            throw new IllegalStateException(
              "streaming funnel state predates conversion windows (v1): " +
                "its progress never applied the deadline — restart the " +
                "windowed query from a fresh checkpoint")
          // unwindowed: the anchor is dead state; carry `last` (the only
          // timestamp v1 kept) so a later inspection sees a sane value
          (m("reached").toInt, m("last").toLong, m("last").toLong)
      }
    }

    /** Cohort-state payload: two integer scalars (first-event epoch day +
      * the highest period offset already emitted), carrying the PERIOD
      * WIDTH the state was written against — offsets are only meaningful
      * relative to their period, so a restart with a different
      * `periodDays` must fail loudly instead of silently reinterpreting
      * progress (the funnel-steps convention).
      */
    val CohortVersion = 1

    /** Checkpoint cohort state written against a different period width. */
    final class CohortConfigMismatch(found: Int, expected: Int)
        extends IllegalStateException(
          s"streaming cohort state was written for periodDays=$found; " +
            s"this query declares periodDays=$expected — period offsets " +
            "are not transferable, restart from a fresh checkpoint")

    def encodeCohort(periodDays: Int, firstDay: Int,
                     lastOffset: Long): Enveloped =
      Enveloped(CohortVersion,
        payload("p" -> JInt(periodDays), "first" -> JInt(firstDay),
          "last" -> JLong(lastOffset)))

    def decodeCohort(e: Enveloped, expectedPeriod: Int): (Int, Long) =
      e.version match {
        case CohortVersion =>
          val m = graft.schema.SchemaMetadata.parseJsonValueMap(e.json)
          val p = m("p").toInt
          if (p != expectedPeriod)
            throw new CohortConfigMismatch(p, expectedPeriod)
          (m("first").toInt, m("last").toLong)
        case v => throw new StateVersionMismatch(v)
      }

    /** Paths-state payload: the trailing length−1 (ts, type) events plus
      * the (length, gap) configuration they were buffered under — a
      * trailing window is only meaningful against its own n and chain
      * rule, so a restart with different parameters fails loudly (the
      * funnel-steps convention). Event types are JSON-escaped strings,
      * one key pair per slot.
      */
    val PathsVersion = 1

    /** Checkpoint paths state written under different (length, gap). */
    final class PathsConfigMismatch(foundLen: Int, foundGap: Long,
                                    expLen: Int, expGap: Long)
        extends IllegalStateException(
          s"streaming paths state was written for length=$foundLen/" +
            s"maxGapSeconds=$foundGap; this query declares length=$expLen/" +
            s"maxGapSeconds=$expGap — trailing windows are not " +
            "transferable, restart from a fresh checkpoint")

    def encodePaths(length: Int, gapSeconds: Long,
                    evs: Seq[(Long, String)]): Enveloped = {
      val slots = evs.zipWithIndex.flatMap { case ((t, y), i) =>
        Seq[JField](s"t$i" -> JLong(t), s"y$i" -> JString(y)) }
      Enveloped(PathsVersion, payload(Seq[JField]("len" -> JInt(length),
        "gap" -> JLong(gapSeconds), "n" -> JInt(evs.size)) ++ slots: _*))
    }

    def decodePaths(e: Enveloped, expectedLen: Int,
                    expectedGap: Long): Seq[(Long, String)] =
      e.version match {
        case PathsVersion =>
          val m = graft.schema.SchemaMetadata.parseJsonValueMap(e.json)
          val (len, gap) = (m("len").toInt, m("gap").toLong)
          if (len != expectedLen || gap != expectedGap)
            throw new PathsConfigMismatch(len, gap, expectedLen, expectedGap)
          (0 until m("n").toInt).map(i => (m(s"t$i").toLong, m(s"y$i")))
        case v => throw new StateVersionMismatch(v)
      }

    /** Forward-fill state payload: the key's event-time frontier (µs)
      * and its carry — the last non-null value at or before the
      * frontier — double bits via the exact [[bits]]/[[undo]] encoding
      * (no decimal round-trip noise), absent while no non-null value
      * has arrived.
      */
    val FfillVersion = 1

    def encodeFfill(tMicros: Long, carry: Option[Double]): Enveloped =
      Enveloped(FfillVersion,
        payload(("t" -> JLong(tMicros)) +:
          carry.map(c => "v" -> JString(bits(c).toString)).toSeq: _*))

    def decodeFfill(e: Enveloped): (Long, Option[Double]) =
      e.version match {
        case FfillVersion =>
          val m = graft.schema.SchemaMetadata.parseJsonValueMap(e.json)
          (m("t").toLong, m.get("v").map(undo))
        case v => throw new StateVersionMismatch(v)
      }
  }

  def statefulProfile(stream: DataFrame, keyCol: String, valueCol: String)
      : org.apache.spark.sql.Dataset[KeyProfile] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import StateEnvelope.{Enveloped, decodeKeyProfile, encodeKeyProfile}
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(keyCol).cast(StringType).as("k"),
        col(valueCol).cast(DoubleType).as("v"))
      // null keys/values would kill the query at the primitive encoder
      .where(col("k").isNotNull && col("v").isNotNull)
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[Enveloped, KeyProfile](GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[Enveloped]) =>
          val prev = state.getOption.map(decodeKeyProfile).getOrElse(
            KeyProfile(key, 0L, 0.0, 0.0, Double.MaxValue, Double.MinValue))
          var cnt = prev.count
          // the running SUM is the state; reconstructing it from a stored
          // mean (mean*count) compounds one rounding error per micro-batch
          var sum = prev.sum
          var mn = prev.min
          var mx = prev.max
          rows.foreach { case (_, v) =>
            cnt += 1; sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
          }
          val next = KeyProfile(key, cnt, sum,
            if (cnt == 0) 0.0 else sum / cnt, mn, mx)
          state.update(encodeKeyProfile(next))
          next
      }
  }

  /** Per-window PSI drift against a batch-fitted reference distribution —
    * the streaming twin of [[graft.ops.Drift.psiCategorical]], shaped for
    * unbounded state discipline: the reference shares ride the plan as
    * LITERALS (one conditional count per reference category), so each
    * window's aggregation state is |vocabulary|+2 counters and the PSI is
    * a pure codegen projection over the finished window — no second
    * stateful operator, no value-cardinality state.
    *
    * Out-of-vocabulary convention: all categories unseen at fit time lump
    * into ONE `ε`-vs-`q_other` cell (bounded state requires a fixed
    * aggregation width). Batch `psiCategorical`'s full outer join instead
    * gives each unseen category its own cell, so the two agree exactly
    * when the stream introduces at most one novel category (spec-pinned).
    * When novel mass splinters across many categories the lumped cell
    * reads HIGHER than batch ((q−ε)·ln(q/ε) is superadditive in q), so
    * the monitor over-alerts rather than under-alerts on novel mass —
    * drift within the known vocabulary is measured identically.
    *
    * Output per closed window: (window_start, window_end, n, psi).
    */
  def streamingDrift(stream: DataFrame, tsCol: String, column: String,
                     refShares: Seq[(String, Double)],
                     windowDuration: String = "1 hour",
                     watermark: String = "10 minutes",
                     epsilon: Double = 1e-6): DataFrame = {
    require(refShares.nonEmpty, "need a non-empty reference distribution")
    val v = col(column).cast(StringType)
    val counts = refShares.zipWithIndex.map { case ((cat, _), i) =>
      count(when(v === lit(cat), lit(1))).as(s"__c_$i")
    }
    val agged = stream
      // drop null values BEFORE the window agg: an all-null window would
      // otherwise reach the share division as 0/0 → NaN psi (and a NaN
      // poisons greatest(), which sorts NaN above everything)
      .where(v.isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(count(v).as("__n"), counts: _*)
    val n = col("__n").cast(DoubleType)
    val known = refShares.indices.map(i => col(s"__c_$i")).reduce(_ + _)
    val terms = refShares.zipWithIndex.map { case ((_, share), i) =>
      val p = lit(math.max(share, epsilon))
      val q = greatest(col(s"__c_$i").cast(DoubleType) / n, lit(epsilon))
      (p - q) * log(p / q)
    }
    val otherQ = greatest((n - known.cast(DoubleType)) / n, lit(epsilon))
    val otherTerm = (lit(epsilon) - otherQ) * log(lit(epsilon) / otherQ)
    agged.select(
      col("window.start").as("window_start"),
      col("window.end").as("window_end"),
      col("__n").as("n"),
      round(terms.reduce(_ + _) + otherTerm, 6).as("psi"))
  }

  /** Per-window per-group value counts — the streaming twin of
    * [[graft.stats.ValueCounts.topValuesByGroup]], the live-dashboard
    * "top domains per source, per hour" shape. Emits, for each CLOSED
    * event-time window (append mode, watermark-driven), the collapsed
    * per-(group, value) counts; rank/share/top-k are the pure batch
    * projection [[graft.stats.ValueCounts.rankValueCounts]] with the
    * window PREPENDED to the group columns —
    * `rankValueCounts(emitted, "window_start" +: groupCols, k)` — the
    * SAME final stage the batch op uses, scoped per closed window, so
    * replay equals batch by construction (spec-pinned). Ranking the
    * emitted frame WITHOUT the window key would sum counts across
    * windows into one share denominator — always carry it.
    * Ranking cannot ride the stream itself (window functions over a
    * streaming aggregate need a second stateful operator); emitting the
    * collapsed counts is exactly the batch op's collapse-before-sort
    * contract shaped for streaming.
    *
    * State discipline (the [[streamingDrift]] convention): one counter
    * per in-flight (window, group, value) triple — bounded by windows
    * in flight × the value vocabulary, never by row volume — and the
    * watermark evicts closed windows. Null values are dropped before
    * the aggregation (the batch convention); late rows beyond the
    * watermark are DROPPED, so a closed window can only under-count —
    * in-event-time-order replay is exact.
    *
    * Output per closed window: (window_start, window_end, groupCols...,
    * value — string cast —, n).
    */
  def streamingTopValues(stream: DataFrame, tsCol: String,
                         groupCols: Seq[String], valueCol: String,
                         windowDuration: String = "1 hour",
                         watermark: String = "10 minutes"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    (groupCols ++ Seq(tsCol, valueCol)).foreach(c =>
      require(stream.columns.contains(c), s"column '$c' not in frame"))
    require(!groupCols.contains(valueCol),
      s"value column '$valueCol' is also a group column")
    // "window" is the alias the time-window groupBy introduces — a
    // group column by that name would hit an ambiguous-reference
    // AnalysisException deep in the plan instead of this loud error;
    // share/rank are guarded so the documented rankValueCounts pairing
    // can never silently replace a group column downstream
    Seq("value", "n", "window_start", "window_end", "window",
        "share", "rank").foreach(o =>
      require(!groupCols.contains(o),
        s"group column '$o' collides with an output column"))
    stream
      .where(col(valueCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration) +:
        groupCols.map(col) :+
        col(valueCol).cast(StringType).as("value"): _*)
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start") +:
        col("window.end").as("window_end") +:
        groupCols.map(col) :+ col("value") :+ col("n"): _*)
  }

  /** Per-actor funnel progress carried in custom streaming state — the
    * streaming twin of [[graft.ops.EventAnalytics.funnel]]. Emits the
    * actor's furthest step after every micro-batch touching it (update
    * mode); step counts are a downstream `groupBy(reached)` away.
    *
    * State per actor is THREE scalars (furthest step index, its event
    * time in µs, and the step-1 anchor time the conversion-window
    * deadline is measured from) inside the versioned
    * [[StateEnvelope.Enveloped]] payload — bounded regardless of event
    * volume. `windowSeconds > 0` applies the batch funnel's standard
    * conversion window (steps 2..k at or before anchor + window,
    * inclusive, saturating — the
    * [[graft.ops.EventAnalytics.funnel]] semantics). Within a micro-batch
    * the actor's rows are sorted by (ts, type) before the greedy fold —
    * the exact batch tie rule — so replaying a log through micro-batches
    * IN EVENT-TIME ORDER reproduces the batch funnel verdicts
    * identically (spec-pinned, the IngestTwin convention). The honest
    * streaming caveats: an event arriving in a LATER micro-batch than a
    * successor step it should have preceded cannot retroactively advance
    * the fold (state keeps only the frontier, by design) — the
    * UNWINDOWED twin therefore under-counts on cross-batch disorder,
    * never over-counts. The WINDOWED twin's error is two-sided: a
    * step-1 anchor arriving LATE (after later step-1 events already
    * anchored the deadline) re-bases future deadlines to the
    * batch-true earliest anchor (tightening, spec-pinned), but
    * advances already made against the stale looser deadline stand —
    * so windowed streaming can over-count actors whose anchor itself
    * was disordered. Replay in event-time order is exact for both
    * (spec-pinned).
    */
  final case class FunnelReach(actor: String, reached: Int)

  /** One per-group micro-batch step of the streaming funnel fold —
    * decode the enveloped frontier, tighten the anchor on late step-1
    * arrivals (windowed), greedily advance over the batch-local (ts,
    * type)-sorted events, re-encode. Shared by [[streamingFunnel]] and
    * [[streamingFunnelBy]] so the two can never drift: the DIMENSION
    * lives in the grouping key, not here — the state payload and its
    * versioned envelope are identical for both.
    */
  private def foldFunnelGroup(steps: Seq[String], windowSeconds: Long,
      events: Seq[(Long, String)],
      state: org.apache.spark.sql.streaming.GroupState[
        StateEnvelope.Enveloped]): Int = {
    val k = steps.size
    val winMicros = windowSeconds * 1000000L
    val windowed = windowSeconds > 0
    val (r0, t0, a0) = state.getOption
      .map(StateEnvelope.decodeFunnel(_, k, windowSeconds))
      .getOrElse((0, 0L, 0L))
    var r = r0
    var last = t0
    var anchor = a0
    // saturating deadline — the batch fold's convention: a far-future
    // anchor means "no deadline", never a wrapped one
    def deadline: Long =
      if (anchor > Long.MaxValue - winMicros) Long.MaxValue
      else anchor + winMicros
    val sorted = events.sortBy(identity)
    // anchor TIGHTENING (windowed, r >= 1): a late-arriving step-1
    // event EARLIER than the recorded anchor re-bases the deadline the
    // way the batch fold (earliest step-1 overall) would — advances
    // already made against the stale looser deadline stand (frontier
    // state cannot retro-censor; see the over-count caveat in the
    // scaladoc), but every future advance uses the batch-true deadline.
    // In-order replay never triggers this (the earliest step-1 arrives
    // first).
    if (windowed && r > 0)
      sorted.iterator
        .filter(e => e._2 == steps.head && e._1 < anchor)
        .foreach(e => anchor = e._1)
    // batch-local sort restores the batch fold's (ts, type) order
    sorted.foreach { case (t, y) =>
      if (r < k && y == steps(r) && (r == 0 || t > last) &&
          (!windowed || r == 0 || t <= deadline)) {
        if (r == 0) anchor = t
        r += 1; last = t
      }
    }
    state.update(StateEnvelope.encodeFunnel(k, r, last, anchor,
      windowSeconds))
    r
  }

  private def requireFunnelArgs(steps: Seq[String],
                                windowSeconds: Long): Unit = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(steps.distinct.size == steps.size, "duplicate funnel step")
    require(windowSeconds >= 0 &&
      windowSeconds <= graft.ops.EventAnalytics.MaxWindowSeconds,
      s"need 0 <= windowSeconds <= " +
        s"${graft.ops.EventAnalytics.MaxWindowSeconds}, got $windowSeconds")
  }

  def streamingFunnel(stream: DataFrame, actorCol: String, tsCol: String,
                      typeCol: String, steps: Seq[String],
                      windowSeconds: Long = 0L)
      : org.apache.spark.sql.Dataset[FunnelReach] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import StateEnvelope.Enveloped
    requireFunnelArgs(steps, windowSeconds)
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(actorCol).cast(StringType).as("a"),
        unix_micros(col(tsCol).cast(TimestampType)).as("t"),
        col(typeCol).cast(StringType).as("y"))
      .where(col("a").isNotNull && col("t").isNotNull &&
        col("y").isin(steps: _*))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Enveloped, FunnelReach](
        GroupStateTimeout.NoTimeout) {
        case (actor, rows, state: GroupState[Enveloped]) =>
          FunnelReach(actor, foldFunnelGroup(steps, windowSeconds,
            rows.map(e => (e._2, e._3)).toSeq, state))
      }
  }

  /** One dimensional funnel-progress update: the (actor, dimension)
    * slice's furthest step. `dim` is None for a NULL dimension — a real
    * slice, exactly as in [[graft.ops.EventAnalytics.funnelBy]].
    */
  final case class FunnelReachBy(actor: String, dim: Option[String],
                                 reached: Int)

  /** Per-(actor, dimension) funnel progress — the streaming twin of
    * [[graft.ops.EventAnalytics.funnelBy]], exactly as
    * [[streamingFunnel]] twins `funnel`. The dimension RIDES THE
    * GROUPING KEY: state payload, versioned envelope, fold, windowed
    * anchor semantics and every late-data caveat are bit-identical to
    * [[streamingFunnel]]'s (the shared [[foldFunnelGroup]]), and each
    * (actor, dimension) slice keeps its own bounded three-scalar
    * frontier. Per-dimension step counts are a downstream
    * `groupBy(dim, reached)` away. A NULL dimension groups as a real
    * slice (None key). Not checkpoint-compatible with
    * [[streamingFunnel]]: the key schema differs, so resuming one
    * query's checkpoint with the other fails loudly in Spark's state
    * store schema check — start a fresh query, as with any key change.
    */
  def streamingFunnelBy(stream: DataFrame, actorCol: String,
                        tsCol: String, typeCol: String, dimCol: String,
                        steps: Seq[String], windowSeconds: Long = 0L)
      : org.apache.spark.sql.Dataset[FunnelReachBy] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import StateEnvelope.Enveloped
    requireFunnelArgs(steps, windowSeconds)
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(actorCol).cast(StringType).as("a"),
        col(dimCol).cast(StringType).as("d"),
        unix_micros(col(tsCol).cast(TimestampType)).as("t"),
        col(typeCol).cast(StringType).as("y"))
      .where(col("a").isNotNull && col("t").isNotNull &&
        col("y").isin(steps: _*))
      .as[(String, Option[String], Long, String)]
      .groupByKey(e => (e._1, e._2))
      .mapGroupsWithState[Enveloped, FunnelReachBy](
        GroupStateTimeout.NoTimeout) {
        case ((actor, dim), rows, state: GroupState[Enveloped]) =>
          FunnelReachBy(actor, dim, foldFunnelGroup(steps, windowSeconds,
            rows.map(e => (e._3, e._4)).toSeq, state))
      }
  }

  /** One newly-activated retention cell: the actor became active in its
    * cohort's `period_offset`-th period. `groupBy(cohort_period,
    * period_offset).count()` over all emissions reproduces the batch
    * [[graft.ops.EventAnalytics.cohortRetention]] `n_active` cells, and
    * the offset-0 emissions count each cohort's size.
    */
  final case class CohortHit(actor: String, cohort_period: Long,
                             period_offset: Long)

  /** Per-actor cohort-retention progress carried in custom streaming
    * state — the streaming twin of
    * [[graft.ops.EventAnalytics.cohortRetention]]. Emits one
    * [[CohortHit]] the first time an actor is seen active in each new
    * period offset (update mode); the batch cells are a downstream
    * `groupBy(cohort_period, period_offset)` count away.
    *
    * State per actor is TWO integer scalars (first-event epoch day + the
    * highest offset already emitted) inside the versioned
    * [[StateEnvelope.Enveloped]] payload — bounded regardless of event
    * volume. Within a micro-batch the actor's event days are sorted
    * before the walk, so replaying a log through micro-batches IN
    * EVENT-TIME ORDER reproduces the batch cells identically
    * (spec-pinned, the IngestTwin convention). The honest streaming
    * caveat, same as the funnel twin: an event arriving in a LATER
    * micro-batch than a chronologically-later event cannot retroactively
    * move the actor's first day (the cohort anchor) or re-emit an offset
    * below the frontier — streaming under-counts on cross-batch disorder
    * rather than guessing.
    */
  def streamingCohort(stream: DataFrame, actorCol: String, tsCol: String,
                      periodDays: Int = 7)
      : org.apache.spark.sql.Dataset[CohortHit] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    import StateEnvelope.Enveloped
    require(periodDays > 0, s"need periodDays > 0, got $periodDays")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(actorCol).cast(StringType).as("a"),
        datediff(to_date(col(tsCol)), lit("1970-01-01").cast("date"))
          .as("d"))
      .where(col("a").isNotNull && col("d").isNotNull)
      .as[(String, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Enveloped, CohortHit](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (actor, rows, state: GroupState[Enveloped]) =>
          val days = rows.map(_._2).toArray.sorted
          val (first, last0) = state.getOption
            .map(StateEnvelope.decodeCohort(_, periodDays))
            .getOrElse((days.head, -1L))
          val cohort = Math.floorDiv(first.toLong, periodDays.toLong)
          var last = last0
          val out = Seq.newBuilder[CohortHit]
          days.foreach { d =>
            // floorDiv keeps a LATE day before the anchor negative (and
            // therefore below the frontier) instead of wrapping to 0
            val off = Math.floorDiv((d - first).toLong, periodDays.toLong)
            if (off > last) {
              out += CohortHit(actor, cohort, off)
              last = off
            }
          }
          state.update(StateEnvelope.encodeCohort(periodDays, first, last))
          out.result().iterator
      }
  }

  /** One completed consecutive event path for an actor (types joined
    * with " > ", the [[graft.ops.EventAnalytics.topEventPaths]]
    * rendering). `groupBy(path).count()` over all emissions reproduces
    * the batch path counts under in-event-time-order replay.
    */
  final case class PathHit(actor: String, path: String)

  /** Trailing event-window state per actor — the streaming twin of
    * [[graft.ops.EventAnalytics.topEventPaths]]: each arriving event
    * completes (at most) the one length-`length` window ending at it,
    * emitted when the window is whole and every internal gap is at most
    * `maxGapSeconds` (0 = unbounded). State per actor is the trailing
    * length−1 (ts, type) pairs inside the versioned
    * [[StateEnvelope.Enveloped]] payload — bounded regardless of volume.
    *
    * The honest streaming caveat: an event arriving strictly below the
    * trailing window's newest (ts, type) entry in the batch total order
    * is DROPPED — appending it would chain paths in ARRIVAL order,
    * producing orderings the batch never contained. What the drop rule
    * guarantees is therefore "exactly the batch paths of the log MINUS
    * the dropped late events": every emitted path is a real consecutive
    * run of the events the twin accepted, in true time order. Note this
    * is NOT a per-path lower bound on batch counts — dropping a middle
    * event can make its neighbors adjacent (a>c where batch reads a>b,
    * b>c), so disordered arrivals both lose paths and shift adjacency;
    * in-event-time-order replay is exact (spec-pinned, as is the
    * drop-not-reorder behavior).
    */
  def streamingPaths(stream: DataFrame, actorCol: String, tsCol: String,
                     typeCol: String, length: Int,
                     maxGapSeconds: Long = 0L)
      : org.apache.spark.sql.Dataset[PathHit] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    import StateEnvelope.Enveloped
    requirePathsArgs(length, maxGapSeconds) // loud at DEFINITION time
    val spark = stream.sparkSession
    import spark.implicits._
    trailingEvents(stream, actorCol, tsCol, typeCol)
      .groupByKey(_._1)
      .flatMapGroupsWithState[Enveloped, PathHit](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (actor, rows, state: GroupState[Enveloped]) =>
          foldPathsGroup(length, maxGapSeconds, rows, state)
            .map(w => PathHit(actor, w.map(_._2).mkString(" > ")))
            .iterator
      }
  }

  /** One emitted (from → next) successor pair for an actor — the
    * streaming twin of one [[graft.ops.EventAnalytics.eventTransitionMatrix]]
    * cell contribution.
    */
  final case class TransitionHit(actor: String, from_type: String,
                                 next_type: String)

  /** Streaming twin of
    * [[graft.ops.EventAnalytics.eventTransitionMatrix]]: the
    * [[streamingPaths]] trailing-window state at length 2 — the buffered
    * event IS the pair's from-side — emitting one [[TransitionHit]] per
    * completed successor pair. The closed-window matrix (n + row-share)
    * is the BATCH op's own final projection over the emissions:
    * `EventAnalytics.transitionShares(hits.select("from_type",
    * "next_type"))` — one definition of the normalization, so twin and
    * batch can never drift (the rankValueCounts sharing pattern).
    *
    * Same fold, same versioned state payload, same caveats as
    * [[streamingPaths]] (shared [[foldPathsGroup]]): a late event below
    * the frontier is DROPPED, never chained in arrival order — so
    * disordered arrivals can both lose pairs and shift adjacency
    * (dropping b from a,b,c makes a→c adjacent); in-event-time-order
    * replay is exact (spec-pinned vs the batch matrix). State is
    * checkpoint-compatible with a length-2 [[streamingPaths]] by
    * construction (identical payload); any other (length, gap) fails
    * loudly through the envelope's config check.
    */
  def streamingTransitions(stream: DataFrame, actorCol: String,
                           tsCol: String, typeCol: String)
      : org.apache.spark.sql.Dataset[TransitionHit] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    import StateEnvelope.Enveloped
    val spark = stream.sparkSession
    import spark.implicits._
    trailingEvents(stream, actorCol, tsCol, typeCol)
      .groupByKey(_._1)
      .flatMapGroupsWithState[Enveloped, TransitionHit](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (actor, rows, state: GroupState[Enveloped]) =>
          foldPathsGroup(length = 2, maxGapSeconds = 0L, rows, state)
            .map(w => TransitionHit(actor, w(0)._2, w(1)._2))
            .iterator
      }
  }

  /** The twins' definition-time argument gate — `length >= 2` and the
    * same sanity bound as the batch twin: unbounded, gapMicros wraps
    * negative and every gap check silently fails (empty output).
    */
  private def requirePathsArgs(length: Int, maxGapSeconds: Long): Unit = {
    require(length >= 2, s"need length >= 2, got $length")
    require(maxGapSeconds >= 0 &&
      maxGapSeconds <= graft.ops.EventAnalytics.MaxWindowSeconds,
      s"need 0 <= maxGapSeconds <= " +
        s"${graft.ops.EventAnalytics.MaxWindowSeconds}, got $maxGapSeconds")
  }

  /** The (actor, micros, type) projection both trailing-window twins
    * share: string-cast actor/type, null actor/ts/type dropped (the
    * batch convention).
    */
  private def trailingEvents(stream: DataFrame, actorCol: String,
                             tsCol: String, typeCol: String)
      : org.apache.spark.sql.Dataset[(String, Long, String)] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(actorCol).cast(StringType).as("a"),
        unix_micros(col(tsCol).cast(TimestampType)).as("t"),
        col(typeCol).cast(StringType).as("y"))
      .where(col("a").isNotNull && col("t").isNotNull &&
        col("y").isNotNull)
      .as[(String, Long, String)]
  }

  /** One per-group micro-batch step of the trailing-window fold — the
    * shared core of [[streamingPaths]] and [[streamingTransitions]]:
    * decode the enveloped trailing length−1 events, accept each
    * batch-local-(ts, type)-sorted event only at or above the frontier
    * (the drop-not-reorder rule — see [[streamingPaths]]), emit every
    * completed gap-satisfying window, re-encode. Returns the completed
    * windows as (ts, type) vectors.
    */
  private def foldPathsGroup(length: Int, maxGapSeconds: Long,
      rows: Iterator[(String, Long, String)],
      state: org.apache.spark.sql.streaming.GroupState[
        StateEnvelope.Enveloped]): Seq[Vector[(Long, String)]] = {
    val gapMicros = maxGapSeconds * 1000000L // entry points validate
    var buf = state.getOption
      .map(StateEnvelope.decodePaths(_, length, maxGapSeconds))
      .getOrElse(Nil).toVector
    val out = Seq.newBuilder[Vector[(Long, String)]]
    rows.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, t, y) =>
      // frontier check in the BATCH total order (ts, then type):
      // an equal-ts event whose type sorts below the newest entry
      // is as late as an earlier timestamp — accepting it would
      // chain a tie in arrival order (cross-batch fabrication)
      val inOrder = buf.isEmpty || t > buf.last._1 ||
        (t == buf.last._1 && y >= buf.last._2)
      if (inOrder) {
        buf = (buf :+ (t -> y)).takeRight(length)
        if (buf.size == length &&
            (maxGapSeconds == 0 || buf.iterator.sliding(2)
              .forall(p => p(1)._1 - p.head._1 <= gapMicros)))
          out += buf
      } // else: late event below the window frontier — dropped
    }
    state.update(StateEnvelope.encodePaths(length, maxGapSeconds,
      buf.takeRight(length - 1)))
    out.result()
  }
  /** One forward-filled observation: the key, its event time in micros,
    * and the filled value (None while the key has no carry).
    */
  final case class FilledValue(key: String, t_micros: Long,
                               value: Option[Double])

  /** Per-key forward fill carried in custom streaming state — the
    * streaming twin of [[graft.ops.TimeSeries.forwardFill]] for ONE
    * numeric column (values cast to double, the [[statefulProfile]]
    * convention). State per key is TWO scalars — the event-time
    * frontier and the last non-null value (exact double bits) — inside
    * the versioned [[StateEnvelope.Enveloped]] payload. Within a
    * micro-batch the key's rows are sorted by event time before the
    * carry walk, so replaying a log IN EVENT-TIME ORDER reproduces the
    * batch fill exactly (spec-pinned; equal timestamps are ambiguous in
    * both forms — the batch op requires a tiebreak by contract, and the
    * twin has no orderCols arm; a tied-at-the-frontier arrival is
    * treated as in-order, the [[streamingPaths]] tie rule).
    *
    * The honest streaming caveat (the [[streamingPaths]]
    * drop-not-fabricate convention): a row arriving BELOW the frontier
    * cannot be filled from bounded state — the value "before it" lives
    * only in the batch order — so a late NULL row emits None (an
    * UNDER-fill; the batch would fill it with an earlier value, and
    * filling from the newer carry would fabricate a fill the batch
    * never produces) and a late NON-NULL row emits its own value but
    * does NOT move the frontier or carry (state cannot retroactively
    * insert history). A NULL KEY is a real group — the batch op fills
    * it as its own window partition, so the twin groups it too (an
    * Option grouping key; the emitted key reads null). Null timestamps
    * are dropped at the gate (the stream has no event-time place for
    * them; the batch op sorts them last).
    */
  def streamingForwardFill(stream: DataFrame, keyCol: String,
                           tsCol: String, valueCol: String)
      : org.apache.spark.sql.Dataset[FilledValue] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    import StateEnvelope.Enveloped
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(keyCol).cast(StringType).as("k"),
        unix_micros(col(tsCol).cast(TimestampType)).as("t"),
        col(valueCol).cast(DoubleType).as("v"))
      .where(col("t").isNotNull)
      .as[(Option[String], Long, Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Enveloped, FilledValue](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (keyOpt, rows, state: GroupState[Enveloped]) =>
          val key = keyOpt.orNull
          var (frontier, carry) = state.getOption
            .map(StateEnvelope.decodeFfill)
            .getOrElse((Long.MinValue, Option.empty[Double]))
          val out = Seq.newBuilder[FilledValue]
          rows.toSeq.sortBy(_._2).foreach { case (_, t, v) =>
            if (t >= frontier) {
              if (v.isDefined) carry = v
              frontier = t
              out += FilledValue(key, t, carry)
            } else {
              // late: emit as-is, never fabricate a fill or move state
              out += FilledValue(key, t, v)
            }
          }
          state.update(StateEnvelope.encodeFfill(frontier, carry))
          out.result().iterator
      }
  }
}
