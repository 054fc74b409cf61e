package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dumps formatted physical plans of headline queries to PLANS.md — the
  * plan-quality evidence (pushdown, pruning, broadcast, codegen spans).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/root/repo/PLANS.md"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val picks = Seq(
      "q01_pricing_summary" ->
        "Pushdown + pruning: the scan reads only the 5 referenced columns; the whole agg is one WholeStageCodegen span with partial (map-side) aggregation before the single shuffle.",
      "q05_pearson_lineitem" ->
        "ALL pairwise Pearson coefficients + shared-row counts in ONE aggregation pass over the prepared frame — no per-pair jobs in the plan.",
      "q22_minhash_lsh" ->
        "Signatures come from the native per-row ww_minhash expression (zero shuffle for the signature stage); candidate pairs only materialize via the band-signature equi-join (shuffle key = (band, sig, chunk cell)) — no cross join appears anywhere in the plan. The SkewJoin window supplies per-bucket chunk counts, so a degenerate bucket grid-splits into bounded cells instead of one quadratic task. Exact verification is candidate-local: the small pair set joins back to the two texts and Jaccard is per-row arithmetic over tokenize-once ww_ngrams md5 sets — the corpus shingle table never exists, so there is nothing to cache or checkpoint and the whole operator is one lazy plan.",
      "q27_ann_cosine" ->
        "The bounded query side is broadcast; the candidate scan streams through a BroadcastNestedLoopJoin with the native codegen ww_vector_dot expression.",
      "q31_top_values" ->
        "groupBy + orderBy + limit compiles to partial TakeOrderedAndProject — the top-k never leaves executors unsorted.",
      "q44_learned_datetime" ->
        "Learned-format coercion is a single try_to_timestamp projection feeding a partial-aggregated groupBy: the driver-side format vote (<=100 sampled rows) never appears in the distributed plan, and the inference stats scan short-circuits the 12-format cascade behind compiled shape-regex guards.",
      "q47_image_meta" ->
        "Multimodal decode is one narrow mapPartitions over the payload column — header parsing stays executor-side with no shuffle at all; the only exchange is the final presentation sort.",
      "q52_hash_split" ->
        "Split assignment and sampling are pure md5-hash projections — the only exchanges are the two count aggregations' partial-agg shuffles over three split rows; no RNG, no sort, nothing driver-side.",
      "q53_contamination" ->
        "The benchmark gram side collapses to a BroadcastExchange (eval sets are small) and the corpus side builds grams with the native per-row ww_ngrams expression — tokenizer runs once per row, NO pre-join exchange of any kind — so the corpus streams map-side through the BroadcastHashJoin and only MATCHED gram hits reach the (doc, bench) aggregation shuffle; there is no corpus-wide distinct anywhere.",
      "q57_sessionize" ->
        "The lag window, the running-sum window and the per-session aggregation all ride ONE hashpartitioning(user_id) exchange: both windows share a spec, and the aggregation's grouping key starts with the partition key so Catalyst inserts no second shuffle.",
      "q58_iloc" ->
        "Small positional slices compile to TakeOrderedAndProject (per-task bounded heaps, no sort shuffle, no RDD round-trip) plus one bounded window over at most `until` rows — the zipWithIndex full-deserialization path is gone.",
      "q64_ivf_pq" ->
        "IVF-PQ: the index side is pure projections (cluster assignment + PQ codes — the raw vectors never shuffle); the probe side broadcasts; scoring is ADC (dot against the one-time decode, candidate norm from a per-code literal lookup). The only exchange after the broadcast join is the presentation sort.",
      "q68_asof_join" ->
        "As-of join is the union-sort shape: ONE hashpartitioning(user_id) exchange feeds a single running last() window over (time, side); no range join, no per-key nested loop, no BroadcastNestedLoopJoin anywhere in the plan.",
      "q69_range_join" ->
        "Point-in-interval via bin bucketing: intervals explode to covered bins and the match is a bin equi-join + exact containment filter — Spark's default plan for a BETWEEN join (nested loop against every interval) never appears.",
      "q73_line_dedup" ->
        "Repeated-line removal: the boilerplate line set (the only corpus-frequency aggregate) anti-joins the exploded corpus with NO forced hint — the set is usually tiny (AQE broadcasts it, as this plan shows) but is unbounded at minDocs=2 on a big crawl, so the strategy choice is left to runtime statistics. The only full shuffles are the line-count groupBy and the per-document reassembly groupBy, and reassembly sorts positions inside a bounded per-row array, never corpus-wide.",
      "q74_bloom_contamination" ->
        "Bloom decontamination is a pure scalar pipeline: the 1M-bit filter rides the plan as ONE array literal (no per-element codegen, no join), each gram tests 5 indexed bit probes, and the corpus scan streams with zero exchanges before the presentation sort — the shape that stays constant-memory when the contamination set is a billion grams.",
      "q77_lm_score" ->
        "Bigram LM train+score in one plan: per-gram and per-context counts are partition-window counts over the SAME gram table — the corpus is tokenized once, the model never materializes as a table or a driver object, and the three exchanges (gram hash, context hash, doc id) are the plan's only data movement.",
      "q79_repeated_spans" ->
        "Exact-substring dedup without a suffix array: the gram table is posexplode + per-doc window lead (tokenizer runs once per row); the duplicated-gram set is one partial-aggregated hash groupBy on the 32-byte md5 key, marked back via a shuffle semi-join on the SAME key; span merge is lag + running-sum inside a per-doc window. No all-pairs join, no driver state — every stage is linear in corpus size.",
      "q80_naive_bayes" ->
        "Naive Bayes train + score as one lazy plan: training is a (label, token) count shuffle; the model (vocab × classes — model-sized, not data-sized) re-enters via BroadcastExchange, so corpus scoring streams map-side and the only post-broadcast exchange is the per-document aggregation. Fixed-point BIGINT log-likelihoods keep every aggregate order-independent, so the plan is retry- and partitioning-stable by construction.",
      "q84_cross_decontamination" ->
        "Cross-set semantic decontamination: both sides bucket under IDENTICAL hyperplane literals as codegen projections; the benchmark side collapses to a BroadcastExchange, so the corpus streams map-side through the bucket equi-join with ZERO corpus shuffle, and only same-bucket pairs pay the native ww_vector_dot cosine.",
      "q85_curriculum" ->
        "Global score rank with NO global window: range repartition on (score, id), per-partition offsets from P driver scalars, per-partition row_number + offset, then pure-arithmetic bin assignment. The single-partition Window.orderBy a naive ntile would use never appears.",
      "q91_curate_pipeline" ->
        "End-to-end curation (gate, scrub, dedup, report) stays ONE lazy plan per output: the Gopher conjunction and PII redaction are pure projections fused into the scan, dedup is a fingerprint-partitioned window, and the funnel report is three small per-source aggregates joined at the end — no intermediate materialization anywhere.",
      "q94_rolling_window" ->
        "Rolling trailing-window features: a per-user RANGE frame over epoch micros — the only exchange is hashpartitioning(user_id); there is no global sort, and the frame arithmetic is integer so results are engine-exact.",
      "q102_neardup_scaled" ->
        "Corpus-scale embedding near-dup: both hyperplane families are codegen sign-bit projections (zero shuffle for signatures); candidates exist only inside (table, bucket) equi-join cells, skew-guarded by the grid-split window; the pair set dedups on ids before the cosine. The plane count grows with log2(n), so bucket sizes — and with them the join's per-key volume — hold constant as the corpus scales; the fixed-plane quadratic shape the sf1 stress measured (BENCH_SF1.md) cannot appear.",
      "q103_pca_project" ->
        "PCA projection: the fitted components enter the plan as literal planes — one native ww_vector_dot per component, all inside a single WholeStageCodegen projection over the scan; no shuffle at all before the presentation sort. The fit itself (treeAggregate moment partials + driver Jacobi) happens before this plan exists and leaves no trace in it — the projected corpus never pays the fit again.",
      "q108_video_frames" ->
        "Video frame sampling: container parse + 1-to-n frame explosion is one mapPartitions over the payload column — metadata, timestamps, and the byte-accurate mdat seeks all stay executor-side with no shuffle; the only exchange is the presentation sort. At 100 TB this is a pure linear map stage over payload bytes.",
      "q109_heavy_hitters" ->
        "Heavy hitters: ObjectHashAggregate runs a partial_ww_heavy_hitters pass per partition — the Misra-Gries summary combines MAP-SIDE, so the exchange carries one <=capacity-entry serialized state per (partition, group), never one row per distinct value. Aggregation state and shuffle volume are independent of the column's cardinality.",
      "q112_salted_join" ->
        "Salted equi-join: hot fact keys scatter across (key, salt) sub-keys while the dim side explodes its hot rows to every salt (the Generate node). At fixture scale the salted dim still fits the broadcast threshold, so Catalyst picks BroadcastHashJoin and the facts never shuffle at all — broadcast beats salting whenever it's available. When the dim outgrows broadcast, the same plan becomes a shuffle join whose hashpartitioning covers BOTH (key, salt) columns, so no partition receives more than ~1/salt of any hot key — the case salting exists for; cold keys ride salt 0 untouched either way.",
      "q133_fuzzy_join" ->
        "FastSS fuzzy join (maxDist = 1): dist-0 pairs are a grid-guarded value self-join; dist-1 candidates exist only inside deletion-variant equi-join cells over DISTINCT values (the Generate nodes build 1-deletion neighborhoods as pure projections — no shuffle to construct either side), and the banded levenshtein verifies BEFORE the pair distinct, so the dedup exchange carries true matches only. No cartesian product and no nested-loop join anywhere; value-level matches expand to id pairs through two output-bound hash joins.",
      "q134_snapshot_diff" ->
        "Snapshot diff: ONE full-outer SortMergeJoin on the key — each snapshot is hash-partitioned exactly once — and every per-column verdict (null-safe compares, changed-column list, counts) is a codegen projection riding the join output; the only later exchange is the presentation sort. Output carries key + verdict, never both payloads.",
      "q150_t_closeness_ordered" ->
        "Ordered t-closeness (EMD): ONE row-scale exchange total — the class-value aggregation's — shared by every derived statistic (the sizes branch consumes it directly; the global distribution and the (n, m) totals read it back through ReusedExchange nodes; the grid's join branch re-reads the scan once more only because join null-filter inference changes its pushed filters). The class × vocabulary grid is built from ALREADY-REDUCED frames (classes crossJoin broadcast vocabulary), the cumulative-difference window partitions by class over grid rows, and the report is one bounded aggregate — nothing row-scale moves after the first shuffle.",
      "q136_gopher_repetition" ->
        "Gopher repetition signals: the unit table is built with PLAIN explodes (line rows + an (n × position) double explode whose rowwise slice/array_join gram build is all codegen — no interpreted HOF lambdas); the (id, n, unit) count is a partial-aggregated hash groupBy and the per-doc roll-up is a second HashAggregate on id (the top-gram max rides as ONE packed BIGINT so nothing falls back to a sort aggregate) — the value_counts melt shape, linear end to end with map-side combines on both exchanges.",
      "q160_cohort_retention" ->
        "Cohort retention: the log collapses through ONE actor-keyed partial-aggregated groupBy (first events), events re-meet that actor frame in a join whose small side AQE broadcasts, the (cohort, offset, actor) distinct collapses map-side before its exchange, and cohort sizes arrive through an explicit broadcast join — after the first aggregation nothing row-scale moves, and every exchange is actor- or cell-bounded.")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence for headline operators\n\n")
    sb.append("Generated by `graft.PlanDump` (sf0.01, local[8]). Each section: why the\n")
    sb.append("plan is the one we want at 100 TB, then `explain(\"formatted\")` output.\n")
    sb.append("""
## Measured NEGATIVE results — do not re-attempt without new evidence

Plan shapes that look like obvious optimizations and were MEASURED SLOWER,
recorded here (the plan-evidence file) so a future optimizer pass doesn't
re-spend a round on them. Full numbers in BENCH_SF1.md §"Round-9 probes".

1. **Exchange-free q136 (gopher repetition).** Docs are one row each, so
   repartitioning the corpus by id and unifying the line/gram branches
   into ONE explode lineage provably removes both unit-table exchanges
   (verified exchange-free by plan assert). It LOSES 2×: 7.5 s vs 4.5 s
   at sf0.1, 99 s vs 43 s steady at 100×, back-to-back. With ~all-unique
   fingerprint keys the two unit exchanges are cheap sequential I/O,
   while stacking the partial+final unit maps AND the per-doc roll-up
   into one pipeline stage makes the blocking hash aggregates share a
   single task memory pool — spill pressure replaces shuffle I/O and
   loses. The union shape with fingerprinted keys stays.

2. **Per-row q136 twin as the batch default.** The zero-shuffle per-row
   `repetitionMetrics` (the streaming-gate shape — all work in HOF
   lambdas inside one projection) measured 98–114 s on the same 100×
   corpus where the two-exchange batch aggregation runs 43 s: the
   interpreted higher-order-function lambdas cost more than the two
   fingerprint shuffles save. The per-row twin remains correct and is
   the right shape where a shuffle is unavailable (streaming gates);
   ProbeQ136 pins both paths.

3. **One-scan batched sketch screen for key discovery (r10).** Batching
   30 `approx_count_distinct` sketches into ONE aggregation (one scan,
   no Expand — looks strictly cheaper than 30 jobs) measured ~9 s vs
   ~2 s for 30 narrow CONCURRENT sketch jobs at sf0.1: 30 interpreted
   HLL updates per row in one stage lose to 30 pruned codegen scans
   that overlap in the scheduler. Same jobs-beat-batched result as the
   exact-distinct Expand (q139/q129, BENCH_SF1.md) — the screen now runs as
   concurrent per-candidate jobs (ProbeScreen).

4. **`percentile_approx` as describe's scale path (r11).** The approx
   sketch was the documented 100 TB default while exact quartiles were
   sort-shaped. With exact quartiles now the sort-free histogram walk,
   the approx knob is the SLOW plan at every measured scale — 47.3 s vs
   11.2 s exact at 150×/90M rows (BENCH_SF1 §r11): ApproximatePercentile
   is an ObjectHashAggregate outside whole-stage codegen and its
   per-column final sketch merge is single-threaded. The approx knob
   is deleted; describe has only the exact path.

5. **Fused (column, region, bucket) exact-quantile levels (r12).** Fusing
   the histogram walk's k concurrent per-column per-level aggs into ONE
   job needs an explode carrying a (cid, bucket, value) tuple per live
   column per row — the Expand geometry yet again. Measured on a
   20-numeric-column frame at 30×/18M rows (ProbeQuantFusion,
   level-for-level honest): per-column 14.1 s, fused **124.7 s (8.8×
   slower)**. The scheduler round-trips fusion saves (~60 small jobs →
   ~3) are worth nothing against 20× row replication through the
   shuffle. Same verdict as #1–#3; the per-column concurrent walk
   stays for any describe width.

6. **String-concatenation tuple encodings as sketch inputs (r12).**
   Feeding `hll_sketch_agg` a gated `concat_ws` of string-cast
   components measured 3× the per-side aggregation cost of hashing the
   same casts through `xxhash64` (9.9 s vs 3.5 s for 5 sketches over
   60M rows, ProbeSketchCost; one cold session read 8×): aggregate
   input expressions evaluate INTERPRETED inside ObjectHashAggregate,
   so per-row UTF8String building dominates. Any sketch/screen input
   that only needs a shared deterministic encoding should hash, not
   concatenate — `screenTupleAgg` (keys/FDs) and `indSketchInput`
   (INDs) both do.
""")
    for ((name, note) <- picks) {
      val df = Queries.all(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(plan.linesIterator.take(80).mkString("\n"))
      sb.append("\n```\n")
    }
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plandump] wrote $out")
    spark.stop()
  }
}
