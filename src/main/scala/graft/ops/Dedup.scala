package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.WorkingSet

/** Deduplication operators for training-data pipelines, each designed as
  * shuffle-conscious distributed plans:
  *
  *   - exact: one hash-groupBy (single shuffle on the key).
  *   - n-gram Jaccard: shingle arrays + array_intersect/union — exhaustive
  *     only over bounded subsets; the scale path is MinHash-LSH below.
  *   - MinHash-LSH: shingle→64 minhashes→banded buckets; candidate pairs
  *     only ever materialize within a bucket (shuffle is by band hash, never
  *     all-pairs), then exact-Jaccard verification filters false positives.
  *   - SimHash: 64-bit signature via per-bit token-hash voting; near-dup
  *     candidates by 16-bit chunk banding (Hamming ≤ 3 ⇒ some chunk equal),
  *     verified with bit_count(xor).
  */
object Dedup {

  /** Exact duplicate groups on a key expression: (key_hash, cnt, keeper).
    * One shuffle; at 100 TB this is the canonical hash-dedup.
    */
  def exactDuplicates(df: DataFrame, key: Column, idCol: Column): DataFrame =
    df.groupBy(md5(key.cast(StringType)).as("key_hash"))
      .agg(count(lit(1)).as("cnt"), min(idCol).as("keeper"))
      .where(col("cnt") > 1)

  /** Distinct word n-gram shingles from a PRE-MATERIALIZED tokens column.
    * The lambda references the tokens many times; if the tokenizer expression
    * were inlined here, interpreted HOF evaluation would re-run the regex per
    * element_at — always shingle via [[shingleTable]] / a tokens column.
    */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column = {
    val grams = when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array(concat_ws(" ", toks)))
    array_distinct(grams)
  }

  /** Exploded distinct shingle table (id, sh): posexplode tokens once, build
    * n-grams with window lead() within each document. This is the hot-path
    * shape — array-of-shingles HOFs evaluate interpreted AND CollapseProject
    * re-inlines the tokenizer into every element_at, re-running the regex per
    * gram element; the exploded form runs the tokenizer exactly once per row
    * and keeps everything in codegen. Documents with fewer than n tokens
    * contribute their whole normalized text as one shingle (matching the
    * array-based definition above).
    */
  def shingleTable(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    // both branches derive from ONE materialized tokens projection: the
    // Generate (long branch) and the Filter (short branch) each evaluate
    // the tokenizer once per row — inlining it per use would run the regex
    // three times per row
    val tokked = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val toks = tokked.select(col("id"),
      posexplode(col("toks")).as(Seq("pos", "tok")))
    val w = Window.partitionBy("id").orderBy("pos")
    val grams = toks
      .withColumn("sh",
        concat_ws(" ", (0 until n).map(j => lead(col("tok"), j).over(w)): _*))
      .withColumn("last", lead(col("tok"), n - 1).over(w))
      .where(col("last").isNotNull)
      .select("id", "sh")
    val short = tokked
      .where(size(col("toks")) < n)
      .select(col("id"), array_join(col("toks"), " ").as("sh"))
    grams.unionAll(short).distinct()
  }

  /** Distinct word n-gram shingles of a text column (single-expression
    * convenience; prefer [[shingleTable]] in hot paths). The tokenizer is
    * let-bound so the per-position lambda reads a slot, not the regex.
    */
  def shingles(c: Column, n: Int = 3): Column =
    graft.util.Columns.letBind(TextAnalysis.tokens(c))(
      toks => shinglesFromTokens(toks, n))

  /** Exact pairwise n-gram Jaccard over a (bounded) document set: for every
    * pair id1 < id2 with similarity ≥ threshold. Exhaustive cross join —
    * use only on bounded subsets; LSH is the scale path.
    *
    * EAGER: the returned frame is materialized at call time (localCheckpoint)
    * so the internal shingle cache can be freed immediately instead of living
    * until the caller's first action. Checkpoint blocks are released when the
    * returned frame is garbage-collected (ContextCleaner), so repeated calls
    * do not accumulate storage as long as results are not all retained.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.2): DataFrame = {
    // join-based set algebra on the exploded shingle table: intersections
    // come from a shingle-equality self-join (shuffle key = shingle), set
    // sizes from a groupBy — no array HOFs anywhere
    WorkingSet.scoped { ws =>
      val sh = ws.cache(shingleTable(df, idCol, textCol, n))
      val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
      val inter = sh.as("a").join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_1"), col("b.id").as("id_2"))
        .agg(count(lit(1)).as("inter"))
      // exhaustive pair frame over the (small) per-doc size table so
      // zero-overlap pairs keep a 0.0 jaccard (API parity with thresholds ≤ 0)
      val pairs = sizes.as("x").join(sizes.as("y"), col("x.id") < col("y.id"))
        .select(col("x.id").as("id_1"), col("y.id").as("id_2"),
          col("x.sz").as("sz1"), col("y.sz").as("sz2"))
      val j = (col("inter").cast(DoubleType)) /
        ((col("sz1") + col("sz2")).cast(DoubleType) - col("inter").cast(DoubleType))
      val out = pairs.join(inter, Seq("id_1", "id_2"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .select(col("id_1"), col("id_2"), round(j, 4).as("jaccard"))
        .where(col("jaccard") >= threshold)
      // materialize the (small) pair result before the scope frees the
      // cached shingle table — repeated dedup calls must not accumulate
      // executor cache blocks
      out.localCheckpoint(eager = true)
    }
  }

  /** MinHash signatures: `numHashes` permutations derived from TWO base
    * string hashes via XOR-rotate mixing h_i = h1 ⊕ rotl(h2, i) (the
    * two-hash family trick à la Kirsch-Mitzenmacher, in overflow-free bit
    * ops because ANSI mode faults on wrapping add/multiply) — each shingle
    * is hashed twice, not `numHashes` times. One explode + one groupBy(doc):
    * the shuffle carries (doc, shingle) pairs once, and the 64 min
    * aggregates are plain codegen'd long mins.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 64): DataFrame =
    minhashSignaturesFromTable(shingleTable(df, idCol, textCol, n), numHashes)

  /** Signatures from an existing (id, sh) shingle table. */
  def minhashSignaturesFromTable(sh: DataFrame, numHashes: Int = 64): DataFrame = {
    val exploded = sh
      .withColumn("h1", xxhash64(col("sh")))
      .withColumn("h2", xxhash64(lit(1), col("sh")))
    def rotl(c: Column, i: Int): Column =
      if (i == 0) c
      else shiftleft(c, i).bitwiseOR(shiftrightunsigned(c, 64 - i))
    val minAggs = (0 until numHashes).map(i =>
      min(col("h1").bitwiseXOR(rotl(col("h2"), i))).as(s"h$i"))
    exploded.groupBy("id").agg(minAggs.head, minAggs.tail: _*)
  }

  /** LSH candidate pairs from banded minhash signatures, verified with exact
    * Jaccard ≥ threshold. bands×rowsPerBand must equal the signature width;
    * more bands → higher recall at lower thresholds. With 32 bands of 2 the
    * miss probability at j=0.6 is (1-0.36)^32 ≈ 6e-7.
    */
  private def nativeMinhashAvailable: Boolean =
    try {
      org.apache.spark.sql.SparkSession.active.catalog
        .functionExists("ww_minhash")
    } catch { case _: Throwable => false }

  private def nativeNgramsAvailable: Boolean =
    try {
      org.apache.spark.sql.SparkSession.active.catalog
        .functionExists("ww_ngrams")
    } catch { case _: Throwable => false }

  /** (id, band, sig) LSH bucket table for a corpus — signatures from the
    * per-row native `ww_minhash` when registered (zero shuffle), else the
    * bit-identical aggregation fallback.
    */
  private[graft] def bandBuckets(df: DataFrame, idCol: String, textCol: String,
                          n: Int, numHashes: Int, bands: Int): DataFrame = {
    require(bands > 0 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got bands=$bands, numHashes=$numHashes) " +
        "— a remainder would silently drop signature rows from banding")
    val rowsPer = numHashes / bands
    val sigs =
      if (nativeMinhashAvailable)
        df.select(col(idCol).as("id"),
          call_function("ww_minhash", TextAnalysis.tokens(col(textCol)),
            lit(n), lit(numHashes)).as("sig"))
          .where(col("sig").isNotNull)
      else {
        val wide = minhashSignaturesFromTable(
          shingleTable(df, idCol, textCol, n), numHashes)
        wide.select(col("id"),
          array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
      }
    val bandCols = (0 until bands).map { b =>
      val elems = (0 until rowsPer).map(r =>
        element_at(col("sig"), b * rowsPer + r + 1))
      struct(lit(b).as("band"), xxhash64(elems: _*).as("bsig"))
    }
    sigs.select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bsig").as("sig"))
  }

  /** Distinct md5 gram set of a text column (tokenize-once native
    * `ww_ngrams` when registered); short docs fingerprint their whole
    * normalized text — the shared verification representation.
    */
  private def gramSetExpr(t: Column, n: Int): Column =
    // let-bound so the fallback's per-position lambda reads a slot
    // instead of re-running the tokenizer regex per element (the native
    // ww_ngrams path evaluates its argument once either way)
    graft.util.Columns.letBind(TextAnalysis.tokens(t)) { toks =>
      val grams =
        if (nativeNgramsAvailable)
          call_function("ww_ngrams", toks, lit(n))
        else transform(shinglesFromTokens(toks, n), g => md5(g))
      when(size(toks) >= n, grams)
        .otherwise(array(md5(array_join(toks, " "))))
    }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                      threshold: Double = 0.6): DataFrame =
    minhashLshPairsFromBuckets(df,
      bandBuckets(df, idCol, textCol, n, numHashes, bands),
      idCol, textCol, n, threshold)

  /** [[minhashLshPairs]] with an injected (id, band, sig) bucket table —
    * for callers that already built one (r17: releaseFunnel's keep-best
    * and decontamination stages share a single ww_minhash pass instead
    * of tokenizing + hashing the corpus twice). `buckets` MUST be
    * [[bandBuckets]] output over the same (df, idCol, textCol, n)
    * or a row-subset of it.
    */
  private[graft] def minhashLshPairsFromBuckets(
      df: DataFrame, buckets: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    // signatures: per-row native expression when registered — NO shuffle at
    // all for the signature stage (the aggregation fallback shuffles every
    // (doc, shingle) pair of the corpus); both paths produce bit-identical
    // signatures (same two-hash XOR-rotate family, same xxhash64 seeds)
    // skew-guarded: a band bucket full of near-identical docs grid-splits
    // instead of one quadratic task
    val cand = SkewJoin.selfPairs(buckets, Seq("band", "sig"), "id")
      .select(col("x_id").as("id_1"), col("y_id").as("id_2"))
      .distinct()
    // exact verification stays candidate-local: the (small) pair set joins
    // back to the two docs' shingle-hash SETS and Jaccard is pure array
    // arithmetic per matched row — the corpus shingle table is never
    // materialized or shuffled, and the result is an ordinary LAZY frame
    // (nothing cached, nothing to free). Gram sets come from the native
    // tokenize-once ww_ngrams (md5 sets intersect identically to raw
    // shingles); short docs keep the whole-text-shingle convention.
    def gramSet(t: Column): Column = gramSetExpr(t, n)
    val texts = df.select(col(idCol).as("id"), col(textCol).as("t"))
    val withSets = cand
      .join(texts.select(col("id").as("id_1"), col("t").as("t1")), "id_1")
      .join(texts.select(col("id").as("id_2"), col("t").as("t2")), "id_2")
      .select(col("id_1"), col("id_2"),
        gramSet(col("t1")).as("g1"), gramSet(col("t2")).as("g2"))
    val inter = size(array_intersect(col("g1"), col("g2"))).cast(DoubleType)
    val j = inter /
      ((size(col("g1")) + size(col("g2"))).cast(DoubleType) - inter)
    withSets
      .select(col("id_1"), col("id_2"), round(j, 4).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Resolve near-duplicate PAIRS into duplicate CLUSTERS: connected
    * components by iterative min-label propagation; the cluster id is the
    * smallest member id. This is the step that turns any pair detector
    * (exhaustive Jaccard, MinHash-LSH, SimHash, embedding near-dup) into
    * keep/drop decisions — keep each cluster's labeled representative, drop
    * the rest.
    *
    * Scale shape: each round is one equi-join + one groupBy over the edge
    * list (shuffle key = node id), and min-labels propagate transitively —
    * a node adopts its neighbor's label which already folded THEIR
    * neighbors from the prior round — so convergence takes O(log diameter)
    * to O(diameter) rounds. Near-dup clusters are shallow (variants link
    * through hub documents); `maxIter` bounds adversarial chains. Lineage
    * is truncated per round (an eager local checkpoint) so the iterative
    * plan cannot grow without bound; the result is EAGER like the other
    * pair ops. Each round's checkpoint is released once the next one
    * supersedes it: the driver-side path returns driver values and leaves
    * nothing persisted, the distributed path leaves only the returned
    * labels.
    */
  def duplicateClusters(pairs: DataFrame, idCol1: String = "id_1",
                        idCol2: String = "id_2",
                        maxIter: Int = 20): DataFrame = WorkingSet.scoped { ws =>
    // materialize the pair set ONCE before the size probe: without this,
    // a >bound pair set would run the (expensive) upstream pair pipeline
    // twice — once for the probe collect, again for the distributed rounds
    val e0 = ws.checkpoint(pairs.select(col(idCol1).as("a"), col(idCol2).as("b")))
    // near-dup pair sets are tiny relative to the corpus (every pair IS a
    // duplicate); below the bound a driver-side union-find replaces ~10
    // tiny Spark jobs (edge checkpoint + per-round join/agg/count) with one
    // collect — same result, constant factor down. The distributed rounds
    // below remain the path for adversarially dense pair sets.
    val smallBound = 1000000L
    val longIds = e0.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    val head =
      if (longIds) e0.limit((smallBound + 1).toInt).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (longIds && head.length <= smallBound) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
        }
        r
      }
      head.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          // union by min so the representative is the smallest member id
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
        parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
      }
      ws.release(e0)
      val ids = head.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      val spark = pairs.sparkSession
      import spark.implicits._
      ids.map(id => (id, find(id))).toSeq.toDF("id", "cluster_id")
    } else {
      val edges = ws.checkpoint(
        e0.union(e0.select(col("b").as("a"), col("a").as("b"))).distinct())
      ws.release(e0)
      // round 0: every node takes min(self, smallest direct neighbor)
      var labels = ws.checkpoint(edges.groupBy(col("a").as("id"))
        .agg(min(col("b")).as("nbr"))
        .select(col("id"), least(col("id"), col("nbr")).as("label")))
      var iter = 0
      var changed = 1L
      while (changed > 0 && iter < maxIter) {
        val nbrMin = edges
          .join(labels.select(col("id").as("b"), col("label").as("lb")), "b")
          .groupBy(col("a").as("id")).agg(min(col("lb")).as("nbrLabel"))
        val next = ws.checkpoint(labels
          .join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nbrLabel"), col("label")))
              .as("label"),
            col("label").as("prev")))
        changed = next.where(col("label") =!= col("prev")).count()
        ws.release(labels)
        labels = next
        iter += 1
      }
      ws.release(edges)
      ws.escape(labels).select(col("id"), col("label").as("cluster_id"))
    }
  }

  /** Text-level cross-corpus decontamination: corpus documents that
    * NEAR-DUPLICATE any benchmark document — the MinHash sibling of the
    * exact n-gram overlap ([[Corpus.contamination]]) and the embedding
    * variant ([[Similarity.crossSetMatches]]); this is the one that
    * catches lightly-edited eval items.
    *
    * Plan shape for 100 TB: both sides bucket under the SAME signature
    * family; the benchmark bucket table (eval sets are small) is
    * broadcast, so the corpus streams map-side through the (band, sig)
    * equi-join with ZERO corpus shuffle; exact Jaccard verification is
    * candidate-local with the bench text side broadcast too.
    *
    * Output: (corpus_id, bench_id, jaccard) with jaccard ≥ threshold.
    */
  def crossMinhashMatches(corpus: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String, n: Int = 3,
                          numHashes: Int = 64, bands: Int = 32,
                          threshold: Double = 0.6): DataFrame =
    crossMinhashMatchesFromBuckets(corpus,
      bandBuckets(corpus, idCol, textCol, n, numHashes, bands),
      bench, idCol, textCol, n, numHashes, bands, threshold)

  /** [[crossMinhashMatches]] with an injected CORPUS bucket table (see
    * [[minhashLshPairsFromBuckets]]); the bench side is always rebuilt —
    * eval sets are small.
    */
  private[graft] def crossMinhashMatchesFromBuckets(
      corpus: DataFrame, corpusBuckets: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val cb = corpusBuckets
    val bb = bandBuckets(bench, idCol, textCol, n, numHashes, bands)
      .withColumnRenamed("id", "bench_id")
    val cand = cb.join(broadcast(bb), Seq("band", "sig"))
      .select(col("id").as("corpus_id"), col("bench_id"))
      .distinct()
    // candidate-local verification: join the candidate ids to the raw
    // texts FIRST, then build gram sets on matched rows only — computing
    // gramSetExpr under the corpus projection would tokenize the whole
    // corpus a second time and shuffle full gram-set columns
    val ct = corpus.select(col(idCol).as("corpus_id"), col(textCol).as("t1"))
    val bt = bench.select(col(idCol).as("bench_id"), col(textCol).as("t2"))
    val withSets = cand.join(ct, "corpus_id").join(broadcast(bt), "bench_id")
      .select(col("corpus_id"), col("bench_id"),
        gramSetExpr(col("t1"), n).as("g1"), gramSetExpr(col("t2"), n).as("g2"))
    val inter = size(array_intersect(col("g1"), col("g2"))).cast(DoubleType)
    val j = inter /
      ((size(col("g1")) + size(col("g2"))).cast(DoubleType) - inter)
    withSets
      .select(col("corpus_id"), col("bench_id"), round(j, 4).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Incremental exact dedup for rolling ingest: keep each batch row only
    * if (a) it is the FIRST occurrence of its content fingerprint within
    * the batch (min id wins — deterministic across retries) and (b) the
    * fingerprint is absent from the already-ingested `seen` set. The
    * per-day pattern at 100 TB: the seen set is a fingerprint TABLE (not a
    * driver structure), the batch anti-joins it on the fingerprint hash —
    * one shuffle each for the within-batch window and the anti join, both
    * keyed on the 32-byte md5. For probabilistic constant-memory gating at
    * ingest use [[graft.streaming.StreamingFrame.bloomDecontaminate]];
    * this operator is the exact batch reconciliation.
    *
    * Output: batch rows that survive, plus their `fingerprint` column
    * (append it to the seen table for the next increment).
    */
  def incrementalDedup(batch: DataFrame, idCol: String, textCol: String,
                       seen: DataFrame): DataFrame = {
    require(seen.columns.contains("fingerprint"),
      "seen set needs a 'fingerprint' column")
    import org.apache.spark.sql.expressions.Window
    val fp = batch.withColumn("fingerprint",
      TextAnalysis.fingerprint(col(textCol)))
    val w = Window.partitionBy(col("fingerprint")).orderBy(col(idCol))
    fp.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
      .join(seen.select(col("fingerprint")), Seq("fingerprint"), "left_anti")
  }

  /** End-to-end near-duplicate removal: LSH pairs → connected components →
    * keep each cluster's smallest-id representative, drop the rest. Returns
    * the surviving corpus with the original columns. The final filter is a
    * left anti join on the drop list (cluster members that are not the
    * label); the list's size is the duplicate count, so the join is left
    * unhinted — AQE broadcasts it when duplication is light and shuffles
    * when a crawl-heavy corpus makes the list genuinely large.
    */
  def deduplicate(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, threshold: Double = 0.6): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, n = n,
      threshold = threshold)
    val drops = duplicateClusters(pairs)
      .where(col("id") =!= col("cluster_id"))
      .select(col("id").as(s"__drop_$idCol"))
    df.join(drops, col(idCol) === col(s"__drop_$idCol"), "left_anti")
  }

  /** Quality-aware near-duplicate resolution: instead of [[deduplicate]]'s
    * keep-the-min-id convention, each duplicate cluster keeps its
    * BEST-scoring member (score desc, id asc tie-break) — the form curation
    * pipelines actually want ("of these 40 near-copies, keep the longest /
    * highest-quality one"). Singleton documents pass through untouched.
    * One extra bounded window over the clustered rows; the pair/cluster
    * machinery is identical to [[deduplicate]].
    */
  def deduplicateKeepBest(df: DataFrame, idCol: String, textCol: String,
                          scoreCol: String, n: Int = 3,
                          threshold: Double = 0.6): DataFrame =
    deduplicateKeepBestFromPairs(df,
      minhashLshPairs(df, idCol, textCol, n = n, threshold = threshold),
      idCol, scoreCol)

  /** [[deduplicateKeepBest]] over an already-built pair frame (see
    * [[minhashLshPairsFromBuckets]]).
    */
  private[graft] def deduplicateKeepBestFromPairs(
      df: DataFrame, pairs: DataFrame, idCol: String, scoreCol: String)
      : DataFrame = {
    val clusters = duplicateClusters(pairs)
      .select(col("id").as("__cid"), col("cluster_id").as("__cluster"))
    val withCl = df.join(clusters, col(idCol) === col("__cid"), "left")
      .withColumn("__cl", coalesce(col("__cluster"), col(idCol)))
      .drop("__cid", "__cluster")
    val w = Window.partitionBy(col("__cl"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    withCl.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .drop("__rk", "__cl")
  }

  /** SimHash bit width: 60 bits = 15 hex chars of md5, the widest slice that
    * fits a signed 64-bit int in every engine — the token hash is therefore
    * engine-portable (md5 is universal), unlike xxhash64.
    */
  val SimhashBits = 60

  private def nativeSimhashAvailable: Boolean =
    try {
      org.apache.spark.sql.SparkSession.active.catalog
        .functionExists("ww_simhash")
    } catch { case _: Throwable => false }

  /** 60-bit SimHash per document: per-bit vote of md5-derived token hashes.
    * With the native `ww_simhash` expression registered, signatures compute
    * per row with NO shuffle (votes never leave the document's row); the
    * fallback explodes (doc, token) once and folds 60 sum aggregates into
    * the signature. Both paths are bit-identical.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    if (nativeSimhashAvailable)
      // token-less documents are excluded, matching the explode path (an
      // empty explode emits no rows for them)
      return df
        .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
        .where(col("toks").isNotNull && size(col("toks")) > 0)
        .select(col("id"), call_function("ww_simhash", col("toks")).as("simhash"))
    val exploded = df.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("h",
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast(LongType))
    val bitSums = (0 until SimhashBits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$i"))
    val summed = exploded.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimhashBits).map(i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
      .reduce(_.bitwiseOR(_))
    summed.select(col("id"), sig.as("simhash"))
  }

  /** Near-duplicate pairs by SimHash Hamming distance ≤ maxDist via the
    * shared [[Hamming.pairs]] banding (maxDist+1 chunks — exact recall by
    * pigeonhole at ANY maxDist, where the previous fixed 4×15-bit banding
    * silently lost pairs past distance 3; at the default maxDist = 3 the
    * chunking is bit-identical to the old shape).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame =
    Hamming.pairs(simhash(df, idCol, textCol), SimhashBits, maxDist,
      sigCol = "simhash")

  // ------------------------------------------------------------ oracle SQL
  object Sql {
    /** Exhaustive n-gram Jaccard pairs in DuckDB (ground truth for both the
      * exhaustive and the LSH variants).
      */
    def jaccardPairs(table: String, idCol: String, textCol: String,
                     n: Int, threshold: Double, filter: String = "true"): String = {
      val toks = s"regexp_extract_all(lower($textCol), '\\S+')"
      s"""WITH t AS (
         | SELECT $idCol AS id,
         |   list_distinct(CASE WHEN len($toks) >= $n
         |     THEN list_transform(range(1, len($toks) - ${n - 2}),
         |            i -> ${(0 until n).map(j => s"$toks[i+$j]").mkString(" || ' ' || ")})
         |     ELSE [array_to_string($toks, ' ')] END) AS sh
         | FROM $table WHERE $filter)
         |SELECT a.id AS id_1, b.id AS id_2,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)), 4) AS jaccard
         |FROM t a JOIN t b ON a.id < b.id
         |WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)), 4) >= $threshold
         |ORDER BY id_1, id_2""".stripMargin
    }

    /** Exhaustive CROSS-set Jaccard (ground truth for
      * [[Dedup.crossMinhashMatches]]): corpus × bench pairs over the same
      * distinct-shingle representation.
      */
    def crossJaccardPairs(table: String, idCol: String, textCol: String,
                          n: Int, threshold: Double, corpusFilter: String,
                          benchFilter: String): String = {
      val toks = s"regexp_extract_all(lower($textCol), '\\S+')"
      val jac = "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
        "(CAST(len(a.sh) + len(b.sh) AS DOUBLE) - " +
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE))"
      s"""WITH t AS (
         | SELECT $idCol AS id,
         |   list_distinct(CASE WHEN len($toks) >= $n
         |     THEN list_transform(range(1, len($toks) - ${n - 2}),
         |            i -> ${(0 until n).map(j => s"$toks[i+$j]").mkString(" || ' ' || ")})
         |     ELSE [array_to_string($toks, ' ')] END) AS sh
         | FROM $table),
         |c AS (SELECT * FROM t WHERE $corpusFilter),
         |q AS (SELECT * FROM t WHERE $benchFilter)
         |SELECT a.id AS corpus_id, b.id AS bench_id,
         |  round($jac, 4) AS jaccard
         |FROM c a JOIN q b ON true
         |WHERE round($jac, 4) >= $threshold
         |ORDER BY corpus_id, bench_id""".stripMargin
    }

    /** Connected components over the Jaccard pair set as a recursive CTE:
      * reach = transitive closure over symmetrized edges, cluster id =
      * smallest reachable id (incl. self). Closure is O(V·E) — oracle-scale
      * only; the Spark side ([[Dedup.duplicateClusters]]) iterates min-label
      * propagation instead.
      */
    def duplicateClusters(table: String, idCol: String, textCol: String,
                          n: Int, threshold: Double): String =
      closureSql(jaccardPairs(table, idCol, textCol, n, threshold))

    /** The closure over ANY (id_1, id_2) pair query — shared by the
      * Jaccard clusters above and the fuzzy-join entity clusters (q137),
      * so the q65/q67/q137 oracle convention lives in one place.
      */
    def closureSql(pairsSql: String): String =
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT id_1 AS a, id_2 AS b FROM pairs
         |          UNION SELECT id_2, id_1 FROM pairs),
         |reach(a, r) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT e.a, r.r FROM edges e JOIN reach r ON r.a = e.b)
         |SELECT a AS id, least(a, min(r)) AS cluster_id
         |FROM reach GROUP BY a ORDER BY id""".stripMargin
  }
}
