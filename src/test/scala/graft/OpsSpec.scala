package graft

import org.apache.spark.sql.functions._

import graft.ops._

/** LLM-pipeline operator behavior: dedup, similarity, text analysis,
  * multimodal plumbing.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank now"),
    (2L, "completely different content about spark engines and query optimizers"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"))
    .toDF("doc_id", "text")

  test("exact dedup finds identical texts") {
    val d = Dedup.exactDuplicates(docs, col("text"), col("doc_id")).collect()
    assert(d.length == 1)
    assert(d.head.getAs[Long]("cnt") == 2 && d.head.getAs[Long]("keeper") == 0)
  }

  test("ngram jaccard: near-dups high, unrelated zero") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.01)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jaccard")))
      .toMap
    assert(pairs((0L, 3L)) == 1.0)
    assert(pairs((0L, 1L)) > 0.7)
    assert(!pairs.contains((0L, 2L))) // zero similarity filtered at > 0 rounding
  }

  test("minhash LSH finds the exact and near duplicates") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("duplicateClusters: components labeled by min id, chains converge") {
    // {1,2,3} via (1,2),(2,3); {5,6}; a 9-hop path 10..19 exercises
    // multi-round propagation
    val pairs = (Seq((1L, 2L), (2L, 3L), (5L, 6L)) ++
      (10L until 19L).map(i => (i, i + 1))).toDF("id_1", "id_2")
    val out = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
    assert(out(5L) == 5L && out(6L) == 5L)
    assert((10L to 19L).forall(out(_) == 10L))
    assert(out.size == 15)
  }

  test("duplicateClusters distributed rounds (non-long ids) match union-find") {
    // string ids bypass the driver union-find fast path and run the
    // min-label propagation rounds; same component structure as the long
    // fixture, labels are lexicographic minima
    val pairs = (Seq(("a1", "a2"), ("a2", "a3"), ("b1", "b2")) ++
      (10 until 19).map(i => (s"c$i", s"c${i + 1}"))).toDF("id_1", "id_2")
    val out = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("a1") == "a1" && out("a2") == "a1" && out("a3") == "a1")
    assert(out("b1") == "b1" && out("b2") == "b1")
    assert((10 to 19).forall(i => out(s"c$i") == "c10"))
  }

  test("duplicateClusters releases every materialization it supersedes") {
    val sc = spark.sparkContext
    // compared as id sets: the ContextCleaner may drop OTHER suites'
    // leftovers meanwhile, so "no new persisted RDD" is the exact check
    def persisted = sc.getPersistentRDDs.keySet
    // driver union-find path: the result is driver values, nothing stays
    val before = persisted
    Dedup.duplicateClusters(Seq((1L, 2L), (2L, 3L)).toDF("id_1", "id_2"))
      .collect()
    assert((persisted -- before).isEmpty)
    // distributed rounds (string ids; the 10-node chain needs more than
    // maxIter = 3 rounds): only the returned labels stay persisted, and
    // releasing them restores the starting set
    val chain = (10 until 19).map(i => (s"c$i", s"c${i + 1}"))
      .toDF("id_1", "id_2")
    val out = Dedup.duplicateClusters(chain, maxIter = 3)
    assert(out.collect().length == 10)
    assert((persisted -- before).size == 1)
    graft.util.WorkingSet.release(out)
    assert((persisted -- before).isEmpty)
  }

  test("deduplicate keeps one representative per near-dup cluster") {
    val out = Dedup.deduplicate(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // docs 0,1,3 form one near-dup cluster (0-3 exact, 0-1 near) → keep 0;
    // doc 2 is unrelated → kept
    assert(out == Set(0L, 2L))
  }

  test("normalizeText: NFC folds composed/decomposed, NFKC folds ligatures") {
    val composed = "caf\u00e9"        // é as one codepoint
    val decomposed = "cafe\u0301"     // e + combining acute
    val df = Seq((1L, composed), (2L, decomposed), (3L, "plain ascii"),
      (4L, "ﬁle")).toDF("id", "t")     // ﬁ ligature
    def run(form: String, strip: Boolean) =
      df.select(col("id"),
        graft.ops.TextAnalysis.normalizeText(col("t"), form, strip).as("n"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val nfc = run("NFC", strip = false)
    assert(nfc(1L) == nfc(2L) && nfc(1L) == composed)
    assert(nfc(3L) == "plain ascii")
    assert(nfc(4L) == "ﬁle")      // NFC keeps compatibility chars
    val nfkc = run("NFKC", strip = false)
    assert(nfkc(4L) == "file")              // NFKC folds the ligature
    val stripped = run("NFC", strip = true)
    assert(stripped(1L) == "cafe" && stripped(2L) == "cafe")
  }

  test("gopherRules: flags fire per rule, short/symbol-heavy docs fail") {
    val fixture = Seq(
      // 60 clean prose words incl. stopwords → all rules pass
      (1L, ("the quick brown fox jumps over that lazy dog with grace and " * 6).trim),
      (2L, "too short to have enough words"),                   // word count
      (3L, ("the and of " * 20) + ("#### ### " * 20).trim),     // symbol ratio
      (4L, (1 to 60).map(i => s"- item$i the and").mkString("\n")), // bullets
      (5L, "")                                                   // empty
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.gopherRules(fixture, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[Boolean]("pass"))
    assert(!out(2L).getAs[Boolean]("ok_word_count"))
    assert(!out(3L).getAs[Boolean]("ok_symbol_ratio"))
    assert(!out(4L).getAs[Boolean]("ok_bullet_lines"))
    assert(out(4L).getAs[Boolean]("ok_word_count"))
    assert(!out(5L).getAs[Boolean]("pass") &&
      out(5L).getAs[Long]("word_count") == 0L)
  }

  test("native ww_minhash signatures are bit-identical to the agg path") {
    val extra = docs.unionAll(Seq((4L, "ab"), (5L, "")).toDF("doc_id", "text"))
    val sh = Dedup.shingleTable(extra, "doc_id", "text", 3)
    val agg = Dedup.minhashSignaturesFromTable(sh, 16)
      .select(col("id"), array((0 until 16).map(i => col(s"h$i")): _*).as("sig"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
    val native = extra.select(col("doc_id").as("id"),
      call_function("ww_minhash", TextAnalysis.tokens(col("text")),
        lit(3), lit(16)).as("sig"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
    assert(agg.toSeq == native.toSeq)
  }

  test("native ww_simhash signatures are bit-identical to the agg path") {
    val extra = docs.unionAll(Seq((4L, "one"), (5L, "")).toDF("doc_id", "text"))
    val exploded = extra.select(col("doc_id").as("id"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val bitSums = (0 until Dedup.SimhashBits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i"))
    val summed = exploded.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until Dedup.SimhashBits).map(i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)).reduce(_.bitwiseOR(_))
    val agg = summed.select(col("id"), sig.as("simhash"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val native = Dedup.simhash(extra, "doc_id", "text")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(agg == native)
  }

  test("simhash: identical docs distance 0; near-dups within banding reach") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Number]("hamming").longValue()))
      .toMap
    assert(pairs((0L, 3L)) == 0L)
    assert(pairs.get((0L, 1L)).forall(_ <= 10L))
  }

  test("cosine similarity: orthogonal 0, identical 1") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 2.0f)), (2L, Array(3.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val res = Similarity.thresholdSearch(vecs, vecs, "vec_id", "embedding", -1.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("cosine")))
      .toMap
    assert(res((0L, 1L)) == 0.0)
    assert(res((0L, 2L)) == 1.0)
  }

  test("bruteForceTopK returns k ranked neighbors per query") {
    val vecs = (0 until 20).map(i =>
      (i.toLong, Array.tabulate(4)(j => (i * 31 + j * 7 % 13).toFloat / 10f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      vecs.where(col("vec_id") < 2), vecs, "vec_id", "embedding", k = 3)
    val grouped = top.collect().groupBy(_.getLong(0))
    assert(grouped.size == 2 && grouped.values.forall(_.length == 3))
  }

  test("LSH ANN buckets: same-bucket high-cosine pairs found") {
    val base = Array.tabulate(8)(_.toFloat)
    val vecs = (0 until 50).map { i =>
      val v = base.map(x => x + (i % 5) * 10f) // 5 tight clusters
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val found = Similarity.lshSearch(vecs, "vec_id", "embedding", dim = 8,
      numPlanes = 6, threshold = 0.99)
    assert(found.count() > 0)
  }

  test("embeddingNearDups: multi-table OR beats any single table's recall") {
    // 30 near-dup pairs (tiny perturbations of 30 random-ish bases): the
    // OR-construction must find every pair any individual hyperplane
    // family finds, and exact duplicates of a pair never split buckets
    val rnd = new scala.util.Random(7)
    val rows = (0 until 30).flatMap { i =>
      val base = Array.fill(8)(rnd.nextGaussian().toFloat)
      Seq((i.toLong * 2, base), (i.toLong * 2 + 1, base.clone()))
    }
    val vecs = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
      dim = 8, threshold = 0.999, minPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical vectors share every table's signature → all 30 pairs found
    assert((0 until 30).forall(i =>
      pairs.contains((i.toLong * 2, i.toLong * 2 + 1))))
    // no pair reported twice (union of tables deduped on ids)
    val all = Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
      dim = 8, threshold = 0.999, minPlanes = 4).collect()
    assert(all.length == all.map(r => (r.getLong(0), r.getLong(1))).distinct.length)
  }

  test("IVF: clustered vectors recover their cluster-mates; bpe token count") {
    val base = (0 until 60).map { i =>
      val cluster = i % 3
      (i.toLong, Array.tabulate(8)(j =>
        (cluster * 50 + j + (i % 7) * 0.01).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(base, "embedding", k = 3, sampleSize = 60)
    assert(cents.length == 3)
    val found = Similarity.ivfSearch(base.where(col("vec_id") < 3), base,
      "vec_id", "embedding", cents, nprobe = 1, threshold = 0.999)
    // same-cluster vectors are near-parallel → found; cross-cluster excluded
    val pairs = found.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (q, c) => (q % 3) == (c % 3) })

    val bpe = Seq("Hello, world! 42 tokens?").toDF("t")
      .select(TextAnalysis.bpeTokenCount(col("t"))).head().getLong(0)
    // "Hello" "," " world" "!" " 42" " tokens" "?" = 7
    assert(bpe == 7L)
  }

  test("centroidNorms: identical vectors → norm of the vector") {
    val vecs = Seq((0, Array(3.0f, 4.0f)), (0, Array(3.0f, 4.0f)))
      .toDF("label", "embedding")
    val r = Similarity.centroidNorms(vecs, "label", "embedding").collect().head
    assert(r.getAs[Double]("centroid_norm") == 5.0)
  }

  test("text stats: tokens, punct, stopwords, quality, langid, fingerprint") {
    val r = TextAnalysis.textStats(
      Seq((0L, "The quick fox, and the dog!")).toDF("id", "text"), "text")
      .collect().head
    assert(r.getAs[Long]("token_count") == 6)
    assert(r.getAs[Long]("punct_count") == 2)
    assert(r.getAs[Long]("stopword_hits") == 3) // the, and, the
    assert(r.getAs[String]("lang_pred") == "en")
    assert(r.getAs[String]("fingerprint").length == 32)
    val q = r.getAs[Double]("quality_score")
    assert(q > 0 && q <= 1)
  }

  test("langid: CJK → zh, no markers → unknown") {
    val df = Seq("这是中文文本测试", "zzz qqq vvv").toDF("text")
      .select(TextAnalysis.langId(col("text")).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("zh", "unknown"))
  }

  test("winnowing fingerprint: identical docs share it, different don't") {
    val df = docs.select(col("doc_id"),
      TextAnalysis.winnowingFingerprint(col("text")).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fps(0L) == fps(3L))
    assert(fps(0L) != fps(2L))
    assert(fps(0L).intersect(fps(1L)).nonEmpty) // near-dups share selected hashes
  }

  test("native VectorDot matches the HOF fold bit-for-bit, handles nulls") {
    assert(spark.catalog.functionExists("ww_vector_dot"))
    val vecs = (0 until 100).map(i =>
      (i.toLong, Array.tabulate(16)(j => (math.sin(i * 17 + j) * 10).toFloat)))
      .toDF("id", "v")
    val native = vecs.select(call_function("ww_vector_dot", col("v"), col("v")))
      .collect().map(_.getDouble(0))
    val hof = vecs.select(
      aggregate(zip_with(col("v").cast("array<double>"), col("v").cast("array<double>"),
        (x, y) => x * y), lit(0.0), (acc, x) => acc + x))
      .collect().map(_.getDouble(0))
    assert(native.toSeq == hof.toSeq) // bit-identical sequential accumulation
    val withNull = Seq((1L, Array[java.lang.Float](1.0f, null, 3.0f)))
      .toDF("id", "v")
      .select(call_function("ww_vector_dot", col("v"), col("v")))
    assert(withNull.collect().head.isNullAt(0))
  }

  test("multimodal: payload plumbing + deterministic byte-distribution features") {
    val withP = Multimodal.withPayload(docs, "text", "image", "image/jpeg")
    assert(withP.schema("payload").dataType.typeName == "binary")
    assert(withP.schema("payload_meta").dataType == Multimodal.MetaType)
    val feats = Multimodal.featurize(Multimodal.payloadStats(withP))
    val rows = feats.select("doc_id", "features", "payload_md5").collect()
    assert(rows.forall(_.getSeq[Double](1).length == Multimodal.FeatureDim))
    val byId = rows.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(byId(0L) == byId(3L)) // deterministic: same bytes, same features
    assert(byId(0L) != byId(2L))
  }

  /** Hand-built 2×2 RGB8 PNG: signature, IHDR, one IDAT whose zlib stream
    * is a single stored (uncompressed) deflate block, IEND. Checksums via
    * java.util.zip CRC32/Adler32 — no encoder involved, so the bytes (and
    * therefore the decoded pixels) are fully specified by this test.
    */
  private def handBuiltPng(pixels: Array[Array[(Int, Int, Int)]]): Array[Byte] = {
    val h = pixels.length; val w = pixels(0).length
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte))
    def be32(v: Long): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def chunk(tp: String, data: Array[Byte]): Unit = {
      bos.write(be32(data.length))
      val body = tp.getBytes("US-ASCII") ++ data
      bos.write(body)
      val crc = new java.util.zip.CRC32(); crc.update(body)
      bos.write(be32(crc.getValue))
    }
    chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0))
    // raw scanlines: filter byte 0 + RGB triples
    val raw = pixels.flatMap(row => 0.toByte +: row.flatMap { case (r, g, b) =>
      Array(r.toByte, g.toByte, b.toByte) }).toArray
    val stored = Array[Byte](0x01, // BFINAL=1, BTYPE=00 (stored)
      (raw.length & 0xFF).toByte, ((raw.length >> 8) & 0xFF).toByte,
      (~raw.length & 0xFF).toByte, ((~raw.length >> 8) & 0xFF).toByte) ++ raw
    val adler = new java.util.zip.Adler32(); adler.update(raw)
    chunk("IDAT", Array[Byte](0x78, 0x01) ++ stored ++ be32(adler.getValue))
    chunk("IEND", Array.empty[Byte])
    bos.toByteArray
  }

  test("imageFeatures decodes a hand-built 2×2 PNG byte-exactly") {
    val png = handBuiltPng(Array(
      Array((10, 20, 30), (40, 50, 60)),
      Array((70, 80, 90), (100, 110, 120))))
    // sanity: the header parser agrees with the hand-built dims
    assert(ImageMeta.decode(png).contains(ImageMeta.Info("image/png", 2, 2)))
    val f = Multimodal.imageFeatures(png).get
    // means: R (10+40+70+100)/4, G +10, B +20
    assert(f(0) == 55.0 && f(1) == 65.0 && f(2) == 75.0)
    // each channel spreads ±45,±15 around its mean: σ = sqrt(1125) = 33.541
    assert(f(3) == 33.541 && f(4) == 33.541 && f(5) == 33.541)
    // per-mille luma: 18150/48150/78150/108150 → mean 63.15, σ 33.541
    assert(f(6) == 63.15 && f(7) == 33.541)
    // luma histogram over 4 bins: two pixels below 63750‰, two above
    assert(Multimodal.lumaHistogram(png, bins = 4).get.toSeq ==
      Seq(2L, 2L, 0L, 0L))
    // decodeFeatures dispatches images to the pixel path
    assert(Multimodal.decodeFeatures(png).toSeq == f.toSeq)
  }

  test("audioFeatures decodes hand-built WAV PCM; undecodables fall back") {
    // 1 channel, 8kHz, 4 samples: +1000, -1000, +2000, -2000
    val samples = Array[Short](1000, -1000, 2000, -2000)
    val bb = java.nio.ByteBuffer.allocate(44 + 2 * samples.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * samples.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(2 * samples.length)
    samples.foreach(bb.putShort)
    val wav = bb.array()
    assert(AudioMeta.pcm16Samples(wav).get.toSeq == samples.map(_.toInt).toSeq)
    val f = Multimodal.audioFeatures(wav).get
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(f(0) == r4(math.sqrt(1.0e7 / 4) / 32768.0)) // rms from Σs²=10^7
    assert(f(1) == r4(2000.0 / 32768.0)) // peak
    assert(f(2) == r4(1500.0 / 32768.0)) // mean |s|
    assert(f(3) == 1.0) // alternating signs: 3 crossings / 3 pairs
    assert(f(4) == 0.0) // 8 data bytes / 16000 B/s → 0 whole ms
    assert(f(5) == 1.0 && f(6) == 8000.0 && f(7) == 16.0)
    // truncated data chunk → no PCM decode → byte-distribution fallback
    val truncated = java.util.Arrays.copyOf(wav, 46)
    assert(Multimodal.audioFeatures(truncated).isEmpty)
    assert(Multimodal.decodeFeatures(truncated).length == Multimodal.FeatureDim)
    // header-only PNG (q47-style fixture, no IDAT) → byte fallback, no crash
    val headerOnly = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte) ++ new Array[Byte](25)
    assert(Multimodal.decodeFeatures(headerOnly).length ==
      Multimodal.FeatureDim)
  }

  test("drift PSI: zero on identical, epsilon-floored on one-sided, large on shift") {
    import spark.implicits._
    import graft.ops.Drift
    val a = Seq.fill(50)("x").++(Seq.fill(50)("y")).toDF("c")
    // identical distributions -> PSI 0
    val same = Drift.psiCategorical(a, a, "c").head()
    assert(same.getDouble(1) == 0.0 && same.getLong(2) == 2L)
    // heavy shift 50/50 -> 90/10: hand-computed PSI
    val b = Seq.fill(90)("x").++(Seq.fill(10)("y")).toDF("c")
    val shift = Drift.psiCategorical(a, b, "c").head().getDouble(1)
    val expect = (0.5 - 0.9) * math.log(0.5 / 0.9) +
      (0.5 - 0.1) * math.log(0.5 / 0.1)
    assert(math.abs(shift - expect) < 1e-5, s"$shift vs $expect")
    // category on one side only: finite via the epsilon floor
    val c = Seq.fill(100)("z").toDF("c")
    val oneSided = Drift.psiCategorical(a, c, "c").head()
    assert(!oneSided.getDouble(1).isNaN && !oneSided.getDouble(1).isInfinite)
    assert(oneSided.getLong(2) == 3L)
    // numeric: a location shift across reference-fitted deciles is large,
    // matched distributions are ~0
    val n1 = (1 to 1000).map(_.toDouble).toDF("v")
    val n2 = (501 to 1500).map(_.toDouble).toDF("v")
    val psiShift = Drift.psiNumeric(n1, n2, "v").head().getDouble(1)
    val psiSame = Drift.psiNumeric(n1, n1, "v").head().getDouble(1)
    assert(psiSame == 0.0)
    assert(psiShift > 1.0, s"expected large drift, got $psiShift")
  }

  test("constraints: every kind counts violations exactly; null predicate = violation") {
    import spark.implicits._
    import graft.ops.Constraints._
    val df = Seq(
      (1L, Some(5.0), "a"), (2L, Some(15.0), "b"),
      (2L, None, "c"), (4L, Some(-1.0), null))
      .toDF("id", "v", "s")
    val ref = Seq(1L, 2L).toDF("rid")
    val got = check(df, Seq(
      NotNull("v"),                       // 1 null
      NotNull("s"),                       // 1 null
      InRange("v", 0.0, 10.0),            // 15.0 and -1.0 violate
      AcceptedValues("s", Seq("a", "b")), // "c" violates (null ignored)
      MatchesRegex("s", "^[ab]$"),        // "c" violates
      Satisfies("v_pos", col("v") > 0),   // -1.0 fails; NULL v also fails
      Unique(Seq("id")),                  // key 2 duplicated -> 1 violating key
      ForeignKey("id", ref, "rid")))      // id 4 missing from ref -> 1 row
      .collect().map(r => (r.getString(0), (r.getLong(2), r.getBoolean(3)))).toMap
    assert(got("not_null:v") == ((1L, false)))
    assert(got("not_null:s") == ((1L, false)))
    assert(got("in_range:v") == ((2L, false)))
    assert(got("accepted_values:s") == ((1L, false)))
    assert(got("matches_regex:s") == ((1L, false)))
    assert(got("satisfies:v_pos") == ((2L, false))) // -1.0 + NULL both fail
    assert(got("unique:id") == ((1L, false)))
    assert(got("foreign_key:id") == ((1L, false)))
    // all-green path
    val ok = check(Seq((1L, 2.0)).toDF("id", "v"),
      Seq(NotNull("id"), InRange("v", 0.0, 10.0), Unique(Seq("id"))))
      .collect()
    assert(ok.forall(_.getBoolean(3)))
  }

  test("deduplicateKeepBest keeps the top-scoring cluster member, not the min id") {
    import spark.implicits._
    // docs 1,2,3 are near-identical (one cluster); 4 is distinct
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", 10L),
      (2L, "alpha beta gamma delta epsilon zeta eta", 99L), // best score
      (3L, "alpha beta gamma delta epsilon zeta", 10L),
      (4L, "totally different words entirely here now", 50L))
      .toDF("id", "text", "score")
    val best = ops.Dedup.deduplicateKeepBest(df, "id", "text", "score",
        threshold = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(best == Set(2L, 4L)) // cluster keeps id 2 (score 99), singleton stays
    val minId = ops.Dedup.deduplicate(df, "id", "text", threshold = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 4L)) // the min-id convention keeps id 1 instead
  }

  test("salted equi-join: result equals the plain join; cold path skips salting") {
    // one hot key (500 fact rows) + 20 cold keys; dims = one row per key
    val facts = ((0 until 500).map(i => (7L, i.toLong)) ++
      (0 until 20).map(i => (100L + i, 9000L + i))).toDF("k", "id")
    val dims = ((7L +: (0 until 20).map(i => 100L + i)) :+ 999L)
      .map(k => (k, s"d$k")).toDF("k", "name")
    val salted = SkewJoin.saltedEquiJoin(facts, dims, "k", col("id"),
        salt = 4, heavyThreshold = 100L)
      .select("k", "id", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val plain = facts.join(dims, "k").select("k", "id", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(salted == plain)
    assert(salted.size == 520)
    // no hot keys → identical plain join, no salt machinery
    val none = SkewJoin.saltedEquiJoin(facts, dims, "k", col("id"),
      salt = 4, heavyThreshold = 1000L)
    assert(!none.columns.contains("__salt"))
    assert(none.count() == 520)
    // pathological hot-key count refuses with a clear bound
    val err = intercept[IllegalArgumentException] {
      SkewJoin.saltedEquiJoin(facts, dims, "k", col("id"),
        salt = 4, heavyThreshold = 0L, maxHeavy = 5)
    }
    assert(err.getMessage.contains("raise the threshold"))
  }

  test("skew-guarded self-join: degenerate bucket grid-splits, same pair set") {
    // one hot bucket (600 rows, chunkSize 64 → grid cells) + cold buckets
    val rows = (0 until 600).map(i => (i.toLong, "hot", i * 1.5)) ++
      (600 until 650).map(i => (i.toLong, s"cold${i % 7}", i * 1.5))
    val df = rows.toDF("id", "bucket", "w")
    val guarded = SkewJoin.selfPairs(df, Seq("bucket"), "id", Seq("w"),
      chunkSize = 64, maxChunks = 16)
      .select("x_id", "y_id", "x_w", "y_w").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    val naive = df.as("a").join(df.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"), col("a.w"), col("b.w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(guarded == naive)
    val coldPairs = (0 until 7).map { k =>
      val n = (600 until 650).count(_ % 7 == k); n * (n - 1) / 2
    }.sum
    assert(guarded.size == 600 * 599 / 2 + coldPairs)
    // 1k identical docs through the full LSH dedup path still verifies
    val dupDocs = (0 until 1000).map(i => (i.toLong, "the same exact text " * 5))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(dupDocs, "doc_id", "text", threshold = 0.9)
    assert(pairs.count() == 1000L * 999 / 2)
  }

  test("image header decode: PNG, JPEG (marker scan), GIF, garbage") {
    def hexBytes(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // 640x480 PNG: signature + IHDR
    val png = hexBytes("89504E470D0A1A0A" + "0000000D" + "49484452" +
      "00000280" + "000001E0" + "0806000000")
    assert(ImageMeta.decode(png).contains(ImageMeta.Info("image/png", 640, 480)))
    // JPEG: SOI, APP0 (skipped), DQT (skipped), SOF0 with h=0x010E w=0x0164
    val jpg = hexBytes("FFD8" + "FFE0" + "0005" + "000000" +
      "FFDB" + "0004" + "0000" +
      "FFC0" + "0011" + "08" + "010E" + "0164" + "03011100021101031101")
    assert(ImageMeta.decode(jpg).contains(ImageMeta.Info("image/jpeg", 356, 270)))
    // progressive JPEG uses SOF2 (0xC2) — still a frame header
    val jpg2 = hexBytes("FFD8" + "FFC2" + "0011" + "08" + "0040" + "0080" +
      "03011100021101031101")
    assert(ImageMeta.decode(jpg2).contains(ImageMeta.Info("image/jpeg", 128, 64)))
    // GIF89a 3x5 (little-endian dims)
    val gif = hexBytes("474946383961" + "0300" + "0500" + "F70000")
    assert(ImageMeta.decode(gif).contains(ImageMeta.Info("image/gif", 3, 5)))
    // garbage / truncated / null
    assert(ImageMeta.decode("not an image".getBytes).isEmpty)
    assert(ImageMeta.decode(png.take(12)).isEmpty)
    assert(ImageMeta.decode(hexBytes("FFD8FFE0")).isEmpty)
    assert(ImageMeta.decode(null).isEmpty)
    // decodeMeta fills the metadata struct from the bytes
    val df = Seq((1L, png), (2L, jpg), (3L, "plain".getBytes)).toDF("id", "img")
    val withP = Multimodal.withPayload(df, "img", "image", "unknown")
    val out = Multimodal.decodeMeta(withP)
      .select("id", "payload_meta.mime", "payload_meta.width",
        "payload_meta.height")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3))).toMap
    assert(out(1L) == (("image/png", 640, 480)))
    assert(out(2L) == (("image/jpeg", 356, 270)))
    assert(out(3L) == (("unknown", -1, -1))) // non-image passes through
  }
}
