package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.types.{LogicalType => LT}

/** Property tests for the coercion kernels and sketch operators (SURVEY §5:
  * idempotence of transforms, inference stability, sketch-vs-exact bounds).
  */
class PropertySpec extends SparkSpec {

  /** Raw-ScalaCheck driver (the scalatest bridge isn't in the offline
    * cache): sample `n` deterministic cases from a generator.
    */
  private def forSamples[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }
  import spark.implicits._

  private val messyStrings: Gen[List[String]] = Gen.listOfN(12,
    Gen.oneOf(
      Gen.choose(-999999L, 999999L).map(_.toString),
      Gen.choose(-1e6, 1e6).map(_.toString),
      Gen.oneOf("yes", "no", "true", "false", "t", "f", "1", "0"),
      Gen.oneOf("", " ", "N/A", "nan", "<NA>", "None"),
      Gen.alphaNumStr.map(_.take(12)),
      Gen.oneOf("2024-01-02", "01/15/2024", "not a date")))

  test("property: MP4/AVI metadata round-trips arbitrary field values") {
    val mp4Gen = for {
      ts <- Gen.choose(1, 1000000)
      dur <- Gen.choose(0, Int.MaxValue)
      w <- Gen.choose(0, 65535)
      h <- Gen.choose(0, 65535)
      len <- Gen.choose(0, 300)
    } yield (ts, dur, w, h, len)
    forSamples(mp4Gen, 40) { case (ts, dur, w, h, len) =>
      val data = Array.tabulate(len)(i => (i % 251).toByte)
      val info = graft.ops.VideoMeta.decode(
        VideoFixtures.mkMp4(ts, dur, w, h, data)).get
      assert(info.durationMs == dur.toLong * 1000L / ts)
      assert(info.width == w && info.height == h)
      assert(info.dataOffset == 248 && info.dataSize == len)
    }
    val aviGen = for {
      usf <- Gen.choose(1, 10000000)
      n <- Gen.choose(0, 1000000)
      w <- Gen.choose(0, 65535)
      h <- Gen.choose(0, 65535)
      len <- Gen.choose(0, 300)
    } yield (usf, n, w, h, len)
    forSamples(aviGen, 40) { case (usf, n, w, h, len) =>
      val info = graft.ops.VideoMeta.decode(
        VideoFixtures.mkAvi(usf, n, w, h, new Array[Byte](len))).get
      assert(info.durationMs == n.toLong * usf / 1000L)
      assert(info.width == w && info.height == h)
      assert(info.dataSize == len)
    }
  }

  test("property: box-filter resize matches the brute-force reference on random shapes") {
    val gen = for {
      sw <- Gen.choose(1, 40); sh <- Gen.choose(1, 40)
      dw <- Gen.choose(1, 30); dh <- Gen.choose(1, 30)
      seed <- Gen.choose(0, 10000)
    } yield (sw, sh, dw, dh, seed)
    forSamples(gen, 30) { case (sw, sh, dw, dh, seed) =>
      val rnd = new scala.util.Random(seed)
      val src = Array.fill(sh, sw)(rnd.nextInt(1 << 24))
      val img = new java.awt.image.BufferedImage(
        sw, sh, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until sh; x <- 0 until sw) img.setRGB(x, y, src(y)(x))
      val out = graft.ops.Multimodal.resizePixels(img, dw, dh)
      for (y <- 0 until dh; x <- 0 until dw) {
        val x0 = x * sw / dw; val x1 = math.max(x0 + 1, (x + 1) * sw / dw)
        val y0 = y * sh / dh; val y1 = math.max(y0 + 1, (y + 1) * sh / dh)
        var sr = 0L; var sg = 0L; var sb = 0L
        for (sy <- y0 until y1; sx <- x0 until x1) {
          val p = src(sy)(sx)
          sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
        }
        val cnt = (x1 - x0).toLong * (y1 - y0)
        val exp = (((sr / cnt).toInt) << 16) | (((sg / cnt).toInt) << 8) |
          (sb / cnt).toInt
        assert((out.getRGB(x, y) & 0xFFFFFF) == exp,
          s"($x,$y) of ${sw}x$sh->${dw}x$dh seed $seed")
      }
    }
  }

  test("property: heavy-hitters bounds and guarantee on random multisets") {
    val gen = for {
      cap <- Gen.choose(3, 12)
      vals <- Gen.listOfN(120, Gen.choose(0, 30).map(i => s"v$i"))
    } yield (cap, vals)
    forSamples(gen, 10) { case (cap, vals) =>
      val truth = vals.groupBy(identity).map { case (k, v) => (k, v.length.toLong) }
      val hh = graft.ops.Sketches.heavyHitters(
          vals.toDF("v").repartition(5), "v", cap)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(hh.length <= cap)
      for ((v, lo, hi) <- hh) {
        val t = truth(v)
        assert(lo <= t && t <= hi, s"$v: [$lo,$hi] misses $t (cap $cap)")
      }
      val guaranteed = truth.filter(_._2 > vals.length.toLong / (cap + 1)).keySet
      assert(guaranteed.subsetOf(hh.map(_._1).toSet),
        s"missing: ${guaranteed -- hh.map(_._1).toSet} (cap $cap)")
      if (truth.size <= cap) {
        assert(hh.map(t => (t._1, t._2)).toMap == truth)
        assert(hh.forall(t => t._2 == t._3))
      }
    }
  }

  test("property: Hamming.pairs recall is exact at any maxDist (pigeonhole)") {
    // random 56-bit signatures; banded pairs must equal the exhaustive
    // Hamming join at maxDists that stress the chunk-boundary arithmetic
    val gen = for {
      n <- Gen.choose(6, 14)
      sigs <- Gen.listOfN(n, Gen.choose(0L, (1L << 56) - 1))
      maxDist <- Gen.oneOf(0, 1, 3, 10, 25, 40, 55)
    } yield (sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }, maxDist)
    forSamples(gen, 8) { case (sigs, maxDist) =>
      val df = sigs.toDF("id", "sig")
      val got = graft.ops.Hamming.pairs(df, 56, maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (a, sa) <- sigs; (b, sb) <- sigs if a < b
        d = java.lang.Long.bitCount(sa ^ sb)
        if d <= maxDist
      } yield (a, b, d.toLong)).toSet
      assert(got == want, s"maxDist $maxDist: ${got.size} vs ${want.size}")
    }
  }

  test("property: multimodal byte parsers never throw on arbitrary bytes") {
    // untrusted 100 TB payloads WILL contain garbage that happens to start
    // with plausible magics — every parser must refuse cleanly, not throw
    val junk = for {
      n <- Gen.choose(0, 400)
      bytes <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
      magic <- Gen.oneOf(Array.empty[Byte],
        "RIFF".getBytes("ISO-8859-1"),
        "RIFFxxxxAVI ".getBytes("ISO-8859-1"),
        "RIFFxxxxWAVE".getBytes("ISO-8859-1"),
        (Array(0, 0, 0, 24) ++ "ftyp".getBytes("ISO-8859-1").map(_.toInt)).map(_.toByte),
        Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte),
        Array(0xFF, 0xD8, 0xFF).map(_.toByte),
        "GIF89a".getBytes("ISO-8859-1"),
        "LIST".getBytes("ISO-8859-1"),
        "mdat".getBytes("ISO-8859-1"))


    } yield magic ++ bytes.toArray
    forSamples(junk, 120) { payload =>
      graft.ops.VideoMeta.decode(payload)       // may be Some or None
      graft.ops.ImageMeta.decode(payload)
      graft.ops.AudioMeta.decode(payload)
      graft.ops.Multimodal.decodeFeatures(payload)
      graft.ops.Multimodal.dHash(payload)
      graft.ops.Multimodal.audioHash(payload)
      graft.ops.Video.probeByte(payload, payload.length / 2L)
    }
    // truncation sweep over one VALID container of each kind
    val mp4 = VideoFixtures.mkMp4(600, 3000, 320, 240, new Array[Byte](50))
    val avi = VideoFixtures.mkAvi(40000, 25, 64, 48, new Array[Byte](20))
    for (cut <- 0 to mp4.length) graft.ops.VideoMeta.decode(mp4.take(cut))
    for (cut <- 0 to avi.length) graft.ops.VideoMeta.decode(avi.take(cut))
    // v1 mvhd sweep: flip the version byte (offset 40 = ftyp 24 + moov hdr
    // 8 + mvhd hdr 8) — a truncated v1 box must refuse, not read past the
    // array (the v1 duration consumes through content offset 32)
    val mp4v1 = mp4.clone(); mp4v1(40) = 1
    for (cut <- 0 to mp4v1.length) graft.ops.VideoMeta.decode(mp4v1.take(cut))
    // internally inconsistent AVI: the avih chunk CLAIMS 40+ bytes but its
    // enclosing LIST ends right after the chunk header
    val badAvi = {
      val bos = new java.io.ByteArrayOutputStream()
      def le32(v: Int): Array[Byte] = Array(
        (v & 0xFF).toByte, ((v >>> 8) & 0xFF).toByte,
        ((v >>> 16) & 0xFF).toByte, ((v >>> 24) & 0xFF).toByte)
      bos.write("RIFF".getBytes("ISO-8859-1")); bos.write(le32(4 + 8 + 12))
      bos.write("AVI ".getBytes("ISO-8859-1"))
      bos.write("LIST".getBytes("ISO-8859-1")); bos.write(le32(12))
      bos.write("hdrl".getBytes("ISO-8859-1"))
      bos.write("avih".getBytes("ISO-8859-1")); bos.write(le32(56))
      bos.toByteArray
    }
    assert(graft.ops.VideoMeta.decode(badAvi).isEmpty)
  }

  test("property: asofJoin equals the per-row reference on random data") {
    // random trades/quotes with duplicate timestamps and unmatched keys;
    // the reference is the direct definition: max right time <= left time
    val caseGen = for {
      nq <- Gen.choose(0, 25)
      nt <- Gen.choose(1, 25)
      quotes <- Gen.listOfN(nq, for {
        k <- Gen.choose(1L, 4L); t <- Gen.choose(0L, 50L)
        p <- Gen.choose(1, 999)
      } yield (k, t, p.toDouble))
      trades <- Gen.listOfN(nt, for {
        k <- Gen.choose(1L, 5L); t <- Gen.choose(0L, 50L)
      } yield (k, t))
    } yield (quotes, trades.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) })
    forSamples(caseGen, 12) { case (quotes, trades) =>
      // de-dup (key, ts) on the right: with ties the matched PRICE is
      // tie-ambiguous in both the operator and the reference; keep the
      // max-price row per (key, ts) to make the expectation well-defined
      val q = quotes.groupBy(p => (p._1, p._2)).map(_._2.maxBy(_._3)).toSeq
      val qDf = q.toDF("key", "qts", "price")
      val tDf = trades.toDF("trade_id", "key", "tts")
      val got = graft.ops.AsofJoin.asofJoin(tDf, qDf, Seq("key"), "tts", "qts",
        Seq("price")).collect()
        .map(r => r.getAs[Long]("trade_id") ->
          Option(r.getAs[java.lang.Double]("price_right")).map(_.toDouble))
        .toMap
      val expected = trades.map { case (id, k, t) =>
        val cands = q.filter(p => p._1 == k && p._2 <= t)
        id -> (if (cands.isEmpty) None
               else Some(cands.maxBy(p => (p._2, p._3))._3))
      }.toMap
      assert(got == expected, s"quotes=$q trades=$trades")
    }
  }

  test("property: rangeJoin equals the exact BETWEEN join on random data") {
    val caseGen = for {
      np <- Gen.choose(1, 40)
      ni <- Gen.choose(1, 8)
      points <- Gen.listOfN(np, Gen.choose(-100.0, 100.0))
      ivs <- Gen.listOfN(ni, for {
        lo <- Gen.choose(-120.0, 110.0); w <- Gen.choose(0.0, 60.0)
      } yield (lo, lo + w))
      bw <- Gen.oneOf(1.0, 7.3, 50.0)
    } yield (points.zipWithIndex.map { case (x, i) => (i.toLong, x) },
      ivs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }, bw)
    forSamples(caseGen, 12) { case (points, ivs, bw) =>
      val pDf = points.toDF("pid", "x")
      val iDf = ivs.toDF("iv_id", "lo", "hi")
      val got = graft.ops.RangeJoin.pointInInterval(pDf, "x", iDf,
        "lo", "hi", binWidth = bw).select("pid", "iv_id_iv").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val expected = for {
        (pid, x) <- points; (ivId, lo, hi) <- ivs
        if x >= lo && x <= hi
      } yield (pid, ivId)
      assert(got.sorted == expected.sorted, s"bw=$bw ivs=$ivs")
      assert(got.size == got.distinct.size) // exactly-once candidates
    }
  }

  test("property: intervalOverlap equals the quadratic overlap join, " +
      "each pair exactly once, at several bin widths") {
    val caseGen = for {
      nl <- Gen.choose(0, 40); nr <- Gen.choose(0, 40)
      ls <- Gen.listOfN(nl, for {
        lo <- Gen.choose(-120.0, 110.0); w <- Gen.choose(0.0, 60.0)
      } yield (lo, lo + w))
      rs <- Gen.listOfN(nr, for {
        lo <- Gen.choose(-120.0, 110.0); w <- Gen.choose(0.0, 60.0)
      } yield (lo, lo + w))
      bw <- Gen.oneOf(1.0, 7.3, 50.0)
    } yield (ls.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) },
      rs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }, bw)
    forSamples(caseGen, 12) { case (ls, rs, bw) =>
      val lDf = ls.toDF("lid", "lo", "hi")
      val rDf = rs.toDF("rid", "lo", "hi")
      val got = graft.ops.RangeJoin.intervalOverlap(lDf, "lo", "hi",
        rDf, "lo", "hi", binWidth = bw).select("lid", "rid_r").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val expected = for {
        (lid, llo, lhi) <- ls; (rid, rlo, rhi) <- rs
        if llo <= rhi && rlo <= lhi
      } yield (lid, rid)
      assert(got.sorted == expected.sorted, s"bw=$bw")
      assert(got.size == got.distinct.size) // first-shared-bin dedup
    }
  }

  test("property: transform is idempotent for every scalar logical type") {
    val types = Seq[LT](LT.Double, LT.IntegerNullable, LT.Integer, LT.BooleanT(),
      LT.BooleanNullable, LT.Categorical, LT.EmailAddress, LT.URL,
      LT.PostalCode, LT.AgeNullable, LT.Datetime(), LT.Unknown)
    forSamples(messyStrings, 8) { values =>
      if (values.nonEmpty) {
        val df = values.toDF("c")
        for (lt <- types) {
          val once = df.select(lt.transform(col("c"), StringType).as("c"))
          val twice = once.select(
            lt.transform(col("c"), once.schema("c").dataType).as("c"))
          assert(once.collect().toSeq == twice.collect().toSeq,
            s"${lt.name} not idempotent on $values")
        }
      }
    }
  }

  test("property: inference is deterministic across repeated runs") {
    forSamples(messyStrings, 5) { values =>
      if (values.nonEmpty) {
        val df = values.toDF("c")
        val a = infer.TypeInference.inferTypes(df, Seq("c"))("c")
        val b = infer.TypeInference.inferTypes(df, Seq("c"))("c")
        assert(a == b)
      }
    }
  }

  test("property: minhash signature equality for identical shingle sets") {
    val textGen = Gen.listOfN(30, Gen.oneOf(
      "alpha", "beta", "gamma", "delta", "epsilon", "zeta")).map(_.mkString(" "))
    forSamples(textGen, 5) { text =>
      val df = Seq((0L, text), (1L, text)).toDF("id", "text")
      val sigs = ops.Dedup.minhashSignatures(df, "id", "text").collect()
      assert(sigs.length == 2)
      assert(sigs(0).toSeq.drop(1) == sigs(1).toSeq.drop(1))
    }
  }

  test("property: winnowing fingerprints are order-stable and deterministic") {
    val textGen = Gen.listOfN(20, Gen.identifier.map(_.take(6))).map(_.mkString(" "))
    forSamples(textGen, 5) { text =>
      val df = Seq((0L, text)).toDF("id", "text")
      val a = df.select(ops.TextAnalysis.winnowingFingerprint(col("text")))
        .collect().head.getSeq[Long](0)
      val b = df.select(ops.TextAnalysis.winnowingFingerprint(col("text")))
        .collect().head.getSeq[Long](0)
      assert(a == b)
      assert(a == a.sorted && a == a.distinct)
    }
  }

  test("property: skew-guarded self-join equals the naive bucket self-join") {
    // random bucket-size distributions, chunkSize forced tiny so the grid
    // path actually engages for several buckets
    val rowsGen = for {
      nBuckets <- Gen.choose(1, 5)
      sizes <- Gen.listOfN(nBuckets, Gen.choose(1, 40))
    } yield sizes.zipWithIndex.flatMap { case (sz, b) =>
      (0 until sz).map(i => (b * 1000L + i, s"b$b"))
    }
    forSamples(rowsGen, 5) { rows =>
      val df = rows.toDF("id", "bucket")
      val guarded = ops.SkewJoin
        .selfPairs(df, Seq("bucket"), "id", chunkSize = 8, maxChunks = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val naive = df.as("a").join(df.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(guarded == naive)
    }
  }

  test("property: exact jaccard is symmetric and within [0,1]") {
    val tg = Gen.listOfN(15, Gen.oneOf("a b c", "d e f", "a b d", "x y z"))
      .map(_.mkString(" "))
    forSamples(Gen.zip(tg, tg), 5) { case (t1, t2) =>
      val df = Seq((0L, t1), (1L, t2)).toDF("id", "text")
      val p = ops.Dedup.ngramJaccardPairs(df, "id", "text", threshold = -1)
        .collect()
      assert(p.length == 1)
      val j = p.head.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("property: crossMinhashMatches is sound (subset of exhaustive pairs)") {
    // LSH recall is probabilistic; PRECISION is exact (verification is the
    // true Jaccard). Every reported pair must appear in the exhaustive
    // cross set with the identical score.
    val docGen = Gen.listOfN(6,
      Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" ")))
    forSamples(docGen, 6) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val corpus = df.where(col("id") >= 3)
      val bench = df.where(col("id") < 3)
      val got = ops.Dedup.crossMinhashMatches(corpus, bench, "id", "text",
          n = 3, threshold = 0.3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard"))
        .toMap
      // exhaustive reference over the same distinct-shingle definition
      def shingleSet(t: String): Set[Seq[String]] = {
        val toks = t.toLowerCase.split("\\s+").toSeq
        if (toks.length >= 3) toks.sliding(3).map(_.toSeq).toSet
        else Set(toks)
      }
      val exhaustive = (for {
        (ct, ci) <- texts.zipWithIndex if ci >= 3
        (bt, bi) <- texts.zipWithIndex if bi < 3
      } yield {
        val (a, b) = (shingleSet(ct), shingleSet(bt))
        val inter = a.intersect(b).size.toDouble
        val j = inter / (a.size + b.size - inter)
        (ci.toLong, bi.toLong) ->
          BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }).toMap
      got.foreach { case (pair, j) =>
        assert(exhaustive.contains(pair), s"phantom pair $pair")
        assert(math.abs(exhaustive(pair) - j) < 1e-9,
          s"pair $pair score $j vs exhaustive ${exhaustive(pair)}")
        assert(j >= 0.3)
      }
    }
  }

  test("property: repeatedSpans equals the brute-force reference") {
    val k = 3
    val docGen = Gen.listOfN(4,
      Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    forSamples(docGen, 8) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val got = ops.SpanDedup.repeatedSpans(df, "id", "text", k)
        .collect().map(r => r.getAs[Long]("id") ->
          (r.getAs[Long]("dup_spans"), r.getAs[Long]("dup_tokens"))).toMap
      // brute force: count each doc's gram occurrences across the corpus,
      // mark covered positions, merge into maximal runs
      val toks = texts.map(_.toLowerCase.split("\\s+").toSeq)
      val all = toks.flatMap(ts => ts.sliding(k).filter(_.length == k).toSeq)
      val freq = all.groupBy(identity).view.mapValues(_.size).toMap
      toks.zipWithIndex.foreach { case (ts, i) =>
        val covered = (0 to ts.length - k)
          .filter(p => freq(ts.slice(p, p + k)) >= 2)
          .flatMap(p => p until p + k).toSet
        val spans =
          covered.toSeq.sorted.foldLeft(List.empty[(Int, Int)]) {
            case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
            case (acc, p) => (p, p) :: acc
          }.length
        assert(got(i.toLong) === ((spans.toLong, covered.size.toLong)),
          s"doc $i: ${ts.mkString(" ")}")
      }
    }
  }

  test("property: curriculumBins rank equals the driver-side sort") {
    val gen = Gen.listOfN(30, Gen.choose(0, 9))
    forSamples(gen, 6) { scores =>
      val rows = scores.zipWithIndex.map { case (s, i) => (i.toLong, s.toDouble) }
      val out = ops.Sampling.curriculumBins(
          rows.toDF("id", "score"), "id", "score", bins = 4)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank")).toMap
      val expect = rows.sortBy { case (id, s) => (s, id) }
        .zipWithIndex.map { case ((id, _), r) => id -> r.toLong }.toMap
      assert(out === expect)
    }
  }

  test("property: exactSample equals the driver-side hash order take-n") {
    val gen = Gen.listOfN(40, Gen.choose(0L, 10000L)).map(_.distinct)
    forSamples(gen, 6) { ids =>
      val n = math.min(7, ids.size)
      if (n > 0) {
        val got = ops.Sampling.exactSample(ids.toDF("id"), "id", n, "p")
          .collect().map(_.getLong(0)).toSet
        def h(id: Long): Long = {
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(s"$id:p".getBytes("UTF-8"))
          java.lang.Long.parseLong(
            md.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
        }
        val expect = ids.sortBy(id => (h(id), id)).take(n).toSet
        assert(got === expect)
      }
    }
  }

  test("property: quantile fits equal the sorted-array interpolation reference") {
    // independent reference: sort, pos = p·(n−1), linear interpolation —
    // pins the shared exactQuantiles walk (and therefore
    // fitRobust/fitWinsor/fitQuantileBins) against a second implementation
    def ref(vals: Seq[Double], p: Double): Double = {
      val s = vals.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) s(lo) else s(lo) * (hi - pos) + s(hi) * (pos - lo)
    }
    val gen = for {
      n <- Gen.choose(1, 60)
      // duplicates on purpose: a small integer domain scaled to doubles
      vals <- Gen.listOfN(n, Gen.choose(-50, 50).map(_ / 4.0))
      nNulls <- Gen.choose(0, 5)
    } yield (vals, nNulls)
    forSamples(gen, 10) { case (vals, nNulls) =>
      val rows = vals.map(Option(_)) ++ Seq.fill(nNulls)(Option.empty[Double])
      val df = rows.toDF("v")
      val rfit = ops.FeaturePrep.fitRobust(df, "v")
      assert(rfit.q1 === ref(vals, 0.25))
      assert(rfit.median === ref(vals, 0.5))
      assert(rfit.q3 === ref(vals, 0.75))
      val wfit = ops.FeaturePrep.fitWinsor(df, "v", 0.1, 0.9)
      assert(wfit.lo === ref(vals, 0.1))
      assert(wfit.hi === ref(vals, 0.9))
    }
  }

  test("property: winsorize is idempotent and bound-respecting on random data") {
    val gen = Gen.listOfN(40, Gen.choose(-1e6, 1e6))
    forSamples(gen, 6) { vals =>
      val df = vals.toDF("v")
      val fit = ops.FeaturePrep.fitWinsor(df, "v", 0.05, 0.95)
      val once = df.select(
        ops.FeaturePrep.winsorize(fit)(col("v")).as("v"))
      val out = once.collect().map(_.getDouble(0))
      // every output in [round(lo,4)-ε, round(hi,4)+ε] (round can nudge
      // a boundary value by <1e-4 in either direction)
      assert(out.forall(v => v >= fit.lo - 1e-4 && v <= fit.hi + 1e-4))
      // idempotent through the rounded domain: clamping again changes nothing
      val twice = once.select(
          ops.FeaturePrep.winsorize(fit)(col("v")).as("v"))
        .collect().map(_.getDouble(0))
      assert(out.toSeq == twice.toSeq)
    }
  }

  test("property: KeyDiscovery equals the brute-force reference on random tables") {
    val cell: Gen[Option[Int]] = Gen.frequency(
      8 -> Gen.choose(0, 4).map(Some(_)), 1 -> Gen.const(None))
    val gen = for {
      n <- Gen.choose(2, 25)
      rows <- Gen.listOfN(n, Gen.zip(cell, cell, cell))
    } yield rows
    forSamples(gen, 8) { rows =>
      val df = rows.toDF("a", "b", "c")
      val cols = Seq("a", "b", "c")
      val byName = Map("a" -> ((t: (Option[Int], Option[Int], Option[Int])) => t._1),
        "b" -> ((t: (Option[Int], Option[Int], Option[Int])) => t._2),
        "c" -> ((t: (Option[Int], Option[Int], Option[Int])) => t._3))

      val keys = stats.KeyDiscovery.candidateKeys(df, cols).collect()
        .map(r => r.getString(0) -> r.getBoolean(4)).toMap
      cols.foreach { cn =>
        val vs = rows.map(byName(cn))
        val expect = !vs.contains(None) && vs.distinct.size == vs.size
        assert(keys(cn) == expect, s"col $cn on $rows")
      }

      val fds = stats.KeyDiscovery.functionalDependencies(df, cols).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(4)).toMap
      for (a <- cols; b <- cols if a != b) {
        val pairs = rows.flatMap(t => for {
          x <- byName(a)(t); y <- byName(b)(t) } yield (x, y))
        val expect = pairs.groupBy(_._1).values
          .forall(_.map(_._2).distinct.size <= 1)
        assert(fds((a, b)) == expect, s"$a->$b on $rows")
      }
    }
  }

  test("property: composite FDs = brute force incl. the TANE prune; screens keep verdicts") {
    val cell: Gen[Option[Int]] = Gen.frequency(
      8 -> Gen.choose(0, 3).map(Some(_)), 1 -> Gen.const(None))
    val gen = for {
      n <- Gen.choose(2, 25)
      rows <- Gen.listOfN(n, Gen.zip(cell, cell, cell))
    } yield rows
    forSamples(gen, 6) { rows =>
      val df = rows.toDF("a", "b", "c")
      val byName = Map("a" -> ((t: (Option[Int], Option[Int], Option[Int])) => t._1),
        "b" -> ((t: (Option[Int], Option[Int], Option[Int])) => t._2),
        "c" -> ((t: (Option[Int], Option[Int], Option[Int])) => t._3))
      // brute force: X -> c over rows where every member of X and c are
      // non-null, each X-tuple maps to at most one c
      def bruteHolds(xs: Seq[String], c: String): Boolean = rows
        .flatMap { t =>
          val xv = xs.map(x => byName(x)(t))
          val cv = byName(c)(t)
          if (xv.forall(_.isDefined) && cv.isDefined)
            Some(xv.map(_.get) -> cv.get) else None
        }
        .groupBy(_._1).values.forall(_.map(_._2).distinct.size <= 1)
      val out = stats.KeyDiscovery.compositeFunctionalDependencies(df,
          Seq("a", "b"), Seq("c"), maxArity = 2)
        .collect().map(r => (r.getString(0), r.getString(2)) -> r.getBoolean(5))
        .toMap
      // verdicts match brute force on everything measured
      out.foreach { case ((d, c), h) =>
        assert(h == bruteHolds(d.split(",").toSeq, c), s"$d->$c on $rows")
      }
      // the TANE prune: (a,b)->c is measured iff NO single determinant
      // already holds; when measured, its verdict is the brute-force one
      val anySingle = bruteHolds(Seq("a"), "c") || bruteHolds(Seq("b"), "c")
      assert(out.contains(("a,b", "c")) == !anySingle, s"prune on $rows")
      // the refute-only screen never changes a verdict (tiny-n HLL is
      // exact, so this is deterministic here)
      val scr = stats.KeyDiscovery.compositeFunctionalDependencies(df,
          Seq("a", "b"), Seq("c"), maxArity = 2,
          screen = stats.KeyDiscovery.Screen.Hll)
        .collect().map(r => (r.getString(0), r.getString(2)) -> r.getBoolean(5))
        .toMap
      assert(scr == out, s"screen drift on $rows")
    }
  }
}
