package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.frame.WoodworkFrame
import graft.io.ReadWrite
import graft.streaming.StreamingFrame
import graft.types.{LogicalType => LT, TypeTables}

/** Typed I/O round-trips and the streaming extension. */
class IoStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = WoodworkFrame.init(
    Seq((1L, "a@b.com", "x", 1.5), (2L, "c@d.org", "y", 2.5))
      .toDF("id", "email", "cat", "v"),
    index = Some("id"),
    logicalTypes = Map("cat" -> LT.Categorical))

  test("toDisk/fromDisk parquet round-trip preserves typing without inference") {
    val dir = java.nio.file.Files.createTempDirectory("wwio").toString
    ReadWrite.toDisk(fixture, dir)
    val back = ReadWrite.fromDisk(spark, dir)
    assert(back.logicalTypes == fixture.logicalTypes)
    assert(back.index.contains("id"))
    assert(back.df.count() == 2)
  }

  test("partitioned toDisk: hive layout, pruned scans, layout-invariant round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("wwpart").toString
    ReadWrite.toDisk(fixture, dir, partitionCols = Seq("cat"))
    // hive-style directories exist per partition value
    val parts = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(parts.toSeq == Seq("cat=x", "cat=y"))
    val back = ReadWrite.fromDisk(spark, dir)
    // sidecar restores declared order + logical types despite the physical
    // layout moving the partition column to the tail as an inferred string
    assert(back.df.columns.toSeq == fixture.df.columns.toSeq)
    assert(back.logicalTypes == fixture.logicalTypes)
    assert(back.df.orderBy("id").collect().map(_.getString(2)).toSeq ==
      Seq("x", "y"))
    // a filter on the partition column prunes at planning time: the scan's
    // partition filters carry the predicate, selected files drop to 1 dir
    val pruned = back.df.where(col("cat") === "x")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cat"),
      s"expected partition filters in scan:\n$scan")
    assert(pruned.count() == 1)
  }

  test("csv round-trip re-coerces physical types from the typing info") {
    val dir = java.nio.file.Files.createTempDirectory("wwcsv").toString
    ReadWrite.toDisk(fixture, dir, format = "csv")
    val back = ReadWrite.fromDisk(spark, dir, format = "csv")
    assert(back.logicalTypes("v") == "Double")
    assert(back.df.schema("v").dataType.typeName == "double") // csv read strings re-coerced
    assert(back.df.schema("id").dataType.typeName == "long")
  }

  test("typing info JSON carries schema version, index, params") {
    val f = fixture.setTypes(Map("cat" -> LT.Ordinal(Seq("x", "y"))))
    val json = ReadWrite.typingInfoJson(f)
    val doc = org.json4s.jackson.JsonMethods.parse(json)
    assert(doc \ "schema_version" == org.json4s.JString("12.0.0"))
    assert(doc \ "index" == org.json4s.JString("id"))
    val schema = ReadWrite.typingInfoFromJson(json)
    assert(schema("cat").logicalType == LT.Ordinal(Seq("x", "y")))
    assert(schema.index.contains("id"))
  }

  test("parses reference-ordered typing JSON (python dict field order)") {
    // the reference serializer emits use_standard_tags BEFORE logical_type
    // and parameters BEFORE type (serializer_base.py:157-173)
    val json =
      """{
        | "schema_version": "12.0.0", "name": "t", "index": "id",
        | "time_index": null,
        | "column_typing_info": [
        |  {"name": "id", "ordinal": 0, "use_standard_tags": true,
        |   "logical_type": {"parameters": {}, "type": "Integer"},
        |   "physical_type": {"type": "int64"}, "semantic_tags": ["index"],
        |   "description": null, "origin": null, "metadata": {}},
        |  {"name": "lvl", "ordinal": 1, "use_standard_tags": true,
        |   "logical_type": {"parameters": {"order": "ab"}, "type": "Ordinal"},
        |   "physical_type": {"type": "category"}, "semantic_tags": ["category"],
        |   "description": "levels", "origin": "base", "metadata": {}}
        | ],
        | "loading_info": {"table_type": "pandas"}, "table_metadata": {}}""".stripMargin
    val schema = ReadWrite.typingInfoFromJson(json)
    assert(schema.columns.keys.toSeq == Seq("id", "lvl"))
    assert(schema("id").logicalType == LT.Integer)
    assert(schema.index.contains("id"))
    assert(schema("lvl").logicalType == LT.Ordinal(Seq("a", "b")))
    assert(schema("lvl").description.contains("levels"))
  }

  test("ingests the reference's own serialization-test typing fixture byte-for-byte") {
    // transcribed verbatim from the reference's expected typing dict
    // (/root/reference/woodwork/tests/accessor/test_serialization.py:63-259,
    // test_to_dictionary) — python dict field order, int-valued Ordinal
    // order, null parameters, per-column metadata, table_metadata
    val in = getClass.getResourceAsStream("/reference_typing_info.json")
    val json = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val schema = ReadWrite.typingInfoFromJson(json)
    assert(schema.name.contains("test_data"))
    assert(schema.index.contains("id"))
    assert(schema.timeIndex.isEmpty)
    assert(schema.columns.keys.toSeq == Seq("id", "full_name", "email",
      "phone_number", "age", "signup_date", "is_registered", "double",
      "double_with_nan", "integer", "nullable_integer", "boolean",
      "categorical", "datetime_with_NaT", "url", "ip_address"))
    assert(schema("id").logicalType == LT.Integer)
    assert(schema("id").semanticTags == Set("index", "tag1"))
    assert(schema("id").metadata == Map("is_sorted" -> "true"))
    assert(schema("full_name").logicalType.name == "Unknown")
    assert(schema("email").logicalType.name == "EmailAddress")
    assert(schema("phone_number").logicalType.name == "PhoneNumber")
    assert(schema("phone_number").origin.contains("base"))
    // int-valued order list survives as the ordered category sequence
    assert(schema("age").logicalType == LT.Ordinal(Seq("25", "33", "57")))
    assert(schema("age").description.contains("age of the user"))
    assert(schema("age").metadata ==
      Map("interesting_values" ->
        Seq("33", "57").mkString(graft.types.LogicalType.Ordinal.Sep)))
    assert(schema("signup_date").logicalType == LT.Datetime(None, None))
    assert(schema("signup_date").origin.contains("engineered"))
    assert(schema("is_registered").logicalType.name == "BooleanNullable")
    assert(schema("double").logicalType == LT.Double)
    assert(schema("double").allTags.contains("numeric"))
    assert(schema("nullable_integer").logicalType.name == "IntegerNullable")
    assert(schema("boolean").logicalType == LT.BooleanT(None))
    assert(schema("categorical").logicalType.name == "Categorical")
    assert(schema("datetime_with_NaT").logicalType == LT.Datetime(None, None))
    assert(schema("url").logicalType.name == "URL")
    assert(schema("ip_address").logicalType.name == "IPAddress")
    assert(schema.metadata == Map("date_created" -> "11/16/20"))

    // full fromDisk ingest against the fixture: matching data + the
    // reference-format sidecar, read back with types applied
    val dir = java.nio.file.Files.createTempDirectory("wwref").toString
    val df = Seq(
      (1L, "Mr. John Doe", "john.smith@example.com", "5555555555",
        57L, "2020-09-01 00:00:00", true, 2.5, 0.2, 4L, 2L, true, "a",
        "2020-09-01 00:00:00", "https://github.com/alteryx/woodwork",
        "172.16.254.1"))
      .toDF("id", "full_name", "email", "phone_number", "age",
        "signup_date", "is_registered", "double", "double_with_nan",
        "integer", "nullable_integer", "boolean", "categorical",
        "datetime_with_NaT", "url", "ip_address")
    df.write.parquet(s"$dir/data")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/woodwork_typing_info.json"),
      json.getBytes("UTF-8"))
    val back = ReadWrite.fromDisk(spark, dir)
    assert(back.logicalTypes.toMap == Map(
      "id" -> "Integer", "full_name" -> "Unknown",
      "email" -> "EmailAddress", "phone_number" -> "PhoneNumber",
      "age" -> "Ordinal", "signup_date" -> "Datetime",
      "is_registered" -> "BooleanNullable", "double" -> "Double",
      "double_with_nan" -> "Double", "integer" -> "Integer",
      "nullable_integer" -> "IntegerNullable", "boolean" -> "Boolean",
      "categorical" -> "Categorical", "datetime_with_NaT" -> "Datetime",
      "url" -> "URL", "ip_address" -> "IPAddress"))
    assert(back.index.contains("id"))
    val row = back.df.head()
    assert(row.getAs[String]("age") == "57") // ordinal → ordered category
    assert(back.df.schema("signup_date").dataType.typeName == "timestamp")
  }

  test("orc and json round-trips preserve typing via the sidecar") {
    for (fmt <- Seq("orc", "json")) {
      val dir = java.nio.file.Files.createTempDirectory(s"ww$fmt").toString
      ReadWrite.toDisk(fixture, dir, format = fmt)
      val back = ReadWrite.fromDisk(spark, dir, format = fmt)
      assert(back.logicalTypes == fixture.logicalTypes, fmt)
      assert(back.df.schema("v").dataType.typeName == "double", fmt)
      assert(back.df.count() == 2, fmt)
    }
  }

  test("readFile sniffs magic bytes when the extension lies") {
    // parquet data living under a '.dat' path must be detected as parquet
    val dir = java.nio.file.Files.createTempDirectory("wwsniff").toString
    val pq = s"$dir/table.dat"
    fixture.df.write.parquet(pq)
    assert(ReadWrite.sniffFormat(spark, pq).contains("parquet"))
    val f = ReadWrite.readFile(spark, pq)
    assert(f.df.count() == 2 && f.df.schema("v").dataType.typeName == "double")
    // json lines under a '.bin' path → json
    val js = s"$dir/rows.bin"
    java.nio.file.Files.write(java.nio.file.Paths.get(js),
      "{\"a\": 1}\n{\"a\": 2}\n".getBytes("UTF-8"))
    assert(ReadWrite.sniffFormat(spark, js).contains("json"))
    assert(ReadWrite.readFile(spark, js).df.count() == 2)
    // plain text that is neither → csv fallback
    val cs = s"$dir/plain.unknown"
    java.nio.file.Files.write(java.nio.file.Paths.get(cs),
      "a,b\n1,2\n".getBytes("UTF-8"))
    assert(ReadWrite.sniffFormat(spark, cs).contains("csv"))
  }

  test("readFile csv infers types") {
    val dir = java.nio.file.Files.createTempDirectory("wwread").toString
    Seq(("1", "yes"), ("2", "no")).toDF("n", "flag")
      .write.option("header", "true").csv(s"$dir/t.csv")
    val f = ReadWrite.readFile(spark, s"$dir/t.csv", format = Some("csv"))
    assert(f.logicalTypes("n") == "Integer")
    assert(f.logicalTypes("flag") == "Boolean")
    // replace_nan: string sentinels become physical nulls at read time
    val dir2 = java.nio.file.Files.createTempDirectory("wwread2").toString
    Seq(("1", "a"), ("N/A", "none")).toDF("n", "s")
      .write.option("header", "true").csv(s"$dir2/t.csv")
    val g = ReadWrite.readFile(spark, s"$dir2/t.csv", format = Some("csv"),
      replaceNan = true)
    assert(g.df.collect().flatMap(r => Seq(r.isNullAt(0), r.isNullAt(1)))
      .count(identity) == 2)
  }

  test("registry introspection tables") {
    val types = TypeTables.listLogicalTypes(spark).collect()
    assert(types.length == 26)
    assert(types.count(_.getAs[Boolean]("is_default_type")) == 1)
    val tags = TypeTables.listSemanticTags(spark).collect()
    assert(tags.map(_.getString(0)).toSet.contains("numeric"))
  }

  test("streaming dedup drops duplicate fingerprints within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("ts", "text")
    val deduped = StreamingFrame.streamingDedup(stream, "text", "ts")
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    mem.addData((t0, "same doc text"), (t0, "same doc text"), (t0, "other text"))
    q.processAllAvailable()
    assert(spark.sql("select * from dedup").count() == 2)
    q.stop()
  }

  test("streaming windowed heavy hitters: bounded per-window sketch state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("ts", "v")
    val hh = StreamingFrame.windowedHeavyHitters(stream, "ts", "v",
      capacity = 8, windowDuration = "1 hour", watermark = "0 seconds")
    val q = hh.writeStream.format("memory").queryName("whh")
      .outputMode("complete").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:10:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 01:10:00")
    mem.addData((t0, "a"), (t0, "a"), (t0, "b"), (t1, "c"))
    q.processAllAvailable()
    val rows = spark.sql(
        "select value, count_lo, count_hi from whh order by window_start, count_lo desc, value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("a", 2L, 2L), ("b", 1L, 1L), ("c", 1L, 1L)))
    q.stop()
  }

  test("streaming constraints gate drops violating rows statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Constraints._
    val mem = MemoryStream[(Long, Double)]
    val stream = mem.toDF().toDF("id", "v")
    val gated = StreamingFrame.constraintsGate(stream,
      Seq(InRange("v", 0.0, 10.0), Satisfies("id_pos", col("id") > 0)))
    val q = gated.writeStream.format("memory").queryName("dqgate")
      .outputMode("append").start()
    mem.addData((1L, 5.0), (2L, 15.0), (-3L, 5.0), (4L, 7.0))
    q.processAllAvailable()
    val kept = spark.sql("select id from dqgate").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
    q.stop()
  }

  test("streaming image dedup collapses perceptual duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    def png(shift: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = math.min(255, (x * x * 5 + y * 11) % 200 + shift)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val mem = MemoryStream[(java.sql.Timestamp, Int)]
    val stream = mem.toDF().toDF("ts", "shift")
      .withColumn("payload", udf((s: Int) => png(s)).apply(col("shift")))
    val out = StreamingFrame.streamingImageDedup(stream, "payload", "ts")
    val q = out.writeStream.format("memory").queryName("imgdedup")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // shift 0 and 20 are brightness-shifted twins (same dHash); 0 repeats
    mem.addData((t0, 0), (t0, 20), (t0, 0))
    q.processAllAvailable()
    assert(spark.sql("select * from imgdedup").count() == 1)
    q.stop()
    // null payloads all pass through — they must NOT collapse on a null key
    val mem2 = MemoryStream[(java.sql.Timestamp, Int)]
    val s2 = mem2.toDF().toDF("ts", "shift")
      .withColumn("payload", lit(null).cast("binary"))
    val q2 = StreamingFrame.streamingImageDedup(s2, "payload", "ts")
      .writeStream.format("memory").queryName("imgdedup_null")
      .outputMode("append").start()
    mem2.addData((t0, 1), (t0, 2), (t0, 3))
    q2.processAllAvailable()
    assert(spark.sql("select * from imgdedup_null").count() == 3)
    q2.stop()
  }

  test("streaming audio dedup collapses level-scaled twins within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    def wav(scale: Int): Array[Byte] = {
      val n = 120
      val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(2 * n)
      (0 until n).foreach(i =>
        bb.putShort(((((i * 37 + 11) % 2001) - 1000) * scale).toShort))
      bb.array()
    }
    val mem = MemoryStream[(java.sql.Timestamp, Int)]
    val stream = mem.toDF().toDF("ts", "scale")
      .withColumn("payload", udf((s: Int) => wav(s)).apply(col("scale")))
    val out = StreamingFrame.streamingAudioDedup(stream, "payload", "ts")
    val q = out.writeStream.format("memory").queryName("auddedup")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    mem.addData((t0, 1), (t0, 2), (t0, 1)) // 1 and 2 are level-scaled twins
    q.processAllAvailable()
    assert(spark.sql("select * from auddedup").count() == 1)
    q.stop()
  }

  test("streaming near-dedup collapses simhash-identical docs; piiScrub redacts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("ts", "text")
    val deduped = StreamingFrame.streamingNearDedup(stream, "text", "ts")
    val q = deduped.writeStream.format("memory").queryName("neardedup")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // same token multiset → identical simhash even with different spacing
    mem.addData((t0, "alpha beta gamma delta"), (t0, "alpha  beta gamma  delta"),
      (t0, "totally different words here"))
    q.processAllAvailable()
    assert(spark.sql("select * from neardedup").count() == 2)
    q.stop()
    val mem2 = MemoryStream[String]
    val scrubbed = StreamingFrame.piiScrub(mem2.toDF().toDF("text"), "text")
    val q2 = scrubbed.writeStream.format("memory").queryName("scrub")
      .outputMode("append").start()
    mem2.addData("mail a@b.co or visit https://x.io/1 from 10.0.0.7")
    q2.processAllAvailable()
    val row = spark.sql("select * from scrub").collect().head
    assert(row.getAs[String]("text") == "mail [EMAIL] or visit [URL] from [IP]")
    assert(row.getAs[Long]("pii_emails") == 1L &&
      row.getAs[Long]("pii_urls") == 1L && row.getAs[Long]("pii_ips") == 1L)
    q2.stop()
  }

  test("streaming gopher gate drops failing docs statelessly") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val gated = StreamingFrame.gopherGate(mem.toDF().toDF("text"), "text")
    val q = gated.writeStream.format("memory").queryName("gate")
      .outputMode("append").start()
    val good = ("the quick brown fox jumps over that lazy dog with grace and " * 6).trim
    mem.addData(good, "too few words", "")
    q.processAllAvailable()
    val kept = spark.sql("select text from gate").collect().map(_.getString(0))
    assert(kept.toSeq == Seq(good))
    q.stop()
  }

  test("shard writer balances files and the manifest reconciles") {
    val dir = java.nio.file.Files.createTempDirectory("wwshard").toString
    val df = (0L until 200L).map(i => (i, s"row $i")).toDF("id", "body")
    val manifest = graft.io.ShardWriter.writeShards(df, dir, 4, "id")
      .collect()
    assert(manifest.length === 4)
    assert(manifest.map(_.getAs[Long]("rows")).sum === 200L)
    assert(manifest.forall(_.getAs[Long]("bytes") > 0L))
    // shard membership is hash-stable: rewriting yields identical sizes
    val again = graft.io.ShardWriter.writeShards(df.repartition(13), dir, 4, "id")
      .collect().map(r => r.getAs[Long]("rows")).sorted
    assert(again.toSeq === manifest.map(_.getAs[Long]("rows")).sorted.toSeq)
    // content round-trips
    assert(spark.read.parquet(dir).count() === 200L)
  }

  test("streaming classifier gate tags and filters by predicted class") {
    implicit val sqlCtx = spark.sqlContext
    val train = Seq(
      ("spam", "buy cheap pills now buy buy"),
      ("spam", "cheap cheap offer buy now"),
      ("ham", "meeting notes for the quarterly review"),
      ("ham", "please review the attached meeting agenda"))
      .toDF("label", "text")
    val (w, c) = graft.ops.Classifier.trainNaiveBayes(train, "label", "text")
    val model = graft.ops.Classifier.collectModel(w, c)
    val mem = MemoryStream[String]
    val gated = StreamingFrame.classifyGate(mem.toDF().toDF("text"), "text",
      model, keep = Seq("ham"))
    val q = gated.writeStream.format("memory").queryName("classified")
      .outputMode("append").start()
    mem.addData("cheap pills offer now", "quarterly meeting review agenda")
    q.processAllAvailable()
    val kept = spark.sql("select text, pred from classified").collect()
    assert(kept.length == 1)
    assert(kept.head.getString(0) == "quarterly meeting review agenda")
    assert(kept.head.getString(1) == "ham")
    q.stop()
  }

  test("ingestGate: composed streaming front door gates, scrubs and dedups") {
    implicit val sqlCtx = spark.sqlContext
    val passing = Queries.q91Passage
    // bloom built from a benchmark doc that shares grams with one input
    val bench = Seq((1L, passing)).toDF("id", "text")
    val bits = graft.ops.Corpus.buildGramBloom(bench, "id", "text",
      n = 13, numBits = 1 << 16)
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("ts", "text")
    val gated = StreamingFrame.ingestGate(stream, "text", "ts", bits, n = 13)
    val q = gated.writeStream.format("memory").queryName("ingest")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // a fully distinct 50+ word passing doc (no shared 13-gram windows)
    val fresh = ("the garden committee walked through every plot this " +
      "morning and noted that all of the beds were watered with care " +
      "while the volunteers trimmed hedges and sorted seeds for the " +
      "spring planting season so that everyone involved could plan the " +
      "next steps together and share tools without delay before lunch") +
      " reach me at a@b.co"
    mem.addData(
      (t0, passing), // contaminated: shares 13-grams with bench → dropped
      (t0, "too short"), // fails gopher → dropped
      (t0, fresh), (t0, fresh)) // near-dups: one survives, scrubbed
    q.processAllAvailable()
    val rows = spark.sql("select text from ingest").collect()
    assert(rows.length === 1)
    assert(rows.head.getString(0).endsWith("reach me at [EMAIL]"))
    q.stop()
  }

  test("ingestGate throughput: one bounded state store, measured rows/sec") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((1L, Queries.q91Passage)).toDF("id", "text")
    val bits = graft.ops.Corpus.buildGramBloom(bench, "id", "text",
      n = 13, numBits = 1 << 16)
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("ts", "text")
    val gated = StreamingFrame.ingestGate(stream, "text", "ts", bits, n = 13)
    val q = gated.writeStream.format("memory").queryName("ingest_bench")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // each doc: 30 (stopword, synthetic-word) pairs — 60 words, ≥2 distinct
    // stopwords, mean word length in range, and per-doc content words drawn
    // from a 17k vocab so docs are SUBSTANTIALLY distinct (the gate's
    // near-dedup would rightly collapse docs differing by a few tokens)
    val stops = Seq("the", "and", "with", "that", "for", "have")
    def wordOf(x: Int): String = {
      val a = ('a' + x % 26).toChar
      val b = ('a' + (x / 26) % 26).toChar
      val c = ('a' + (x / 676) % 26).toChar
      val d = ('a' + (x / 17576) % 26).toChar
      s"w$a$b$c$d"
    }
    // 37 is coprime with 26^4, so doc word-sets are distinct for all
    // i < 456976; only two stopword tokens are shared across docs — a
    // large shared token fraction would bias simhash signatures together
    // and near-dedup would (correctly) start collapsing distinct docs
    def doc(i: Int) = "the and " + (0 until 58).map(j =>
      wordOf((i * 37 + j * 13) % 456976)).mkString(" ")
    // warm batch: plan compile + state store init off the measured path
    mem.addData((t0, doc(30001)))
    q.processAllAvailable()
    val n = 20000
    val payload = (0 until n).map(i => (t0, doc(i)))
    val start = System.nanoTime()
    mem.addData(payload: _*)
    q.processAllAvailable()
    val secs = (System.nanoTime() - start) / 1e9
    val rps = n / secs
    info(f"ingestGate throughput: $n%d docs in $secs%.2f s = $rps%.0f rows/s")
    // the composed gate holds exactly ONE stateful operator (the
    // watermarked dedup store); every other stage is a stateless
    // projection/filter
    val progress = q.lastProgress
    assert(progress.stateOperators.length == 1)
    assert(progress.stateOperators.head.operatorName
      .contains("dedupeWithinWatermark"))
    val out = spark.sql("select count(*) from ingest_bench").head().getLong(0)
    // every substantially-distinct doc survives (modulo rare simhash
    // collisions between genuinely different docs)
    assert(out >= (n * 0.99).toLong, s"only $out of $n docs survived")
    // state is bounded by rows inside the watermark horizon, not history
    assert(progress.stateOperators.head.numRowsTotal <= (n + 1).toLong)
    assert(rps > 1000.0, f"ingest gate slower than 1k rows/s: $rps%.0f")
    q.stop()
  }

  test("streaming sessionize merges gap-joined events; watermark closes sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val stream = mem.toDF().toDF("ts", "user_id")
    val sessions = StreamingFrame.streamingSessionize(stream, "user_id", "ts",
      gap = "10 minutes", watermark = "1 minute")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 7: two events 5 min apart (one session), one 30 min later (second)
    mem.addData(
      (ts("2024-01-01 00:00:00"), 7L), (ts("2024-01-01 00:05:00"), 7L),
      (ts("2024-01-01 00:35:00"), 7L),
      (ts("2024-01-01 00:00:00"), 8L))
    q.processAllAvailable()
    // advance the watermark far enough to emit all closed sessions
    mem.addData((ts("2024-01-01 02:00:00"), 9L))
    q.processAllAvailable()
    val rows = spark.sql("select * from sessions where user_id in (7, 8)")
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(3)))
    assert(rows.toSeq == Seq(
      (7L, "2024-01-01 00:00:00.0", 2L),
      (7L, "2024-01-01 00:35:00.0", 1L),
      (8L, "2024-01-01 00:00:00.0", 1L)))
    q.stop()
  }

  test("streaming sessionStats replayed in event-time order equals " +
      "batch sessionStats; a gap mismatch diverges") {
    implicit val sqlCtx = spark.sqlContext
    val gapS = 600L
    // deterministic fixture: 3 users, 1..999s steps with the exact-gap
    // spacing excluded (the documented session_window boundary-
    // convention divergence), interleaved in global event-time order
    val rnd = new scala.util.Random(5)
    val events = (1L to 3L).flatMap { u =>
      var t = 3600L * u
      (0 until 40).map { _ =>
        // exclusion applied to the FINAL spacing (after the multiplier),
        // else 200×3 = 600 would hit the documented boundary divergence
        val s0 = (rnd.nextInt(999) + 1) * (if (rnd.nextInt(4) == 0) 3 else 1)
        t += (if (s0 == gapS) s0 + 1 else s0)
        (u, t)
      }
    }.sortBy(_._2)
    def run(gap: String): Set[(Long, Long, Long, Long, Long)] = {
      val mem = MemoryStream[(java.sql.Timestamp, Long)]
      val stream = mem.toDF().toDF("ts", "user_id")
      val name = s"session_stats_${gap.replace(" ", "_")}"
      val q = StreamingFrame.streamingSessionStats(stream, "user_id", "ts",
          gap = gap, watermark = "1 minute")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      mem.addData(events.map { case (u, t) =>
        (new java.sql.Timestamp(t * 1000L), u) }: _*)
      q.processAllAvailable()
      // flush: a far-future sentinel closes every session
      mem.addData((new java.sql.Timestamp(
        (events.map(_._2).max + 72000L) * 1000L), 99L))
      q.processAllAvailable()
      val out = spark.sql(
        s"select * from $name where user_id in (1, 2, 3)").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      q.stop()
      out
    }
    val batch = graft.ops.Sessionize.sessionStats(
        events.map { case (u, t) =>
          (u, new java.sql.Timestamp(t * 1000L)) }.toDF("user_id", "ts"),
        "user_id", "ts", gapSeconds = gapS)
      .select("user_id", "start_us", "end_us", "n_events", "duration_us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val streamed = run("10 minutes")
    assert(streamed == batch, "replay must equal batch sessionStats")
    assert(batch.size > 10, "fixture must produce several sessions")
    // config-mismatch arm: a different gap is a DIFFERENT sessionization
    assert(run("5 minutes") != batch,
      "gap mismatch must diverge — else the parity assert is vacuous")
  }

  test("stateful per-key profile accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val stream = mem.toDF().toDF("k", "v")
    val prof = StreamingFrame.statefulProfile(stream, "k", "v")
    val q = prof.writeStream.format("memory").queryName("keyprof")
      .outputMode("update").start()
    mem.addData(("a", 1.0), ("a", 3.0), ("b", 10.0))
    q.processAllAvailable()
    mem.addData(("a", 5.0)) // state carries: count 3, mean 3.0
    q.processAllAvailable()
    val rows = spark.sql("select * from keyprof where key = 'a'")
      .orderBy(col("count")).collect()
    assert(rows.last.getAs[Long]("count") == 3)
    assert(rows.last.getAs[Double]("mean") == 3.0)
    assert(rows.last.getAs[Double]("min") == 1.0)
    assert(rows.last.getAs[Double]("max") == 5.0)
    q.stop()
  }

  test("state envelope: v2 round-trip is exact, v1 fixture upgrades, unknown fails loudly") {
    import StreamingFrame.{KeyProfile, StateEnvelope}
    // exact round-trip including NaN and infinities (bit-pattern doubles)
    val p = KeyProfile("a\"b\\c", 3L, Double.NaN,
      Double.PositiveInfinity, -0.0, Double.MaxValue)
    val rt = StateEnvelope.decodeKeyProfile(StateEnvelope.encodeKeyProfile(p))
    assert(rt.key == p.key && rt.count == p.count)
    assert(java.lang.Double.doubleToLongBits(rt.sum) ==
      java.lang.Double.doubleToLongBits(p.sum))
    assert(rt.mean == p.mean)
    assert(java.lang.Double.doubleToLongBits(rt.min) ==
      java.lang.Double.doubleToLongBits(p.min))
    assert(rt.max == p.max)
    // checked-in v1 fixture: the pre-`sum` PAYLOAD layout, exercising the
    // upgrade-arm convention end-to-end (no real pre-r9 checkpoint holds
    // an envelope — those persisted the raw case class and need a fresh
    // checkpoint; this pins how the NEXT payload evolution upgrades)
    def b(d: Double) = java.lang.Double.doubleToLongBits(d)
    val v1 = StateEnvelope.Enveloped(1,
      s"""{"key":"k1","count":4,"mean":${b(2.5)},"min":${b(1.0)},"max":${b(4.0)}}""")
    val up = StateEnvelope.decodeKeyProfile(v1)
    assert(up == KeyProfile("k1", 4L, 10.0, 2.5, 1.0, 4.0))
    // a version this build does not know fails with the NAMED error
    val boom = intercept[StateEnvelope.StateVersionMismatch] {
      StateEnvelope.decodeKeyProfile(StateEnvelope.Enveloped(99, "{}"))
    }
    assert(boom.getMessage.contains("version 99"))
  }

  test("streaming: schema apply + windowed profile + quality filter") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val stream = mem.toDF().toDF("ts", "text", "v")

    val typed = StreamingFrame.applySchema(stream, fixture.schema.subset(Nil))
    assert(typed.isStreaming || typed.columns.isEmpty) // empty subset → no cols

    val profiled = StreamingFrame.windowedProfile(stream, "ts", "v",
      windowDuration = "1 minute", watermark = "1 minute")
    val q1 = profiled.writeStream.format("memory").queryName("prof")
      .outputMode("append").start()
    val filtered = StreamingFrame.qualityFilter(stream, "text", minScore = 0.0)
    val q2 = filtered.writeStream.format("memory").queryName("filt")
      .outputMode("append").start()

    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    mem.addData((t0, "the quick brown fox and the lazy dog", 1.0),
      (t0, "more words of the day for the test", 2.0))
    q1.processAllAvailable(); q2.processAllAvailable()
    val filt = spark.sql("select * from filt").collect()
    assert(filt.length == 2)
    assert(filt.forall(_.getAs[String]("lang_pred") == "en"))
    q1.stop(); q2.stop()
  }
}
