package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{JArray, JBool, JInt, JNull, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.{compact, pretty, render}

import graft.frame.WoodworkFrame
import graft.schema.{SchemaMetadata, WwColumnSchema, WwTableSchema}
import graft.types.LogicalType

/** Typed I/O: read a file into an initialized frame, write a frame with its
  * typing info, and round-trip through a woodwork-compatible typing-info JSON
  * (schema version 12.0.0) so tables serialized by the reference can be
  * ingested (reference: woodwork/serializers/, deserializers/,
  * utils.py:95-195 `read_file`).
  *
  * Parquet needs no sidecar — ww typing rides in StructField.metadata, which
  * Spark persists in the parquet footer natively. The JSON sidecar is for
  * CSV/JSON/ORC and for reference compatibility.
  */
object ReadWrite {

  val SchemaVersion: String = SchemaMetadata.SchemaVersion

  private val extToFormat = Map(
    "csv" -> "csv", "parquet" -> "parquet", "orc" -> "orc", "json" -> "json",
    "feather" -> "feather", "arrow" -> "feather")

  /** reference: utils.py:150-163 content-type guessing. `unknown` decides
    * the fallback for unrecognized extensions (plain default here; the
    * readFile path passes the magic-byte sniff).
    */
  def formatFor(path: String,
                unknown: => String = "parquet"): String = {
    val ext = path.reverse.takeWhile(_ != '.').reverse.toLowerCase
    extToFormat.getOrElse(ext, unknown)
  }

  /** Content sniffing from the leading magic bytes of the first data file —
    * used when the extension is unrecognized (the reference guesses purely by
    * extension, utils.py:150-163; sniffing is strictly safer for a `.dat`
    * that is really parquet). Goes through the Hadoop FileSystem of the
    * session so it works on any configured store, reads 8 bytes, never the
    * file. Recognizes parquet (PAR1), Arrow IPC (ARROW1), ORC, JSON text,
    * and falls back to csv for other text (incl. gzip/zstd, which Spark's
    * csv reader decompresses by extension-codec).
    */
  def sniffFormat(spark: SparkSession, path: String): Option[String] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def firstFile(h: HPath): Option[HPath] = {
      val st = fs.getFileStatus(h)
      if (st.isFile) { if (st.getLen > 0) Some(h) else None }
      else fs.listStatus(h).sortBy(_.getPath.getName)
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
        .iterator.map(s => firstFile(s.getPath))
        .collectFirst { case Some(f) => f }
    }
    try firstFile(p).map { f =>
      val in = fs.open(f)
      val head = new Array[Byte](8)
      val n = try {
        var off = 0
        var r = 0
        while (off < 8 && { r = in.read(head, off, 8 - off); r > 0 }) off += r
        off
      } finally in.close()
      val s = new String(head, 0, n, StandardCharsets.US_ASCII)
      if (s.startsWith("PAR1")) "parquet"
      else if (s.startsWith("ARROW1")) "feather"
      else if (s.startsWith("ORC")) "orc"
      else {
        val firstPrintable = s.dropWhile(c => c == ' ' || c == '\t' ||
          c == '\r' || c == '\n')
        if (firstPrintable.startsWith("{") || firstPrintable.startsWith("["))
          "json"
        else "csv"
      }
    } catch { case _: java.io.IOException => None }
  }

  /** Read + init in one step (reference: `ww.read_file`). CSV reads with
    * header + schema inference disabled so logical-type inference owns
    * typing; parquet/orc keep their physical schema.
    */
  def readFile(spark: SparkSession, path: String,
               format: Option[String] = None,
               name: Option[String] = None,
               index: Option[String] = None,
               timeIndex: Option[String] = None,
               logicalTypes: Map[String, LogicalType] = Map.empty,
               semanticTags: Map[String, Set[String]] = Map.empty,
               replaceNan: Boolean = false): WoodworkFrame = {
    // extension first (reference parity), magic-byte sniff when it lies
    val fmt = format.getOrElse(
      formatFor(path, sniffFormat(spark, path).getOrElse("parquet")))
    val reader = spark.read
    val raw = fmt match {
      case "csv" => reader.option("header", "true").csv(path)
      case "feather" | "arrow" => ArrowIo.read(spark, path)
      case other => reader.format(other).load(path)
    }
    // replace_nan (reference: utils.py:95-195): string null-sentinels become
    // physical nulls at read time, one projection over the string columns
    val df =
      if (!replaceNan) raw
      else raw.select(raw.schema.fields.map { f =>
        LogicalType.replaceNans(org.apache.spark.sql.functions.col(f.name),
          f.dataType).as(f.name)
      }.toSeq: _*)
    WoodworkFrame.init(df, name = name, index = index, timeIndex = timeIndex,
      logicalTypes = logicalTypes, semanticTags = semanticTags)
  }

  /** Write data + typing info (reference: `df.ww.to_disk`,
    * table_accessor.py:654-697). Parquet embeds typing in the footer; every
    * format also gets the JSON sidecar for reference compatibility.
    */
  /** `partitionCols` lays the data out hive-style (`col=value/` dirs) so
    * later reads prune partitions at file-listing time — at 100 TB the
    * first and cheapest pushdown lever (a `source=`/`date=` filter skips
    * whole directory trees before any row is read). Partition columns move
    * to the tail of the physical layout and come back as
    * partition-inferred types; [[fromDisk]]'s sidecar re-coercion restores
    * BOTH the declared column order and the logical types, so the
    * round-trip is layout-invariant. Not supported for csv headers-only
    * and arrow (single-dir formats).
    */
  def toDisk(frame: WoodworkFrame, path: String, format: String = "parquet",
             mode: String = "overwrite",
             partitionCols: Seq[String] = Nil): Unit = {
    partitionCols.foreach(c => require(frame.df.columns.contains(c),
      s"partition column '$c' not in frame"))
    format match {
      case "csv" =>
        require(partitionCols.isEmpty, "partitionCols unsupported for csv")
        frame.df.write.mode(mode).option("header", "true").csv(s"$path/data")
      case "feather" | "arrow" =>
        require(partitionCols.isEmpty, "partitionCols unsupported for arrow")
        ArrowIo.write(frame.df, s"$path/data")
      case other =>
        val w = frame.df.write.mode(mode).format(other)
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .save(s"$path/data")
    }
    // sidecar through the session's Hadoop FS, NOT java.nio: a remote
    // path (s3a://, hdfs://) must carry data and typing info together
    val hPath = new org.apache.hadoop.fs.Path(s"$path/woodwork_typing_info.json")
    val fs = hPath.getFileSystem(
      frame.df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(hPath, true)
    try out.write(typingInfoJson(frame).getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read back a frame written by [[toDisk]]: typing info from the JSON
    * sidecar, re-init without inference (reference: `read_woodwork_table`,
    * deserialize.py:4-70).
    */
  def fromDisk(spark: SparkSession, path: String,
               format: String = "parquet"): WoodworkFrame = {
    val df = format match {
      case "csv" => spark.read.option("header", "true").csv(s"$path/data")
      case "feather" | "arrow" => ArrowIo.read(spark, s"$path/data")
      case other => spark.read.format(other).load(s"$path/data")
    }
    val hPath = new org.apache.hadoop.fs.Path(s"$path/woodwork_typing_info.json")
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(hPath)
    val json =
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        StandardCharsets.UTF_8)
      finally in.close()
    val schema = typingInfoFromJson(json)
    val coerced = df.select(schema.columns.map { case (n, cs) =>
      cs.logicalType.transform(org.apache.spark.sql.functions.col(n), df.schema(n).dataType)
        .as(n, SchemaMetadata.columnMetadata(cs))
    }.toSeq: _*)
    WoodworkFrame(coerced, schema)
  }

  // ---------------------------------------------------------------- JSON
  /** Typing info as woodwork-compatible JSON
    * (reference: serializers/serializer_base.py:137-185
    * `typing_info_to_dict`).
    */
  def typingInfoJson(frame: WoodworkFrame): String = {
    def opt(o: Option[String]): JValue = o.map(JString(_)).getOrElse(JNull)
    def strMap(m: Iterable[(String, String)]): JObject =
      JObject(m.toList.map { case (k, v) => k -> JString(v) })
    val cols = frame.schema.columns.zipWithIndex.map { case ((n, cs), i) =>
      JObject(
        "name" -> JString(n),
        "ordinal" -> JInt(i),
        "logical_type" -> JObject(
          "parameters" -> strMap(cs.logicalType.params),
          "type" -> JString(cs.logicalType.name)),
        "physical_type" -> JObject(
          "type" -> JString(frame.df.schema(n).dataType.simpleString)),
        "semantic_tags" -> JArray(cs.semanticTags.toList.sorted.map(JString(_))),
        "use_standard_tags" -> JBool(cs.useStandardTags),
        "description" -> opt(cs.description),
        "origin" -> opt(cs.origin),
        "metadata" -> strMap(cs.metadata.toSeq.sorted))
    }
    pretty(render(JObject(
      "schema_version" -> JString(SchemaVersion),
      "name" -> opt(frame.schema.name),
      "index" -> opt(frame.index),
      "time_index" -> opt(frame.timeIndex),
      "column_typing_info" -> JArray(cols.toList),
      "loading_info" -> JObject("table_type" -> JString("spark")),
      "table_metadata" -> strMap(frame.schema.metadata.toSeq.sorted))))
  }

  /** Parse a typing-info JSON (ours or the reference's) back to a schema.
    * Fields are looked up by key, so the reference's python dict field
    * order reads the same; `name`, `index` and `time_index` come from the
    * top-level object only.
    */
  def typingInfoFromJson(json: String): WwTableSchema = {
    val doc = SchemaMetadata.parseJson(json)
    def str(v: JValue): Option[String] = v match {
      case JString(s) => Some(s)
      case _ => None
    }
    str(doc \ "schema_version").foreach { v =>
      if (v.takeWhile(_ != '.') != SchemaVersion.takeWhile(_ != '.'))
        System.err.println(
          s"[graft.io] typing info schema version $v differs from $SchemaVersion")
    }
    val index = str(doc \ "index")
    val timeIndex = str(doc \ "time_index")
    val colObjs = doc \ "column_typing_info" match {
      case JArray(cs) => cs
      case _ => throw new IllegalArgumentException(
        "typing info JSON missing column_typing_info")
    }
    val cols = colObjs.map { obj =>
      val name = str(obj \ "name").getOrElse(throw new IllegalArgumentException(
        s"column object missing name: ${compact(render(obj))}"))
      val ordinal = obj \ "ordinal" match {
        case JInt(i) => i.toInt
        case _ => 0
      }
      val lt = obj \ "logical_type"
      val tags = obj \ "semantic_tags" match {
        case JArray(ts) => ts.collect { case JString(t) => t }.toSet
        case _ => Set.empty[String]
      }
      val sysTags =
        (if (index.contains(name)) Set("index") else Set.empty[String]) ++
          (if (timeIndex.contains(name)) Set("time_index") else Set.empty[String])
      (ordinal, name, WwColumnSchema(
        logicalType = LogicalType.fromString(
          str(lt \ "type").getOrElse("Unknown"),
          SchemaMetadata.valueMap(lt \ "parameters")),
        semanticTags = tags ++ sysTags,
        useStandardTags = obj \ "use_standard_tags" != JBool.False,
        description = str(obj \ "description"),
        origin = str(obj \ "origin"),
        metadata = SchemaMetadata.valueMap(obj \ "metadata")))
    }.sortBy(_._1)
    WwTableSchema(ListMap(cols.map(c => c._2 -> c._3): _*),
      name = str(doc \ "name"),
      metadata = SchemaMetadata.valueMap(doc \ "table_metadata"))
  }
}
