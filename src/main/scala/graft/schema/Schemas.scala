package graft.schema

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.DeserializationFeature
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.json4s.{JArray, JNull, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.types.LogicalType

/** Per-column typing information (reference: woodwork/column_schema.py:18-61).
  *
  * `semanticTags` here are only the user/system tags; `allTags` adds the
  * logical type's standard tags when `useStandardTags` is set, mirroring the
  * reference's tag algebra (reference: column_schema.py:126-178).
  */
final case class WwColumnSchema(
    logicalType: LogicalType,
    semanticTags: Set[String] = Set.empty,
    useStandardTags: Boolean = true,
    description: Option[String] = None,
    origin: Option[String] = None,
    metadata: Map[String, String] = Map.empty) {

  def allTags: Set[String] =
    if (useStandardTags) semanticTags ++ logicalType.standardTags else semanticTags

  def isIndex: Boolean = semanticTags.contains("index")
  def isTimeIndex: Boolean = semanticTags.contains("time_index")
  def isNumeric: Boolean = allTags.contains("numeric")
  def isCategorical: Boolean = allTags.contains("category")
  def isDatetime: Boolean = logicalType.name == "Datetime"
  def isBoolean: Boolean =
    logicalType.name == "Boolean" || logicalType.name == "BooleanNullable"

  /** reference: column_schema.py:180-211 `add_semantic_tags` */
  def addTags(tags: Set[String]): WwColumnSchema =
    copy(semanticTags = semanticTags ++ tags)

  /** reference: column_schema.py:213-232 `remove_semantic_tags`; standard tags
    * can only be removed when `useStandardTags` is off (matching the
    * reference's error).
    */
  def removeTags(tags: Set[String]): WwColumnSchema = {
    val std = logicalType.standardTags
    val illegal = tags.intersect(std)
    require(!useStandardTags || illegal.isEmpty,
      s"Cannot remove standard tags ${illegal.mkString(",")} when use_standard_tags is true")
    copy(semanticTags = semanticTags -- tags)
  }

  /** reference: column_schema.py:234-245 `reset_semantic_tags` */
  def resetTags(retainIndexTags: Boolean = false): WwColumnSchema = {
    val kept =
      if (retainIndexTags) semanticTags.intersect(Set("index", "time_index"))
      else Set.empty[String]
    copy(semanticTags = kept)
  }
}

/** Table-level typing information: an ordered column → schema map plus table
  * name and free-form metadata (reference: woodwork/table_schema.py:14-110).
  */
final case class WwTableSchema(
    columns: ListMap[String, WwColumnSchema],
    name: Option[String] = None,
    metadata: Map[String, String] = Map.empty) {

  def index: Option[String] = columns.collectFirst { case (n, c) if c.isIndex => n }
  def timeIndex: Option[String] =
    columns.collectFirst { case (n, c) if c.isTimeIndex => n }

  def logicalTypes: ListMap[String, String] =
    columns.map { case (n, c) => n -> c.logicalType.name }
  def semanticTags: ListMap[String, Set[String]] =
    columns.map { case (n, c) => n -> c.allTags }

  def apply(col: String): WwColumnSchema = columns(col)
  def contains(col: String): Boolean = columns.contains(col)

  /** Column-subset schema; index/time_index tags survive only for retained
    * columns (reference: table_schema.py:565-611 `get_subset_schema`).
    */
  def subset(cols: Seq[String]): WwTableSchema =
    copy(columns = ListMap(cols.flatMap(c => columns.get(c).map(c -> _)): _*))

  /** reference: table_schema.py:422-458 `rename` */
  def rename(mapping: Map[String, String]): WwTableSchema = {
    val unknown = mapping.keySet.diff(columns.keySet)
    require(unknown.isEmpty, s"Cannot rename unknown columns: ${unknown.mkString(",")}")
    val newNames = columns.keys.map(n => mapping.getOrElse(n, n)).toSeq
    require(newNames.distinct.size == newNames.size,
      "Rename would produce duplicate column names")
    copy(columns = ListMap(columns.toSeq.map {
      case (n, c) => mapping.getOrElse(n, n) -> c
    }: _*))
  }

  /** Schema drift vs another typed schema — the governance check a rolling
    * ingest runs before appending a new batch to yesterday's table. Pure
    * metadata (no data scan): one row per difference, kinds `added` /
    * `removed` / `retyped` / `retagged`.
    *
    * Output rows: (column, kind, before, after) where before/after are the
    * logical type names (for retyped), sorted tag lists (for retagged), or
    * None on the absent side.
    */
  def drift(newer: WwTableSchema): Seq[(String, String, Option[String], Option[String])] = {
    val removed = columns.keys.toSeq.filterNot(newer.columns.contains)
      .map(c => (c, "removed", Some(columns(c).logicalType.name), None))
    val added = newer.columns.keys.toSeq.filterNot(columns.contains)
      .map(c => (c, "added", None, Some(newer.columns(c).logicalType.name)))
    val common = columns.keys.toSeq.filter(newer.columns.contains)
    val retyped = common.flatMap { c =>
      val (a, b) = (columns(c).logicalType.name, newer.columns(c).logicalType.name)
      if (a != b) Some((c, "retyped", Some(a), Some(b))) else None
    }
    val retagged = common.flatMap { c =>
      val (a, b) = (columns(c).allTags, newer.columns(c).allTags)
      if (a != b)
        Some((c, "retagged", Some(a.toSeq.sorted.mkString(",")),
          Some(b.toSeq.sorted.mkString(","))))
      else None
    }
    (removed ++ added ++ retyped ++ retagged).sortBy(r => (r._1, r._2))
  }

  /** Column selector over {logical type name/string, semantic tag, column
    * name} (reference: table_schema.py:474-563 `_filter_cols`).
    */
  def filterCols(include: Seq[String] = Nil, exclude: Seq[String] = Nil): Seq[String] = {
    require(include.isEmpty || exclude.isEmpty,
      "Cannot specify both include and exclude")
    val sel = if (include.nonEmpty) include else exclude
    def matches(n: String, c: WwColumnSchema, s: String): Boolean = {
      val norm = s.trim.toLowerCase.replace(" ", "_")
      n == s || c.logicalType.typeString == norm ||
        c.logicalType.name.toLowerCase == norm.replace("_", "") ||
        c.logicalType.name.toLowerCase == norm || c.allTags.contains(s)
    }
    val hit = columns.collect {
      case (n, c) if sel.exists(s => matches(n, c, s)) => n
    }.toSeq
    if (include.nonEmpty) hit else columns.keys.toSeq.diff(hit)
  }
}

/** Round-trips [[WwTableSchema]] through `StructField.metadata` under a "ww"
  * key, so typing survives every Catalyst transformation and parquet
  * round-trips it natively in the footer (the Spark answer to the reference's
  * typing-info JSON sidecar, reference: serializers/serializer_base.py:137-185).
  * Column metadata rides here too; table metadata has no field to ride on,
  * so it travels in the sidecar, and both round-trip through
  * `ReadWrite.toDisk`/`fromDisk` in every format.
  */
object SchemaMetadata {
  val Key = "ww"
  /** Kept equal to the reference's typing-info schema version for
    * compatibility (reference: serializers/serializer_base.py:13).
    */
  val SchemaVersion = "12.0.0"

  def columnMetadata(c: WwColumnSchema): Metadata = {
    var b = new MetadataBuilder()
      .putString("logical_type", c.logicalType.name)
      .putBoolean("use_standard_tags", c.useStandardTags)
    // an empty JSON array round-trips as long[] in Spark's Metadata parser —
    // only write the key when non-empty
    if (c.semanticTags.nonEmpty)
      b = b.putStringArray("semantic_tags", c.semanticTags.toArray.sorted)
    if (c.logicalType.params.nonEmpty) {
      val pb = new MetadataBuilder()
      c.logicalType.params.foreach { case (k, v) => pb.putString(k, v) }
      b = b.putMetadata("params", pb.build())
    }
    c.description.foreach(d => b = b.putString("description", d))
    c.origin.foreach(o => b = b.putString("origin", o))
    if (c.metadata.nonEmpty) {
      val mb = new MetadataBuilder()
      c.metadata.foreach { case (k, v) => mb.putString(k, v) }
      b = b.putMetadata("metadata", mb.build())
    }
    new MetadataBuilder().putMetadata(Key, b.build()).build()
  }

  // Metadata has no key enumeration in the public API; parse its JSON.
  private def metaMap(m: Metadata, key: String): Map[String, String] =
    if (!m.contains(key)) Map.empty
    else parseJsonValueMap(m.getMetadata(key).json)

  /** The one JSON-object-to-map rule, shared by the metadata recover path,
    * the typing-info reader and the streaming state decoders. It accepts
    * the non-string values the reference serializer emits (python dicts
    * like `{"order": [25, 33, 57]}`, `{"is_sorted": true}`): strings are
    * unescaped, numbers and booleans keep their JSON text, flat arrays
    * join their elements with the Ordinal separator (U+001F — the same
    * convention the Ordinal round-trip uses), a nested object or array
    * keeps its compact JSON text, and `null` entries are absent (None
    * semantics).
    */
  private[graft] def parseJsonValueMap(json: String): Map[String, String] =
    valueMap(parseJson(json))

  /** [[parseJsonValueMap]] over a value from [[parseJson]]; anything but an
    * object reads as empty.
    */
  private[graft] def valueMap(obj: JValue): Map[String, String] = {
    def text(v: JValue): String = v match {
      case JString(s) => s
      case other => compact(render(other))
    }
    obj match {
      case JObject(fields) => fields.collect {
        case (k, JArray(es))
            if !es.exists(e => e.isInstanceOf[JObject] || e.isInstanceOf[JArray]) =>
          k -> es.map(text).mkString(graft.types.LogicalType.Ordinal.Sep)
        case (k, v) if v != JNull => k -> text(v)
      }.toMap
      case _ => Map.empty
    }
  }

  /** JSON text to a value through json4s' Jackson mapper. Numbers read as
    * BigInt/BigDecimal, so integers and plain decimals keep their written
    * text; raw control characters inside strings are accepted, because
    * hand-written typing info carries the Ordinal separator unescaped.
    */
  private[graft] def parseJson(json: String): JValue =
    JsonMethods.mapper.readerFor(classOf[JValue])
      .`with`(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS,
        DeserializationFeature.USE_BIG_INTEGER_FOR_INTS)
      .`with`(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS.mappedFeature())
      .readValue[JValue](json)

  def columnFromMetadata(field: StructField): Option[WwColumnSchema] = {
    val m = field.metadata
    if (!m.contains(Key)) None
    else {
      val ww = m.getMetadata(Key)
      val params = metaMap(ww, "params")
      val lt = LogicalType.fromString(ww.getString("logical_type"), params)
      Some(WwColumnSchema(
        logicalType = lt,
        semanticTags =
          if (ww.contains("semantic_tags")) ww.getStringArray("semantic_tags").toSet
          else Set.empty,
        useStandardTags =
          if (ww.contains("use_standard_tags")) ww.getBoolean("use_standard_tags")
          else true,
        description = if (ww.contains("description")) Some(ww.getString("description")) else None,
        origin = if (ww.contains("origin")) Some(ww.getString("origin")) else None,
        metadata = metaMap(ww, "metadata")))
    }
  }

  /** Attach ww typing info onto a DataFrame's StructFields. */
  def attach(df: DataFrame, schema: WwTableSchema): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cols = df.schema.fields.map { f =>
      schema.columns.get(f.name) match {
        case Some(cs) => col(f.name).as(f.name, columnMetadata(cs))
        case None => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Recover a table schema from a DataFrame's StructField metadata. */
  def recover(df: DataFrame): Option[WwTableSchema] = {
    val entries = df.schema.fields.flatMap(f =>
      columnFromMetadata(f).map(f.name -> _))
    if (entries.isEmpty) None
    else Some(WwTableSchema(ListMap(entries.toIndexedSeq: _*)))
  }
}
