package graft

import scala.collection.immutable.ListMap

import graft.frame.WoodworkFrame
import graft.io.ReadWrite
import graft.schema.{SchemaMetadata, WwColumnSchema, WwTableSchema}
import graft.types.{LogicalType => LT}

/** The typing-info JSON codec: what `typingInfoJson` writes,
  * `typingInfoFromJson` reads back unchanged, and reference-format
  * documents read by key, not by text position.
  */
class TypingInfoJsonSpec extends SparkSpec {
  import spark.implicits._

  private val awkward = "q\"uote back\\slash ]{ new\nline"

  test("tags, names and descriptions with quotes, backslashes, brackets and newlines round-trip") {
    val colName = s"c $awkward"
    val schema = WwTableSchema(
      ListMap(
        "id" -> WwColumnSchema(LT.Integer, semanticTags = Set("index")),
        colName -> WwColumnSchema(LT.Categorical,
          semanticTags = Set("tag]x", "back\\slash", "brace{", "new\nline", "q\"t"),
          description = Some(s"says $awkward"),
          origin = Some(awkward))),
      name = Some(s"t $awkward"))
    val df = Seq((1L, "a")).toDF("id", colName)
    val back = ReadWrite.typingInfoFromJson(
      ReadWrite.typingInfoJson(WoodworkFrame(df, schema)))
    assert(back == schema)
  }

  test("column and table metadata survive toDisk/fromDisk in parquet and csv") {
    val base = WoodworkFrame.init(
      Seq((1L, "a@b.com", 1.5), (2L, "c@d.org", 2.5)).toDF("id", "email", "v"),
      index = Some("id"))
    val schema = base.schema.copy(
      columns = base.schema.columns.map { case (n, c) =>
        n -> (if (n == "email") c.copy(metadata = Map("source" -> "crm")) else c)
      },
      metadata = Map("owner" -> "crm"))
    val frame = WoodworkFrame(SchemaMetadata.attach(base.df, schema), schema)
    for (fmt <- Seq("parquet", "csv")) {
      val dir = java.nio.file.Files.createTempDirectory(s"wwmeta$fmt").toString
      ReadWrite.toDisk(frame, dir, format = fmt)
      val back = ReadWrite.fromDisk(spark, dir, format = fmt)
      assert(back.schema.metadata == Map("owner" -> "crm"), fmt)
      assert(back.schema("email").metadata == Map("source" -> "crm"), fmt)
      assert(back.schema("v").metadata.isEmpty, fmt)
      // the re-attached StructField metadata carries it too
      assert(SchemaMetadata.recover(back.df).get("email").metadata ==
        Map("source" -> "crm"), fmt)
    }
  }

  private def referenceDoc(index: String, colMeta: String, tableMeta: String) =
    s"""{"schema_version": "12.0.0", "name": "t", "index": $index,
       | "time_index": null,
       | "column_typing_info": [
       |  {"name": "id", "ordinal": 0, "use_standard_tags": true,
       |   "logical_type": {"parameters": {}, "type": "Integer"},
       |   "physical_type": {"type": "int64"}, "semantic_tags": [],
       |   "description": null, "origin": null, "metadata": $colMeta}
       | ],
       | "loading_info": {"table_type": "pandas"},
       | "table_metadata": $tableMeta}""".stripMargin

  test("an index key inside column metadata is not the table index") {
    val schema = ReadWrite.typingInfoFromJson(
      referenceDoc("null", """{"index": "id"}""", "{}"))
    assert(schema.index.isEmpty)
    assert(schema("id").semanticTags.isEmpty)
    assert(schema("id").metadata == Map("index" -> "id"))
  }

  test("nested table metadata keeps its JSON text; scalars keep theirs") {
    val schema = ReadWrite.typingInfoFromJson(referenceDoc("\"id\"",
      """{"x": 1.10, "bits": -4616189618054758400, "ok": true, "gone": null,
        | "arr": [1, "a\"b"]}""".stripMargin,
      """{"a": {"b": 1}, "c": "d"}"""))
    assert(schema.metadata == Map("a" -> "{\"b\":1}", "c" -> "d"))
    assert(schema.index.contains("id"))
    assert(schema("id").metadata == Map("x" -> "1.10",
      "bits" -> "-4616189618054758400", "ok" -> "true",
      "arr" -> Seq("1", "a\"b").mkString(LT.Ordinal.Sep)))
  }
}
