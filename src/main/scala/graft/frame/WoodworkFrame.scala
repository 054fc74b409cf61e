package graft.frame

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.infer.TypeInference
import graft.schema.{SchemaMetadata, WwColumnSchema, WwTableSchema}
import graft.types.{LogicalType, TypeSystem}
import graft.util.{Ranks, WorkingSet}

/** The engine's table abstraction: a Spark DataFrame plus woodwork-style
  * typing information (reference: WoodworkTableAccessor,
  * woodwork/table_accessor.py:39-42).
  *
  * Everything stays lazy/immutable: `init` returns a new frame whose plan
  * includes the coercion projection — nothing is materialized until an action,
  * and the typing info rides along in `StructField.metadata`, so any plain
  * DataFrame transformation keeps it through Catalyst.
  */
final case class WoodworkFrame(df: DataFrame, schema: WwTableSchema,
                               alreadySorted: Boolean = false) {

  def spark = df.sparkSession
  def columnNames: Seq[String] = schema.columns.keys.toSeq
  def logicalTypes: ListMap[String, String] = schema.logicalTypes
  def semanticTags: ListMap[String, Set[String]] = schema.semanticTags
  def index: Option[String] = schema.index
  def timeIndex: Option[String] = schema.timeIndex

  /** Typed projection: `df.ww[cols]` (reference: table_accessor.py:296-315). */
  def apply(cols: Seq[String]): WoodworkFrame = {
    val missing = cols.filterNot(schema.contains)
    require(missing.isEmpty, s"Columns not found: ${missing.mkString(",")}")
    WoodworkFrame(df.select(cols.map(col): _*), schema.subset(cols))
  }

  /** Single typed column (reference: table_accessor.py:296-303). */
  def column(name: String): (DataFrame, WwColumnSchema) =
    (df.select(col(name)), schema(name))

  /** Select columns by logical type, semantic tag, or name
    * (reference: table_accessor.py:567-601).
    */
  def select(include: Seq[String] = Nil, exclude: Seq[String] = Nil): WoodworkFrame =
    apply(schema.filterCols(include, exclude))

  /** reference: table_accessor.py:832-857 */
  def drop(cols: Seq[String]): WoodworkFrame = {
    val missing = cols.filterNot(schema.contains)
    require(missing.isEmpty, s"Columns not found: ${missing.mkString(",")}")
    apply(columnNames.diff(cols))
  }

  /** Remove a column, returning it as a typed single-column frame
    * (reference: table_accessor.py:809-830).
    */
  def pop(name: String): (WoodworkFrame, (DataFrame, WwColumnSchema)) =
    (drop(Seq(name)), column(name))

  /** reference: table_accessor.py:859-879 */
  def rename(mapping: Map[String, String]): WoodworkFrame = {
    val renamed = schema.rename(mapping)
    WoodworkFrame(
      SchemaMetadata.attach(df.withColumnsRenamed(mapping), renamed), renamed)
  }

  /** Add or replace a column: `df.ww[col] = series`
    * (reference: table_accessor.py:317-342). Forbids replacing the index or
    * time index, matching the reference's error.
    */
  def withColumn(name: String, c: Column,
                 logicalType: Option[LogicalType] = None,
                 nullInvalidValues: Boolean = false): WoodworkFrame = {
    require(!index.contains(name) && !timeIndex.contains(name),
      s"Cannot reassign index or time index column $name")
    val base = df.withColumn(name, c)
    val lt = logicalType.getOrElse(
      TypeInference.inferTypes(base, Seq(name)).apply(name))
    val cs = WwColumnSchema(lt)
    // 3-arg transform: the same default-preserve coercion init/setTypes
    // apply (the 2-arg form is the strict regex coerce)
    val coerced = base.withColumn(name,
      lt.transform(col(name), base.schema(name).dataType, nullInvalidValues)
        .as(name, SchemaMetadata.columnMetadata(cs)))
    WoodworkFrame(coerced, schema.copy(columns = schema.columns.updated(name, cs)))
  }

  /** Re-type columns; the data is re-coerced through the new types' transforms
    * (reference: table_accessor.py:525-565 `set_types`).
    */
  def setTypes(logicalTypes: Map[String, LogicalType] = Map.empty,
               semanticTags: Map[String, Set[String]] = Map.empty,
               retainIndexTags: Boolean = true,
               nullInvalidValues: Boolean = false): WoodworkFrame = {
    val unknown = (logicalTypes.keySet ++ semanticTags.keySet).diff(schema.columns.keySet)
    require(unknown.isEmpty, s"Columns not found: ${unknown.mkString(",")}")
    val newCols = schema.columns.map { case (n, cs) =>
      var c = cs
      logicalTypes.get(n).foreach { lt =>
        val kept = if (retainIndexTags) c.semanticTags.intersect(Set("index", "time_index"))
                   else Set.empty[String]
        c = c.copy(logicalType = lt, semanticTags = kept)
      }
      semanticTags.get(n).foreach(t => c = c.addTags(t))
      n -> c
    }
    val newSchema = schema.copy(columns = newCols)
    val projected = df.select(newCols.map { case (n, cs) =>
      val from = df.schema(n).dataType
      val base = if (logicalTypes.contains(n))
        cs.logicalType.transform(col(n), from, nullInvalidValues) else col(n)
      base.as(n, SchemaMetadata.columnMetadata(cs))
    }.toSeq: _*)
    WoodworkFrame(projected, newSchema, alreadySorted)
  }

  private def retag(f: WwColumnSchema => WwColumnSchema,
                    cols: Seq[String]): WoodworkFrame = {
    val unknown = cols.filterNot(schema.contains)
    require(unknown.isEmpty, s"Columns not found: ${unknown.mkString(",")}")
    val newCols = schema.columns.map { case (n, cs) =>
      n -> (if (cols.contains(n)) f(cs) else cs)
    }
    val s = schema.copy(columns = newCols)
    WoodworkFrame(SchemaMetadata.attach(df, s), s)
  }

  /** Set a column's free-form description (reference: the column-schema
    * `description` setter, column_schema.py:120-133).
    */
  def setDescription(colName: String, description: Option[String]): WoodworkFrame =
    retag(_.copy(description = description), Seq(colName))

  /** Set a column's origin marker, e.g. "base"/"engineered"
    * (reference: column_schema.py:135-148).
    */
  def setOrigin(colName: String, origin: Option[String]): WoodworkFrame =
    retag(_.copy(origin = origin), Seq(colName))

  /** reference: table_accessor.py:603-621 */
  def addSemanticTags(tags: Map[String, Set[String]]): WoodworkFrame =
    tags.foldLeft(this) { case (acc, (n, t)) => acc.retag(_.addTags(t), Seq(n)) }

  /** reference: table_accessor.py:623-643 */
  def removeSemanticTags(tags: Map[String, Set[String]]): WoodworkFrame =
    tags.foldLeft(this) { case (acc, (n, t)) => acc.retag(_.removeTags(t), Seq(n)) }

  /** reference: table_schema.py:260-290 `reset_semantic_tags` */
  def resetSemanticTags(cols: Seq[String] = Nil,
                        retainIndexTags: Boolean = false): WoodworkFrame =
    retag(_.resetTags(retainIndexTags),
      if (cols.isEmpty) columnNames else cols)

  /** Tag a column as the index (reference: table_accessor.py:495-509;
    * uniqueness/null validation is a separate explicit action — see
    * [[validateIndex]] — because it is a full scan at 100 TB).
    */
  def setIndex(name: String): WoodworkFrame = {
    require(schema.contains(name), s"Column not found: $name")
    retag(c => c.copy(semanticTags = c.semanticTags - "index"), columnNames)
      .retag(_.addTags(Set("index")), Seq(name))
  }

  /** reference: table_accessor.py:511-523; time index must be datetime or
    * numeric (reference: table_schema.py:671-682).
    */
  def setTimeIndex(name: String): WoodworkFrame = {
    require(schema.contains(name), s"Column not found: $name")
    val cs = schema(name)
    require(cs.isDatetime || cs.isNumeric,
      s"Time index column $name must be a Datetime or numeric column")
    retag(c => c.copy(semanticTags = c.semanticTags - "time_index"), columnNames)
      .retag(_.addTags(Set("time_index")), Seq(name))
  }

  /** Explicit index validation: unique and non-null
    * (reference: table_accessor.py:1709-1721). One distributed agg.
    */
  def validateIndex(): Unit = index.foreach { idx =>
    val r = df.agg(
      count(lit(1)).as("n"),
      count(col(idx)).as("nonNull"),
      count_distinct(col(idx)).as("distinct")).head()
    require(r.getLong(1) == r.getLong(0), s"Index column $idx contains null values")
    require(r.getLong(2) == r.getLong(0), s"Index column $idx contains duplicate values")
  }

  /** Rows ordered by (time_index, index) — the reference sorts eagerly at init
    * (reference: table_accessor.py:699-704); here it is an explicit op so a
    * 100 TB init is not a global sort. `already_sorted=True` at init
    * (reference: table_accessor.py:68-70,132) declares the input pre-sorted
    * and makes this the identity.
    */
  def sortedByTime: DataFrame =
    if (alreadySorted) df
    else (timeIndex, index) match {
      case (Some(t), Some(i)) => df.orderBy(col(t), col(i))
      case (Some(t), None) => df.orderBy(col(t))
      case _ => df
    }

  /** Per-column invalid-value counts under each column's logical type
    * (reference: table_accessor.py:1639-1662 `validate_logical_types`).
    * One wide agg job.
    */
  def validateLogicalTypes(): Map[String, Long] = {
    val exprs = schema.columns.toSeq.map { case (n, cs) =>
      coalesce(sum(when(cs.logicalType.invalidExpr(col(n)), 1L)), lit(0L)).as(n)
    }
    if (exprs.isEmpty) Map.empty
    else {
      val row = df.agg(exprs.head, exprs.tail: _*).head()
      columnNames.zipWithIndex.map { case (n, i) => n -> row.getLong(i) }.toMap
    }
  }

  /** The rows holding invalid values for any column's logical type, with the
    * offending columns listed — the `return_invalid_values=True` variant of
    * validate_logical_types (reference: table_accessor.py:1639-1662). Stays
    * a DataFrame: at scale the invalid set can be large, so it is never
    * collected here.
    */
  def invalidRows(): DataFrame = {
    val flags = schema.columns.toSeq.map { case (n, cs) =>
      when(cs.logicalType.invalidExpr(col(n)), lit(n))
    }
    df.withColumn("invalid_columns",
        array_compact(array(flags: _*)))
      .where(size(col("invalid_columns")) > 0)
  }

  /** Label row-lookup on the index column — the Spark analog of `df.ww.loc`
    * (reference: indexers.py:9-49).
    */
  def loc(indexValue: Any): WoodworkFrame = {
    val idx = index.getOrElse(
      throw new IllegalArgumentException("loc requires an index column"))
    WoodworkFrame(df.where(col(idx) === lit(indexValue)), schema)
  }

  /** Positional row slice `[from, until)` over the frame's canonical order —
    * the Spark analog of `df.ww.iloc` (reference: indexers.py:52-96).
    * Position is defined by (time_index, index) — or the index alone — since
    * a distributed frame has no stable input order; with neither, the frame
    * must have been declared `already_sorted` (trusting partition order).
    *
    * Scale shape: a pure DataFrame plan — one range-partition shuffle with a
    * per-partition sort, then positions as partition offset (P driver
    * scalars from a count pass) + within-partition ordinal
    * (monotonically_increasing_id's low bits), never a single-task global
    * window and never an RDD round-trip (the old zipWithIndex path
    * deserialized every row and dropped codegen downstream). The
    * range-partitioned frame is cached so the count pass and the slice see
    * identical partition boundaries (RangePartitioner sampling is not
    * stable across separate jobs), and the returned slice is EAGER
    * (localCheckpoint) so the cache can be freed at once — same contract as
    * `Dedup.ngramJaccardPairs`.
    */
  def iloc(from: Long, until: Long): WoodworkFrame = {
    require(from >= 0 && until >= from, s"invalid slice [$from, $until)")
    val orderCols: Seq[Column] = (timeIndex, index) match {
      case (Some(t), Some(i)) => Seq(col(t), col(i))
      case (Some(t), None) => Seq(col(t))
      case (None, Some(i)) => Seq(col(i))
      case _ if alreadySorted => Seq.empty
      case _ => throw new IllegalArgumentException(
        "iloc requires an index, a time index, or init(alreadySorted = true): " +
          "a distributed frame has no stable row order to take positions from")
    }
    // small-slice fast path: orderBy + limit compiles to
    // TakeOrderedAndProject (per-task n-entry heaps, no sort shuffle, no
    // cache, no materialization) and positions come from one bounded
    // single-partition window over ≤`until` rows. Lazy and deterministic
    // given a total order key.
    if (orderCols.nonEmpty && until <= 100000) {
      import org.apache.spark.sql.expressions.Window
      val top = df.orderBy(orderCols: _*).limit(until.toInt)
      val w = Window.orderBy(orderCols: _*)
      val slice = top.withColumn("__pos", row_number().over(w) - 1)
        .where(col("__pos") >= from).drop("__pos")
      return WoodworkFrame(slice, schema)
    }
    val parts = math.max(spark.sparkContext.defaultParallelism, 4)
    val arranged =
      if (orderCols.isEmpty) df // already_sorted: trust partition order as-is
      else df.repartitionByRange(parts, orderCols: _*)
        .sortWithinPartitions(orderCols: _*)
    // monotonically_increasing_id = (partitionId << 33) + rowOrdinal; the
    // ordinal follows the within-partition sort because the projection sits
    // above the Sort node, so (pid, mid - (pid << 33)) is (partition, local
    // position) without any window exchange
    WorkingSet.scoped { ws =>
      val tagged = ws.cache(arranged
        .withColumn("__pid", spark_partition_id())
        .withColumn("__mid", monotonically_increasing_id()))
      val (offExpr, _) = Ranks.partitionOffsets(tagged, lit(1L))
      val pos = offExpr +
        (col("__mid") - shiftleft(col("__pid").cast(LongType), 33))
      val slice = tagged.where(pos >= from && pos < until)
        .drop("__pid", "__mid")
      WoodworkFrame(slice.localCheckpoint(eager = true), schema)
    }
  }

  /** Single-row positional lookup (reference: indexers.py:52-96). */
  def iloc(position: Long): WoodworkFrame = iloc(position, position + 1)

  /** Schema-checked row-wise union (free in Spark, absent in the reference —
    * exposed with typing preserved).
    */
  def unionAll(other: WoodworkFrame): WoodworkFrame = {
    require(schema.logicalTypes == other.schema.logicalTypes,
      "unionAll requires identical column names and logical types")
    WoodworkFrame(df.unionByName(other.df), schema)
  }

  /** Columns with MI-valid logical types (reference:
    * table_accessor.py:1435-1452 `get_valid_mi_columns`).
    */
  def validMiColumns: Seq[String] = schema.columns.collect {
    case (n, c) if (c.isNumeric || c.isCategorical || c.isDatetime ||
      c.isBoolean) && !c.isIndex && !c.isTimeIndex => n
  }.toSeq

  /** Typing-info table like the reference's `df.ww.types` repr
    * (reference: table_accessor.py:344-360).
    */
  def typesTable: DataFrame = {
    import df.sparkSession.implicits._
    schema.columns.toSeq.map { case (n, cs) =>
      (n, df.schema(n).dataType.simpleString, cs.logicalType.name,
        cs.allTags.toSeq.sorted.mkString(";"))
    }.toDF("column_name", "physical_type", "logical_type", "semantic_tags")
  }
}

object WoodworkFrame {

  /** Initialize typing info on a DataFrame: validate params, merge
    * explicit/partial types, infer the rest in one sample pass, and lazily
    * coerce every column through its logical type's transform
    * (reference: table_accessor.py:44-273 init flow, §3.1 of SURVEY).
    */
  def init(df: DataFrame,
           name: Option[String] = None,
           index: Option[String] = None,
           timeIndex: Option[String] = None,
           logicalTypes: Map[String, LogicalType] = Map.empty,
           semanticTags: Map[String, Set[String]] = Map.empty,
           useStandardTags: Boolean = true,
           columnOrigins: Map[String, String] = Map.empty,
           columnDescriptions: Map[String, String] = Map.empty,
           tableMetadata: Map[String, String] = Map.empty,
           typeSystem: TypeSystem = TypeSystem.global,
           validate: Boolean = false,
           coerce: Boolean = true,
           ignoreColumns: Set[String] = Set.empty,
           alreadySorted: Boolean = false,
           nullInvalidValues: Boolean = false): WoodworkFrame = {
    val cols = df.columns.toSeq
    require(cols.distinct.size == cols.size, "DataFrame contains duplicate column names")
    val badRefs = (logicalTypes.keySet ++ semanticTags.keySet ++
      index.toSet ++ timeIndex.toSet ++ ignoreColumns).diff(cols.toSet)
    require(badRefs.isEmpty, s"Columns not found: ${badRefs.mkString(",")}")

    // priority: explicit logical_types > existing metadata > inference
    // (reference: table_accessor.py:47-51, 1800-1837)
    val existing: Map[String, WwColumnSchema] =
      SchemaMetadata.recover(df).map(_.columns.toMap).getOrElse(Map.empty)

    // ignore_columns skip re-inference by reusing the existing schema type:
    // they must come from an existing schema and may not also be forced
    // (reference: table_accessor.py:1747-1769 `_check_ignore_columns`)
    if (ignoreColumns.nonEmpty) {
      val bothSet = ignoreColumns.intersect(logicalTypes.keySet)
      require(bothSet.isEmpty,
        s"ignore_columns contains columns that are being set in logical_types: ${bothSet.mkString(",")}")
      val noSchema = ignoreColumns.filterNot(existing.contains)
      require(noSchema.isEmpty,
        s"ignore_columns requires an existing schema for: ${noSchema.mkString(",")}")
    }
    val needInference = cols.filterNot(c =>
      logicalTypes.contains(c) || existing.contains(c))
    val inferred: Map[String, LogicalType] =
      if (needInference.isEmpty) Map.empty
      else TypeInference.inferTypes(df, needInference, typeSystem)

    val columns = ListMap(cols.map { c =>
      val lt = logicalTypes.getOrElse(c,
        existing.get(c).map(_.logicalType).getOrElse(inferred(c)))
      val sysTags =
        (if (index.contains(c)) Set("index") else Set.empty[String]) ++
        (if (timeIndex.contains(c)) Set("time_index") else Set.empty[String])
      c -> WwColumnSchema(
        logicalType = lt,
        semanticTags = semanticTags.getOrElse(c,
          existing.get(c).map(_.semanticTags).getOrElse(Set.empty)) ++ sysTags,
        useStandardTags = useStandardTags,
        description = columnDescriptions.get(c).orElse(existing.get(c).flatMap(_.description)),
        origin = columnOrigins.get(c).orElse(existing.get(c).flatMap(_.origin)))
    }: _*)
    val schema = WwTableSchema(columns, name, tableMetadata)

    timeIndex.foreach { t =>
      val cs = columns(t)
      require(cs.isDatetime || cs.isNumeric,
        s"Time index column $t must be a Datetime or numeric column")
    }

    // single lazy coercion projection (no job until an action); coerce=false
    // is the trusted-input fast path (reference: validate=False semantics);
    // null_invalid_values matches the reference default (False = regex types
    // preserve non-matching values)
    val projected = df.select(columns.map { case (n, cs) =>
      (if (coerce)
         cs.logicalType.transform(col(n), df.schema(n).dataType, nullInvalidValues)
       else col(n))
        .as(n, SchemaMetadata.columnMetadata(cs))
    }.toSeq: _*)
    val frame = WoodworkFrame(projected, schema, alreadySorted)
    if (validate) frame.validateIndex()
    frame
  }

  /** Standalone single-column init — the `init_series` analog
    * (reference: accessor_utils.py:10-69): infer or apply a logical type to
    * one column and return the coerced single-column frame + its schema.
    */
  def initColumn(df: DataFrame, colName: String,
                 logicalType: Option[LogicalType] = None,
                 semanticTags: Set[String] = Set.empty,
                 description: Option[String] = None,
                 origin: Option[String] = None,
                 nullInvalidValues: Boolean = false): (DataFrame, WwColumnSchema) = {
    val lt = logicalType.getOrElse(
      TypeInference.inferTypes(df, Seq(colName)).apply(colName))
    val cs = WwColumnSchema(lt, semanticTags, useStandardTags = true,
      description, origin)
    val out = df.select(
      lt.transform(col(colName), df.schema(colName).dataType, nullInvalidValues)
        .as(colName, SchemaMetadata.columnMetadata(cs)))
    (out, cs)
  }

  /** Structural schema validity check — the `get_invalid_schema_message`
    * analog (reference: accessor_utils.py:84-145): names and physical types
    * must line up; None = valid. No data scan.
    */
  def invalidSchemaMessage(df: DataFrame, schema: WwTableSchema): Option[String] = {
    val dfCols = df.columns.toSeq
    val scCols = schema.columns.keys.toSeq
    if (dfCols != scCols)
      Some(s"The columns of your DataFrame (${dfCols.mkString(",")}) do not " +
        s"match the columns in the typing information (${scCols.mkString(",")})")
    else {
      schema.columns.collectFirst {
        case (n, cs) if !compatiblePhysical(df.schema(n).dataType, cs.logicalType) =>
          s"dtype mismatch for column $n: DataFrame has " +
            s"${df.schema(n).dataType.simpleString}, " +
            s"${cs.logicalType.name} expects ${cs.logicalType.sparkType.simpleString}"
      }
    }
  }

  private def compatiblePhysical(dt: org.apache.spark.sql.types.DataType,
                                 lt: LogicalType): Boolean =
    dt == lt.sparkType

  def isSchemaValid(df: DataFrame, schema: WwTableSchema): Boolean =
    invalidSchemaMessage(df, schema).isEmpty

  /** Recover a typed frame from a DataFrame whose StructField metadata already
    * carries ww typing (e.g. read back from parquet) without re-inference
    * (reference: deserializers/deserializer_base.py:26-145).
    */
  def fromMetadata(df: DataFrame, name: Option[String] = None): Option[WoodworkFrame] =
    SchemaMetadata.recover(df).map(s => WoodworkFrame(df, s.copy(name = name)))

  /** Column-wise concatenation: full outer equi-join on the index column
    * (Spark re-expression of the reference's row-index alignment,
    * reference: utils.py:422-541 `concat_columns`). Inputs must share ≤1
    * index; duplicate non-index column names error, matching the reference.
    */
  def concatColumns(frames: Seq[WoodworkFrame]): WoodworkFrame = {
    require(frames.size >= 2, "concatColumns requires at least two frames")
    val indices = frames.flatMap(_.index).distinct
    require(indices.size == 1,
      "concatColumns requires exactly one shared index column across inputs")
    val idx = indices.head
    val nonIndexCols = frames.flatMap(_.columnNames.filterNot(_ == idx))
    require(nonIndexCols.distinct.size == nonIndexCols.size,
      "Duplicate column names across concatenated frames")
    val joined = frames.map(_.df).reduce((a, b) => a.join(b, Seq(idx), "full_outer"))
    // the outer join can introduce nulls into any non-index column, so
    // non-nullable logical types promote to their nullable parents without a
    // data scan (reference: utils.py:513-524 drops Integer ltypes on columns
    // that gained nulls so they re-infer as IntegerNullable)
    def promote(cs: WwColumnSchema): WwColumnSchema = cs.logicalType match {
      case LogicalType.Integer => cs.copy(logicalType = LogicalType.IntegerNullable)
      case LogicalType.Age => cs.copy(logicalType = LogicalType.AgeNullable)
      case _: LogicalType.BooleanT => cs.copy(logicalType = LogicalType.BooleanNullable)
      case _ => cs
    }
    val columns = ListMap((idx -> frames.head.schema(idx)) +:
      frames.flatMap(f => f.schema.columns.toSeq.collect {
        case (n, cs) if n != idx => n -> promote(cs)
      }): _*)
    val metaKeys = frames.flatMap(_.schema.metadata.keys)
    require(metaKeys.distinct.size == metaKeys.size,
      "Conflicting table metadata keys in concatenated frames")
    WoodworkFrame(
      SchemaMetadata.attach(joined, WwTableSchema(columns)),
      WwTableSchema(columns,
        frames.flatMap(_.schema.name).headOption,
        frames.map(_.schema.metadata).reduce(_ ++ _)))
  }
}
