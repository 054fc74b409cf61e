package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.frame.WoodworkFrame
import graft.infer.TypeInference
import graft.io.ReadWrite
import graft.ops.Dedup
import graft.stats.{Dependence, Describe, FrequencyInference, KeyDiscovery, Outliers, ValueCounts}
import graft.types.LogicalType

/** One public call of a pass: its name, the layer it belongs to, and the
  * call itself, which returns its output collected to plain rows.
  */
final case class Op(name: String, layer: String, run: () => Rows)

/** A workload opens its inputs once (set-up), then builds the calls of one
  * pass at a time; the calls of a pass share state through their closures.
  */
trait Workload {
  def ops(): Seq[Op]
  def check(op: String, out: Rows): Seq[String]
  /** Deliberately corrupted outputs of `op`, each named, for the self-test. */
  def corruptions(op: String): Seq[(String, Rows => Rows)]
}

object Workload {
  def open(name: String, spark: SparkSession, in: Path, work: Path): Workload = {
    val ref = Ref.load(in.resolve("reference.properties"))
    name match {
      case "profile_long" => new ProfileLong(spark, in, work, ref)
      case "profile_wide" => new ProfileWide(spark, in, work, ref)
      case "curate" => new Curate(spark, in, ref)
      case other => sys.error(s"unknown workload '$other'")
    }
  }

  def rows(df: DataFrame): Rows = df.collect().toSeq.map { r =>
    r.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> r.get(i) }.toMap
  }

  /** One row per column: logical type and semantic tags (sorted, `;`-joined). */
  def schemaRows(f: WoodworkFrame): Rows = f.schema.columns.toSeq.map { case (c, cs) =>
    Map[String, Any]("column" -> c, "logical_type" -> cs.logicalType.name,
      "tags" -> cs.allTags.toSeq.sorted.mkString(";"))
  } :+ Map[String, Any]("index" -> f.index.orNull, "time_index" -> f.timeIndex.orNull)

  /** What toDisk left behind: the typing-info sidecar and the data files. */
  def listing(dir: String): Rows = {
    val p = java.nio.file.Paths.get(dir)
    val data = Files.list(p.resolve("data")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    Seq(Map("typing_info" -> Files.exists(p.resolve("woodwork_typing_info.json")),
      "data_files" -> data))
  }

  /** The round trip: types and tags after reading back, next to the ones
    * written, plus a checksum row computed over the read-back data.
    */
  def roundTrip(spark: SparkSession, dir: String, written: WoodworkFrame,
                checksum: Seq[org.apache.spark.sql.Column]): Rows = {
    val back = ReadWrite.fromDisk(spark, dir)
    val before = written.schema.columns
    val cols = back.schema.columns.toSeq.map { case (c, cs) =>
      Map[String, Any]("column" -> c, "logical_type" -> cs.logicalType.name,
        "tags" -> cs.allTags.toSeq.sorted.mkString(";"),
        "tags_before" -> before.get(c).map(_.allTags.toSeq.sorted.mkString(";")).orNull)
    }
    cols ++ rows(back.df.agg(count(lit(1)).as("rows"), checksum: _*))
  }

  def boxRow(c: String, b: Outliers.BoxPlotInfo): Map[String, Any] = Map(
    "column" -> c, "low" -> b.low, "high" -> b.high, "q1" -> b.q1,
    "median" -> b.median, "q3" -> b.q3, "min" -> b.min, "max" -> b.max,
    "num_low" -> b.numLow, "num_high" -> b.numHigh)

  val Measures: Seq[String] = Seq("pearson", "spearman", "mutual_info", "max")
}

import Workload._

/** Tall, narrow parquet through the whole profiling path. */
final class ProfileLong(spark: SparkSession, in: Path, work: Path, ref: Ref)
    extends Workload {
  private val raw = spark.read.parquet(in.resolve("long.parquet").toString)
  private val boxCols = Seq("x", "qty")
  private val depCols = Seq("x", "z", "cat")
  private val out = work.resolve("long_rt").toString

  def ops(): Seq[Op] = {
    var types: Map[String, LogicalType] = null
    var frame: WoodworkFrame = null
    Seq(
      Op("infer", "infer", () => {
        types = TypeInference.inferTypes(raw)
        types.toSeq.map { case (c, t) => Map[String, Any]("column" -> c, "logical_type" -> t.name) }
      }),
      Op("init", "frame", () => {
        frame = WoodworkFrame.init(raw, index = Some("id"), timeIndex = Some("ts"),
          logicalTypes = types)
        schemaRows(frame)
      }),
      Op("describe", "stats.describe", () => rows(Describe.describe(frame))),
      Op("value_counts", "stats.value_counts", () => rows(ValueCounts.valueCounts(frame))),
      Op("dependence", "stats.dependence", () =>
        rows(Dependence.dependence(frame(depCols), Measures))),
      Op("box_plots", "stats.outliers", () =>
        Outliers.boxPlots(frame.df, boxCols).toSeq.map { case (c, b) => boxRow(c, b) }),
      Op("medcouple", "stats.outliers", () =>
        Seq(boxRow("qty", Outliers.medcoupleBoxPlot(frame.df, "qty")))),
      Op("frequency", "stats.frequency", () =>
        FrequencyInference.inferFrequencies(frame).map(f =>
          Map[String, Any]("column" -> f.column, "alias" -> f.alias.orNull))),
      Op("to_disk", "io.write", () => { ReadWrite.toDisk(frame, out); listing(out) }),
      Op("from_disk", "io.read", () => roundTrip(spark, out, frame,
        Seq(sum("id").as("sum_id"), sum("qty").as("sum_qty"),
          count("cat").as("count_cat")))))
  }

  def check(op: String, out: Rows): Seq[String] = Checks.profileLong(ref, op, out)
  def corruptions(op: String): Seq[(String, Rows => Rows)] = Corrupt.forOp("profile_long", op)
}

/** Many string columns, few rows: inference and per-column work dominate. */
final class ProfileWide(spark: SparkSession, in: Path, work: Path, ref: Ref)
    extends Workload {
  private val csv = in.resolve("wide.csv").toString
  // opening the input: the header read that names every column
  require(spark.read.option("header", "true").csv(csv).columns.length ==
    ref.s("columns").split(',').length, "wide.csv header does not match its reference")
  private val depCols = ref.s("dependence.columns").split(',').toSeq
  private val out = work.resolve("wide_rt").toString

  def ops(): Seq[Op] = {
    var frame: WoodworkFrame = null
    Seq(
      Op("read_file", "io.read", () => {
        frame = ReadWrite.readFile(spark, csv)
        schemaRows(frame)
      }),
      Op("describe", "stats.describe", () => rows(Describe.describe(frame))),
      Op("value_counts", "stats.value_counts", () => rows(ValueCounts.valueCounts(frame))),
      Op("dependence", "stats.dependence", () =>
        rows(Dependence.dependence(frame(depCols), Measures))),
      Op("to_disk", "io.write", () => { ReadWrite.toDisk(frame, out); listing(out) }),
      Op("from_disk", "io.read", () => roundTrip(spark, out, frame,
        Seq(sum("int_0").as("sum_int_0")))))
  }

  def check(op: String, out: Rows): Seq[String] = Checks.profileWide(ref, op, out)
  def corruptions(op: String): Seq[(String, Rows => Rows)] = Corrupt.forOp("profile_wide", op)
}

/** Dependency discovery over a small star, then near-duplicate clustering. */
final class Curate(spark: SparkSession, in: Path, ref: Ref) extends Workload {
  private def table(n: String) = spark.read.parquet(in.resolve(s"$n.parquet").toString)
  private val orders = table("orders")
  private val customers = table("customers")
  private val promos = table("promos")
  private val docs = table("docs")
  private val docText: Map[Long, String] = Files.readAllLines(in.resolve("docs.tsv"))
    .asScala.map { l => val t = l.indexOf('\t'); l.take(t).toLong -> l.drop(t + 1) }.toMap

  def ops(): Seq[Op] = {
    var pairs: DataFrame = null
    Seq(
      Op("keys", "stats.key_discovery", () => rows(KeyDiscovery.discoverKeys(orders,
        Seq("cust_id", "line_no", "ref_code"), maxArity = 2))),
      Op("fds", "stats.key_discovery", () => rows(KeyDiscovery.functionalDependencies(
        orders, Seq("prod_id", "category", "price_band")))),
      Op("inds", "stats.key_discovery", () => rows(KeyDiscovery.discoverInds(Seq(
        ("orders", orders, Seq("cust_id", "promo_id")),
        ("customers", customers, Seq("cust_id")),
        ("promos", promos, Seq("promo_id")))))),
      Op("ods", "stats.key_discovery", () => rows(KeyDiscovery.orderDependencies(orders,
        Seq("order_id" -> "ts", "order_id" -> "amount")))),
      Op("lsh_pairs", "ops.dedup", () => {
        pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
          threshold = ref.d("dedup.threshold"))
        rows(pairs)
      }),
      Op("clusters", "ops.dedup", () => rows(Dedup.duplicateClusters(pairs))))
  }

  def check(op: String, out: Rows): Seq[String] = Checks.curate(ref, docText, op, out)
  def corruptions(op: String): Seq[(String, Rows => Rows)] = Corrupt.forOp("curate", op)
}
