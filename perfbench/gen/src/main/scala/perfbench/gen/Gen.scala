package perfbench.gen

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Seeded input generator for the three benchmark workloads.
  *
  * Usage: `Gen <workload> <seed> <outDir>`. Writes the workload's input
  * files plus `reference.properties`: every value the benchmark's
  * correctness checks compare against, computed here in plain Scala from
  * the generated values themselves. The same (workload, seed) always
  * produces byte-identical files.
  */
object Gen {

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Gen <workload> <seed> <outDir>")
    val (workload, seed, out) = (args(0), args(1).toLong, Paths.get(args(2)))
    Files.createDirectories(out)
    val ref = new Ref
    workload match {
      case "profile_long" => ProfileLong.write(seed, out, ref)
      case "profile_wide" => ProfileWide.write(seed, out, ref)
      case "curate" => Curate.write(seed, out, ref)
      case other => sys.error(s"unknown workload '$other'")
    }
    ref.save(out.resolve("reference.properties"))
  }

  /** One RNG per (workload, seed); the salt keeps workloads independent. */
  def rng(seed: Long, salt: Long): java.util.Random =
    new java.util.Random(seed * 1000003L + salt)

  /** Write `rows` as one uncompressed parquet file; `fill` sets a row's
    * fields on a fresh group (leaving an optional field unset writes null).
    */
  def parquet[A](path: Path, schema: String, rows: Iterable[A])(
      fill: (Group, A) => Unit): Unit = {
    val tpe: MessageType = MessageTypeParser.parseMessageType(schema)
    val groups = new SimpleGroupFactory(tpe)
    Files.deleteIfExists(path)
    val w: ParquetWriter[Group] =
      ExampleParquetWriter.builder(new LocalOutputFile(path))
        .withType(tpe)
        .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
        .build()
    try rows.foreach { r => val g = groups.newGroup(); fill(g, r); w.write(g) }
    finally w.close()
  }

  def writeText(path: Path, lines: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}

/** Reference values, written as sorted `key=value` lines (no timestamp
  * header, unlike java.util.Properties.store, so output is byte-stable).
  */
final class Ref {
  private val kv = mutable.TreeMap.empty[String, String]
  def put(k: String, v: Any): Unit = {
    val s = v.toString
    require(!s.exists(c => c == '\n' || c == '\\'), s"unsafe value for $k")
    require(!kv.contains(k), s"duplicate reference key $k")
    kv(k) = s
  }
  def save(path: Path): Unit =
    Gen.writeText(path, kv.iterator.map { case (k, v) => s"$k=$v" })
}

/** Plain-Scala column statistics with the reference semantics the checks
  * need: nulls excluded everywhere, quartiles as exact order statistics
  * interpolated at p·(n−1), sample standard deviation, modes and top-k
  * ties broken by the smallest value.
  */
object Stats {

  def quantile(sorted: Array[Double], p: Double): Double = {
    val pos = p * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }

  /** Numeric column: count, nulls, nunique, mean, std, min, quartiles, max. */
  def numeric(ref: Ref, prefix: String, values: Seq[Option[Double]]): Unit = {
    val v = values.flatten.toArray
    val sorted = v.sorted
    val n = v.length
    val mean = v.sum / n
    val std = math.sqrt(v.map(x => (x - mean) * (x - mean)).sum / (n - 1))
    ref.put(s"$prefix.count", n)
    ref.put(s"$prefix.nulls", values.size - n)
    ref.put(s"$prefix.nunique", v.distinct.length)
    ref.put(s"$prefix.mean", mean)
    ref.put(s"$prefix.std", std)
    ref.put(s"$prefix.min", sorted.head)
    ref.put(s"$prefix.q1", quantile(sorted, 0.25))
    ref.put(s"$prefix.q2", quantile(sorted, 0.5))
    ref.put(s"$prefix.q3", quantile(sorted, 0.75))
    ref.put(s"$prefix.max", sorted.last)
  }

  /** Box-plot outlier counts for the IQR rule (bounds clamped to min/max). */
  def boxPlot(ref: Ref, prefix: String, values: Seq[Option[Double]]): Unit = {
    val sorted = values.flatten.toArray.sorted
    val (q1, q3) = (quantile(sorted, 0.25), quantile(sorted, 0.75))
    val low = math.max(q1 - 1.5 * (q3 - q1), sorted.head)
    val high = math.min(q3 + 1.5 * (q3 - q1), sorted.last)
    ref.put(s"$prefix.box_low", low)
    ref.put(s"$prefix.box_high", high)
    ref.put(s"$prefix.box_nlow", sorted.count(_ < low))
    ref.put(s"$prefix.box_nhigh", sorted.count(_ > high))
  }

  /** Counts by value, ordered count desc then value asc. */
  def counts(values: Seq[String]): Seq[(String, Int)] =
    values.groupBy(identity).map { case (k, g) => k -> g.size }.toSeq
      .sortBy { case (k, c) => (-c, k) }

  /** Categorical column: count, nulls, nunique, mode, top-10 value counts
    * (nulls counted under the value "null", as value_counts reports them).
    */
  def categorical(ref: Ref, prefix: String, values: Seq[Option[String]]): Unit = {
    val v = values.flatten
    val c = counts(v)
    ref.put(s"$prefix.count", v.size)
    ref.put(s"$prefix.nulls", values.size - v.size)
    ref.put(s"$prefix.nunique", c.size)
    ref.put(s"$prefix.mode", c.head._1)
    ref.put(s"$prefix.top10", counts(values.map(_.getOrElse("null")))
      .take(10).map { case (k, n) => s"$k:$n" }.mkString("|"))
  }

  def pearson(x: Array[Double], y: Array[Double]): Double = {
    val (mx, my) = (x.sum / x.length, y.sum / y.length)
    var sxy = 0.0; var sxx = 0.0; var syy = 0.0
    x.indices.foreach { i =>
      val (dx, dy) = (x(i) - mx, y(i) - my)
      sxy += dx * dy; sxx += dx * dx; syy += dy * dy
    }
    sxy / math.sqrt(sxx * syy)
  }
}
