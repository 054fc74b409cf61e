package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dev probe (r12, VERDICT #7): would FUSING the exact-quantile walk's
  * per-column per-level aggregations into one job keyed by
  * (column, region, bucket) beat the current k CONCURRENT narrow per-column
  * jobs on a WIDE describe (20 numeric columns)?
  *
  * The fused shape must put every column's bucket assignment in one scan,
  * which in Spark means an explode/Expand carrying k (cid, bucket, value)
  * tuples per input row — the same melt geometry the per-column jobs beat
  * 3× for modes (meltStatsFull) and 3–7× for key profiles (q139, BENCH_SF1.md).
  * The counter-argument for fusion is scheduler round-trips: the walk runs
  * 2–3 LEVELS per column with a driver sync per level, so 20 columns × 3
  * levels = ~60 small jobs vs ~3 fused jobs. This probe measures which
  * effect wins at 30× and 150×.
  *
  * The fused side replicates the walk faithfully for the median rank
  * (region bookkeeping per column, observed-bounds recursion, min==max
  * resolution) — same level count as the real walk's p50 path; the
  * per-column side IS the real `Describe.exactQuantiles` asking only p50,
  * so the comparison is level-for-level honest.
  *
  * Usage: Test/runMain graft.ProbeQuantFusion [sfDir]
  *        (30×: /tmp/graft_sf3, 150× lineitem: /tmp/graft_li150)
  */
object ProbeQuantFusion {
  private val B = 4096

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/graft_sf3"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // 20 numeric columns with distinct distributions derived from lineitem
    val li = Queries.table(spark, sfDir, "lineitem")
    val cols = (0 until 20).map(i => s"c$i")
    val wide = li.select((0 until 20).map { i =>
      ((col("l_extendedprice") * (1 + i % 5) +
        col("l_quantity") * i + col("l_tax") * (i * 7 % 11)) +
        col("l_discount")).as(s"c$i")
    }: _*)

    def perColumn(): Unit = {
      val q = graft.stats.Describe.exactQuantiles(
        wide, cols.map(_ -> Seq(0.5)).toMap)
      assert(q.size == 20 && q.values.forall(_.head > 0))
    }

    // ---- fused walk: one exploded agg per LEVEL over ALL columns --------
    final case class Reg(lo: Double, hi: Double, offset: Long, rank: Long)
    def fused(): Unit = {
      val n = wide.count()
      val rank = (n - 1) / 2
      val first = wide.select(cols.flatMap(c =>
        Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"))): _*).head()
      var regions: Map[Int, Reg] = cols.indices.map { i =>
        i -> Reg(first.getDouble(2 * i), first.getDouble(2 * i + 1), 0L, rank)
      }.toMap
      var resolved = Map.empty[Int, Double]
      var level = 0
      while (regions.nonEmpty && level < 64) {
        level += 1
        // one fused job: explode (cid, bucket, v) for every live column
        val entries = regions.toSeq.map { case (i, r) =>
          val v = col(s"c$i").cast(DoubleType)
          val w = r.hi - r.lo
          // clamp BEFORE the int cast: the fused shape evaluates the bucket
          // expression on out-of-region rows too (filtered only after), and
          // ANSI mode errors on a bigint->int overflow
          val b = least(greatest(
            floor((v - lit(r.lo)) / lit(w) * B), lit(0L)),
            lit((B - 1).toLong)).cast(IntegerType)
          struct(lit(i).as("cid"), b.as("b"), v.as("v"),
            (v >= lit(r.lo) && v <= lit(r.hi)).as("in"))
        }
        val rows = wide
          .select(explode(array(entries: _*)).as("e"))
          .where(col("e.in"))
          .groupBy(col("e.cid").as("cid"), col("e.b").as("b"))
          .agg(count(lit(1)).as("c"), min(col("e.v")).as("mn"),
            max(col("e.v")).as("mx"))
          .collect()
        val byCol = rows.groupBy(_.getInt(0))
        val next = Map.newBuilder[Int, Reg]
        regions.foreach { case (i, reg) =>
          val bs = byCol.getOrElse(i, Array.empty).sortBy(_.getInt(1))
          var cum = reg.offset
          bs.foreach { r =>
            val c = r.getLong(2); val bmn = r.getDouble(3); val bmx = r.getDouble(4)
            if (reg.rank >= cum && reg.rank < cum + c && !resolved.contains(i)) {
              if (bmn == bmx) resolved += i -> bmn
              else next += i -> Reg(bmn, bmx, cum, reg.rank)
            }
            cum += c
          }
        }
        regions = next.result()
      }
      assert(resolved.size == 20 && resolved.values.forall(_ > 0))
    }

    perColumn(); fused() // warm both
    val pc = (1 to 3).map(_ => t(perColumn())).min
    val fu = (1 to 3).map(_ => t(fused())).min
    println(f"[quantfusion] dir=$sfDir perColumn=$pc%6.2fs fused=$fu%6.2fs " +
      f"ratio=${fu / pc}%5.2f")
    spark.stop()
  }
}
