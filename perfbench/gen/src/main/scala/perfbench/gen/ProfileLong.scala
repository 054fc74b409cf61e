package perfbench.gen

import java.nio.file.{Files, Path}

/** profile_long: a tall, narrow parquet table (four part files).
  *
  * | column | values                                        | planted type |
  * |--------|-----------------------------------------------|--------------|
  * | id     | 0 until Rows, unique                          | Integer (index) |
  * | ts     | 2024-01-01T00:00Z + id hours                  | Datetime (time index, frequency "H") |
  * | x      | N(50, 10²)                                    | Double |
  * | z      | 3x + 7 + 2·sin(x): linear in x up to a bounded | Double |
  * |        | wiggle, and strictly increasing (dz/dx ≥ 1)   |        |
  * | qty    | 1 + geometric(0.3), 1 in 200 rows 150..449    | Integer |
  * | cat    | 8 labels, skewed weights, 2% nulls            | Categorical |
  */
object ProfileLong {
  val Rows = 10000
  val Parts = 4
  val Labels: Seq[String] = Seq("amber", "birch", "cedar", "delta", "ember",
    "fjord", "grove", "heath")
  private val LabelWeights = Seq(30, 22, 15, 11, 9, 6, 4, 3)
  val HourUs = 3600L * 1000000L
  val BaseUs = 1704067200L * 1000000L // 2024-01-01T00:00:00Z

  val Schema: String =
    """message long {
      |  required int64 id;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required double x;
      |  required double z;
      |  required int64 qty;
      |  optional binary cat (STRING);
      |}""".stripMargin

  final case class Row(id: Long, ts: Long, x: Double, z: Double,
                       qty: Long, cat: Option[String])

  def rows(seed: Long): IndexedSeq[Row] = {
    val r = Gen.rng(seed, 1)
    val cum = LabelWeights.scanLeft(0)(_ + _).tail
    (0 until Rows).map { i =>
      val x = 50 + 10 * r.nextGaussian()
      var q = 1L
      while (r.nextDouble() > 0.3) q += 1
      val qty = if (r.nextInt(200) == 0) 150L + r.nextInt(300) else q
      val cat = if (r.nextInt(50) == 0) None else {
        val w = r.nextInt(cum.last)
        Some(Labels(cum.indexWhere(w < _)))
      }
      Row(i.toLong, BaseUs + i * HourUs, x, 3 * x + 7 + 2 * math.sin(x), qty, cat)
    }
  }

  def write(seed: Long, out: Path, ref: Ref): Unit = {
    val data = rows(seed)
    val dir = out.resolve("long.parquet")
    Files.createDirectories(dir)
    data.grouped(Rows / Parts).zipWithIndex.foreach { case (part, k) =>
      Gen.parquet(dir.resolve(f"part-$k%05d.parquet"), Schema, part) { (g, row) =>
        g.append("id", row.id).append("ts", row.ts).append("x", row.x)
          .append("z", row.z).append("qty", row.qty)
        row.cat.foreach(g.append("cat", _))
      }
    }

    ref.put("rows", Rows)
    Seq("id" -> "Integer", "ts" -> "Datetime", "x" -> "Double", "z" -> "Double", "qty" -> "Integer",
      "cat" -> "Categorical")
      .foreach { case (c, t) => ref.put(s"type.$c", t) }
    ref.put("index", "id")
    ref.put("time_index", "ts")
    // describe leaves out the index and the time index
    val numeric = Map[String, Row => Option[Double]]("x" -> (r => Some(r.x)),
      "z" -> (r => Some(r.z)),
      "qty" -> (r => Some(r.qty.toDouble)))
    numeric.foreach { case (c, f) =>
      val v = data.map(f)
      Stats.numeric(ref, s"col.$c", v)
      if (c == "x" || c == "qty") Stats.boxPlot(ref, s"col.$c", v)
    }
    Stats.categorical(ref, "col.cat", data.map(_.cat))
    ref.put("freq.ts", "H")
    // every qty value with its count, so the medcouple bounds the program
    // picks can be checked against exact outlier counts
    ref.put("hist.qty", data.groupBy(_.qty).toSeq.sortBy(_._1)
      .map { case (v, g) => s"$v:${g.size}" }.mkString("|"))
    ref.put("pearson.x.z", Stats.pearson(data.map(_.x).toArray, data.map(_.z).toArray))
    // dependence runs on x, z and cat
    ref.put("dependence.pairs", 3)
    ref.put("checksum.sum_id", data.map(_.id).sum)
    ref.put("checksum.sum_qty", data.map(_.qty).sum)
    ref.put("checksum.count_cat", data.count(_.cat.isDefined))
  }
}
