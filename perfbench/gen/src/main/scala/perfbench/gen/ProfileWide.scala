package perfbench.gen

import java.nio.file.Path

/** profile_wide: a CSV of many string columns and few rows, one family of
  * columns per planted logical type (`Families` columns of each):
  *
  * | family  | cells                                           | planted type |
  * |---------|-------------------------------------------------|--------------|
  * | int_k   | integers in −99999..99999                       | Integer |
  * | intn_k  | integers, 5% empty                              | IntegerNullable |
  * | dec_k   | decimals "1234.56", no grouping, 5% empty       | Double |
  * | bool_k  | yes / no                                        | Boolean |
  * | booln_k | yes / no, 5% empty                              | BooleanNullable |
  * | ts_k    | "yyyy-MM-dd HH:mm:ss" in 2023–2024              | Datetime |
  * | label_k | 4 + k%8 labels                                  | Categorical |
  * | text_k  | 6–14 common English words                       | NaturalLanguage |
  *
  * `dec_0 = int_0 / 4 + U(−5, 5)` is the planted linear pair.
  */
object ProfileWide {
  val Rows = 500
  val Families = 2
  val Kinds: Seq[(String, String)] = Seq("int" -> "Integer",
    "intn" -> "IntegerNullable", "dec" -> "Double", "bool" -> "Boolean",
    "booln" -> "BooleanNullable", "ts" -> "Datetime", "label" -> "Categorical",
    "text" -> "NaturalLanguage")
  /** Columns passed to dependence: a bounded subset of the numeric families. */
  val DependenceColumns: Seq[String] =
    Seq("int_0", "int_1", "dec_0", "dec_1", "bool_0", "label_0")

  private val Words = ("the of and to in is was he for it with as his on be at " +
    "by had are but from or have an they which one you were her all she there " +
    "would their we him been has when who will more no if out so said what up " +
    "its about into than them can only other new some could time these two may " +
    "then do first any my now such like our over man me even most made after " +
    "also did many before must through back years where much your way well down " +
    "should because each just those people how too little state good very make " +
    "world still own see men work long get here between both life being under " +
    "never day same another know while last might us great old year off come " +
    "since against go came right used take three").split(' ')
  private val LabelPool: Seq[String] = Seq("north", "south", "east", "west",
    "red", "green", "blue", "gold", "iron", "clay", "sand", "salt")

  def columns: Seq[(String, String)] = for {
    k <- 0 until Families
    (kind, tpe) <- Kinds
  } yield (s"${kind}_$k", tpe)

  /** Cell text by column (None = empty cell), row-major. */
  def cells(seed: Long): IndexedSeq[IndexedSeq[Option[String]]] = {
    val r = Gen.rng(seed, 2)
    def maybe(s: => String): Option[String] =
      if (r.nextInt(20) == 0) None else Some(s)
    def int(): String = (r.nextInt(199999) - 99999).toString
    def dec(): String = {
      val cents = r.nextInt(20000000) - 10000000
      f"${if (cents < 0) "-" else ""}${math.abs(cents) / 100}.${math.abs(cents) % 100}%02d"
    }
    def ts(): String = {
      val sec = 1672531200L + (r.nextDouble() * 2 * 365 * 86400).toLong
      java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    }
    def text(): String =
      Seq.fill(6 + r.nextInt(9))(Words(r.nextInt(Words.length))).mkString(" ")
    (0 until Rows).map { _ =>
      val row = columns.map { case (name, _) =>
        val k = name.substring(name.indexOf('_') + 1).toInt
        name.takeWhile(_ != '_') match {
          case "int" => Some(int())
          case "intn" => maybe(int())
          case "dec" => maybe(dec())
          case "bool" => Some(if (r.nextBoolean()) "yes" else "no")
          case "booln" => maybe(if (r.nextBoolean()) "yes" else "no")
          case "ts" => Some(ts())
          case "label" => Some(LabelPool(r.nextInt(4 + k % 8)))
          case "text" => Some(text())
        }
      }.toIndexedSeq
      // the planted linear pair: overwrite dec_0 from int_0
      val i0 = columns.indexWhere(_._1 == "int_0")
      val d0 = columns.indexWhere(_._1 == "dec_0")
      val cents = (row(i0).get.toLong * 25) + r.nextInt(1001) - 500
      row.updated(d0, row(d0).map(_ =>
        f"${if (cents < 0) "-" else ""}${math.abs(cents) / 100}.${math.abs(cents) % 100}%02d"))
    }
  }

  def write(seed: Long, out: Path, ref: Ref): Unit = {
    val data = cells(seed)
    val cols = columns
    Gen.writeText(out.resolve("wide.csv"),
      Iterator.single(cols.map(_._1).mkString(",")) ++
        data.iterator.map(_.map(_.getOrElse("")).mkString(",")))

    ref.put("rows", Rows)
    ref.put("columns", cols.map(_._1).mkString(","))
    ref.put("dependence.columns", DependenceColumns.mkString(","))
    // dependence on the subset: every unordered pair of its columns
    ref.put("dependence.pairs", DependenceColumns.size * (DependenceColumns.size - 1) / 2)
    cols.zipWithIndex.foreach { case ((name, tpe), i) =>
      ref.put(s"type.$name", tpe)
      val v = data.map(_(i))
      val p = s"col.$name"
      tpe match {
        case "Integer" | "IntegerNullable" | "Double" =>
          Stats.numeric(ref, p, v.map(_.map(_.toDouble)))
        case "Boolean" | "BooleanNullable" =>
          ref.put(s"$p.count", v.count(_.isDefined))
          ref.put(s"$p.nulls", v.count(_.isEmpty))
          ref.put(s"$p.num_true", v.count(_.contains("yes")))
          ref.put(s"$p.num_false", v.count(_.contains("no")))
        case "Categorical" => Stats.categorical(ref, p, v)
        case _ =>
          ref.put(s"$p.count", v.count(_.isDefined))
          ref.put(s"$p.nulls", v.count(_.isEmpty))
          ref.put(s"$p.nunique", v.flatten.distinct.size)
      }
    }
    val i0 = cols.indexWhere(_._1 == "int_0")
    val d0 = cols.indexWhere(_._1 == "dec_0")
    // dependence measures are scaled by shared / union non-null rows
    val both = data.filter(r => r(d0).isDefined)
    ref.put("pearson.int_0.dec_0", Stats.pearson(
      both.map(_(i0).get.toDouble).toArray, both.map(_(d0).get.toDouble).toArray) *
      both.size / data.size)
    ref.put("checksum.sum_int_0", data.map(_(i0).get.toLong).sum)
  }
}
