package perfbench

import scala.collection.mutable

/** Correctness checks: every call's output against the generator's own
  * reference values, or against a property the output must have. Each
  * check returns its failures; an empty result means the output is right.
  */
object Checks {
  /** Relative tolerance for aggregated floating-point values. */
  val Tol = 1e-9

  private final class Errs {
    val list = mutable.ArrayBuffer.empty[String]
    def eq(what: String, got: Any, want: Any): Unit =
      if (got != want) list += s"$what: got $got, want $want"
    def near(what: String, got: Any, want: Double, tol: Double = Tol): Unit = got match {
      case n: java.lang.Number
          if math.abs(n.doubleValue - want) <= tol * math.max(1.0, math.abs(want)) => ()
      case other => list += s"$what: got $other, want $want"
    }
    def ok(what: String, cond: Boolean): Unit = if (!cond) list += what
  }

  private def errs(body: Errs => Unit): Seq[String] = {
    val e = new Errs
    try body(e)
    catch { case t: Exception => e.list += s"malformed output: $t" }
    e.list.toSeq
  }

  private def num(v: Any): Option[Double] = v match {
    case null => None
    case n: java.lang.Number => Some(n.doubleValue)
    case other => sys.error(s"not a number: $other")
  }

  private def columnRows(out: Rows): Map[String, Map[String, Any]] =
    out.filter(_.contains("column")).map(r => r("column").toString -> r).toMap

  private def types(ref: Ref): Map[String, String] = ref.under("type")

  // ------------------------------------------------------------ shared

  private def typesMatch(e: Errs, ref: Ref, what: String, out: Rows): Unit = {
    val got = columnRows(out)
    e.eq(s"$what columns", got.keySet, types(ref).keySet)
    types(ref).foreach { case (c, t) =>
      got.get(c).foreach(r => e.eq(s"$what type of $c", r("logical_type"), t))
    }
  }

  private def describe(e: Errs, ref: Ref, out: Rows): Unit = {
    // describe leaves out the index and the time index
    val described = types(ref) -- ref.get("index") -- ref.get("time_index")
    val byCol = out.map(r => r("column_name").toString -> r).toMap
    e.eq("describe columns", byCol.keySet, described.keySet)
    described.foreach { case (c, t) => byCol.get(c).foreach { row =>
      val want = ref.under(s"col.$c")
      e.eq(s"describe $c logical_type", row("logical_type"), t)
      Seq("count" -> "count", "nulls" -> "nan_count", "nunique" -> "nunique",
        "num_true" -> "num_true", "num_false" -> "num_false").foreach { case (k, f) =>
          want.get(k).foreach(v => e.eq(s"describe $c $f", row(f), v.toLong))
        }
      Seq("mean" -> "mean", "std" -> "std", "min" -> "min", "q1" -> "first_quartile",
        "q2" -> "second_quartile", "q3" -> "third_quartile", "max" -> "max").foreach {
          case (k, f) => want.get(k).foreach(v => e.near(s"describe $c $f", row(f), v.toDouble))
        }
      want.get("mode").foreach(v => e.eq(s"describe $c mode", row("mode"), v))
    }}
  }

  private def valueCounts(e: Errs, ref: Ref, out: Rows): Unit = {
    val cats = types(ref).collect { case (c, "Categorical") => c }.toSet
    val got = out.groupBy(_("column_name").toString)
    e.eq("value_counts columns", got.keySet, cats)
    cats.foreach { c => got.get(c).foreach { rs =>
      val top = rs.sortBy(r => num(r("rn")).get).map(r => s"${r("value")}:${r("count")}").mkString("|")
      e.eq(s"value_counts $c", top, ref.s(s"col.$c.top10"))
    }}
  }

  /** Symmetric (each unordered pair once, or equal both ways), bounded, with
    * `max` the measure of largest magnitude, and the planted linear pair's
    * Pearson equal to the generator's.
    */
  private def dependence(e: Errs, ref: Ref, out: Rows, linear: (String, String),
                         monotone: Option[(String, String)]): Unit = {
    val seen = mutable.Map.empty[(String, String), Map[String, Any]]
    out.foreach { r =>
      val (a, b) = (r("column_1").toString, r("column_2").toString)
      e.ok(s"dependence pairs $a with itself", a != b)
      val key = if (a < b) (a, b) else (b, a)
      seen.get(key).foreach(prev => Seq("pearson", "spearman", "mutual_info").foreach(m =>
        e.eq(s"dependence $m($a,$b) asymmetric", r(m), prev(m))))
      seen(key) = r
      // bounded up to floating-point rounding
      Seq("pearson", "spearman", "mutual_info").foreach(m => num(r(m)).foreach(v =>
        e.ok(s"dependence $m($a,$b) = $v outside [-1, 1]", math.abs(v) <= 1 + Tol)))
      val magnitudes = Seq("mutual_info" -> num(r("mutual_info")),
        "pearson" -> num(r("pearson")).map(math.abs),
        "spearman" -> num(r("spearman")).map(math.abs)).collect { case (m, Some(v)) => m -> v }
      if (magnitudes.nonEmpty)
        e.near(s"dependence max($a,$b)", r("max"), num(r(magnitudes.maxBy(_._2)._1)).get, 0)
    }
    e.eq("dependence pairs", seen.size.toLong, ref.l("dependence.pairs"))
    def pair(x: String, y: String) = seen.get(if (x < y) (x, y) else (y, x))
    val (x, y) = linear
    e.ok(s"dependence has no ($x,$y)", pair(x, y).isDefined)
    pair(x, y).foreach(r => e.near(s"pearson($x,$y)", r("pearson"), ref.d(s"pearson.$x.$y")))
    monotone.foreach { case (m1, m2) =>
      e.ok(s"dependence has no ($m1,$m2)", pair(m1, m2).isDefined)
      pair(m1, m2).foreach(r => e.near(s"spearman($m1,$m2)", r("spearman"), 1.0, 1e-12))
    }
  }

  private def written(e: Errs, out: Rows): Unit = {
    e.eq("to_disk typing info written", out.head("typing_info"), true)
    e.ok("to_disk wrote no data files", num(out.head("data_files")).exists(_ > 0))
  }

  private def roundTrip(e: Errs, ref: Ref, out: Rows): Unit = {
    typesMatch(e, ref, "round trip", out)
    columnRows(out).foreach { case (c, r) =>
      e.eq(s"round trip tags of $c", r("tags"), r("tags_before"))
    }
    val sums = out.filterNot(_.contains("column"))
    e.eq("round trip checksum rows", sums.size, 1)
    sums.headOption.foreach { s =>
      e.eq("round trip row count", s("rows"), ref.l("rows"))
      ref.under("checksum").foreach { case (k, v) => e.eq(s"round trip $k", s(k), v.toLong) }
    }
  }

  // ------------------------------------------------------------ workloads

  def profileLong(ref: Ref, op: String, out: Rows): Seq[String] = errs { e =>
    op match {
      case "infer" => typesMatch(e, ref, "infer", out)
      case "init" =>
        typesMatch(e, ref, "init", out)
        val t = out.find(_.contains("index")).get
        e.eq("init index", t("index"), ref.s("index"))
        e.eq("init time_index", t("time_index"), ref.s("time_index"))
        val cols = columnRows(out)
        e.ok("init: index column lacks the index tag",
          cols(ref.s("index"))("tags").toString.split(';').contains("index"))
        e.ok("init: time index column lacks the time_index tag",
          cols(ref.s("time_index"))("tags").toString.split(';').contains("time_index"))
      case "describe" => describe(e, ref, out)
      case "value_counts" => valueCounts(e, ref, out)
      case "dependence" => dependence(e, ref, out, ("x", "z"), Some(("x", "z")))
      case "box_plots" =>
        val got = columnRows(out)
        e.eq("box_plots columns", got.keySet, Set("x", "qty"))
        got.foreach { case (c, r) =>
          val w = ref.under(s"col.$c")
          Seq("q1" -> "q1", "q2" -> "median", "q3" -> "q3", "min" -> "min", "max" -> "max",
            "box_low" -> "low", "box_high" -> "high").foreach { case (k, f) =>
              e.near(s"box_plots $c $f", r(f), w(k).toDouble)
            }
          e.eq(s"box_plots $c num_low", r("num_low"), w("box_nlow").toLong)
          e.eq(s"box_plots $c num_high", r("num_high"), w("box_nhigh").toLong)
        }
      case "medcouple" =>
        // bounds depend on the medcouple sample; the quartiles do not, and
        // the outlier counts must be exact for whatever bounds were chosen
        val r = out.head
        val w = ref.under("col.qty")
        Seq("q1" -> "q1", "q2" -> "median", "q3" -> "q3", "min" -> "min", "max" -> "max")
          .foreach { case (k, f) => e.near(s"medcouple qty $f", r(f), w(k).toDouble) }
        val (lo, hi) = (num(r("low")).get, num(r("high")).get)
        e.ok(s"medcouple low $lo outside [min, q1]", lo >= w("min").toDouble && lo <= w("q1").toDouble)
        e.ok(s"medcouple high $hi outside [q3, max]", hi >= w("q3").toDouble && hi <= w("max").toDouble)
        val hist = ref.s("hist.qty").split('|').map { p =>
          val Array(v, n) = p.split(':'); (v.toDouble, n.toLong)
        }
        e.eq("medcouple qty num_low", r("num_low"), hist.filter(_._1 < lo).map(_._2).sum)
        e.eq("medcouple qty num_high", r("num_high"), hist.filter(_._1 > hi).map(_._2).sum)
      case "frequency" =>
        e.eq("frequency columns", out.map(_("column")).toSet, Set(ref.s("time_index")))
        out.foreach(r => e.eq(s"frequency of ${r("column")}", r("alias"), ref.s(s"freq.${r("column")}")))
      case "to_disk" => written(e, out)
      case "from_disk" => roundTrip(e, ref, out)
      case other => e.ok(s"no check for op '$other'", false)
    }
  }

  def profileWide(ref: Ref, op: String, out: Rows): Seq[String] = errs { e =>
    op match {
      case "read_file" =>
        typesMatch(e, ref, "read_file", out)
        e.eq("read_file column order", out.filter(_.contains("column")).map(_("column")).mkString(","),
          ref.s("columns"))
      case "describe" => describe(e, ref, out)
      case "value_counts" => valueCounts(e, ref, out)
      case "dependence" => dependence(e, ref, out, ("int_0", "dec_0"), None)
      case "to_disk" => written(e, out)
      case "from_disk" => roundTrip(e, ref, out)
      case other => e.ok(s"no check for op '$other'", false)
    }
  }

  /** Word 3-gram set, as the generator defines it. */
  def grams(text: String): Set[String] = {
    val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (t.length < 3) Set(t.mkString(" ")) else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def curate(ref: Ref, docs: Map[Long, String], op: String, out: Rows): Seq[String] = errs { e =>
    def measured(what: String, key: String, r: Map[String, Any], fields: Seq[String]): Unit = {
      val want = ref.under(key)
      e.ok(s"$what: unexpected candidate $key", want.nonEmpty)
      if (want.nonEmpty) fields.foreach { f =>
        val w = want(f)
        e.eq(s"$what $key $f", r(f).toString, w)
      }
    }
    op match {
      case "keys" =>
        e.eq("keys candidates", out.map(_("key_columns").toString).toSet,
          ref.s("keys.candidates").split('|').toSet)
        out.foreach(r => measured("keys", s"keys.${r("key_columns")}", r,
          Seq("n_rows", "n_distinct", "n_null_rows", "is_key")))
      case "fds" =>
        e.eq("fds pairs", out.size, ref.under("fd").size / 3)
        out.foreach(r => measured("fds", s"fd.${r("determinant")}>${r("dependent")}", r,
          Seq("n_determinant", "n_pairs", "holds")))
      case "inds" =>
        val unary = out.filter(r => r("arity") == 1)
        unary.foreach(r => measured("inds",
          s"ind.${r("left_table")}.${r("left_columns")}<${r("right_table")}.${r("right_columns")}",
          r, Seq("n_missing", "holds")))
        val found = unary.map(r =>
          s"${r("left_table")}.${r("left_columns")}<${r("right_table")}.${r("right_columns")}" ->
            r("holds")).toMap
        ref.under("ind.planted").foreach { case (k, holds) =>
          e.eq(s"inds planted $k", found.get(k).map(_.toString), Some(holds))
        }
      case "ods" =>
        e.eq("ods pairs", out.size, ref.under("od").size / 4)
        out.foreach(r => measured("ods", s"od.${r("on_column")}>${r("ordered_column")}", r,
          Seq("n_groups", "asc_violations", "desc_violations", "monotone")))
      case "lsh_pairs" =>
        val t = ref.d("dedup.threshold")
        out.foreach { r =>
          val (a, b) = (num(r("id_1")).get.toLong, num(r("id_2")).get.toLong)
          val (ga, gb) = (grams(docs(a)), grams(docs(b)))
          val j = ga.intersect(gb).size.toDouble / ga.union(gb).size
          // the program reports Jaccard rounded to 4 places
          e.ok(s"lsh pair ($a,$b): true Jaccard $j below $t", j >= t - 5e-5)
          e.near(s"lsh pair ($a,$b) jaccard", r("jaccard"), j, 5e-5)
        }
      case "clusters" =>
        val of = out.map(r => num(r("id")).get.toLong -> num(r("cluster_id")).get.toLong).toMap
        val planted = ref.s("dedup.clusters").split('|').toSeq.map(_.split(',').map(_.toLong).toSeq)
        e.eq("clustered documents", of.keySet, planted.flatten.toSet)
        planted.foreach { members =>
          e.eq(s"cluster of ${members.mkString(",")}", members.map(of.get).toSet, Set(Some(members.min)))
        }
      case other => e.ok(s"no check for op '$other'", false)
    }
  }
}
