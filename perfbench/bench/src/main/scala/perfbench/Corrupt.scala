package perfbench

/** Deliberately wrong outputs, one or more per call, for the self-test:
  * each must make that call's check fail.
  */
object Corrupt {

  private def where(rows: Rows, p: Map[String, Any] => Boolean)(
      f: Map[String, Any] => Map[String, Any]): Rows = {
    val i = rows.indexWhere(p)
    require(i >= 0, "corruption found no row to change")
    rows.updated(i, f(rows(i)))
  }
  private def col(c: String)(r: Map[String, Any]) = r.get("column").contains(c)
  private def described(c: String)(r: Map[String, Any]) = r.get("column_name").contains(c)
  private def pair(a: String, b: String)(r: Map[String, Any]) =
    Set(r("column_1"), r("column_2")) == Set(a, b)
  private def scale(v: Any, by: Double): Double = v.asInstanceOf[Number].doubleValue * by
  private def plus(v: Any, by: Long): Long = v.asInstanceOf[Number].longValue + by
  private def swapTypes(a: String, b: String)(rows: Rows): Rows = {
    val ta = rows.find(col(a)).get("logical_type")
    val tb = rows.find(col(b)).get("logical_type")
    where(where(rows, col(a))(_.updated("logical_type", tb)), col(b))(_.updated("logical_type", ta))
  }
  private def checksum(field: String)(rows: Rows): Rows =
    where(rows, !_.contains("column"))(r => r.updated(field, plus(r(field), 1)))

  def forOp(workload: String, op: String): Seq[(String, Rows => Rows)] = (workload, op) match {
    case ("profile_long", "infer") => Seq("x and cat types swapped" -> swapTypes("x", "cat"))
    case ("profile_long", "init") => Seq(
      "index dropped" -> (rs => where(rs, _.contains("index"))(_.updated("index", null))),
      "qty typed Categorical" -> (rs => where(rs, col("qty"))(_.updated("logical_type", "Categorical"))))
    case (_, "describe") =>
      val c = if (workload == "profile_long") "x" else "dec_0"
      Seq(s"mean of $c off by 1e-6" -> (rs => where(rs, described(c))(r => r.updated("mean", scale(r("mean"), 1 + 1e-6)))),
        s"nan_count of $c off by one" -> (rs => where(rs, described(c))(r => r.updated("nan_count", plus(r("nan_count"), 1)))))
    case (_, "value_counts") => Seq("top count off by one" -> (rs =>
      where(rs, _("rn") == 1)(r => r.updated("count", plus(r("count"), 1)))))
    case (_, "dependence") =>
      val (a, b) = if (workload == "profile_long") ("x", "z") else ("int_0", "dec_0")
      Seq(s"pearson($a,$b) off by 1e-6" -> (rs => where(rs, pair(a, b))(r =>
          r.updated("pearson", r("pearson").asInstanceOf[Double] + 1e-6))),
        "a pair reported both ways, unequal" -> (rs => rs :+ rs.head
          .updated("column_1", rs.head("column_2")).updated("column_2", rs.head("column_1"))
          .updated("pearson", -0.5).updated("max", 0.99)),
        "a correlation above 1" -> (rs => where(rs, pair(a, b))(_.updated("spearman", 1.5))))
    case ("profile_long", "box_plots") => Seq("q1 of x off by 1e-6" ->
      (rs => where(rs, col("x"))(r => r.updated("q1", scale(r("q1"), 1 + 1e-6)))))
    case ("profile_long", "medcouple") => Seq("one outlier too many" ->
      (rs => where(rs, col("qty"))(r => r.updated("num_high", plus(r("num_high"), 1)))))
    case ("profile_long", "frequency") => Seq("interval doubled" ->
      (rs => where(rs, col("ts"))(_.updated("alias", "2H"))))
    case (_, "to_disk") => Seq("typing info missing" ->
      (rs => where(rs, _ => true)(_.updated("typing_info", false))))
    case ("profile_long", "from_disk") => Seq(
      "x read back as Integer" -> (rs => where(rs, col("x"))(_.updated("logical_type", "Integer"))),
      "time index tag lost" -> (rs => where(rs, col("ts"))(_.updated("tags", "datetime"))),
      "checksum off" -> checksum("sum_id"))
    case ("profile_wide", "read_file") => Seq("Integer and IntegerNullable swapped" ->
      swapTypes("int_0", "intn_0"))
    case ("profile_wide", "from_disk") => Seq(
      "bool_0 read back as Categorical" -> (rs => where(rs, col("bool_0"))(_.updated("logical_type", "Categorical"))),
      "checksum off" -> checksum("sum_int_0"))
    case ("curate", "keys") => Seq("composite key missed" ->
      (rs => where(rs, _("key_columns") == "cust_id,line_no")(_.updated("is_key", false))))
    case ("curate", "fds") => Seq("broken FD reported as holding" ->
      (rs => where(rs, r => r("determinant") == "prod_id" && r("dependent") == "price_band")(
        _.updated("holds", true))))
    case ("curate", "inds") => Seq("dangling promo IND reported as holding" ->
      (rs => where(rs, r => r("left_columns") == "promo_id" && r("right_table") == "promos")(
        _.updated("holds", true).updated("n_missing", 0L))))
    case ("curate", "ods") => Seq("ascending OD lost" ->
      (rs => where(rs, r => r("on_column") == "order_id" && r("ordered_column") == "ts")(
        _.updated("monotone", "none"))))
    case ("curate", "lsh_pairs") => Seq("a pair's Jaccard misreported" ->
      (rs => where(rs, _ => true)(r => r.updated("jaccard", scale(r("jaccard"), 0.9)))))
    case ("curate", "clusters") => Seq(
      "a duplicate dropped" -> (rs => rs.tail),
      "two clusters merged" -> { rs =>
        val ids = rs.map(_("cluster_id")).distinct.take(2)
        rs.map(r => if (r("cluster_id") == ids(1)) r.updated("cluster_id", ids.head) else r)
      })
    case _ => Nil
  }
}
