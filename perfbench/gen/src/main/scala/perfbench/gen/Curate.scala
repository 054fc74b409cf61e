package perfbench.gen

import java.nio.file.Path

import scala.collection.mutable

/** curate: a small star of parquet tables plus a near-duplicate corpus.
  *
  * - customers(cust_id, region, segment): cust_id is a key.
  * - promos(promo_id): promo_id is a key.
  * - orders(order_id, cust_id, line_no, prod_id, category, price_band,
  *   promo_id, ts, amount, ref_code), the fact table; each product has
  *   one category and one price band:
  *   - keys: (cust_id, line_no) is a key; ref_code is unique except for
  *     one planted duplicate, so it is not a key;
  *   - FDs: prod_id → category holds; prod_id → price_band is broken in
  *     one planted row;
  *   - INDs: cust_id ⊆ customers.cust_id holds; promo_id ⊆
  *     promos.promo_id is broken by one dangling value;
  *   - ODs: order_id → ts is strictly ascending; order_id → amount is not
  *     ordered either way.
  * - docs(doc_id, text): `Unique` random 40-word documents plus `Clusters`
  *   planted clusters, each a base document and 1–3 variants that replace
  *   one or two of its words.
  *
  * The reference holds every measure each call reports, computed here:
  * key profiles of every candidate tuple, FD profiles of every ordered
  * pair, IND miss counts of every unary candidate, OD violation counts,
  * and the truly similar document pairs (word-3-gram Jaccard ≥ 0.6).
  */
object Curate {
  val Customers = 400
  val Products = 120
  val Promos = 20
  val Orders = 4000
  val Unique = 480
  val Clusters = 40
  val DocWords = 40
  val Threshold = 0.6

  val KeyColumns: Seq[String] = Seq("cust_id", "line_no", "ref_code")
  val FdColumns: Seq[String] = Seq("prod_id", "category", "price_band")
  val OdPairs: Seq[(String, String)] = Seq("order_id" -> "ts", "order_id" -> "amount")

  private val Regions = Seq("apac", "emea", "latam", "namer", "nordic", "iberia",
    "benelux", "alps")
  private val Segments = Seq("retail", "smb", "enterprise", "public", "edu")
  private val Categories = (0 until 10).map(i => s"cat$i")
  private val Bands = Seq("low", "mid", "high", "premium")

  final case class Order(orderId: Long, custId: Long, lineNo: Long, prodId: Long,
                         category: String, priceBand: String, promoId: Long,
                         ts: Long, amount: Double, refCode: String)

  final case class Data(
      customers: IndexedSeq[(Long, String, String)],
      products: IndexedSeq[(Long, String, String)],
      promos: IndexedSeq[Long],
      orders: IndexedSeq[Order],
      docs: IndexedSeq[(Long, String)])

  def data(seed: Long): Data = {
    val r = Gen.rng(seed, 3)
    def shuffled(n: Int): IndexedSeq[Long] = {
      val a = (1L to n.toLong).toArray
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toIndexedSeq
    }
    val customers = shuffled(Customers).map(id =>
      (id, Regions(r.nextInt(Regions.size)), Segments(r.nextInt(Segments.size))))
    val products = shuffled(Products).map(id =>
      (id, Categories(r.nextInt(Categories.size)), Bands(r.nextInt(Bands.size))))
    val catOf = products.map(p => p._1 -> p._2).toMap
    val bandOf = products.map(p => p._1 -> p._3).toMap
    val promos = shuffled(Promos)
    val lines = mutable.Map.empty[Long, Long]
    val brokenFd = 1 + r.nextInt(Orders - 2)
    val dangling = 1 + r.nextInt(Orders - 2)
    val dupRef = 1 + r.nextInt(Orders - 2)
    var ts = 1704067200L * 1000000L
    val orders = (1 to Orders).map { i =>
      val cust = 1L + r.nextInt(Customers)
      val line = lines.getOrElse(cust, 0L) + 1
      lines(cust) = line
      val prod = 1L + r.nextInt(Products)
      val band =
        if (i == brokenFd) Bands((Bands.indexOf(bandOf(prod)) + 1) % Bands.size)
        else bandOf(prod)
      ts += 1000000L + r.nextInt(60000000)
      Order(i.toLong, cust, line, prod, catOf(prod), band,
        if (i == dangling) Promos + 1L else 1L + r.nextInt(Promos), ts,
        r.nextInt(1000000) / 100.0,
        f"R${if (i == dupRef) i - 1 else i}%06d")
    }
    Data(customers, products, promos, orders, docs(r))
  }

  private def docs(r: java.util.Random): IndexedSeq[(Long, String)] = {
    val vocab = Array.fill(4000) {
      Seq.fill(5 + r.nextInt(4))(('a' + r.nextInt(26)).toChar).mkString
    }
    def doc(): Array[String] = Array.fill(DocWords)(vocab(r.nextInt(vocab.length)))
    def variant(base: Array[String]): Array[String] = {
      val v = base.clone()
      (0 until 1 + r.nextInt(2)).foreach(_ => v(r.nextInt(DocWords)) = vocab(r.nextInt(vocab.length)))
      v
    }
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    (0 until Unique).foreach(_ => texts += doc())
    (0 until Clusters).foreach { _ =>
      val base = doc()
      texts += base
      (0 until 1 + r.nextInt(3)).foreach(_ => texts += variant(base))
    }
    // doc ids are a shuffle of 0 until n, so clusters are not id-contiguous
    val ids = {
      val a = texts.indices.map(_.toLong).toArray
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    texts.indices.map(i => (ids(i), texts(i).mkString(" ")))
  }

  /** Word 3-gram set of a text, whitespace-tokenized and lower-cased; a text
    * shorter than three words is its own single gram.
    */
  def grams(text: String): Set[String] = {
    val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (t.length < 3) Set(t.mkString(" ")) else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  def write(seed: Long, out: Path, ref: Ref): Unit = {
    val d = data(seed)
    Gen.parquet(out.resolve("customers.parquet"),
      """message customers { required int64 cust_id; required binary region (STRING);
        |required binary segment (STRING); }""".stripMargin, d.customers) {
      (g, c) => g.append("cust_id", c._1).append("region", c._2).append("segment", c._3)
    }
    Gen.parquet(out.resolve("promos.parquet"),
      "message promos { required int64 promo_id; }", d.promos) {
      (g, p) => g.append("promo_id", p)
    }
    Gen.parquet(out.resolve("orders.parquet"),
      """message orders { required int64 order_id; required int64 cust_id;
        |required int64 line_no; required int64 prod_id; required binary category (STRING);
        |required binary price_band (STRING); required int64 promo_id;
        |required int64 ts (TIMESTAMP(MICROS,true)); required double amount;
        |required binary ref_code (STRING); }""".stripMargin, d.orders) { (g, o) =>
      g.append("order_id", o.orderId).append("cust_id", o.custId)
        .append("line_no", o.lineNo).append("prod_id", o.prodId)
        .append("category", o.category).append("price_band", o.priceBand)
        .append("promo_id", o.promoId).append("ts", o.ts)
        .append("amount", o.amount).append("ref_code", o.refCode)
    }
    Gen.parquet(out.resolve("docs.parquet"),
      "message docs { required int64 doc_id; required binary text (STRING); }",
      d.docs) { (g, doc) => g.append("doc_id", doc._1).append("text", doc._2) }
    // the corpus again as plain text, for the checks' own Jaccard
    Gen.writeText(out.resolve("docs.tsv"),
      d.docs.iterator.map { case (id, t) => s"$id\t$t" })

    val orderCol: Map[String, Order => Any] = Map(
      "order_id" -> (_.orderId), "cust_id" -> (_.custId), "line_no" -> (_.lineNo),
      "prod_id" -> (_.prodId), "category" -> (_.category),
      "price_band" -> (_.priceBand), "promo_id" -> (_.promoId), "ts" -> (_.ts),
      "amount" -> (_.amount), "ref_code" -> (_.refCode))

    // keys: every candidate discoverKeys measures (arity 1 and 2)
    val candidates = KeyColumns.map(Seq(_)) ++ KeyColumns.combinations(2).toSeq
    ref.put("keys.candidates", candidates.map(_.mkString(",")).mkString("|"))
    candidates.foreach { cs =>
      val n = d.orders.map(o => cs.map(orderCol(_)(o))).distinct.size
      val k = s"keys.${cs.mkString(",")}"
      ref.put(s"$k.n_rows", Orders)
      ref.put(s"$k.n_distinct", n)
      ref.put(s"$k.n_null_rows", 0)
      ref.put(s"$k.is_key", n == Orders)
    }
    // FDs: every ordered pair
    for (a <- FdColumns; b <- FdColumns if a != b) {
      val da = d.orders.map(orderCol(a)).distinct.size
      val dp = d.orders.map(o => (orderCol(a)(o), orderCol(b)(o))).distinct.size
      ref.put(s"fd.$a>$b.n_determinant", da)
      ref.put(s"fd.$a>$b.n_pairs", dp)
      ref.put(s"fd.$a>$b.holds", da == dp)
    }
    // INDs: every unary candidate between two different tables
    val valuesOf: Map[(String, String), Set[Long]] = Map(
      ("orders", "cust_id") -> d.orders.map(_.custId).toSet,
      ("orders", "promo_id") -> d.orders.map(_.promoId).toSet,
      ("customers", "cust_id") -> d.customers.map(_._1).toSet,
      ("promos", "promo_id") -> d.promos.toSet)
    for (((lt, lc), lv) <- valuesOf; ((rt, rc), rv) <- valuesOf if lt != rt) {
      val k = s"ind.$lt.$lc<$rt.$rc"
      ref.put(s"$k.n_missing", lv.count(v => !rv.contains(v)))
      ref.put(s"$k.holds", lv.subsetOf(rv))
    }
    ref.put("ind.planted.orders.cust_id<customers.cust_id", true)
    ref.put("ind.planted.orders.promo_id<promos.promo_id", false)
    // ODs: group-level violation counts (a group violates ascending order
    // when an earlier group holds a larger value than its own minimum)
    OdPairs.foreach { case (x, y) =>
      def num(v: Any): Double = v match {
        case l: Long => l.toDouble
        case dd: Double => dd
        case other => sys.error(s"not orderable: $other")
      }
      val groups = d.orders.groupBy(o => num(orderCol(x)(o))).toSeq.sortBy(_._1)
        .map { case (_, g) => val ys = g.map(o => num(orderCol(y)(o))); (ys.min, ys.max) }
      var (maxBefore, minBefore) = (Double.NegativeInfinity, Double.PositiveInfinity)
      var (asc, desc) = (0L, 0L)
      groups.foreach { case (mn, mx) =>
        if (maxBefore > mn) asc += 1
        if (minBefore < mx) desc += 1
        maxBefore = math.max(maxBefore, mx)
        minBefore = math.min(minBefore, mn)
      }
      val k = s"od.$x>$y"
      ref.put(s"$k.n_groups", groups.size)
      ref.put(s"$k.asc_violations", asc)
      ref.put(s"$k.desc_violations", desc)
      ref.put(s"$k.monotone",
        if (asc == 0 && desc == 0) "both" else if (asc == 0) "asc"
        else if (desc == 0) "desc" else "none")
    }
    // near-duplicates: every truly similar pair, and the clusters they form
    val g = d.docs.map { case (id, t) => id -> grams(t) }
    val similar = for {
      i <- g.indices; j <- (i + 1) until g.size
      if jaccard(g(i)._2, g(j)._2) >= Threshold
    } yield (math.min(g(i)._1, g(j)._1), math.max(g(i)._1, g(j)._1))
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = parent.get(x) match {
      case Some(p) if p != x => val root = find(p); parent(x) = root; root
      case _ => x
    }
    similar.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val clusters = similar.flatMap(p => Seq(p._1, p._2)).distinct
      .groupBy(find).values.map(_.sorted).toSeq.sortBy(_.head)
    ref.put("dedup.threshold", Threshold)
    ref.put("dedup.similar_pairs", similar.sorted.map(p => s"${p._1}-${p._2}").mkString("|"))
    ref.put("dedup.clusters", clusters.map(_.mkString(",")).mkString("|"))
  }
}
