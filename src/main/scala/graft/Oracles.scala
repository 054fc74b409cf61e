package graft

/** DuckDB oracle SQL for each query in [[Queries]]. Arithmetic is written to
  * be bit-identical with the Spark side: integer-cents sums, identical IEEE
  * expression shapes, and explicit rounding on anything produced by a
  * streaming aggregate (corr/avg) whose merge order may differ between
  * engines. Every declared query now carries either full SQL or a pinned
  * literal; a query without an entry would get the driver's rows-only check
  * (AMI / sampled medcouple / frequency voting are not ANSI-expressible).
  */
object Oracles {

  private val depCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate")

  private def depExpr(c: String): String =
    if (c == "l_shipdate") s"CAST(epoch_us($c) AS DOUBLE)" else c

  private val describeCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private def pairs[A](xs: Seq[A]): Seq[(A, A)] =
    xs.combinations(2).map(s => (s(0), s(1))).toSeq

  val q01: String =
    """SELECT l_returnflag, l_linestatus,
      | sum(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS sum_qty,
      | sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
      | count(*) AS count_order,
      | round((sum(CAST(round(l_discount*100) AS BIGINT))/100.0)/count(*), 6) AS avg_disc
      |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  val q02: String = describeCols.map { c =>
    s"""SELECT '$c' AS column_name, count($c) AS cnt,
       | count(DISTINCT $c) AS nunique,
       | count(*) - count($c) AS nan_count,
       | CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v
       |FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")

  val q03: String =
    """WITH m AS (
      | SELECT 'o_orderstatus' AS column_name,
      |        coalesce(CAST(o_orderstatus AS VARCHAR), 'null') AS value FROM orders
      | UNION ALL
      | SELECT 'o_orderpriority', coalesce(CAST(o_orderpriority AS VARCHAR), 'null') FROM orders
      |), c AS (
      | SELECT column_name, value, count(*) AS "count" FROM m GROUP BY 1, 2
      |), r AS (
      | SELECT column_name, value, "count",
      |        row_number() OVER (PARTITION BY column_name
      |                           ORDER BY "count" DESC, value ASC) AS rn
      | FROM c)
      |SELECT column_name, value, "count", CAST(rn AS BIGINT) AS rn
      |FROM r WHERE rn <= 5 ORDER BY column_name, rn""".stripMargin

  val q04: String =
    """WITH b AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) AS lo,
      |                  CAST(max(l_extendedprice) AS DOUBLE) AS hi FROM lineitem)
      |SELECT least(greatest(CAST(floor((l_extendedprice - lo)/(hi - lo)*10) AS BIGINT)+1, 1), 10) AS bin,
      |       count(*) AS frequency
      |FROM lineitem, b GROUP BY 1 ORDER BY 1""".stripMargin

  val q05: String = pairs(depCols).map { case (a, b) =>
    s"""SELECT '$a' AS column_1, '$b' AS column_2,
       | round(corr(${depExpr(a)}, ${depExpr(b)}), 4) AS pearson FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY column_1, column_2")

  val q06: String = {
    val rankCols = depCols.zipWithIndex.map { case (c, i) =>
      s"rank() OVER (ORDER BY ${depExpr(c)}) + (count(*) OVER (PARTITION BY ${depExpr(c)}) - 1)/2.0 AS r_$i"
    }.mkString(",\n ")
    val selects = pairs(depCols.zipWithIndex).map { case ((a, i), (b, j)) =>
      s"""SELECT '$a' AS column_1, '$b' AS column_2,
         | round(corr(r_$i, r_$j), 4) AS spearman FROM rk""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_1, column_2")
    s"WITH rk AS (SELECT\n $rankCols\nFROM lineitem)\n$selects"
  }

  val q08: String = Seq("l_quantity", "l_extendedprice", "l_discount").map { c =>
    s"""SELECT '$c' AS column_name,
       | round(q1, 4) AS q1, round(med, 4) AS median, round(q3, 4) AS q3,
       | round(low, 4) AS low, round(high, 4) AS high,
       | (SELECT count(*) FROM lineitem WHERE $c < t.low) AS num_low,
       | (SELECT count(*) FROM lineitem WHERE $c > t.high) AS num_high
       |FROM (SELECT q1, med, q3,
       |       greatest(q1 - 1.5*(q3 - q1), mn) AS low,
       |       least(q3 + 1.5*(q3 - q1), mx) AS high
       |      FROM (SELECT CAST(quantile_cont($c, 0.25) AS DOUBLE) AS q1,
       |                   CAST(quantile_cont($c, 0.50) AS DOUBLE) AS med,
       |                   CAST(quantile_cont($c, 0.75) AS DOUBLE) AS q3,
       |                   CAST(min($c) AS DOUBLE) AS mn,
       |                   CAST(max($c) AS DOUBLE) AS mx FROM lineitem)) t""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")

  // q09 oracle is pinned literal expected values — generated from a verified
  // run (see Queries.q09InferTypes); regenerate with `graft.OracleGen`.
  def q09(literal: String): String = literal

  val q10: String =
    """SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
      |  c_name, c_acctbal, c_mktsegment
      |FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 1400) a
      |FULL OUTER JOIN (SELECT c_custkey, c_acctbal, c_mktsegment
      |                 FROM customer WHERE c_custkey >= 100) b
      |ON a.c_custkey = b.c_custkey
      |ORDER BY c_custkey""".stripMargin

  val q11: String =
    """SELECT o_orderkey AS order_id, o_custkey, o_totalprice AS total_price
      |FROM orders ORDER BY order_id""".stripMargin

  val q12: String =
    """SELECT CASE WHEN l_returnflag = 'R' THEN true ELSE false END AS returned,
      | count(*) AS cnt
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  val q13: String =
    """SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE source END AS source_dirty,
      | count(*) AS cnt
      |FROM documents GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin

  val q14: String =
    """SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Full frequency-inference decision reproduced in SQL via the shared
    * builder (graft.stats.FrequencyInference.Sql.decision): winning delta
    * from the sorted-series diffs (tie-break: count desc, delta asc), share
    * vs the 0.9 threshold, pandas-style offset alias incl. anchored weekly,
    * calendar year/quarter/month end+start fallbacks. Valid because the
    * Spark side recovers partition-boundary diffs — the delta multiset is
    * partitioning-independent.
    */
  val q15: String = graft.stats.FrequencyInference.Sql.decision(
    "SELECT ts FROM events", "ts")

  val q20: String =
    """SELECT md5(substr(text, 1, 100)) AS key_hash, count(*) AS cnt,
      | min(doc_id) AS keeper
      |FROM documents GROUP BY substr(text, 1, 100) HAVING count(*) > 1
      |ORDER BY key_hash""".stripMargin

  val q21: String =
    graft.ops.Dedup.Sql.jaccardPairs("documents", "doc_id", "text", 3, 0.2,
      "doc_id < 100")

  val q22: String =
    graft.ops.Dedup.Sql.jaccardPairs("documents", "doc_id", "text", 3, 0.6)

  val q65: String =
    graft.ops.Dedup.Sql.duplicateClusters("documents", "doc_id", "text", 3, 0.6)

  val q66: String =
    graft.ops.TextAnalysis.Sql.gopherRules("documents", "doc_id", "text",
      50L, 100000L)

  val q67: String = {
    val clusters = graft.ops.Dedup.Sql.duplicateClusters(
      "documents", "doc_id", "text", 3, 0.6)
    s"""SELECT doc_id, source, n_chars FROM documents
       |WHERE doc_id NOT IN (
       |  SELECT id FROM ($clusters) c WHERE id <> cluster_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** q117: keep-best dedup — clusters from the same recursive closure as
    * q65/q67, winner per cluster by (n_chars desc, doc_id asc); singletons
    * (docs outside every cluster) survive via the left join + coalesce.
    */
  val q117: String = {
    val clusters = graft.ops.Dedup.Sql.duplicateClusters(
      "documents", "doc_id", "text", 3, 0.6)
    s"""WITH cc AS ($clusters),
       |withcl AS (SELECT d.doc_id, d.source, d.n_chars,
       |    coalesce(cc.cluster_id, d.doc_id) AS cl
       |  FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
       |rk AS (SELECT doc_id, source, n_chars,
       |    row_number() OVER (PARTITION BY cl
       |      ORDER BY n_chars DESC, doc_id ASC) AS r
       |  FROM withcl)
       |SELECT doc_id, source, n_chars FROM rk WHERE r = 1
       |ORDER BY doc_id""".stripMargin
  }

  /** q118: data-quality constraint report — each declared check mirrored
    * as a direct SQL count; passed = violations == 0.
    */
  val q118: String =
    """WITH v AS (
      |SELECT 'accepted_values:l_linestatus' AS c, 'accepted_values' AS kind,
      |  CAST(count(*) FILTER (WHERE l_linestatus IS NOT NULL
      |    AND l_linestatus NOT IN ('O','F')) AS BIGINT) AS violations
      |FROM lineitem
      |UNION ALL SELECT 'foreign_key:l_orderkey', 'foreign_key',
      |  CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
      |    AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
      |                           WHERE o_orderkey IS NOT NULL)) AS BIGINT)
      |UNION ALL SELECT 'in_range:l_discount', 'in_range',
      |  CAST(count(*) FILTER (WHERE l_discount IS NOT NULL
      |    AND (l_discount < 0.0 OR l_discount > 0.1)) AS BIGINT)
      |FROM lineitem
      |UNION ALL SELECT 'in_range:l_quantity', 'in_range',
      |  CAST(count(*) FILTER (WHERE l_quantity IS NOT NULL
      |    AND (l_quantity < 1.0 OR l_quantity > 50.0)) AS BIGINT)
      |FROM lineitem
      |UNION ALL SELECT 'not_null:l_orderkey', 'not_null',
      |  CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT)
      |FROM lineitem
      |UNION ALL SELECT 'not_null:l_shipdate', 'not_null',
      |  CAST(count(*) FILTER (WHERE l_shipdate IS NULL) AS BIGINT)
      |FROM lineitem
      |UNION ALL SELECT 'satisfies:price_positive', 'satisfies',
      |  CAST(count(*) FILTER (WHERE NOT coalesce(l_extendedprice > 0, false))
      |    AS BIGINT)
      |FROM lineitem
      |UNION ALL SELECT 'satisfies:qty_under_40', 'satisfies',
      |  CAST(count(*) FILTER (WHERE NOT coalesce(l_quantity < 40, false))
      |    AS BIGINT)
      |FROM lineitem
      |UNION ALL SELECT 'unique:l_orderkey,l_linenumber', 'unique',
      |  CAST((SELECT count(*) FROM (SELECT 1 AS one FROM lineitem
      |    GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)) AS BIGINT))
      |SELECT c AS "constraint", kind, violations,
      |  violations = 0 AS passed
      |FROM v ORDER BY "constraint"""".stripMargin

  /** q119: per-row quarantine tags — each check's CASE mirrors the engine's
    * per-row violation predicate; list_filter drops the non-fired slots.
    */
  /** q120: temperature weights — share = n/total, weight = share^0.5
    * normalized; identical formula order on both sides, rounded to 6.
    */
  val q120: String =
    """WITH c AS (SELECT CAST(source AS VARCHAR) AS source,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c),
      |w AS (SELECT sum(pow(CAST(n AS DOUBLE)/tot, 0.5)) AS ws
      |  FROM c CROSS JOIN t)
      |SELECT source, n,
      |  round(CAST(n AS DOUBLE)/t.tot, 6) AS share,
      |  round(pow(CAST(n AS DOUBLE)/t.tot, 0.5)/w.ws, 6) AS weight
      |FROM c CROSS JOIN t CROSS JOIN w
      |ORDER BY n DESC, source""".stripMargin

  /** q121: PSI — shares per side, full-outer cell union with ε-floor
    * 1e-6, Σ(p−q)·ln(p/q); the numeric side bins by reference-fitted exact
    * deciles (quantile_cont, deduped) with the q115 bin-code convention.
    */
  val q121: String =
    """WITH dr AS (SELECT CAST(lang AS VARCHAR) AS v FROM documents
      |            WHERE doc_id % 2 = 0 AND lang IS NOT NULL),
      |dc AS (SELECT CAST(lang AS VARCHAR) AS v FROM documents
      |       WHERE doc_id % 2 = 1 AND lang IS NOT NULL),
      |p1 AS (SELECT v, CAST(count(*) AS DOUBLE) /
      |        (SELECT count(*) FROM dr) AS p FROM dr GROUP BY v),
      |q1 AS (SELECT v, CAST(count(*) AS DOUBLE) /
      |        (SELECT count(*) FROM dc) AS q FROM dc GROUP BY v),
      |cat AS (SELECT 'lang' AS column_name,
      |    round(sum((greatest(coalesce(p,0),1e-6) - greatest(coalesce(q,0),1e-6))
      |        * ln(greatest(coalesce(p,0),1e-6)/greatest(coalesce(q,0),1e-6))), 6)
      |      AS psi,
      |    CAST(count(*) AS BIGINT) AS n_categories
      |  FROM p1 FULL OUTER JOIN q1 USING (v)),
      |er AS (SELECT CAST(value AS DOUBLE) AS x FROM events
      |       WHERE event_id % 2 = 0 AND value IS NOT NULL),
      |ec AS (SELECT CAST(value AS DOUBLE) AS x FROM events
      |       WHERE event_id % 2 = 1 AND value IS NOT NULL),
      |b AS (SELECT list_sort(list_distinct(list_value(
      |    quantile_cont(x, 0.1), quantile_cont(x, 0.2), quantile_cont(x, 0.3),
      |    quantile_cont(x, 0.4), quantile_cont(x, 0.5), quantile_cont(x, 0.6),
      |    quantile_cont(x, 0.7), quantile_cont(x, 0.8), quantile_cont(x, 0.9)
      |  ))) AS bs FROM er),
      |br AS (SELECT CAST(len(list_filter(b.bs, e -> x > e)) AS VARCHAR) AS v
      |  FROM er, b),
      |bc AS (SELECT CAST(len(list_filter(b.bs, e -> x > e)) AS VARCHAR) AS v
      |  FROM ec, b),
      |p2 AS (SELECT v, CAST(count(*) AS DOUBLE) /
      |        (SELECT count(*) FROM br) AS p FROM br GROUP BY v),
      |q2 AS (SELECT v, CAST(count(*) AS DOUBLE) /
      |        (SELECT count(*) FROM bc) AS q FROM bc GROUP BY v),
      |num AS (SELECT 'value' AS column_name,
      |    round(sum((greatest(coalesce(p,0),1e-6) - greatest(coalesce(q,0),1e-6))
      |        * ln(greatest(coalesce(p,0),1e-6)/greatest(coalesce(q,0),1e-6))), 6)
      |      AS psi,
      |    CAST(count(*) AS BIGINT) AS n_categories
      |  FROM p2 FULL OUTER JOIN q2 USING (v))
      |SELECT * FROM cat UNION ALL SELECT * FROM num
      |ORDER BY column_name""".stripMargin

  /** q122: embedding stats — identical micro-unit quantization and the
    * same double-expression shapes for the variance numerator (the sums
    * exceed 2^53, so expression-shape parity, not just value parity, is
    * what makes the hash match).
    */
  val q122: String =
    """WITH e AS (SELECT unnest(embedding) AS v,
      |    generate_subscripts(embedding, 1) - 1 AS dim
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |c AS (SELECT dim, CAST(round(v * 1e6, 0) AS BIGINT) AS c FROM e),
      |a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS s,
      |    sum(CAST(c AS HUGEINT) * c) AS ss,
      |    CAST(min(c) AS BIGINT) AS mn, CAST(max(c) AS BIGINT) AS mx,
      |    CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS z
      |  FROM c GROUP BY dim)
      |SELECT dim, n,
      |  round(CAST(s AS DOUBLE)/n/1e6, 4) AS mean,
      |  round(sqrt(greatest(
      |    (CAST(ss AS DOUBLE)*n - CAST(s AS DOUBLE)*s) /
      |      (CAST(n AS DOUBLE)*n), 0))/1e6, 4) AS std,
      |  CAST(mn AS DOUBLE)/1e6 AS min_v,
      |  CAST(mx AS DOUBLE)/1e6 AS max_v,
      |  round(CAST(z AS DOUBLE)/n, 4) AS zero_frac
      |FROM a ORDER BY dim""".stripMargin

  /** q123: the six-stage release funnel, every stage replayed with the
    * operator's existing SQL mirror: gopher gate, fingerprint first-wins,
    * recursive-closure keep-best clusters, exhaustive cross-Jaccard
    * decontamination, per-source cumsum packing.
    */
  val q123: String = {
    val gop = graft.ops.TextAnalysis.Sql.gopherRules(
      "corpus", "id", "text", 50L, 100000L)
    val fp = graft.ops.TextAnalysis.Sql.fingerprint("text")
    val clusters = graft.ops.Dedup.Sql.duplicateClusters(
      "s2t", "id", "text", 3, 0.6)
    val toks = "regexp_extract_all(lower(text), '\\S+')"
    val sh = s"""list_distinct(CASE WHEN len($toks) >= 3
                | THEN list_transform(range(1, len($toks) - 1),
                |        i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2])
                | ELSE [array_to_string($toks, ' ')] END)""".stripMargin
    val jac = "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
      "(CAST(len(a.sh) + len(b.sh) AS DOUBLE) - " +
      "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE))"
    val tokCount = "CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)"
    s"""WITH corpus AS (SELECT doc_id AS id, source,
       |    'the a' || doc_id || ' and b' || doc_id || ' of c' || doc_id ||
       |    ' it d' || doc_id || ' ' || text AS text
       |  FROM documents WHERE doc_id >= 100),
       |bench AS (SELECT doc_id AS id,
       |    'the a' || doc_id || ' and b' || doc_id || ' of c' || doc_id ||
       |    ' it d' || doc_id || ' ' || text AS text
       |  FROM documents WHERE doc_id < 100),
       |gr AS ($gop),
       |s1 AS (SELECT c.id, c.source, c.text FROM corpus c
       |       JOIN gr ON gr.id = c.id WHERE gr.pass),
       |s2 AS (SELECT id, source, text FROM (
       |    SELECT s1.*, row_number() OVER (PARTITION BY $fp ORDER BY id) AS rn
       |    FROM s1) WHERE rn = 1),
       |s2t AS (SELECT id, source, text, $tokCount AS tok FROM s2),
       |cc AS ($clusters),
       |s3 AS (SELECT id, source, text, tok FROM (
       |    SELECT t.*, row_number() OVER (
       |        PARTITION BY coalesce(cc.cluster_id, t.id)
       |        ORDER BY t.tok DESC, t.id ASC) AS r
       |    FROM s2t t LEFT JOIN cc ON cc.id = t.id) WHERE r = 1),
       |sh3 AS (SELECT id, $sh AS sh FROM s3),
       |shb AS (SELECT id, $sh AS sh FROM bench),
       |cont AS (SELECT DISTINCT a.id FROM sh3 a JOIN shb b ON true
       |         WHERE round($jac, 4) >= 0.5),
       |s4 AS (SELECT * FROM s3 WHERE id NOT IN (SELECT id FROM cont)),
       |pk AS (SELECT source, tok,
       |    sum(tok) OVER (PARTITION BY source ORDER BY id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS cb
       |  FROM s4)
       |SELECT * FROM (
       |SELECT 0 AS stage_order, 'input' AS stage,
       |  CAST(count(*) AS BIGINT) AS docs,
       |  CAST(coalesce(sum($tokCount), 0) AS BIGINT) AS tokens FROM corpus
       |UNION ALL SELECT 1, 'gated', CAST(count(*) AS BIGINT),
       |  CAST(coalesce(sum($tokCount), 0) AS BIGINT) FROM s1
       |UNION ALL SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
       |  CAST(coalesce(sum($tokCount), 0) AS BIGINT) FROM s2
       |UNION ALL SELECT 3, 'neardup_keep_best', CAST(count(*) AS BIGINT),
       |  CAST(coalesce(sum(tok), 0) AS BIGINT) FROM s3
       |UNION ALL SELECT 4, 'decontaminated', CAST(count(*) AS BIGINT),
       |  CAST(coalesce(sum(tok), 0) AS BIGINT) FROM s4
       |UNION ALL SELECT 5, 'packed',
       |  CAST(count(DISTINCT source || ':' || CAST(cb // 512 AS VARCHAR))
       |    AS BIGINT),
       |  CAST(coalesce(sum(tok), 0) AS BIGINT) FROM pk
       |) f ORDER BY stage_order""".stripMargin
  }

  val q119: String =
    """SELECT l_orderkey, l_linenumber,
      |  coalesce(array_to_string(list_filter([
      |    CASE WHEN l_discount IS NOT NULL
      |      AND (l_discount < 0.0 OR l_discount > 0.05)
      |      THEN 'in_range:l_discount' END,
      |    CASE WHEN NOT coalesce(l_quantity < 40, false)
      |      THEN 'satisfies:qty_under_40' END,
      |    CASE WHEN l_returnflag IS NOT NULL AND l_returnflag <> 'N'
      |      THEN 'accepted_values:l_returnflag' END
      |  ], x -> x IS NOT NULL), ','), '') AS failed
      |FROM lineitem WHERE l_orderkey < 100
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** DuckDB's native ASOF LEFT JOIN is the oracle for [[graft.ops.AsofJoin]]
    * (inclusive `>=` match, nulls never match — both sides' semantics).
    */
  /** q68: the ASOF comparison runs on epoch MICROS (like q57/q94), matching
    * Spark's nanos→micros truncation of events.ts — comparing raw
    * TIMESTAMP_NS values would silently diverge if the fixture ever gained
    * sub-microsecond jitter.
    */
  val q68: String =
    """SELECT l.event_id, l.user_id,
      |  r.event_id AS purchase_id, r.value AS purchase_value
      |FROM (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
      |      WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT event_id, user_id, value, epoch_us(ts) AS us
      |                FROM events WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id AND l.us >= r.us
      |ORDER BY l.event_id""".stripMargin

  val q70: String =
    """SELECT doc_id, md5(nfc_normalize(text)) AS norm_md5
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  val q71: String = graft.ops.Sampling.Sql.mixtureQuery(
    "documents", "doc_id", "source", graft.Queries.q71Weights, "",
    "doc_id, d.source") + "\nORDER BY doc_id"

  val q69: String =
    """WITH bands(band_id, lo, hi) AS (VALUES
      |  (CAST(1 AS BIGINT), 0.0, 50.0), (CAST(2 AS BIGINT), 25.0, 75.0),
      |  (CAST(3 AS BIGINT), 50.0, 150.0), (CAST(4 AS BIGINT), 100.0, 300.0),
      |  (CAST(5 AS BIGINT), 250.0, 500.0))
      |SELECT event_id, band_id FROM events e
      |JOIN bands b ON e.value >= b.lo AND e.value <= b.hi
      |ORDER BY event_id, band_id""".stripMargin

  /** SimHash reproduced exactly in SQL: token hash = first 15 hex chars of
    * md5 parsed as a 60-bit int, per-bit ±1 votes, 15-bit chunk banding,
    * Hamming via bit_count(xor) — every step engine-portable.
    */
  val q23: String = {
    val bits = graft.ops.Dedup.SimhashBits
    val bsums = (0 until bits).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(",\n        ")
    val sig = (0 until bits).map(i =>
      s"(CASE WHEN b$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
       |             FROM documents),
       |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
       |v AS (SELECT doc_id,
       |        $bsums
       |      FROM h GROUP BY doc_id),
       |s AS (SELECT doc_id, $sig AS sig FROM v),
       |c AS (SELECT doc_id, sig, j, (sig >> (j * 15)) & 32767 AS chunk_v
       |      FROM s, (SELECT unnest([0, 1, 2, 3]) AS j)),
       |p AS (SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2,
       |        CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |      FROM c a JOIN c b
       |        ON a.j = b.j AND a.chunk_v = b.chunk_v AND a.doc_id < b.doc_id)
       |SELECT id_1, id_2, hamming FROM p WHERE hamming <= 3
       |ORDER BY id_1, id_2""".stripMargin
  }

  val q24: String = {
    val expr = graft.ops.TextAnalysis.Sql.langId("text")
    s"""SELECT $expr AS lang_pred, count(*) AS cnt
       |FROM documents GROUP BY 1 ORDER BY lang_pred""".stripMargin
  }

  val q25: String = {
    val S = graft.ops.TextAnalysis.Sql
    s"""SELECT doc_id, ${S.tokenCount("text")} AS token_count,
       | ${S.charCount("text")} AS char_count,
       | ${S.punctCount("text")} AS punct_count,
       | ${S.stopwordHits("text")} AS stopword_hits,
       | ${S.bpeTokenCount("text")} AS bpe_token_count,
       | ${S.qualityScore("text")} AS quality_score
       |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin
  }

  val q26: String =
    s"""SELECT doc_id, ${graft.ops.TextAnalysis.Sql.fingerprint("text")} AS fingerprint
       |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin

  val q27: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings)
      |SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
      |  round(list_dot_product(q.v, c.v) /
      |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS cosine
      |FROM e q JOIN e c ON q.vec_id <> c.vec_id
      |WHERE q.vec_id < 10
      |  AND round(list_dot_product(q.v, c.v) /
      |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) >= 0.3
      |ORDER BY query_id, candidate_id""".stripMargin

  val q28: String =
    """SELECT label AS grp, round(sqrt(sum(m*m)), 4) AS centroid_norm
      |FROM (
      |  SELECT label, u.i AS i, avg(CAST(u.v AS DOUBLE)) AS m
      |  FROM (SELECT label,
      |          unnest(list_transform(range(1, len(embedding)+1),
      |                 i -> struct_pack(i := i, v := embedding[i]))) AS u
      |        FROM embeddings)
      |  GROUP BY label, u.i)
      |GROUP BY label ORDER BY grp""".stripMargin

  /** LSH ANN reproduced exactly in SQL: the seeded hyperplanes are embedded
    * as literals (Double.toString round-trips bit-exactly through DuckDB's
    * strtod), so bucket signatures — and therefore the candidate set — are
    * engine-independent. Cosine uses the same sequential-fold dot product
    * shape as q27.
    */
  private def lshSql(numPlanes: Int, threshold: Double): String = {
    val planes = graft.ops.Similarity.hyperplanes(64, numPlanes, 42L)
    val bucket = (0 until numPlanes).map { p =>
      val arr = planes(p).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |b AS (SELECT vec_id, v, $bucket AS bucket FROM e)
       |SELECT a.vec_id AS query_id, c.vec_id AS candidate_id,
       |  round(list_dot_product(a.v, c.v) /
       |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS cosine
       |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |WHERE round(list_dot_product(a.v, c.v) /
       |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), 4) >= $threshold
       |ORDER BY query_id, candidate_id""".stripMargin
  }

  val q29: String = lshSql(numPlanes = 8, threshold = 0.3)
  val q39: String = lshSql(numPlanes = 4, threshold = 0.4)

  /** Multi-table LSH near-dup oracle (q102): each hyperplane family's
    * planes embedded as literals (seeds 42 + 7919·t, matching
    * `Similarity.embeddingNearDups`), per-table bucket pairs UNION-ed
    * (distinct — mirrors the Spark side's dropDuplicates on ids), then
    * the cosine recomputed from the raw vectors. The plane count matches
    * the Spark side's auto-scale, which pins at minPlanes=8 for any
    * corpus under 65k vectors — the sf0.01/sf0.1 fixtures included.
    */
  private def lshMultiSql(numPlanes: Int, numTables: Int,
                          threshold: Double): String = {
    def bucketExpr(seed: Long): String = {
      val planes = graft.ops.Similarity.hyperplanes(64, numPlanes, seed)
      (0 until numPlanes).map { p =>
        val arr = planes(p).mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
    }
    val tableCtes = (0 until numTables).map { t =>
      s"b$t AS (SELECT vec_id, v, ${bucketExpr(42L + 7919L * t)} AS bucket FROM e)"
    }.mkString(",\n")
    val pairUnion = (0 until numTables).map { t =>
      s"SELECT a.vec_id AS qa, c.vec_id AS qc FROM b$t a " +
        s"JOIN b$t c ON a.bucket = c.bucket AND a.vec_id < c.vec_id"
    }.mkString("\nUNION\n")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |$tableCtes,
       |p AS ($pairUnion)
       |SELECT p.qa AS query_id, p.qc AS candidate_id,
       |  round(list_dot_product(x.v, y.v) /
       |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) AS cosine
       |FROM p JOIN e x ON p.qa = x.vec_id JOIN e y ON p.qc = y.vec_id
       |WHERE round(list_dot_product(x.v, y.v) /
       |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) >= $threshold
       |ORDER BY query_id, candidate_id""".stripMargin
  }

  val q102: String = lshMultiSql(numPlanes = 8, numTables = 2, threshold = 0.4)

  /** q30: the SQL-expressible multimodal surface — UTF-8 byte length and
    * content md5 of the payload — is plain SQL on both engines.
    */
  val q30: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
      |  md5(text) AS payload_md5
      |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin

  /** Winnowing with md5-string fingerprints: gram construction, window-min
    * (lexicographic = list_sort(...)[1]), and the short-doc/short-gram
    * fallbacks mirror the Spark windowed plan exactly.
    */
  val q40: String = {
    val k = 5; val w = 4
    val gram = (0 until k).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
       |           FROM documents WHERE doc_id < 100),
       |g AS (SELECT doc_id,
       |        CASE WHEN len(toks) >= $k
       |          THEN list_transform(range(1, len(toks) - ${k - 2}), i -> md5($gram))
       |          ELSE [md5(array_to_string(toks, ' '))] END AS grams
       |      FROM t),
       |m AS (SELECT doc_id,
       |        CASE WHEN len(grams) >= $w
       |          THEN list_transform(range(1, len(grams) - ${w - 2}),
       |                 i -> list_sort(grams[i:i+${w - 1}])[1])
       |          ELSE [list_sort(grams)[1]] END AS mins
       |      FROM g)
       |SELECT DISTINCT doc_id, fp FROM
       |  (SELECT doc_id, unnest(mins) AS fp FROM m)
       |ORDER BY doc_id, fp""".stripMargin
  }

  val q31: String =
    """SELECT CAST(p_brand AS VARCHAR) AS value, count(*) AS "count"
      |FROM part WHERE p_brand IS NOT NULL
      |GROUP BY 1 ORDER BY "count" DESC, value ASC LIMIT 10""".stripMargin

  val q32: String =
    """SELECT value, "count" FROM (
      | SELECT CAST(o_orderdate AS DATE) AS value, count(*) AS "count"
      | FROM orders WHERE o_orderdate IS NOT NULL
      | GROUP BY 1 ORDER BY value DESC LIMIT 10)
      |ORDER BY "count" DESC, value ASC""".stripMargin

  val q33: String =
    """SELECT CAST(c_nationkey AS BIGINT) AS value, count(*) AS "count"
      |FROM customer WHERE c_nationkey IS NOT NULL
      |GROUP BY 1 ORDER BY "count" DESC, value ASC LIMIT 30""".stripMargin

  val q37: String =
    """SELECT 'o_orderdate' AS column_name, count(o_orderdate) AS cnt,
      | count(DISTINCT o_orderdate) AS nunique,
      | count(*) - count(o_orderdate) AS nan_count,
      | CAST(min(o_orderdate) AS TIMESTAMP) AS min_datetime,
      | CAST(max(o_orderdate) AS TIMESTAMP) AS max_datetime
      |FROM orders""".stripMargin

  val q38: String =
    """SELECT 'c_custkey' AS column_name, CAST(0 AS BIGINT) AS invalid_count
      |UNION ALL
      |SELECT 'email_dirty', count(*) FILTER (WHERE c_custkey % 10 <> 0)
      |FROM customer
      |ORDER BY column_name""".stripMargin

  val q35: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_custkey IN (1, 2) ORDER BY c_custkey""".stripMargin

  /** Ground truth for q41 computed arithmetically from the key — the Spark
    * side must RECOVER these exact doubles through the string/array parse,
    * which is a stronger check than replaying the regex in SQL.
    */
  val q41: String =
    """WITH src AS (
      |  SELECT c_custkey AS k,
      |    CAST(c_custkey % 180 AS DOUBLE) - 90 + 0.5 AS lat,
      |    CAST(c_custkey % 400 AS DOUBLE) - 180 + 0.25 AS lon
      |  FROM customer WHERE c_custkey <= 400)
      |SELECT k AS c_custkey,
      |  CASE WHEN k % 7 = 0 OR k % 5 = 0 THEN NULL ELSE lat END AS lat_s,
      |  CASE WHEN k % 7 = 0 OR k % 5 = 0 THEN NULL ELSE lon END AS lon_s,
      |  CASE WHEN k % 7 = 0 OR k % 5 = 0 THEN NULL ELSE lat END AS lat_a,
      |  CASE WHEN k % 7 = 0 OR k % 5 = 0 THEN NULL ELSE lon END AS lon_a,
      |  CASE WHEN k % 7 = 0 OR k % 5 = 0 THEN true ELSE false END AS pair_null,
      |  CASE WHEN k % 7 <> 0 AND k % 5 <> 0 AND (abs(lat) > 90 OR abs(lon) > 180)
      |       THEN true ELSE false END AS invalid
      |FROM src ORDER BY c_custkey""".stripMargin

  val q42: String =
    """WITH m AS (
      |  SELECT CASE WHEN o_orderkey % 13 = 0 THEN '9-BOGUS'
      |              ELSE o_orderpriority END AS prio FROM orders)
      |SELECT prio, count(*) AS cnt,
      |  CAST(CASE prio WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
      |       WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
      |       WHEN '5-LOW' THEN 5 ELSE 0 END AS BIGINT) AS rank,
      |  CASE WHEN prio IN ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
      |       THEN false ELSE true END AS invalid
      |FROM m GROUP BY prio ORDER BY prio""".stripMargin

  /** q43 ground truth from key arithmetic: each fixture is valid for its type
    * iff the key predicate holds, so the regexes must accept/reject exactly
    * those rows. Coercion runs under null_invalid_values=true, so every
    * regex type (incl. PostalCode's `_coerce_postal_code` path) nulls its
    * non-matching rows.
    */
  val q43: String =
    """WITH n AS (SELECT count(*) AS total,
      |  count(*) FILTER (WHERE c_custkey % 3 = 0) AS e,
      |  count(*) FILTER (WHERE c_custkey % 4 = 0) AS u,
      |  count(*) FILTER (WHERE c_custkey % 5 = 0) AS i,
      |  count(*) FILTER (WHERE c_custkey % 2 = 0) AS p,
      |  count(*) FILTER (WHERE c_custkey % 6 IN (0, 1)) AS z
      |  FROM customer WHERE c_custkey <= 300)
      |SELECT 'email_v' AS column_name, e AS coerced_nonnull, total - e AS invalid_count FROM n
      |UNION ALL SELECT 'ip_v', i, total - i FROM n
      |UNION ALL SELECT 'phone_v', p, total - p FROM n
      |UNION ALL SELECT 'postal_v', z, total - z FROM n
      |UNION ALL SELECT 'url_v', u, total - u FROM n
      |ORDER BY column_name""".stripMargin

  val q44: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS cnt
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  val q45: String = graft.stats.FrequencyInference.Sql.decision(
    """SELECT DISTINCT last_day(CAST(o_orderdate AS DATE)) AS ts
      |FROM orders WHERE o_orderdate IS NOT NULL""".stripMargin, "month_end")

  val q46: String = graft.stats.FrequencyInference.Sql.decision(
    """SELECT DISTINCT CAST(o_orderdate AS DATE) +
      |  CAST(7 - (isodow(CAST(o_orderdate AS DATE)) % 7) AS INTEGER) AS ts
      |FROM orders WHERE o_orderdate IS NOT NULL""".stripMargin, "week_end")

  /** q47 expected dimensions recomputed arithmetically — the Spark side must
    * recover them by parsing the constructed PNG/JPEG container bytes.
    */
  val q47: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/jpeg' END AS mime,
      |  CAST(doc_id % 64 + 16 AS INTEGER) AS width,
      |  CAST((doc_id * 3) % 64 + 16 AS INTEGER) AS height
      |FROM documents WHERE doc_id < 60 ORDER BY doc_id""".stripMargin

  /** q48: identical fixture construction + the IDENTICAL unanchored PII
    * patterns (single source of truth: TextAnalysis.piiPatterns) through
    * DuckDB's RE2 — counts must agree engine-to-engine.
    */
  val q48: String = {
    val counts = graft.ops.TextAnalysis.piiPatterns.map { case (nm, pat) =>
      s"CAST(len(regexp_extract_all(txt, '$pat')) AS BIGINT) AS $nm"
    }.mkString(",\n  ")
    """WITH src AS (SELECT doc_id,
      |  substr(text, 1, 40) || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com' ||
      |  CASE WHEN doc_id % 3 = 0 THEN ' from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7' ELSE '' END ||
      |  CASE WHEN doc_id % 4 = 0 THEN ' visit https://example.com/p/' || CAST(doc_id AS VARCHAR) ELSE '' END ||
      |  CASE WHEN doc_id % 5 = 0 THEN ' call 302-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS txt
      |  FROM documents WHERE doc_id < 100)
      |SELECT doc_id,
      |  """.stripMargin + counts + "\nFROM src ORDER BY doc_id"
  }

  val q49: String =
    """WITH src AS (SELECT doc_id,
      |  substr(text, 1, 50) || chr(10) ||
      |  CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter'
      |       ELSE 'unique line ' || CAST(doc_id AS VARCHAR) END || chr(10) ||
      |  CASE WHEN doc_id % 5 = 0 THEN 'all rights reserved'
      |       ELSE 'tail ' || CAST(doc_id AS VARCHAR) END AS txt
      |  FROM documents WHERE doc_id < 100),
      |l AS (SELECT doc_id, trim(unnest(string_split(txt, chr(10)))) AS line FROM src)
      |SELECT line, count(DISTINCT doc_id) AS n_docs, count(*) AS n_lines
      |FROM l WHERE line <> ''
      |GROUP BY line HAVING count(DISTINCT doc_id) >= 10
      |ORDER BY line""".stripMargin

  val q50: String =
    """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |           FROM documents WHERE doc_id < 100),
      |g AS (SELECT doc_id, len(toks) AS nt,
      |        CASE WHEN len(toks) >= 3
      |          THEN list_transform(range(1, len(toks) - 1),
      |                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |          ELSE [] END AS grams
      |      FROM t)
      |SELECT doc_id,
      |  CASE WHEN nt >= 3
      |       THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) /
      |                        CAST(len(grams) AS DOUBLE), 4)
      |       ELSE 0.0 END AS repetition
      |FROM g ORDER BY doc_id""".stripMargin

  /** q51: same fixture as q48; the redaction chain (urls → emails → ips →
    * phones, same order constant) replayed with DuckDB regexp_replace 'g'.
    */
  val q51: String = {
    val pats = graft.ops.TextAnalysis.piiPatterns.toMap
    val chain = graft.ops.TextAnalysis.PiiPlaceholders.foldLeft("txt") {
      case (acc, (nm, ph)) => s"regexp_replace($acc, '${pats(nm)}', '$ph', 'g')"
    }
    """WITH src AS (SELECT doc_id,
      |  substr(text, 1, 40) || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com' ||
      |  CASE WHEN doc_id % 3 = 0 THEN ' from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7' ELSE '' END ||
      |  CASE WHEN doc_id % 4 = 0 THEN ' visit https://example.com/p/' || CAST(doc_id AS VARCHAR) ELSE '' END ||
      |  CASE WHEN doc_id % 5 = 0 THEN ' call 302-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS txt
      |  FROM documents WHERE doc_id < 100)
      |SELECT doc_id, """.stripMargin + chain +
      " AS redacted\nFROM src ORDER BY doc_id"
  }

  /** q52: the identical md5 split/sample arithmetic (single source of truth:
    * Sampling.Sql) grouped per split.
    */
  val q52: String = {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val splitCase = graft.ops.Sampling.Sql.splitCase("doc_id", splits)
    val h1 = graft.ops.Sampling.Sql.hash01("doc_id", "s1")
    s"""WITH a AS (SELECT doc_id, $splitCase AS split, $h1 AS h1 FROM documents)
       |SELECT split, count(*) AS n_total,
       |  CAST(coalesce(sum(CASE WHEN h1 < 0.5 THEN 1 END), 0) AS BIGINT) AS n_sampled
       |FROM a GROUP BY split ORDER BY split""".stripMargin
  }

  /** q53: word-5-gram overlap join between corpus and the sliced benchmark
    * fixture, counting DISTINCT shared grams per (doc, bench) pair.
    */
  val q53: String = {
    val n = 5
    val gram = (0 until n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""WITH cg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - ${n - 2}), i -> $gram)) AS g
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
       |        FROM documents WHERE doc_id < 200)
       |  WHERE len(toks) >= $n),
       |bg AS (
       |  SELECT DISTINCT bench_id, g FROM (
       |    SELECT bench_id, unnest(list_transform(range(1, len(toks) - ${n - 2}), i -> $gram)) AS g
       |    FROM (SELECT CAST(doc_id // 10 AS BIGINT) AS bench_id,
       |                 regexp_extract_all(lower(substr(text, 30, 150)), '\\S+') AS toks
       |          FROM documents WHERE doc_id < 100 AND doc_id % 10 = 0)
       |    WHERE len(toks) >= $n))
       |SELECT cg.doc_id, bg.bench_id, count(DISTINCT cg.g) AS overlap
       |FROM cg JOIN bg USING (g)
       |GROUP BY cg.doc_id, bg.bench_id
       |HAVING count(DISTINCT cg.g) >= 3
       |ORDER BY doc_id, bench_id""".stripMargin
  }

  /** q54: the identical start-position rule (emit while the previous chunk
    * did not already reach the end) via list_filter, chunks via inclusive
    * 1-based list slicing.
    */
  val q54: String = {
    val cs = 32; val st = 24
    s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
       |           FROM documents WHERE doc_id < 50),
       |s AS (SELECT doc_id, toks,
       |        list_filter(range(0, len(toks), $st),
       |          s -> s = 0 OR s - $st + $cs < len(toks)) AS starts
       |      FROM t WHERE len(toks) > 0),
       |e AS (SELECT doc_id, toks,
       |        unnest(range(1, len(starts) + 1)) - 1 AS chunk_index,
       |        unnest(starts) AS start
       |      FROM s)
       |SELECT doc_id, CAST(chunk_index AS INTEGER) AS chunk_index,
       |  CAST(least($cs, len(toks) - start) AS BIGINT) AS n_tokens,
       |  md5(array_to_string(toks[start + 1 : start + $cs], ' ')) AS chunk_md5
       |FROM e ORDER BY doc_id, chunk_index""".stripMargin
  }

  /** q55: corpus bigram counts, deterministic top-20. */
  val q55: String =
    """WITH t AS (SELECT regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
      |g AS (SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
      |      FROM t WHERE len(toks) >= 2)
      |SELECT gram, count(*) AS count FROM g
      |GROUP BY gram ORDER BY count DESC, gram ASC LIMIT 20""".stripMargin

  /** q56: identical URL fixture + the IDENTICAL url scan regex (single
    * source of truth: WwConfig) and host capture through DuckDB RE2.
    */
  val q56: String = {
    val urlPat = graft.config.WwConfig.options.urlInferenceRegex
    s"""WITH src AS (SELECT doc_id,
       |  substr(text, 1, 30) || ' see https://site' || CAST(doc_id % 7 AS VARCHAR) ||
       |  '.example.org/page/' || CAST(doc_id AS VARCHAR) ||
       |  CASE WHEN doc_id % 3 = 0 THEN ' and http://cdn.assets.net/x' ELSE '' END AS txt
       |  FROM documents WHERE doc_id < 200),
       |u AS (SELECT doc_id, regexp_replace(regexp_replace(
       |        lower(regexp_extract(unnest(regexp_extract_all(txt, '$urlPat')), '^https?://([^/]+)', 1)),
       |        '^[^@]*@', ''), ':[0-9]+$$', '') AS domain
       |      FROM src)
       |SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
       |FROM u WHERE domain <> ''
       |GROUP BY domain ORDER BY domain""".stripMargin
  }

  /** q57: the identical lag/cumsum sessionization over epoch-micros (DuckDB
    * reads the nanos timestamps and epoch_us truncates exactly like the
    * Spark-side nanosAsLong read).
    */
  val q57: String = {
    val gapUs = 86400L * 1000000L
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
       |           FROM events WHERE user_id < 100),
       |m AS (SELECT user_id, event_id, us,
       |        CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > $gapUs
       |             THEN 1 ELSE 0 END AS is_new
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |s AS (SELECT user_id, us,
       |        sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
       |          ROWS UNBOUNDED PRECEDING) - 1 AS session_index
       |      FROM m)
       |SELECT user_id, CAST(session_index AS BIGINT) AS session_index,
       |  count(*) AS n_events,
       |  min(us) AS start_us, max(us) AS end_us,
       |  max(us) - min(us) AS duration_us
       |FROM s GROUP BY user_id, session_index
       |ORDER BY user_id, session_index""".stripMargin
  }

  /** q58: positional slice = ORDER BY index LIMIT/OFFSET. */
  val q58: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |ORDER BY c_custkey LIMIT 5 OFFSET 10""".stripMargin

  /** q59: identical per-shard exclusive-cumsum pack assignment and stats. */
  val q59: String =
    """WITH d AS (SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |p AS (SELECT doc_id, source, n_tok,
      |    source || ':' || CAST(
      |      (sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |         ROWS UNBOUNDED PRECEDING) - n_tok) // 512 AS VARCHAR) AS pack_id
      |  FROM d)
      |SELECT pack_id, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  round(CAST(sum(n_tok) AS DOUBLE) / 512.0, 4) AS fill
      |FROM p GROUP BY pack_id ORDER BY pack_id""".stripMargin

  /** q60: per-dim bounds over all vectors, then the identical encode/decode
    * double arithmetic per vector (zipped unnest + subscript join).
    */
  val q60: String =
    """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |    generate_subscripts(embedding, 1) AS d
      |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
      |b AS (SELECT d, min(v) AS mn, max(v) AS mx FROM e GROUP BY d),
      |q AS (SELECT e.vec_id, e.v,
      |    CASE WHEN b.mx = b.mn THEN b.mn
      |         ELSE (least(255, greatest(0, floor((e.v - b.mn) / (b.mx - b.mn) * 255))) + 0.5)
      |              / 255.0 * (b.mx - b.mn) + b.mn END AS approx
      |  FROM e JOIN b USING (d) WHERE e.vec_id < 50)
      |SELECT vec_id,
      |  round(sum(abs(v - approx)) / 64, 6) AS mean_err,
      |  round(max(abs(v - approx)), 6) AS max_err
      |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** q61: identical lag-diff micros arithmetic per user. */
  val q61: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
      |           FROM events WHERE user_id < 50),
      |d AS (SELECT user_id,
      |        us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS delta_us
      |      FROM e)
      |SELECT user_id, count(*) AS n_deltas,
      |  CAST(sum(delta_us) AS BIGINT) AS sum_us,
      |  CAST(max(delta_us) AS BIGINT) AS max_us
      |FROM d WHERE delta_us IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q62: the identical explicit sum/sum_sq formulas over the whole table
    * (profile-merge associativity makes batch-split == direct).
    */
  val q62: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val rows = cols.map { c =>
      s"""SELECT '$c' AS column_name,
         |  count($c) AS count,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
         |  round(sum(CAST($c AS DOUBLE)) / count($c), 4) AS mean,
         |  round(sqrt(greatest((sum(CAST($c AS DOUBLE) * CAST($c AS DOUBLE)) -
         |    sum(CAST($c AS DOUBLE)) * sum(CAST($c AS DOUBLE)) / count($c)) / (count($c) - 1), 0.0)), 4) AS std,
         |  round(min(CAST($c AS DOUBLE)), 4) AS min,
         |  round(max(CAST($c AS DOUBLE)), 4) AS max
         |FROM lineitem""".stripMargin
    }
    rows.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // ---------------------------------------------------- pinned literal oracles
  // The four queries below are deterministic given the fixed sf0.01 fixtures
  // and seeds but not ANSI-expressible (driver-side AMI correction, sampled
  // medcouple, k-means quantizer), so their oracles are pinned expected values
  // from a verified run — the q09 precedent. Regenerate after any behavior
  // change: run `graft.Verify /root/testdata/sf0.01 /tmp/verify_out`, then
  // `python3 tools/oraclegen.py /tmp/verify_out` and paste the emitted vals.

  /** Pinned q07 AMI output (orders categoricals; Dependence seed fixed). */
  val q07Pinned: String =
    """SELECT * FROM (VALUES
      |('o_orderpriority','o_totalprice',CAST(0.0 AS DOUBLE)),
      |('o_orderstatus','o_orderpriority',CAST(-0.0001 AS DOUBLE)),
      |('o_orderstatus','o_totalprice',CAST(-0.0002 AS DOUBLE))
      |) AS t(column_1, column_2, mutual_info) ORDER BY column_1, column_2""".stripMargin

  /** Pinned q16 best-outliers output (medcouple sample is seeded; sf0.01
    * lineitem dispatches to box_plot — |MC| below the skew threshold).
    */
  val q16Pinned: String =
    """SELECT * FROM (VALUES
      |('l_extendedprice','box_plot',CAST(901.82 AS DOUBLE),CAST(104997.88 AS DOUBLE),CAST(0 AS BIGINT),CAST(0 AS BIGINT))
      |) AS t(column_name, method, low, high, num_low, num_high)""".stripMargin

  /** Pinned q34 all-measures dependence output (NULL pearson/spearman on
    * categorical-categorical pairs is the contract, not a placeholder).
    */
  val q34Pinned: String =
    """SELECT * FROM (VALUES
      |('o_orderpriority','o_orderdate',CAST(0.0 AS DOUBLE),CAST(NULL AS DOUBLE),CAST(NULL AS DOUBLE),CAST(0.0 AS DOUBLE)),
      |('o_orderpriority','o_totalprice',CAST(0.0 AS DOUBLE),CAST(NULL AS DOUBLE),CAST(NULL AS DOUBLE),CAST(0.0 AS DOUBLE)),
      |('o_orderstatus','o_orderdate',CAST(0.0 AS DOUBLE),CAST(NULL AS DOUBLE),CAST(NULL AS DOUBLE),CAST(0.0 AS DOUBLE)),
      |('o_orderstatus','o_orderpriority',CAST(-0.0001 AS DOUBLE),CAST(NULL AS DOUBLE),CAST(NULL AS DOUBLE),CAST(-0.0001 AS DOUBLE)),
      |('o_orderstatus','o_totalprice',CAST(-0.0002 AS DOUBLE),CAST(NULL AS DOUBLE),CAST(NULL AS DOUBLE),CAST(-0.0002 AS DOUBLE)),
      |('o_totalprice','o_orderdate',CAST(-0.0004 AS DOUBLE),CAST(0.0111 AS DOUBLE),CAST(0.011 AS DOUBLE),CAST(0.0111 AS DOUBLE))
      |) AS t(column_1, column_2, mutual_info, pearson, spearman, max) ORDER BY column_1, column_2""".stripMargin

  /** Pinned q36 IVF-ANN output (quantizer seeded 42; training sample is the
    * seeded random-key top-n — deterministic for the fixed sf0.01 fixture).
    */
  val q36Pinned: String =
    """SELECT * FROM (VALUES
      |(CAST(0 AS BIGINT),CAST(334 AS BIGINT),CAST(0.3627 AS DOUBLE)),
      |(CAST(0 AS BIGINT),CAST(387 AS BIGINT),CAST(0.3311 AS DOUBLE)),
      |(CAST(1 AS BIGINT),CAST(27 AS BIGINT),CAST(0.3482 AS DOUBLE)),
      |(CAST(1 AS BIGINT),CAST(64 AS BIGINT),CAST(0.3164 AS DOUBLE)),
      |(CAST(1 AS BIGINT),CAST(124 AS BIGINT),CAST(0.3028 AS DOUBLE)),
      |(CAST(1 AS BIGINT),CAST(195 AS BIGINT),CAST(0.3227 AS DOUBLE)),
      |(CAST(1 AS BIGINT),CAST(386 AS BIGINT),CAST(0.3715 AS DOUBLE)),
      |(CAST(1 AS BIGINT),CAST(407 AS BIGINT),CAST(0.327 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(130 AS BIGINT),CAST(0.3999 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(149 AS BIGINT),CAST(0.3299 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(174 AS BIGINT),CAST(0.3035 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(343 AS BIGINT),CAST(0.3085 AS DOUBLE)),
      |(CAST(4 AS BIGINT),CAST(114 AS BIGINT),CAST(0.3985 AS DOUBLE)),
      |(CAST(4 AS BIGINT),CAST(408 AS BIGINT),CAST(0.3228 AS DOUBLE)),
      |(CAST(4 AS BIGINT),CAST(482 AS BIGINT),CAST(0.3139 AS DOUBLE)),
      |(CAST(5 AS BIGINT),CAST(359 AS BIGINT),CAST(0.3058 AS DOUBLE)),
      |(CAST(5 AS BIGINT),CAST(404 AS BIGINT),CAST(0.3284 AS DOUBLE)),
      |(CAST(5 AS BIGINT),CAST(419 AS BIGINT),CAST(0.3192 AS DOUBLE)),
      |(CAST(6 AS BIGINT),CAST(350 AS BIGINT),CAST(0.3245 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(209 AS BIGINT),CAST(0.3945 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(221 AS BIGINT),CAST(0.3247 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(334 AS BIGINT),CAST(0.3569 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(340 AS BIGINT),CAST(0.4928 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(381 AS BIGINT),CAST(0.3452 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(445 AS BIGINT),CAST(0.3408 AS DOUBLE)),
      |(CAST(8 AS BIGINT),CAST(39 AS BIGINT),CAST(0.3847 AS DOUBLE)),
      |(CAST(8 AS BIGINT),CAST(138 AS BIGINT),CAST(0.3567 AS DOUBLE)),
      |(CAST(8 AS BIGINT),CAST(380 AS BIGINT),CAST(0.3045 AS DOUBLE)),
      |(CAST(8 AS BIGINT),CAST(403 AS BIGINT),CAST(0.3382 AS DOUBLE)),
      |(CAST(9 AS BIGINT),CAST(49 AS BIGINT),CAST(0.3852 AS DOUBLE)),
      |(CAST(9 AS BIGINT),CAST(489 AS BIGINT),CAST(0.3435 AS DOUBLE))
      |) AS t(query_id, candidate_id, cosine) ORDER BY query_id, candidate_id""".stripMargin

  /** Pinned q63 PQ reconstruction error (codebooks seeded 42, sample
    * order fixed by the sf0.01 parquet — regenerate via tools/oraclegen.py).
    */
  val q63Pinned: String =
    """SELECT * FROM (VALUES
      |(CAST(0 AS BIGINT),CAST(0.074868 AS DOUBLE),CAST(0.215581 AS DOUBLE)),
      |(CAST(1 AS BIGINT),CAST(0.071458 AS DOUBLE),CAST(0.208169 AS DOUBLE)),
      |(CAST(2 AS BIGINT),CAST(0.074359 AS DOUBLE),CAST(0.221986 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(0.07425 AS DOUBLE),CAST(0.341436 AS DOUBLE)),
      |(CAST(4 AS BIGINT),CAST(0.066981 AS DOUBLE),CAST(0.284401 AS DOUBLE)),
      |(CAST(5 AS BIGINT),CAST(0.08077 AS DOUBLE),CAST(0.282758 AS DOUBLE)),
      |(CAST(6 AS BIGINT),CAST(0.06943 AS DOUBLE),CAST(0.259854 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(0.07054 AS DOUBLE),CAST(0.202167 AS DOUBLE)),
      |(CAST(8 AS BIGINT),CAST(0.071995 AS DOUBLE),CAST(0.256949 AS DOUBLE)),
      |(CAST(9 AS BIGINT),CAST(0.068974 AS DOUBLE),CAST(0.331308 AS DOUBLE)),
      |(CAST(10 AS BIGINT),CAST(0.073887 AS DOUBLE),CAST(0.213961 AS DOUBLE)),
      |(CAST(11 AS BIGINT),CAST(0.070938 AS DOUBLE),CAST(0.198255 AS DOUBLE)),
      |(CAST(12 AS BIGINT),CAST(0.0768 AS DOUBLE),CAST(0.192918 AS DOUBLE)),
      |(CAST(13 AS BIGINT),CAST(0.071924 AS DOUBLE),CAST(0.247604 AS DOUBLE)),
      |(CAST(14 AS BIGINT),CAST(0.069074 AS DOUBLE),CAST(0.203163 AS DOUBLE)),
      |(CAST(15 AS BIGINT),CAST(0.078174 AS DOUBLE),CAST(0.276792 AS DOUBLE)),
      |(CAST(16 AS BIGINT),CAST(0.074574 AS DOUBLE),CAST(0.237318 AS DOUBLE)),
      |(CAST(17 AS BIGINT),CAST(0.07317 AS DOUBLE),CAST(0.218262 AS DOUBLE)),
      |(CAST(18 AS BIGINT),CAST(0.072034 AS DOUBLE),CAST(0.259562 AS DOUBLE)),
      |(CAST(19 AS BIGINT),CAST(0.069915 AS DOUBLE),CAST(0.191642 AS DOUBLE)),
      |(CAST(20 AS BIGINT),CAST(0.078242 AS DOUBLE),CAST(0.356536 AS DOUBLE)),
      |(CAST(21 AS BIGINT),CAST(0.072747 AS DOUBLE),CAST(0.25605 AS DOUBLE)),
      |(CAST(22 AS BIGINT),CAST(0.076336 AS DOUBLE),CAST(0.229109 AS DOUBLE)),
      |(CAST(23 AS BIGINT),CAST(0.071209 AS DOUBLE),CAST(0.247228 AS DOUBLE)),
      |(CAST(24 AS BIGINT),CAST(0.069784 AS DOUBLE),CAST(0.230201 AS DOUBLE)),
      |(CAST(25 AS BIGINT),CAST(0.082666 AS DOUBLE),CAST(0.245946 AS DOUBLE)),
      |(CAST(26 AS BIGINT),CAST(0.071177 AS DOUBLE),CAST(0.336483 AS DOUBLE)),
      |(CAST(27 AS BIGINT),CAST(0.074914 AS DOUBLE),CAST(0.301336 AS DOUBLE)),
      |(CAST(28 AS BIGINT),CAST(0.074341 AS DOUBLE),CAST(0.286553 AS DOUBLE)),
      |(CAST(29 AS BIGINT),CAST(0.069814 AS DOUBLE),CAST(0.283355 AS DOUBLE)),
      |(CAST(30 AS BIGINT),CAST(0.068914 AS DOUBLE),CAST(0.301232 AS DOUBLE)),
      |(CAST(31 AS BIGINT),CAST(0.073451 AS DOUBLE),CAST(0.281935 AS DOUBLE)),
      |(CAST(32 AS BIGINT),CAST(0.077334 AS DOUBLE),CAST(0.236931 AS DOUBLE)),
      |(CAST(33 AS BIGINT),CAST(0.074211 AS DOUBLE),CAST(0.24738 AS DOUBLE)),
      |(CAST(34 AS BIGINT),CAST(0.082868 AS DOUBLE),CAST(0.21304 AS DOUBLE)),
      |(CAST(35 AS BIGINT),CAST(0.06909 AS DOUBLE),CAST(0.255051 AS DOUBLE)),
      |(CAST(36 AS BIGINT),CAST(0.068774 AS DOUBLE),CAST(0.284294 AS DOUBLE)),
      |(CAST(37 AS BIGINT),CAST(0.070215 AS DOUBLE),CAST(0.371722 AS DOUBLE)),
      |(CAST(38 AS BIGINT),CAST(0.068341 AS DOUBLE),CAST(0.161912 AS DOUBLE)),
      |(CAST(39 AS BIGINT),CAST(0.076055 AS DOUBLE),CAST(0.179324 AS DOUBLE)),
      |(CAST(40 AS BIGINT),CAST(0.073228 AS DOUBLE),CAST(0.21037 AS DOUBLE)),
      |(CAST(41 AS BIGINT),CAST(0.083203 AS DOUBLE),CAST(0.31537 AS DOUBLE)),
      |(CAST(42 AS BIGINT),CAST(0.079551 AS DOUBLE),CAST(0.347875 AS DOUBLE)),
      |(CAST(43 AS BIGINT),CAST(0.077948 AS DOUBLE),CAST(0.229389 AS DOUBLE)),
      |(CAST(44 AS BIGINT),CAST(0.07184 AS DOUBLE),CAST(0.203527 AS DOUBLE)),
      |(CAST(45 AS BIGINT),CAST(0.079549 AS DOUBLE),CAST(0.338473 AS DOUBLE)),
      |(CAST(46 AS BIGINT),CAST(0.073896 AS DOUBLE),CAST(0.18792 AS DOUBLE)),
      |(CAST(47 AS BIGINT),CAST(0.07126 AS DOUBLE),CAST(0.191996 AS DOUBLE)),
      |(CAST(48 AS BIGINT),CAST(0.07489 AS DOUBLE),CAST(0.255589 AS DOUBLE)),
      |(CAST(49 AS BIGINT),CAST(0.078318 AS DOUBLE),CAST(0.254857 AS DOUBLE))
      |) AS t(vec_id, mean_err, max_err) ORDER BY vec_id""".stripMargin

  /** Pinned q64 IVF-PQ search output (coarse + PQ quantizers seeded). */
  val q64Pinned: String =
    """SELECT * FROM (VALUES
      |(CAST(0 AS BIGINT),CAST(261 AS BIGINT),CAST(0.3417 AS DOUBLE)),
      |(CAST(0 AS BIGINT),CAST(351 AS BIGINT),CAST(0.3383 AS DOUBLE)),
      |(CAST(0 AS BIGINT),CAST(388 AS BIGINT),CAST(0.3077 AS DOUBLE)),
      |(CAST(0 AS BIGINT),CAST(464 AS BIGINT),CAST(0.3354 AS DOUBLE)),
      |(CAST(1 AS BIGINT),CAST(124 AS BIGINT),CAST(0.4189 AS DOUBLE)),
      |(CAST(1 AS BIGINT),CAST(428 AS BIGINT),CAST(0.4125 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(114 AS BIGINT),CAST(0.3578 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(130 AS BIGINT),CAST(0.3419 AS DOUBLE)),
      |(CAST(4 AS BIGINT),CAST(47 AS BIGINT),CAST(0.3922 AS DOUBLE)),
      |(CAST(5 AS BIGINT),CAST(92 AS BIGINT),CAST(0.3392 AS DOUBLE)),
      |(CAST(5 AS BIGINT),CAST(460 AS BIGINT),CAST(0.4072 AS DOUBLE)),
      |(CAST(6 AS BIGINT),CAST(189 AS BIGINT),CAST(0.3603 AS DOUBLE)),
      |(CAST(6 AS BIGINT),CAST(350 AS BIGINT),CAST(0.3454 AS DOUBLE)),
      |(CAST(6 AS BIGINT),CAST(381 AS BIGINT),CAST(0.3607 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(9 AS BIGINT),CAST(0.3174 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(229 AS BIGINT),CAST(0.3031 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(334 AS BIGINT),CAST(0.3542 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(340 AS BIGINT),CAST(0.4311 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(381 AS BIGINT),CAST(0.352 AS DOUBLE)),
      |(CAST(8 AS BIGINT),CAST(138 AS BIGINT),CAST(0.3068 AS DOUBLE)),
      |(CAST(9 AS BIGINT),CAST(49 AS BIGINT),CAST(0.3522 AS DOUBLE))
      |) AS t(query_id, candidate_id, cosine) ORDER BY query_id, candidate_id""".stripMargin

  /** Per-source top-5 by quality score, ties broken by doc_id. */
  val q72: String = {
    val S = graft.ops.TextAnalysis.Sql
    s"""WITH s AS (SELECT source, doc_id, ${S.qualityScore("text")} AS score
       |           FROM documents),
       |r AS (SELECT source, doc_id, score,
       |      CAST(row_number() OVER (PARTITION BY source
       |        ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank FROM s)
       |SELECT source, doc_id, score, rank FROM r WHERE rank <= 5
       |ORDER BY source, rank""".stripMargin
  }

  /** C4-style repeated-line removal over the q49 boilerplate fixture. */
  val q73: String =
    """WITH src AS (SELECT doc_id,
      |  substr(text, 1, 50) || chr(10) ||
      |  CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter'
      |       ELSE 'unique line ' || CAST(doc_id AS VARCHAR) END || chr(10) ||
      |  CASE WHEN doc_id % 5 = 0 THEN 'all rights reserved'
      |       ELSE 'tail ' || CAST(doc_id AS VARCHAR) END AS txt
      |  FROM documents WHERE doc_id < 100),
      |d AS (SELECT doc_id, string_split(txt, chr(10)) AS ls FROM src),
      |l AS (SELECT doc_id, unnest(ls) AS line,
      |             unnest(range(1, len(ls) + 1)) AS pos FROM d),
      |bad AS (SELECT trim(line) AS bl FROM l WHERE trim(line) <> ''
      |        GROUP BY 1 HAVING count(DISTINCT doc_id) >= 10),
      |kept AS (SELECT doc_id, pos, line FROM l
      |         WHERE trim(line) NOT IN (SELECT bl FROM bad)),
      |a AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
      |      count(*) AS n_kept FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
      |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
      |  CAST(len(d.ls) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
      |FROM d LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Add-1 bigram LM scores (same window-count formulation as the Spark
    * plan: per-gram and per-context counts over the shared gram table).
    */
  val q77: String =
    """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |           FROM documents WHERE doc_id < 200),
      |v AS (SELECT count(DISTINCT tok) AS vv
      |      FROM (SELECT unnest(toks) AS tok FROM t)),
      |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |        i -> toks[i] || ' ' || toks[i+1])) AS gram
      |      FROM t WHERE len(toks) >= 2),
      |c AS (SELECT doc_id, gram, string_split(gram, ' ')[1] AS ctx FROM g),
      |w AS (SELECT doc_id,
      |        count(*) OVER (PARTITION BY gram) AS c_bigram,
      |        count(*) OVER (PARTITION BY ctx) AS c_ctx FROM c)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  round(avg(log2((c_bigram + 1.0) /
      |    (c_ctx + 1.0 * (SELECT vv FROM v)))), 4) AS lm_score
      |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Domain-blocklist flag: identical URL extraction to q56 plus the same
    * parent-suffix expansion the Spark expression performs.
    */
  val q78: String = {
    val urlPat = graft.config.WwConfig.options.urlInferenceRegex
    val blocked = graft.Queries.q78Blocklist
      .map(d => s"'${d.toLowerCase}'").mkString("(", ",", ")")
    s"""WITH src AS (SELECT doc_id,
       |  substr(text, 1, 30) || ' see https://site' || CAST(doc_id % 7 AS VARCHAR) ||
       |  '.example.org/page/' || CAST(doc_id AS VARCHAR) ||
       |  CASE WHEN doc_id % 3 = 0 THEN ' and http://cdn.assets.net/x' ELSE '' END AS txt
       |  FROM documents WHERE doc_id < 200),
       |h AS (SELECT doc_id, list_transform(regexp_extract_all(txt, '$urlPat'),
       |        u -> regexp_replace(regexp_replace(
       |          lower(regexp_extract(u, '^https?://([^/]+)', 1)),
       |          '^[^@]*@', ''), ':[0-9]+$$', '')) AS hosts
       |      FROM src)
       |SELECT doc_id,
       |  len(list_filter(hosts, hh -> len(list_filter(
       |    list_transform(range(1, len(string_split(hh, '.')) + 1),
       |      i -> array_to_string(string_split(hh, '.')[i:], '.')),
       |    sfx -> sfx IN $blocked)) > 0)) > 0 AS blocked
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** Pinned q74 Bloom-decontamination hits (xxhash64 is not portable to the
    * oracle engine; the filter is deterministic — regenerate via
    * tools/oraclegen.py).
    */
  val q74Pinned: String =
    """SELECT * FROM (VALUES
      |(CAST(0 AS BIGINT),CAST(21 AS BIGINT)),
      |(CAST(10 AS BIGINT),CAST(21 AS BIGINT)),
      |(CAST(20 AS BIGINT),CAST(21 AS BIGINT)),
      |(CAST(30 AS BIGINT),CAST(20 AS BIGINT)),
      |(CAST(40 AS BIGINT),CAST(20 AS BIGINT)),
      |(CAST(50 AS BIGINT),CAST(22 AS BIGINT)),
      |(CAST(60 AS BIGINT),CAST(21 AS BIGINT)),
      |(CAST(70 AS BIGINT),CAST(24 AS BIGINT)),
      |(CAST(80 AS BIGINT),CAST(21 AS BIGINT)),
      |(CAST(90 AS BIGINT),CAST(13 AS BIGINT))
      |) AS t(doc_id, bloom_hits) ORDER BY doc_id""".stripMargin

  /** Pinned q103 PCA projection (regenerate via tools/oraclegen.py after
    * any Pca behavior change). Cross-checked this round against an
    * independent numpy/LAPACK eigh implementation: max |diff| after
    * 4-decimal rounding = 0.0 over all 100 rows x 4 components.
    */
  val q103Pinned: String =
    """SELECT * FROM (VALUES
      |(CAST(0 AS BIGINT),CAST(-0.0655 AS DOUBLE),CAST(-0.0934 AS DOUBLE),CAST(0.0274 AS DOUBLE),CAST(-0.0875 AS DOUBLE)),
      |(CAST(1 AS BIGINT),CAST(0.0791 AS DOUBLE),CAST(-0.1859 AS DOUBLE),CAST(0.0696 AS DOUBLE),CAST(0.0323 AS DOUBLE)),
      |(CAST(2 AS BIGINT),CAST(-0.2719 AS DOUBLE),CAST(0.0389 AS DOUBLE),CAST(-0.2027 AS DOUBLE),CAST(-0.0706 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(0.2989 AS DOUBLE),CAST(0.0939 AS DOUBLE),CAST(0.0947 AS DOUBLE),CAST(-0.1518 AS DOUBLE)),
      |(CAST(4 AS BIGINT),CAST(0.0581 AS DOUBLE),CAST(-0.0045 AS DOUBLE),CAST(0.003 AS DOUBLE),CAST(0.2178 AS DOUBLE)),
      |(CAST(5 AS BIGINT),CAST(0.2652 AS DOUBLE),CAST(-0.2261 AS DOUBLE),CAST(-0.142 AS DOUBLE),CAST(-0.0473 AS DOUBLE)),
      |(CAST(6 AS BIGINT),CAST(-0.0393 AS DOUBLE),CAST(0.1851 AS DOUBLE),CAST(-0.0048 AS DOUBLE),CAST(0.13 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(-0.1082 AS DOUBLE),CAST(-0.1897 AS DOUBLE),CAST(-0.1099 AS DOUBLE),CAST(0.3279 AS DOUBLE)),
      |(CAST(8 AS BIGINT),CAST(0.2145 AS DOUBLE),CAST(0.1735 AS DOUBLE),CAST(-0.0399 AS DOUBLE),CAST(-0.0505 AS DOUBLE)),
      |(CAST(9 AS BIGINT),CAST(-0.0985 AS DOUBLE),CAST(0.0557 AS DOUBLE),CAST(-0.2106 AS DOUBLE),CAST(0.0794 AS DOUBLE)),
      |(CAST(10 AS BIGINT),CAST(0.1659 AS DOUBLE),CAST(-0.1611 AS DOUBLE),CAST(0.0308 AS DOUBLE),CAST(-0.2294 AS DOUBLE)),
      |(CAST(11 AS BIGINT),CAST(0.0183 AS DOUBLE),CAST(0.0659 AS DOUBLE),CAST(0.091 AS DOUBLE),CAST(-0.1476 AS DOUBLE)),
      |(CAST(12 AS BIGINT),CAST(0.1777 AS DOUBLE),CAST(-0.0007 AS DOUBLE),CAST(-0.086 AS DOUBLE),CAST(-0.1577 AS DOUBLE)),
      |(CAST(13 AS BIGINT),CAST(0.0728 AS DOUBLE),CAST(0.1276 AS DOUBLE),CAST(-0.0388 AS DOUBLE),CAST(0.133 AS DOUBLE)),
      |(CAST(14 AS BIGINT),CAST(0.1431 AS DOUBLE),CAST(-0.0293 AS DOUBLE),CAST(-0.0668 AS DOUBLE),CAST(-0.0366 AS DOUBLE)),
      |(CAST(15 AS BIGINT),CAST(-0.1503 AS DOUBLE),CAST(-0.0773 AS DOUBLE),CAST(0.2322 AS DOUBLE),CAST(-0.1972 AS DOUBLE)),
      |(CAST(16 AS BIGINT),CAST(0.3994 AS DOUBLE),CAST(-0.0336 AS DOUBLE),CAST(0.1208 AS DOUBLE),CAST(-0.1403 AS DOUBLE)),
      |(CAST(17 AS BIGINT),CAST(-0.2837 AS DOUBLE),CAST(0.1262 AS DOUBLE),CAST(0.2874 AS DOUBLE),CAST(-0.1311 AS DOUBLE)),
      |(CAST(18 AS BIGINT),CAST(0.0799 AS DOUBLE),CAST(0.0598 AS DOUBLE),CAST(-0.2351 AS DOUBLE),CAST(-0.2361 AS DOUBLE)),
      |(CAST(19 AS BIGINT),CAST(-0.1559 AS DOUBLE),CAST(-0.3792 AS DOUBLE),CAST(-0.0751 AS DOUBLE),CAST(-0.0232 AS DOUBLE)),
      |(CAST(20 AS BIGINT),CAST(-0.3274 AS DOUBLE),CAST(0.1824 AS DOUBLE),CAST(0.2058 AS DOUBLE),CAST(0.037 AS DOUBLE)),
      |(CAST(21 AS BIGINT),CAST(-0.1313 AS DOUBLE),CAST(0.0561 AS DOUBLE),CAST(-0.0602 AS DOUBLE),CAST(-0.0437 AS DOUBLE)),
      |(CAST(22 AS BIGINT),CAST(-0.0652 AS DOUBLE),CAST(-0.1399 AS DOUBLE),CAST(-0.123 AS DOUBLE),CAST(-0.0747 AS DOUBLE)),
      |(CAST(23 AS BIGINT),CAST(-0.0094 AS DOUBLE),CAST(-0.2501 AS DOUBLE),CAST(0.1258 AS DOUBLE),CAST(0.0223 AS DOUBLE)),
      |(CAST(24 AS BIGINT),CAST(-0.127 AS DOUBLE),CAST(-0.0925 AS DOUBLE),CAST(-0.256 AS DOUBLE),CAST(-0.033 AS DOUBLE)),
      |(CAST(25 AS BIGINT),CAST(0.2093 AS DOUBLE),CAST(-0.0091 AS DOUBLE),CAST(-0.1939 AS DOUBLE),CAST(0.1608 AS DOUBLE)),
      |(CAST(26 AS BIGINT),CAST(0.0374 AS DOUBLE),CAST(-0.1511 AS DOUBLE),CAST(-0.0015 AS DOUBLE),CAST(0.3362 AS DOUBLE)),
      |(CAST(27 AS BIGINT),CAST(0.098 AS DOUBLE),CAST(-0.024 AS DOUBLE),CAST(-0.1368 AS DOUBLE),CAST(-0.1 AS DOUBLE)),
      |(CAST(28 AS BIGINT),CAST(-0.0589 AS DOUBLE),CAST(0.0773 AS DOUBLE),CAST(0.1306 AS DOUBLE),CAST(0.1508 AS DOUBLE)),
      |(CAST(29 AS BIGINT),CAST(-0.1273 AS DOUBLE),CAST(0.1098 AS DOUBLE),CAST(0.1069 AS DOUBLE),CAST(0.1549 AS DOUBLE)),
      |(CAST(30 AS BIGINT),CAST(0.1507 AS DOUBLE),CAST(0.1022 AS DOUBLE),CAST(0.1772 AS DOUBLE),CAST(0.0246 AS DOUBLE)),
      |(CAST(31 AS BIGINT),CAST(0.1846 AS DOUBLE),CAST(-0.1136 AS DOUBLE),CAST(0.0621 AS DOUBLE),CAST(-0.0043 AS DOUBLE)),
      |(CAST(32 AS BIGINT),CAST(-0.0321 AS DOUBLE),CAST(-0.0533 AS DOUBLE),CAST(0.1789 AS DOUBLE),CAST(-0.1557 AS DOUBLE)),
      |(CAST(33 AS BIGINT),CAST(0.0757 AS DOUBLE),CAST(-0.2767 AS DOUBLE),CAST(-0.1882 AS DOUBLE),CAST(-0.0602 AS DOUBLE)),
      |(CAST(34 AS BIGINT),CAST(-0.188 AS DOUBLE),CAST(-0.3174 AS DOUBLE),CAST(-0.1196 AS DOUBLE),CAST(-0.012 AS DOUBLE)),
      |(CAST(35 AS BIGINT),CAST(0.3714 AS DOUBLE),CAST(-0.0411 AS DOUBLE),CAST(0.1313 AS DOUBLE),CAST(-0.2003 AS DOUBLE)),
      |(CAST(36 AS BIGINT),CAST(-0.0222 AS DOUBLE),CAST(-0.1697 AS DOUBLE),CAST(0.0506 AS DOUBLE),CAST(-0.1228 AS DOUBLE)),
      |(CAST(37 AS BIGINT),CAST(0.133 AS DOUBLE),CAST(0.0643 AS DOUBLE),CAST(-0.0629 AS DOUBLE),CAST(-0.0141 AS DOUBLE)),
      |(CAST(38 AS BIGINT),CAST(-0.1132 AS DOUBLE),CAST(-0.0896 AS DOUBLE),CAST(-0.0895 AS DOUBLE),CAST(0.1575 AS DOUBLE)),
      |(CAST(39 AS BIGINT),CAST(0.1587 AS DOUBLE),CAST(-0.2502 AS DOUBLE),CAST(-0.0851 AS DOUBLE),CAST(-0.2072 AS DOUBLE)),
      |(CAST(40 AS BIGINT),CAST(0.0343 AS DOUBLE),CAST(0.1806 AS DOUBLE),CAST(0.1925 AS DOUBLE),CAST(0.0999 AS DOUBLE)),
      |(CAST(41 AS BIGINT),CAST(0.0164 AS DOUBLE),CAST(-0.2631 AS DOUBLE),CAST(0.1131 AS DOUBLE),CAST(-0.0146 AS DOUBLE)),
      |(CAST(42 AS BIGINT),CAST(-0.125 AS DOUBLE),CAST(0.0451 AS DOUBLE),CAST(-0.0925 AS DOUBLE),CAST(0.0376 AS DOUBLE)),
      |(CAST(43 AS BIGINT),CAST(0.1316 AS DOUBLE),CAST(0.0967 AS DOUBLE),CAST(-0.1526 AS DOUBLE),CAST(-0.1635 AS DOUBLE)),
      |(CAST(44 AS BIGINT),CAST(0.2378 AS DOUBLE),CAST(-0.1752 AS DOUBLE),CAST(-0.0078 AS DOUBLE),CAST(-0.1206 AS DOUBLE)),
      |(CAST(45 AS BIGINT),CAST(-0.1555 AS DOUBLE),CAST(-0.1844 AS DOUBLE),CAST(-0.1228 AS DOUBLE),CAST(0.2024 AS DOUBLE)),
      |(CAST(46 AS BIGINT),CAST(0.0663 AS DOUBLE),CAST(-0.2585 AS DOUBLE),CAST(0.1991 AS DOUBLE),CAST(-0.1351 AS DOUBLE)),
      |(CAST(47 AS BIGINT),CAST(0.1244 AS DOUBLE),CAST(0.1812 AS DOUBLE),CAST(0.1111 AS DOUBLE),CAST(0.0502 AS DOUBLE)),
      |(CAST(48 AS BIGINT),CAST(0.0356 AS DOUBLE),CAST(-0.3408 AS DOUBLE),CAST(-0.0548 AS DOUBLE),CAST(0.2389 AS DOUBLE)),
      |(CAST(49 AS BIGINT),CAST(-0.29 AS DOUBLE),CAST(-0.083 AS DOUBLE),CAST(-0.265 AS DOUBLE),CAST(0.1616 AS DOUBLE)),
      |(CAST(50 AS BIGINT),CAST(0.2611 AS DOUBLE),CAST(0.1449 AS DOUBLE),CAST(-0.0137 AS DOUBLE),CAST(-0.2564 AS DOUBLE)),
      |(CAST(51 AS BIGINT),CAST(0.1381 AS DOUBLE),CAST(-0.0717 AS DOUBLE),CAST(0.2113 AS DOUBLE),CAST(-0.0835 AS DOUBLE)),
      |(CAST(52 AS BIGINT),CAST(-0.0956 AS DOUBLE),CAST(-0.006 AS DOUBLE),CAST(0.059 AS DOUBLE),CAST(-0.1824 AS DOUBLE)),
      |(CAST(53 AS BIGINT),CAST(-0.1279 AS DOUBLE),CAST(0.4493 AS DOUBLE),CAST(-0.1188 AS DOUBLE),CAST(0.0384 AS DOUBLE)),
      |(CAST(54 AS BIGINT),CAST(-0.3746 AS DOUBLE),CAST(-0.1367 AS DOUBLE),CAST(-0.1913 AS DOUBLE),CAST(-0.1234 AS DOUBLE)),
      |(CAST(55 AS BIGINT),CAST(-0.2818 AS DOUBLE),CAST(0.0199 AS DOUBLE),CAST(0.0339 AS DOUBLE),CAST(0.2298 AS DOUBLE)),
      |(CAST(56 AS BIGINT),CAST(0.0747 AS DOUBLE),CAST(-0.0251 AS DOUBLE),CAST(0.0508 AS DOUBLE),CAST(0.1777 AS DOUBLE)),
      |(CAST(57 AS BIGINT),CAST(0.1542 AS DOUBLE),CAST(-0.1015 AS DOUBLE),CAST(0.0891 AS DOUBLE),CAST(0.2292 AS DOUBLE)),
      |(CAST(58 AS BIGINT),CAST(0.2032 AS DOUBLE),CAST(-0.0453 AS DOUBLE),CAST(0.0348 AS DOUBLE),CAST(-0.0632 AS DOUBLE)),
      |(CAST(59 AS BIGINT),CAST(-0.0852 AS DOUBLE),CAST(-0.0704 AS DOUBLE),CAST(0.2086 AS DOUBLE),CAST(0.0062 AS DOUBLE)),
      |(CAST(60 AS BIGINT),CAST(-0.189 AS DOUBLE),CAST(-0.1162 AS DOUBLE),CAST(-0.3303 AS DOUBLE),CAST(0.1429 AS DOUBLE)),
      |(CAST(61 AS BIGINT),CAST(0.2303 AS DOUBLE),CAST(0.1106 AS DOUBLE),CAST(0.1253 AS DOUBLE),CAST(0.0795 AS DOUBLE)),
      |(CAST(62 AS BIGINT),CAST(-0.2472 AS DOUBLE),CAST(0.0033 AS DOUBLE),CAST(-0.0226 AS DOUBLE),CAST(0.105 AS DOUBLE)),
      |(CAST(63 AS BIGINT),CAST(0.1783 AS DOUBLE),CAST(-0.0267 AS DOUBLE),CAST(-0.077 AS DOUBLE),CAST(-0.0977 AS DOUBLE)),
      |(CAST(64 AS BIGINT),CAST(-0.0759 AS DOUBLE),CAST(-0.0818 AS DOUBLE),CAST(-0.048 AS DOUBLE),CAST(0.0118 AS DOUBLE)),
      |(CAST(65 AS BIGINT),CAST(-0.0658 AS DOUBLE),CAST(-0.3051 AS DOUBLE),CAST(-0.0669 AS DOUBLE),CAST(-0.0898 AS DOUBLE)),
      |(CAST(66 AS BIGINT),CAST(-0.1987 AS DOUBLE),CAST(0.165 AS DOUBLE),CAST(0.2427 AS DOUBLE),CAST(-0.0744 AS DOUBLE)),
      |(CAST(67 AS BIGINT),CAST(-0.1859 AS DOUBLE),CAST(-0.1203 AS DOUBLE),CAST(0.0976 AS DOUBLE),CAST(0.0283 AS DOUBLE)),
      |(CAST(68 AS BIGINT),CAST(-0.2072 AS DOUBLE),CAST(-0.1726 AS DOUBLE),CAST(-0.1092 AS DOUBLE),CAST(-0.1336 AS DOUBLE)),
      |(CAST(69 AS BIGINT),CAST(-0.0921 AS DOUBLE),CAST(0.0396 AS DOUBLE),CAST(-0.2837 AS DOUBLE),CAST(-0.5787 AS DOUBLE)),
      |(CAST(70 AS BIGINT),CAST(-0.1646 AS DOUBLE),CAST(0.1907 AS DOUBLE),CAST(0.3991 AS DOUBLE),CAST(-0.1582 AS DOUBLE)),
      |(CAST(71 AS BIGINT),CAST(-0.1221 AS DOUBLE),CAST(-0.0046 AS DOUBLE),CAST(-0.1282 AS DOUBLE),CAST(0.0395 AS DOUBLE)),
      |(CAST(72 AS BIGINT),CAST(-0.0888 AS DOUBLE),CAST(0.0955 AS DOUBLE),CAST(0.3578 AS DOUBLE),CAST(0.0134 AS DOUBLE)),
      |(CAST(73 AS BIGINT),CAST(0.0494 AS DOUBLE),CAST(0.1749 AS DOUBLE),CAST(-0.1569 AS DOUBLE),CAST(-0.21 AS DOUBLE)),
      |(CAST(74 AS BIGINT),CAST(0.0783 AS DOUBLE),CAST(0.2074 AS DOUBLE),CAST(0.1056 AS DOUBLE),CAST(0.0173 AS DOUBLE)),
      |(CAST(75 AS BIGINT),CAST(-0.0298 AS DOUBLE),CAST(0.1337 AS DOUBLE),CAST(-0.4623 AS DOUBLE),CAST(0.0948 AS DOUBLE)),
      |(CAST(76 AS BIGINT),CAST(-0.0425 AS DOUBLE),CAST(0.0699 AS DOUBLE),CAST(0.0836 AS DOUBLE),CAST(0.0029 AS DOUBLE)),
      |(CAST(77 AS BIGINT),CAST(-0.2383 AS DOUBLE),CAST(-0.1012 AS DOUBLE),CAST(0.3301 AS DOUBLE),CAST(-0.2132 AS DOUBLE)),
      |(CAST(78 AS BIGINT),CAST(-0.0778 AS DOUBLE),CAST(-0.1315 AS DOUBLE),CAST(-0.2651 AS DOUBLE),CAST(-0.0491 AS DOUBLE)),
      |(CAST(79 AS BIGINT),CAST(0.06 AS DOUBLE),CAST(0.1717 AS DOUBLE),CAST(0.3321 AS DOUBLE),CAST(-0.1592 AS DOUBLE)),
      |(CAST(80 AS BIGINT),CAST(0.1845 AS DOUBLE),CAST(-0.2383 AS DOUBLE),CAST(0.0052 AS DOUBLE),CAST(-0.0269 AS DOUBLE)),
      |(CAST(81 AS BIGINT),CAST(-0.1118 AS DOUBLE),CAST(0.2416 AS DOUBLE),CAST(-0.0951 AS DOUBLE),CAST(0.0423 AS DOUBLE)),
      |(CAST(82 AS BIGINT),CAST(-0.2135 AS DOUBLE),CAST(0.5137 AS DOUBLE),CAST(0.0029 AS DOUBLE),CAST(-0.2307 AS DOUBLE)),
      |(CAST(83 AS BIGINT),CAST(0.0017 AS DOUBLE),CAST(0.216 AS DOUBLE),CAST(0.278 AS DOUBLE),CAST(-0.1297 AS DOUBLE)),
      |(CAST(84 AS BIGINT),CAST(-0.1101 AS DOUBLE),CAST(-0.1785 AS DOUBLE),CAST(0.1721 AS DOUBLE),CAST(0.2109 AS DOUBLE)),
      |(CAST(85 AS BIGINT),CAST(0.0246 AS DOUBLE),CAST(0.1689 AS DOUBLE),CAST(-0.2654 AS DOUBLE),CAST(-0.081 AS DOUBLE)),
      |(CAST(86 AS BIGINT),CAST(0.0189 AS DOUBLE),CAST(-0.1634 AS DOUBLE),CAST(-0.1668 AS DOUBLE),CAST(0.0133 AS DOUBLE)),
      |(CAST(87 AS BIGINT),CAST(-0.2011 AS DOUBLE),CAST(-0.2162 AS DOUBLE),CAST(-0.224 AS DOUBLE),CAST(0.1207 AS DOUBLE)),
      |(CAST(88 AS BIGINT),CAST(0.3256 AS DOUBLE),CAST(0.1648 AS DOUBLE),CAST(-0.0619 AS DOUBLE),CAST(0.1421 AS DOUBLE)),
      |(CAST(89 AS BIGINT),CAST(0.0746 AS DOUBLE),CAST(0.0478 AS DOUBLE),CAST(-0.3386 AS DOUBLE),CAST(0.0043 AS DOUBLE)),
      |(CAST(90 AS BIGINT),CAST(-0.1045 AS DOUBLE),CAST(0.2432 AS DOUBLE),CAST(-0.0013 AS DOUBLE),CAST(0.3459 AS DOUBLE)),
      |(CAST(91 AS BIGINT),CAST(-0.0341 AS DOUBLE),CAST(0.149 AS DOUBLE),CAST(0.0867 AS DOUBLE),CAST(-0.025 AS DOUBLE)),
      |(CAST(92 AS BIGINT),CAST(0.2181 AS DOUBLE),CAST(-0.0166 AS DOUBLE),CAST(-0.2634 AS DOUBLE),CAST(0.082 AS DOUBLE)),
      |(CAST(93 AS BIGINT),CAST(0.0966 AS DOUBLE),CAST(0.0569 AS DOUBLE),CAST(0.107 AS DOUBLE),CAST(0.171 AS DOUBLE)),
      |(CAST(94 AS BIGINT),CAST(-0.3005 AS DOUBLE),CAST(0.0562 AS DOUBLE),CAST(-0.0258 AS DOUBLE),CAST(-0.0006 AS DOUBLE)),
      |(CAST(95 AS BIGINT),CAST(-0.2677 AS DOUBLE),CAST(-0.2722 AS DOUBLE),CAST(-0.0047 AS DOUBLE),CAST(-0.0295 AS DOUBLE)),
      |(CAST(96 AS BIGINT),CAST(0.0512 AS DOUBLE),CAST(0.0664 AS DOUBLE),CAST(0.0854 AS DOUBLE),CAST(0.1121 AS DOUBLE)),
      |(CAST(97 AS BIGINT),CAST(-0.3006 AS DOUBLE),CAST(0.0792 AS DOUBLE),CAST(-0.1731 AS DOUBLE),CAST(-0.1834 AS DOUBLE)),
      |(CAST(98 AS BIGINT),CAST(-0.1581 AS DOUBLE),CAST(0.1727 AS DOUBLE),CAST(-0.1578 AS DOUBLE),CAST(-0.1769 AS DOUBLE)),
      |(CAST(99 AS BIGINT),CAST(0.012 AS DOUBLE),CAST(0.071 AS DOUBLE),CAST(0.0544 AS DOUBLE),CAST(0.0576 AS DOUBLE))
      |) AS t(vec_id, pc1, pc2, pc3, pc4) ORDER BY vec_id""".stripMargin

  /** Pinned q104 OPQ-vs-PQ reconstruction error (regenerate via
    * tools/oraclegen.py after any Quantize/Pca behavior change). The
    * invariant the numbers certify: opq avg_mean_err < pq avg_mean_err at
    * identical (m=8, k=16) budgets.
    */
  val q104Pinned: String =
    """SELECT * FROM (VALUES
      |('opq',CAST(0.071401 AS DOUBLE),CAST(0.237263 AS DOUBLE)),
      |('pq',CAST(0.073432 AS DOUBLE),CAST(0.241798 AS DOUBLE))
      |) AS t(method, avg_mean_err, avg_max_err) ORDER BY method""".stripMargin

  /** Pinned q105 IVF-PQ-under-OPQ-rotation hits (regenerate via
    * tools/oraclegen.py after any Quantize/Pca/Similarity change). The
    * uncentered rotation preserves cosine exactly, so these scores are in
    * the original space's units and comparable with q64's.
    */
  val q105Pinned: String =
    """SELECT * FROM (VALUES
      |(CAST(0 AS BIGINT),CAST(73 AS BIGINT),CAST(0.3007 AS DOUBLE)),
      |(CAST(0 AS BIGINT),CAST(143 AS BIGINT),CAST(0.3861 AS DOUBLE)),
      |(CAST(0 AS BIGINT),CAST(190 AS BIGINT),CAST(0.3199 AS DOUBLE)),
      |(CAST(0 AS BIGINT),CAST(261 AS BIGINT),CAST(0.3456 AS DOUBLE)),
      |(CAST(0 AS BIGINT),CAST(334 AS BIGINT),CAST(0.3083 AS DOUBLE)),
      |(CAST(0 AS BIGINT),CAST(344 AS BIGINT),CAST(0.3377 AS DOUBLE)),
      |(CAST(1 AS BIGINT),CAST(27 AS BIGINT),CAST(0.359 AS DOUBLE)),
      |(CAST(1 AS BIGINT),CAST(261 AS BIGINT),CAST(0.446 AS DOUBLE)),
      |(CAST(1 AS BIGINT),CAST(386 AS BIGINT),CAST(0.3325 AS DOUBLE)),
      |(CAST(2 AS BIGINT),CAST(266 AS BIGINT),CAST(0.4102 AS DOUBLE)),
      |(CAST(2 AS BIGINT),CAST(351 AS BIGINT),CAST(0.3079 AS DOUBLE)),
      |(CAST(2 AS BIGINT),CAST(418 AS BIGINT),CAST(0.3421 AS DOUBLE)),
      |(CAST(2 AS BIGINT),CAST(474 AS BIGINT),CAST(0.3097 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(126 AS BIGINT),CAST(0.3526 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(201 AS BIGINT),CAST(0.3258 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(231 AS BIGINT),CAST(0.302 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(341 AS BIGINT),CAST(0.3089 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(343 AS BIGINT),CAST(0.3317 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(396 AS BIGINT),CAST(0.3287 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(441 AS BIGINT),CAST(0.3244 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(463 AS BIGINT),CAST(0.3208 AS DOUBLE)),
      |(CAST(4 AS BIGINT),CAST(110 AS BIGINT),CAST(0.3059 AS DOUBLE)),
      |(CAST(4 AS BIGINT),CAST(114 AS BIGINT),CAST(0.3609 AS DOUBLE)),
      |(CAST(4 AS BIGINT),CAST(408 AS BIGINT),CAST(0.3426 AS DOUBLE)),
      |(CAST(5 AS BIGINT),CAST(382 AS BIGINT),CAST(0.3107 AS DOUBLE)),
      |(CAST(5 AS BIGINT),CAST(419 AS BIGINT),CAST(0.306 AS DOUBLE)),
      |(CAST(6 AS BIGINT),CAST(395 AS BIGINT),CAST(0.3404 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(108 AS BIGINT),CAST(0.3694 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(153 AS BIGINT),CAST(0.3886 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(213 AS BIGINT),CAST(0.3293 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(269 AS BIGINT),CAST(0.334 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(292 AS BIGINT),CAST(0.3174 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(299 AS BIGINT),CAST(0.3438 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(332 AS BIGINT),CAST(0.3289 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(334 AS BIGINT),CAST(0.3383 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(339 AS BIGINT),CAST(0.3635 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(340 AS BIGINT),CAST(0.3099 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(374 AS BIGINT),CAST(0.3241 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(445 AS BIGINT),CAST(0.3375 AS DOUBLE)),
      |(CAST(8 AS BIGINT),CAST(138 AS BIGINT),CAST(0.3067 AS DOUBLE)),
      |(CAST(8 AS BIGINT),CAST(405 AS BIGINT),CAST(0.314 AS DOUBLE)),
      |(CAST(8 AS BIGINT),CAST(447 AS BIGINT),CAST(0.3416 AS DOUBLE)),
      |(CAST(8 AS BIGINT),CAST(456 AS BIGINT),CAST(0.302 AS DOUBLE)),
      |(CAST(9 AS BIGINT),CAST(36 AS BIGINT),CAST(0.3152 AS DOUBLE)),
      |(CAST(9 AS BIGINT),CAST(49 AS BIGINT),CAST(0.3823 AS DOUBLE)),
      |(CAST(9 AS BIGINT),CAST(205 AS BIGINT),CAST(0.3611 AS DOUBLE))
      |) AS t(query_id, candidate_id, cosine) ORDER BY query_id, candidate_id""".stripMargin

  /** Pinned q75 distributed k-means summary (seeded init; regenerate via
    * tools/oraclegen.py).
    */
  val q75Pinned: String =
    """SELECT * FROM (VALUES
      |(CAST(0 AS BIGINT),CAST(57 AS BIGINT),CAST(52.9189 AS DOUBLE)),
      |(CAST(1 AS BIGINT),CAST(54 AS BIGINT),CAST(49.6945 AS DOUBLE)),
      |(CAST(2 AS BIGINT),CAST(69 AS BIGINT),CAST(63.9834 AS DOUBLE)),
      |(CAST(3 AS BIGINT),CAST(48 AS BIGINT),CAST(44.126 AS DOUBLE)),
      |(CAST(4 AS BIGINT),CAST(66 AS BIGINT),CAST(60.7601 AS DOUBLE)),
      |(CAST(5 AS BIGINT),CAST(66 AS BIGINT),CAST(61.784 AS DOUBLE)),
      |(CAST(6 AS BIGINT),CAST(64 AS BIGINT),CAST(60.0355 AS DOUBLE)),
      |(CAST(7 AS BIGINT),CAST(76 AS BIGINT),CAST(70.5931 AS DOUBLE))
      |) AS t(cluster, n, inertia) ORDER BY cluster""".stripMargin

  /** Pinned q76 SemDeDup summary (seeded k-means + LSH-free within-cluster
    * pairs; regenerate via tools/oraclegen.py).
    */
  val q76Pinned: String =
    """SELECT * FROM (VALUES
      |(CAST(0 AS BIGINT),CAST(57 AS BIGINT),CAST(1 AS BIGINT)),
      |(CAST(1 AS BIGINT),CAST(54 AS BIGINT),CAST(3 AS BIGINT)),
      |(CAST(2 AS BIGINT),CAST(69 AS BIGINT),CAST(7 AS BIGINT)),
      |(CAST(3 AS BIGINT),CAST(48 AS BIGINT),CAST(3 AS BIGINT)),
      |(CAST(4 AS BIGINT),CAST(66 AS BIGINT),CAST(4 AS BIGINT)),
      |(CAST(5 AS BIGINT),CAST(66 AS BIGINT),CAST(1 AS BIGINT)),
      |(CAST(6 AS BIGINT),CAST(64 AS BIGINT),CAST(1 AS BIGINT)),
      |(CAST(7 AS BIGINT),CAST(76 AS BIGINT),CAST(4 AS BIGINT))
      |) AS t(cluster, n, n_dropped) ORDER BY cluster""".stripMargin

  /** q79: exact-substring repeated spans — identical gram table (k = 5 word
    * grams on md5 identity), duplicated set (count >= 2), and
    * gaps-and-islands span merge, in DuckDB SQL.
    */
  val q79: String = {
    val k = 5
    val passage = Queries.q79SharedPassage
    s"""WITH src AS (SELECT doc_id, concat_ws(' ', substr(text, 1, 60),
       |  CASE WHEN doc_id % 3 = 0 THEN '$passage'
       |       ELSE 'unique filler segment number ' || CAST(doc_id AS VARCHAR) END,
       |  'closing words common to all') AS txt
       |  FROM documents WHERE doc_id < 150),
       |t AS (SELECT doc_id, regexp_extract_all(lower(txt), '\\S+') AS toks FROM src),
       |g AS (SELECT doc_id,
       |  unnest(range(1, len(toks) - $k + 2)) AS pos,
       |  unnest(list_transform(range(1, len(toks) - $k + 2),
       |    i -> md5(array_to_string(list_slice(toks, i, i + $k - 1), ' ')))) AS g
       |  FROM t WHERE len(toks) >= $k),
       |d AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
       |h AS (SELECT doc_id, pos FROM g WHERE g IN (SELECT g FROM d)),
       |i AS (SELECT doc_id, pos,
       |  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |         OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $k
       |       THEN 1 ELSE 0 END AS ns FROM h),
       |s AS (SELECT doc_id, pos,
       |  sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span FROM i),
       |sp AS (SELECT doc_id, span, min(pos) AS s, max(pos) + $k - 1 AS e
       |       FROM s GROUP BY 1, 2),
       |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_spans,
       |       CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens FROM sp GROUP BY 1)
       |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  coalesce(dup_spans, 0) AS dup_spans,
       |  coalesce(dup_tokens, 0) AS dup_tokens,
       |  CASE WHEN len(toks) > 0 THEN
       |    round(CAST(coalesce(dup_tokens, 0) AS DOUBLE) /
       |          CAST(len(toks) AS DOUBLE), 4) ELSE 0.0 END AS dup_ratio
       |FROM t LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** q80: multinomial Naive Bayes — identical token counts, add-one
    * smoothing, fixed-point micro-nat weights (exact BIGINT sums), and
    * argmax with ascending-label tie-break, in DuckDB SQL.
    */
  val q80: String =
    """WITH train AS (SELECT lang, text FROM documents WHERE doc_id < 350),
      |tok AS (SELECT lang AS label,
      |        unnest(regexp_extract_all(lower(text), '\S+')) AS tok FROM train),
      |counts AS (SELECT label, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
      |vocab AS (SELECT count(DISTINCT tok) AS v FROM counts),
      |tot AS (SELECT count(*) AS n FROM train),
      |ct AS (SELECT label, sum(cnt) AS class_tokens FROM counts GROUP BY 1),
      |dc AS (SELECT lang AS label, count(*) AS n_docs FROM train GROUP BY 1),
      |classes AS (SELECT ct.label,
      |  CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS prior,
      |  CAST(round(ln(1.0 / CAST(class_tokens + v AS DOUBLE)) * 1000000) AS BIGINT) AS default_w
      |  FROM ct JOIN dc USING (label) CROSS JOIN vocab CROSS JOIN tot),
      |weights AS (SELECT counts.label, tok,
      |  CAST(round(ln(CAST(cnt + 1 AS DOUBLE) / CAST(class_tokens + v AS DOUBLE)) * 1000000) AS BIGINT) AS w
      |  FROM counts JOIN ct USING (label) CROSS JOIN vocab),
      |test AS (SELECT doc_id, text FROM documents WHERE doc_id >= 350),
      |dtok AS (SELECT doc_id AS id,
      |         unnest(regexp_extract_all(lower(text), '\S+')) AS tok FROM test),
      |pc AS (SELECT id, c.label, CAST(sum(coalesce(w.w, c.default_w)) AS BIGINT) AS ll
      |       FROM dtok CROSS JOIN classes c
      |       LEFT JOIN weights w ON w.label = c.label AND w.tok = dtok.tok
      |       GROUP BY 1, 2),
      |base AS (SELECT doc_id AS id, label, prior FROM test CROSS JOIN classes),
      |scored AS (SELECT id, label, prior + coalesce(ll, 0) AS score
      |           FROM base LEFT JOIN pc USING (id, label))
      |SELECT id AS doc_id, label AS pred, CAST(score AS BIGINT) AS score
      |FROM (SELECT *, row_number() OVER
      |        (PARTITION BY id ORDER BY score DESC, label ASC) AS rn
      |      FROM scored) WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** q81: identical URL fixture and the same canonicalization regex chain
    * (fragment, lowercase scheme/host, default port, utm params, dangling
    * separators, trailing slash) in DuckDB RE2.
    */
  val q81: String =
    """WITH src AS (SELECT 'HTTPS://Site' || CAST(doc_id % 5 AS VARCHAR) ||
      |  '.Example.ORG' || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END ||
      |  '/Page/' || CAST(doc_id % 20 AS VARCHAR) ||
      |  CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
      |  '?utm_source=feed' ||
      |  CASE WHEN doc_id % 3 = 0 THEN '&ref=' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END ||
      |  '&utm_campaign=x' ||
      |  CASE WHEN doc_id % 6 = 0 THEN '#section' ELSE '' END AS url
      |  FROM documents WHERE doc_id < 240),
      |n1 AS (SELECT url, regexp_replace(url, '#.*$', '') AS nofrag FROM src),
      |n2 AS (SELECT url,
      |  lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |  lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host,
      |  regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
      |  FROM n1),
      |n3 AS (SELECT url, scheme,
      |  CASE WHEN scheme = 'http' THEN regexp_replace(host, ':80$', '')
      |       WHEN scheme = 'https' THEN regexp_replace(host, ':443$', '')
      |       ELSE host END AS host2,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(rest,
      |    '&utm_[A-Za-z0-9_]*=[^&#]*', '', 'g'),
      |    '\?utm_[A-Za-z0-9_]*=[^&#]*&', '?'),
      |    '\?utm_[A-Za-z0-9_]*=[^&#]*$', ''),
      |    '[?&]$', ''), '/$', '') AS rest2 FROM n2)
      |SELECT scheme || '://' || host2 || rest2 AS canonical,
      |  CAST(count(*) AS BIGINT) AS n_urls,
      |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants
      |FROM n3 GROUP BY 1 ORDER BY 1""".stripMargin

  /** q82: per-source datacard — same projections (token count, fixed-point
    * quality, fingerprint, language-ID) via the shared SQL generators.
    */
  val q82: String = {
    import graft.ops.TextAnalysis.{Sql => T}
    s"""WITH d AS (SELECT source,
       |  ${T.tokenCount("text")} AS toks,
       |  CAST(round(${T.qualityScore("text")} * 10000) AS BIGINT) AS q4,
       |  ${T.fingerprint("text")} AS fp,
       |  ${T.langId("text")} AS lang FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS total_tokens,
       |  round(CAST(sum(toks) AS DOUBLE) / CAST(count(*) AS DOUBLE), 2) AS avg_tokens,
       |  round(CAST(sum(q4) AS DOUBLE) / CAST(count(*) * 10000 AS DOUBLE), 4) AS avg_quality,
       |  CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS exact_dup_docs,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
       |FROM d GROUP BY source ORDER BY source""".stripMargin
  }

  /** q83: TF-IDF — same tf counts, smooth idf in fixed-point micro-units,
    * exact integer tf × idf products, row_number top-3 with term tie-break.
    */
  val q83: String =
    """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 120),
      |tok AS (SELECT doc_id AS id,
      |        unnest(regexp_extract_all(lower(text), '\S+')) AS term FROM docs),
      |tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      |dfq AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
      |tot AS (SELECT count(*) AS n FROM docs),
      |s AS (SELECT id, term, tf,
      |  tf * CAST(round((ln(CAST(n + 1 AS DOUBLE) / CAST(dft + 1 AS DOUBLE)) + 1.0)
      |       * 1000000) AS BIGINT) AS score
      |  FROM tf JOIN dfq USING (term) CROSS JOIN tot),
      |r AS (SELECT *, row_number() OVER
      |        (PARTITION BY id ORDER BY score DESC, term ASC) AS rank FROM s)
      |SELECT id AS doc_id, term, tf, CAST(score AS BIGINT) AS score,
      |  CAST(rank AS BIGINT) AS rank
      |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** q84: cross-set LSH decontamination — same literal hyperplanes and
    * bucket arithmetic as [[lshSql]], corpus × bench split on vec_id.
    */
  val q84: String = {
    val numPlanes = 4; val threshold = 0.3
    val planes = graft.ops.Similarity.hyperplanes(64, numPlanes, 42L)
    val bucket = (0 until numPlanes).map { p =>
      val arr = planes(p).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |b AS (SELECT vec_id, v, $bucket AS bucket FROM e),
       |c AS (SELECT * FROM b WHERE vec_id >= 50),
       |q AS (SELECT * FROM b WHERE vec_id < 50)
       |SELECT c.vec_id AS corpus_id, q.vec_id AS bench_id,
       |  round(list_dot_product(c.v, q.v) /
       |        (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.v, q.v))), 4) AS cosine
       |FROM c JOIN q ON c.bucket = q.bucket
       |WHERE round(list_dot_product(c.v, q.v) /
       |        (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.v, q.v))), 4) >= $threshold
       |ORDER BY corpus_id, bench_id""".stripMargin
  }

  /** q85: curriculum binning — global (score, id) rank and ⌊rank·bins/n⌋,
    * quality score via the shared SQL generator.
    */
  val q85: String = {
    import graft.ops.TextAnalysis.{Sql => T}
    s"""WITH s AS (SELECT doc_id AS id, ${T.qualityScore("text")} AS score
       |           FROM documents WHERE doc_id < 200),
       |r AS (SELECT id, score,
       |      CAST(row_number() OVER (ORDER BY score, id) - 1 AS BIGINT) AS rank
       |      FROM s),
       |n AS (SELECT count(*) AS n FROM s)
       |SELECT id AS doc_id, score, rank,
       |  CAST(floor(rank * 4 / CAST(n AS DOUBLE)) AS BIGINT) AS bin
       |FROM r CROSS JOIN n ORDER BY doc_id""".stripMargin
  }

  /** q86: WAV header decode — expected values recomputed from the fixture's
    * construction arithmetic (the q47 pattern); duration is integer
    * truncation n·1000 ÷ rate on both sides.
    */
  val q86: String =
    """SELECT doc_id, 'audio/wav' AS mime,
      |  CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
      |  CAST((doc_id % 3 + 1) * 8000 AS INTEGER) AS sample_rate,
      |  CAST((doc_id % 50 + 100) * 1000 // ((doc_id % 3 + 1) * 8000) AS BIGINT) AS duration_ms
      |FROM documents WHERE doc_id < 80 ORDER BY doc_id""".stripMargin

  /** q87: perplexity partition — the q77 LM-score CTEs feeding the q85
    * rank/bin formula with tercile labels.
    */
  val q87: String =
    """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |           FROM documents WHERE doc_id < 200),
      |v AS (SELECT count(DISTINCT tok) AS vv
      |      FROM (SELECT unnest(toks) AS tok FROM t)),
      |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |        i -> toks[i] || ' ' || toks[i+1])) AS gram
      |      FROM t WHERE len(toks) >= 2),
      |c AS (SELECT doc_id, gram, string_split(gram, ' ')[1] AS ctx FROM g),
      |w AS (SELECT doc_id,
      |        count(*) OVER (PARTITION BY gram) AS c_bigram,
      |        count(*) OVER (PARTITION BY ctx) AS c_ctx FROM c),
      |s AS (SELECT doc_id,
      |        round(avg(log2((c_bigram + 1.0) /
      |          (c_ctx + 1.0 * (SELECT vv FROM v)))), 4) AS lm_score
      |      FROM w GROUP BY doc_id),
      |r AS (SELECT doc_id, lm_score,
      |      CAST(row_number() OVER (ORDER BY lm_score, doc_id) - 1 AS BIGINT) AS rank
      |      FROM s),
      |n AS (SELECT count(*) AS n FROM s)
      |SELECT doc_id, lm_score, rank,
      |  (['tail', 'middle', 'head'])[CAST(floor(rank * 3 / CAST(n AS DOUBLE)) AS INTEGER) + 1] AS bucket
      |FROM r CROSS JOIN n ORDER BY doc_id""".stripMargin

  /** q88: exact-N hash sample — identical md5 hash, hash-then-id order,
    * LIMIT n.
    */
  val q88: String = {
    val h = graft.ops.Sampling.Sql.hash01("doc_id", "r4")
    s"""SELECT doc_id, source FROM (
       |  SELECT doc_id, source FROM documents
       |  ORDER BY $h, doc_id LIMIT 40)
       |ORDER BY doc_id""".stripMargin
  }

  /** q89: per-source token budget — same hash order, windowed cumulative
    * sum, keep-first-row guard.
    */
  val q89: String = {
    val h = graft.ops.Sampling.Sql.hash01("doc_id", "")
    val tc = graft.ops.TextAnalysis.Sql.tokenCount("text")
    s"""WITH d AS (SELECT doc_id, source, $tc AS n_tokens FROM documents),
       |c AS (SELECT doc_id, source, n_tokens,
       |  CAST(sum(n_tokens) OVER (PARTITION BY source
       |    ORDER BY $h, doc_id) AS BIGINT) AS cum_tokens,
       |  row_number() OVER (PARTITION BY source
       |    ORDER BY $h, doc_id) AS rn
       |  FROM d)
       |SELECT doc_id, source, n_tokens, cum_tokens FROM c
       |WHERE cum_tokens <= 2000 OR rn = 1
       |ORDER BY source, doc_id""".stripMargin
  }

  /** q90: incremental dedup — same fingerprint (md5 of whitespace-normed
    * lowercase), within-batch first-wins window, anti join vs the seen set.
    */
  val q90: String =
    """WITH seen AS (SELECT DISTINCT
      |  md5(trim(regexp_replace(lower('doc body ' || CAST(doc_id % 100 AS VARCHAR)), '\s+', ' ', 'g'))) AS fingerprint
      |  FROM documents WHERE doc_id < 250),
      |b AS (SELECT doc_id,
      |  md5(trim(regexp_replace(lower('doc body ' || CAST(doc_id % 230 AS VARCHAR)), '\s+', ' ', 'g'))) AS fingerprint
      |  FROM documents WHERE doc_id >= 250),
      |f AS (SELECT doc_id, fingerprint,
      |  row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn FROM b)
      |SELECT doc_id, fingerprint FROM f
      |WHERE rn = 1 AND fingerprint NOT IN (SELECT fingerprint FROM seen)
      |ORDER BY doc_id""".stripMargin

  /** q91: the full curation funnel replayed in DuckDB — shared-constant
    * Gopher rules, the identical redaction chain, fingerprint first-wins
    * dedup, and the three per-source aggregates.
    */
  val q91: String = {
    val pats = graft.ops.TextAnalysis.piiPatterns.toMap
    val chain = graft.ops.TextAnalysis.PiiPlaceholders.foldLeft("txt") {
      case (acc, (nm, ph)) => s"regexp_replace($acc, '${pats(nm)}', '$ph', 'g')"
    }
    val T = graft.ops.TextAnalysis.Sql
    val gop = T.gopherRules("src", "doc_id", "txt", 50L, 100000L)
    s"""WITH src AS (SELECT doc_id, source,
       |  CASE WHEN doc_id % 10 = 0 THEN 'short doc'
       |       WHEN doc_id % 7 = 3 THEN '${graft.Queries.q91Passage}'
       |       ELSE substr(text, 1, 400) || ' contact user' ||
       |            CAST(doc_id % 40 AS VARCHAR) ||
       |            '@example.com and share the rest of that report with them' END AS txt
       |  FROM documents),
       |gop AS ($gop),
       |keptg AS (SELECT s.doc_id, s.source, s.txt FROM src s
       |          JOIN gop ON gop.id = s.doc_id WHERE gop.pass),
       |red AS (SELECT doc_id, source, $chain AS clean_text FROM keptg),
       |f1 AS (SELECT doc_id, source, clean_text,
       |       md5(trim(regexp_replace(lower(clean_text), '\\s+', ' ', 'g'))) AS fingerprint
       |       FROM red),
       |f2 AS (SELECT *, row_number() OVER
       |         (PARTITION BY fingerprint ORDER BY doc_id) AS rn FROM f1),
       |ded AS (SELECT doc_id, source, clean_text FROM f2 WHERE rn = 1),
       |inn AS (SELECT source, CAST(count(*) AS BIGINT) AS docs_in
       |        FROM src GROUP BY 1),
       |gp AS (SELECT source, CAST(count(*) AS BIGINT) AS gate_pass
       |       FROM keptg GROUP BY 1),
       |kp AS (SELECT source, CAST(count(*) AS BIGINT) AS kept,
       |       CAST(sum(${T.tokenCount("clean_text")}) AS BIGINT) AS total_tokens,
       |       round(CAST(sum(CAST(round(${T.qualityScore("clean_text")} * 10000) AS BIGINT)) AS DOUBLE) /
       |             CAST(count(*) * 10000 AS DOUBLE), 4) AS avg_quality
       |       FROM ded GROUP BY 1)
       |SELECT inn.source, docs_in,
       |  coalesce(gate_pass, 0) AS gate_pass, coalesce(kept, 0) AS kept,
       |  coalesce(total_tokens, 0) AS total_tokens, avg_quality
       |FROM inn LEFT JOIN gp ON inn.source = gp.source
       |LEFT JOIN kp ON inn.source = kp.source
       |ORDER BY inn.source""".stripMargin
  }

  /** Pinned q92 BPE merge table (deterministic train: count-desc,
    * pair-lexicographic tie-break; regenerate via tools/oraclegen.py
    * after any tokenizer-affecting change).
    */
  val q92Pinned: String =
    """SELECT * FROM (VALUES
      |(CAST(0 AS BIGINT),'e','r','er'),
      |(CAST(1 AS BIGINT),'o','w','ow'),
      |(CAST(2 AS BIGINT),'i','n','in'),
      |(CAST(3 AS BIGINT),'o','r','or'),
      |(CAST(4 AS BIGINT),'s','t','st'),
      |(CAST(5 AS BIGINT),'a','l','al'),
      |(CAST(6 AS BIGINT),'a','t','at'),
      |(CAST(7 AS BIGINT),'m','er','mer'),
      |(CAST(8 AS BIGINT),'a','r','ar'),
      |(CAST(9 AS BIGINT),'p','ar','par'),
      |(CAST(10 AS BIGINT),'a','s','as'),
      |(CAST(11 AS BIGINT),'as','h','ash'),
      |(CAST(12 AS BIGINT),'h','ash','hash'),
      |(CAST(13 AS BIGINT),'j','o','jo'),
      |(CAST(14 AS BIGINT),'jo','in','join'),
      |(CAST(15 AS BIGINT),'a','n','an'),
      |(CAST(16 AS BIGINT),'c','an','can'),
      |(CAST(17 AS BIGINT),'f','i','fi'),
      |(CAST(18 AS BIGINT),'fi','l','fil'),
      |(CAST(19 AS BIGINT),'fil','t','filt'),
      |(CAST(20 AS BIGINT),'filt','er','filter'),
      |(CAST(21 AS BIGINT),'s','can','scan'),
      |(CAST(22 AS BIGINT),'at','c','atc'),
      |(CAST(23 AS BIGINT),'atc','h','atch'),
      |(CAST(24 AS BIGINT),'b','atch','batch'),
      |(CAST(25 AS BIGINT),'al','l','all'),
      |(CAST(26 AS BIGINT),'m','all','mall'),
      |(CAST(27 AS BIGINT),'s','mall','small'),
      |(CAST(28 AS BIGINT),'l','ow','low'),
      |(CAST(29 AS BIGINT),'s','low','slow'),
      |(CAST(30 AS BIGINT),'c','u','cu'),
      |(CAST(31 AS BIGINT),'cu','st','cust'),
      |(CAST(32 AS BIGINT),'cust','o','custo'),
      |(CAST(33 AS BIGINT),'custo','mer','customer'),
      |(CAST(34 AS BIGINT),'a','b','ab'),
      |(CAST(35 AS BIGINT),'ab','l','abl'),
      |(CAST(36 AS BIGINT),'abl','e','able'),
      |(CAST(37 AS BIGINT),'t','able','table'),
      |(CAST(38 AS BIGINT),'al','u','alu'),
      |(CAST(39 AS BIGINT),'alu','e','alue')
      |) AS t(rank, "left", "right", merged) ORDER BY rank""".stripMargin

  /** Pinned q93 per-source BPE piece counts under the q92 tokenizer
    * (regenerate via tools/oraclegen.py).
    */
  val q93Pinned: String =
    """SELECT * FROM (VALUES
      |('src0',CAST(15 AS BIGINT),CAST(2252 AS BIGINT)),
      |('src1',CAST(15 AS BIGINT),CAST(2180 AS BIGINT)),
      |('src10',CAST(15 AS BIGINT),CAST(2059 AS BIGINT)),
      |('src11',CAST(15 AS BIGINT),CAST(2378 AS BIGINT)),
      |('src12',CAST(15 AS BIGINT),CAST(1901 AS BIGINT)),
      |('src13',CAST(15 AS BIGINT),CAST(2472 AS BIGINT)),
      |('src14',CAST(15 AS BIGINT),CAST(1936 AS BIGINT)),
      |('src15',CAST(15 AS BIGINT),CAST(1944 AS BIGINT)),
      |('src16',CAST(15 AS BIGINT),CAST(2095 AS BIGINT)),
      |('src17',CAST(15 AS BIGINT),CAST(2157 AS BIGINT)),
      |('src18',CAST(15 AS BIGINT),CAST(2225 AS BIGINT)),
      |('src19',CAST(15 AS BIGINT),CAST(1612 AS BIGINT)),
      |('src2',CAST(15 AS BIGINT),CAST(2441 AS BIGINT)),
      |('src3',CAST(15 AS BIGINT),CAST(1966 AS BIGINT)),
      |('src4',CAST(15 AS BIGINT),CAST(2064 AS BIGINT)),
      |('src5',CAST(15 AS BIGINT),CAST(2260 AS BIGINT)),
      |('src6',CAST(15 AS BIGINT),CAST(1549 AS BIGINT)),
      |('src7',CAST(15 AS BIGINT),CAST(2442 AS BIGINT)),
      |('src8',CAST(15 AS BIGINT),CAST(1880 AS BIGINT)),
      |('src9',CAST(15 AS BIGINT),CAST(2160 AS BIGINT))
      |) AS t(source, n_docs, total_pieces) ORDER BY source""".stripMargin


  /** q94: rolling 1-hour RANGE window over epoch micros, integer-cent
    * sums — boundary semantics identical (inclusive, peers-by-value).
    */
  val q94: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
      |           CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events WHERE user_id < 40)
      |SELECT event_id, user_id,
      |  CAST(count(*) OVER w AS BIGINT) AS n_window,
      |  CAST(sum(cents) OVER w AS BIGINT) AS sum_cents_window
      |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** q95: hourly resample per event type — date_trunc buckets, cent sums,
    * exact min/max.
    */
  val q95: String =
    """SELECT event_type AS "group", date_trunc('hour', ts) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  min(value) AS min_value, max(value) AS max_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q97: scaling — identical exact integer-cent fit statistics and the
    * same double arithmetic order for mean/var/std and the projections.
    * The sum of squares is exact on both sides (Spark Decimal(38,0),
    * DuckDB HUGEINT), and variance uses the exact integer numerator
    * n·Σc² − (Σc)² rounded to double once — mirroring
    * [[graft.ops.FeaturePrep.ScaleFit.varCents2]] bit for bit.
    */
  val q97: String =
    """WITH c AS (SELECT l_orderkey, l_linenumber,
      |  CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
      |f AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
      |      sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS ss,
      |      min(c) AS mn, max(c) AS mx FROM c),
      |v AS (SELECT n, s, mn, mx,
      |      CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)
      |           AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var2
      |      FROM f)
      |SELECT l_orderkey, l_linenumber,
      |  round((CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / n) / sqrt(var2), 4) AS z,
      |  round((CAST(c AS DOUBLE) - mn) / (mx - mn), 4) AS mm
      |FROM c CROSS JOIN v WHERE l_orderkey < 200
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q98: frequency label encoding — rank by count desc, value asc. */
  val q98: String =
    """WITH m AS (SELECT o_orderpriority,
      |  CAST(row_number() OVER (ORDER BY count(*) DESC, o_orderpriority ASC) - 1
      |       AS BIGINT) AS o_orderpriority_enc
      |  FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1)
      |SELECT o_orderkey, o.o_orderpriority, o_orderpriority_enc
      |FROM orders o LEFT JOIN m USING (o_orderpriority)
      |WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin

  /** q100: decoded-pixel image features — the oracle regenerates the
    * deterministic pixel function arithmetically (lateral ranges over
    * width×height) and mirrors the engine's exact-integer mean/σ
    * arithmetic: mean = Σx/n, σ = sqrt((n·Σx² − (Σx)²)/n²), luma in
    * integer per-mille BT.601 weights. The engine side must actually
    * ImageIO-decode the PNGs to recover these numbers.
    */
  val q100: String =
    """WITH d AS (SELECT doc_id AS k, CAST(doc_id % 16 + 8 AS BIGINT) AS w,
      |                  CAST((doc_id * 3) % 16 + 8 AS BIGINT) AS h
      |           FROM documents WHERE doc_id < 40),
      |px AS (SELECT k,
      |    (x + y + k) % 256 AS r, (2*x + y + k) % 256 AS g,
      |    (x + 2*y + k) % 256 AS b
      |  FROM d,
      |    LATERAL (SELECT unnest(range(0, w)) AS x) xs,
      |    LATERAL (SELECT unnest(range(0, h)) AS y) ys),
      |a AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(r) AS BIGINT) AS sr, CAST(sum(r*r) AS BIGINT) AS qr,
      |    CAST(sum(g) AS BIGINT) AS sg, CAST(sum(g*g) AS BIGINT) AS qg,
      |    CAST(sum(b) AS BIGINT) AS sb, CAST(sum(b*b) AS BIGINT) AS qb,
      |    CAST(sum(299*r + 587*g + 114*b) AS BIGINT) AS sl,
      |    CAST(sum((299*r + 587*g + 114*b) * (299*r + 587*g + 114*b))
      |         AS BIGINT) AS ql
      |  FROM px GROUP BY k)
      |SELECT k AS doc_id,
      |  round(CAST(sr AS DOUBLE)/n, 4) AS mean_r,
      |  round(CAST(sg AS DOUBLE)/n, 4) AS mean_g,
      |  round(CAST(sb AS DOUBLE)/n, 4) AS mean_b,
      |  round(sqrt(CAST(n*qr - sr*sr AS DOUBLE)/(CAST(n AS DOUBLE)*n)), 4) AS std_r,
      |  round(sqrt(CAST(n*qg - sg*sg AS DOUBLE)/(CAST(n AS DOUBLE)*n)), 4) AS std_g,
      |  round(sqrt(CAST(n*qb - sb*sb AS DOUBLE)/(CAST(n AS DOUBLE)*n)), 4) AS std_b,
      |  round(CAST(sl AS DOUBLE)/n/1000.0, 4) AS luma_mean,
      |  round(sqrt(CAST(n*ql - sl*sl AS DOUBLE)/(CAST(n AS DOUBLE)*n))/1000.0, 4)
      |    AS luma_std
      |FROM a ORDER BY doc_id""".stripMargin

  /** q101: decoded-sample audio features — the oracle regenerates the
    * deterministic PCM sample function and mirrors the engine's exact
    * integer sums; the engine must parse the RIFF data chunk and decode
    * little-endian 16-bit samples to recover them.
    */
  val q101: String =
    """WITH d AS (SELECT doc_id AS k, doc_id % 2 + 1 AS c,
      |                  (doc_id % 3 + 1) * 8000 AS rate,
      |                  (doc_id % 50 + 100) * (doc_id % 2 + 1) AS n
      |           FROM documents WHERE doc_id < 60),
      |s AS (SELECT k, c, rate, n, i,
      |    ((i * (k + 7) * 31 + 17) % 4001) - 2000 AS v
      |  FROM d, LATERAL (SELECT unnest(range(0, n)) AS i) ii),
      |w AS (SELECT k, c, rate, n, v,
      |    lag(v) OVER (PARTITION BY k ORDER BY i) AS pv
      |  FROM s),
      |a AS (SELECT k, c, rate, n,
      |    CAST(sum(v*v) AS BIGINT) AS ss, CAST(sum(abs(v)) AS BIGINT) AS sa,
      |    CAST(max(abs(v)) AS BIGINT) AS pk,
      |    CAST(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS zc
      |  FROM w GROUP BY k, c, rate, n)
      |SELECT k AS doc_id,
      |  round(sqrt(CAST(ss AS DOUBLE)/n)/32768.0, 4) AS rms,
      |  round(CAST(pk AS DOUBLE)/32768.0, 4) AS peak,
      |  round(CAST(sa AS DOUBLE)/n/32768.0, 4) AS mean_abs,
      |  round(CAST(zc AS DOUBLE)/(n - 1), 4) AS zcr,
      |  CAST((2*n * 1000) // (rate*2*c) AS DOUBLE) AS duration_ms,
      |  CAST(c AS DOUBLE) AS channels, CAST(rate AS DOUBLE) AS sample_rate
      |FROM a ORDER BY doc_id""".stripMargin

  /** q107: thumbnail resize — the oracle regenerates the source pixel
    * functions, applies the exactly-pinned integer box filter (floor
    * divisions throughout, box = [x·sw/dw, max(+1, (x+1)·sw/dw))), and
    * computes the luma statistics of the arithmetic dst pixels; the engine
    * must reproduce them through decode → resize → PNG re-encode → decode.
    */
  val q107: String =
    """WITH d AS (SELECT doc_id AS k, CAST(doc_id % 16 + 8 AS BIGINT) AS sw,
      |                  CAST((doc_id * 3) % 16 + 8 AS BIGINT) AS sh
      |           FROM documents WHERE doc_id < 40),
      |dims AS (SELECT k, sw, sh,
      |    greatest(1, sw * 12 // greatest(sw, sh)) AS dw,
      |    greatest(1, sh * 12 // greatest(sw, sh)) AS dh
      |  FROM d),
      |dst AS (SELECT k, sw, sh, dw, dh, x, y,
      |    x * sw // dw AS x0,
      |    greatest(x * sw // dw + 1, (x + 1) * sw // dw) AS x1,
      |    y * sh // dh AS y0,
      |    greatest(y * sh // dh + 1, (y + 1) * sh // dh) AS y1
      |  FROM dims,
      |    LATERAL (SELECT unnest(range(0, dw)) AS x) xs,
      |    LATERAL (SELECT unnest(range(0, dh)) AS y) ys),
      |box AS (SELECT k, dw, dh, x, y,
      |    CAST(sum((sx + sy + k) % 256) AS BIGINT) AS sr,
      |    CAST(sum((2*sx + sy + k) % 256) AS BIGINT) AS sg,
      |    CAST(sum((sx + 2*sy + k) % 256) AS BIGINT) AS sb,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM dst,
      |    LATERAL (SELECT unnest(range(x0, x1)) AS sx) bxs,
      |    LATERAL (SELECT unnest(range(y0, y1)) AS sy) bys
      |  GROUP BY k, dw, dh, x, y),
      |pix AS (SELECT k, dw, dh,
      |    299*(sr // cnt) + 587*(sg // cnt) + 114*(sb // cnt) AS l
      |  FROM box),
      |a AS (SELECT k, dw, dh, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(l) AS BIGINT) AS sl, CAST(sum(l*l) AS BIGINT) AS ql
      |  FROM pix GROUP BY k, dw, dh)
      |SELECT k AS doc_id, dw AS dst_w, dh AS dst_h,
      |  round(CAST(sl AS DOUBLE)/n/1000.0, 4) AS luma_mean,
      |  round(sqrt(CAST(n*ql - sl*sl AS DOUBLE)/(CAST(n AS DOUBLE)*n))/1000.0, 4)
      |    AS luma_std
      |FROM a ORDER BY doc_id""".stripMargin

  /** q108: video frame sampling — the oracle regenerates the MP4 fixture's
    * field arithmetic: duration ticks → ms via the movie timescale, 16.16
    * tkhd dimensions, the mdat content offset S = 420+4n (box sizes are
    * linear in the sample count), the proportional mdat seek, AND the full
    * sample-table walk — per-sample stts decode-start ticks (2 runs),
    * stsz sizes, and absolute byte offsets across the 2-chunk stsc/stco
    * split with its `gap`-byte interleave hole. The engine must recover
    * all of it by parsing real ISO BMFF boxes.
    */
  val q108: String =
    """WITH d AS (SELECT doc_id AS k,
      |    CAST(600 * (doc_id % 3 + 1) AS BIGINT) AS ts,
      |    CAST((doc_id * 37) % 9000 + 600 AS BIGINT) AS dt,
      |    CAST((doc_id % 8 + 2) * 16 AS BIGINT) AS w,
      |    CAST((doc_id % 5 + 2) * 16 AS BIGINT) AS h,
      |    CAST(1000 * (doc_id % 2 + 1) AS BIGINT) AS mts,
      |    CAST(doc_id % 7 + 4 AS BIGINT) AS n,
      |    CAST(doc_id % 9 AS BIGINT) AS gap
      |  FROM documents WHERE doc_id < 50),
      |m AS (SELECT k, w, h, mts, n, gap,
      |    dt * 1000 // ts AS dur_ms,
      |    n // 2 AS n1,
      |    mts // 10 + k % 5 AS delta1,
      |    mts // 8 + k % 3 AS delta2,
      |    (n + 1) // 2 AS c1,
      |    420 + 4 * n AS soff
      |  FROM d),
      |sm AS (SELECT k, mts, gap, c1, soff, j,
      |    (k*11 + 7*j) % 50 + 20 AS siz,
      |    CASE WHEN j < n1 THEN j * delta1
      |         ELSE n1 * delta1 + (j - n1) * delta2 END AS st
      |  FROM m, LATERAL (SELECT unnest(range(0, n)) AS j) jj),
      |so AS (SELECT k, mts, j, siz, st,
    |    soff + (CAST(sum(siz) OVER (PARTITION BY k ORDER BY j) AS BIGINT) - siz)
      |      + CASE WHEN j < c1 THEN 0 ELSE gap END AS boff,
      |    CAST(sum(siz) OVER (PARTITION BY k) AS BIGINT) + gap AS s_total,
      |    soff
      |  FROM sm),
      |f AS (SELECT k, w, h, dur_ms, mts, soff, gap, i,
      |    dur_ms * (2*i + 1) // 8 AS ts_ms
      |  FROM m, LATERAL (SELECT unnest(range(0, 4)) AS i) ii),
      |fs AS (SELECT f.k, f.i, max(so.j) AS sj
      |  FROM f JOIN so ON f.k = so.k
      |    AND so.st <= f.ts_ms * f.mts // 1000
      |  GROUP BY f.k, f.i),
      |p AS (SELECT f.k, f.w, f.h, f.dur_ms, f.mts, f.i, f.ts_ms,
      |    least(so.s_total - 1,
      |          f.ts_ms * so.s_total // greatest(1, f.dur_ms)) AS rel,
      |    f.soff, so.j AS sj, so.st, so.siz, so.boff
      |  FROM f JOIN fs ON f.k = fs.k AND f.i = fs.i
      |  JOIN so ON so.k = f.k AND so.j = fs.sj)
      |SELECT k AS doc_id, w AS video_width, h AS video_height,
      |  dur_ms AS video_duration_ms, i AS frame_idx, ts_ms,
      |  soff + rel AS probe_offset, (7*k + 13*rel) % 256 AS probe_byte,
      |  sj AS sample_idx, st * 1000 // mts AS sample_ts_ms,
      |  boff AS sample_offset, siz AS sample_size,
      |  (7*k + 13*(boff - soff)) % 256 AS sample_byte
      |FROM p ORDER BY doc_id, frame_idx""".stripMargin

  /** q109: heavy hitters in the exact regime (distinct ≤ capacity per
    * group): the Misra–Gries summary never decrements, so both bounds equal
    * the exact grouped count.
    */
  val q109: String =
    """SELECT source, lang AS value,
      |  CAST(count(*) AS BIGINT) AS count_lo,
      |  CAST(count(*) AS BIGINT) AS count_hi
      |FROM documents WHERE lang IS NOT NULL
      |GROUP BY source, lang
      |ORDER BY source, count_lo DESC, value""".stripMargin

  /** q110: merged-profile quantiles in the KLL exact regime (n ≤ k): the
    * sketch retains every value, and its inclusive-rank getQuantile(p) is
    * the order statistic at index ceil(p·n) (1-based) — computed here
    * directly from the sorted slice.
    */
  val q110: String =
    """WITH s AS (
      |  SELECT 'value' AS column_name, CAST(value AS DOUBLE) AS v
      |  FROM events WHERE event_id < 150 AND value IS NOT NULL
      |  UNION ALL
      |  SELECT 'user_id', CAST(user_id AS DOUBLE)
      |  FROM events WHERE event_id < 150 AND user_id IS NOT NULL),
      |o AS (SELECT column_name, v,
      |    row_number() OVER (PARTITION BY column_name ORDER BY v) AS rn,
      |    count(*) OVER (PARTITION BY column_name) AS n
      |  FROM s)
      |SELECT column_name,
      |  round(max(CASE WHEN rn = CAST(ceil(0.25*n) AS BIGINT) THEN v END), 4) AS p25,
      |  round(max(CASE WHEN rn = CAST(ceil(0.50*n) AS BIGINT) THEN v END), 4) AS p50,
      |  round(max(CASE WHEN rn = CAST(ceil(0.75*n) AS BIGINT) THEN v END), 4) AS p75
      |FROM o GROUP BY column_name ORDER BY column_name""".stripMargin

  val q111Pinned: String =
    """SELECT * FROM (VALUES
      |('src0:0',CAST(4 AS BIGINT),CAST(681 AS BIGINT),CAST(1.3301 AS DOUBLE)),
      |('src0:1',CAST(3 AS BIGINT),CAST(394 AS BIGINT),CAST(0.7695 AS DOUBLE)),
      |('src0:2',CAST(5 AS BIGINT),CAST(690 AS BIGINT),CAST(1.3477 AS DOUBLE)),
      |('src0:3',CAST(3 AS BIGINT),CAST(487 AS BIGINT),CAST(0.9512 AS DOUBLE)),
      |('src10:0',CAST(4 AS BIGINT),CAST(540 AS BIGINT),CAST(1.0547 AS DOUBLE)),
      |('src10:1',CAST(6 AS BIGINT),CAST(534 AS BIGINT),CAST(1.043 AS DOUBLE)),
      |('src10:2',CAST(3 AS BIGINT),CAST(502 AS BIGINT),CAST(0.9805 AS DOUBLE)),
      |('src10:3',CAST(2 AS BIGINT),CAST(483 AS BIGINT),CAST(0.9434 AS DOUBLE)),
      |('src11:0',CAST(4 AS BIGINT),CAST(546 AS BIGINT),CAST(1.0664 AS DOUBLE)),
      |('src11:1',CAST(3 AS BIGINT),CAST(616 AS BIGINT),CAST(1.2031 AS DOUBLE)),
      |('src11:2',CAST(2 AS BIGINT),CAST(398 AS BIGINT),CAST(0.7773 AS DOUBLE)),
      |('src11:3',CAST(5 AS BIGINT),CAST(614 AS BIGINT),CAST(1.1992 AS DOUBLE)),
      |('src11:4',CAST(1 AS BIGINT),CAST(204 AS BIGINT),CAST(0.3984 AS DOUBLE)),
      |('src12:0',CAST(4 AS BIGINT),CAST(520 AS BIGINT),CAST(1.0156 AS DOUBLE)),
      |('src12:1',CAST(6 AS BIGINT),CAST(567 AS BIGINT),CAST(1.1074 AS DOUBLE)),
      |('src12:2',CAST(4 AS BIGINT),CAST(611 AS BIGINT),CAST(1.1934 AS DOUBLE)),
      |('src12:3',CAST(1 AS BIGINT),CAST(203 AS BIGINT),CAST(0.3965 AS DOUBLE)),
      |('src13:0',CAST(4 AS BIGINT),CAST(563 AS BIGINT),CAST(1.0996 AS DOUBLE)),
      |('src13:1',CAST(3 AS BIGINT),CAST(513 AS BIGINT),CAST(1.002 AS DOUBLE)),
      |('src13:2',CAST(2 AS BIGINT),CAST(495 AS BIGINT),CAST(0.9668 AS DOUBLE)),
      |('src13:3',CAST(3 AS BIGINT),CAST(512 AS BIGINT),CAST(1.0 AS DOUBLE)),
      |('src13:4',CAST(3 AS BIGINT),CAST(389 AS BIGINT),CAST(0.7598 AS DOUBLE)),
      |('src14:0',CAST(4 AS BIGINT),CAST(515 AS BIGINT),CAST(1.0059 AS DOUBLE)),
      |('src14:1',CAST(5 AS BIGINT),CAST(586 AS BIGINT),CAST(1.1445 AS DOUBLE)),
      |('src14:2',CAST(5 AS BIGINT),CAST(618 AS BIGINT),CAST(1.207 AS DOUBLE)),
      |('src14:3',CAST(1 AS BIGINT),CAST(217 AS BIGINT),CAST(0.4238 AS DOUBLE)),
      |('src15:0',CAST(4 AS BIGINT),CAST(527 AS BIGINT),CAST(1.0293 AS DOUBLE)),
      |('src15:1',CAST(4 AS BIGINT),CAST(639 AS BIGINT),CAST(1.248 AS DOUBLE)),
      |('src15:2',CAST(3 AS BIGINT),CAST(485 AS BIGINT),CAST(0.9473 AS DOUBLE)),
      |('src15:3',CAST(4 AS BIGINT),CAST(293 AS BIGINT),CAST(0.5723 AS DOUBLE)),
      |('src16:0',CAST(4 AS BIGINT),CAST(567 AS BIGINT),CAST(1.1074 AS DOUBLE)),
      |('src16:1',CAST(5 AS BIGINT),CAST(656 AS BIGINT),CAST(1.2813 AS DOUBLE)),
      |('src16:2',CAST(2 AS BIGINT),CAST(404 AS BIGINT),CAST(0.7891 AS DOUBLE)),
      |('src16:3',CAST(4 AS BIGINT),CAST(468 AS BIGINT),CAST(0.9141 AS DOUBLE)),
      |('src17:0',CAST(3 AS BIGINT),CAST(601 AS BIGINT),CAST(1.1738 AS DOUBLE)),
      |('src17:1',CAST(4 AS BIGINT),CAST(496 AS BIGINT),CAST(0.9688 AS DOUBLE)),
      |('src17:2',CAST(4 AS BIGINT),CAST(564 AS BIGINT),CAST(1.1016 AS DOUBLE)),
      |('src17:3',CAST(4 AS BIGINT),CAST(496 AS BIGINT),CAST(0.9688 AS DOUBLE)),
      |('src18:0',CAST(4 AS BIGINT),CAST(598 AS BIGINT),CAST(1.168 AS DOUBLE)),
      |('src18:1',CAST(2 AS BIGINT),CAST(432 AS BIGINT),CAST(0.8438 AS DOUBLE)),
      |('src18:2',CAST(5 AS BIGINT),CAST(652 AS BIGINT),CAST(1.2734 AS DOUBLE)),
      |('src18:3',CAST(3 AS BIGINT),CAST(462 AS BIGINT),CAST(0.9023 AS DOUBLE)),
      |('src18:4',CAST(1 AS BIGINT),CAST(81 AS BIGINT),CAST(0.1582 AS DOUBLE)),
      |('src19:0',CAST(8 AS BIGINT),CAST(634 AS BIGINT),CAST(1.2383 AS DOUBLE)),
      |('src19:1',CAST(3 AS BIGINT),CAST(404 AS BIGINT),CAST(0.7891 AS DOUBLE)),
      |('src19:2',CAST(4 AS BIGINT),CAST(574 AS BIGINT),CAST(1.1211 AS DOUBLE)),
      |('src1:0',CAST(4 AS BIGINT),CAST(574 AS BIGINT),CAST(1.1211 AS DOUBLE)),
      |('src1:1',CAST(4 AS BIGINT),CAST(547 AS BIGINT),CAST(1.0684 AS DOUBLE)),
      |('src1:2',CAST(4 AS BIGINT),CAST(507 AS BIGINT),CAST(0.9902 AS DOUBLE)),
      |('src1:3',CAST(2 AS BIGINT),CAST(473 AS BIGINT),CAST(0.9238 AS DOUBLE)),
      |('src1:4',CAST(1 AS BIGINT),CAST(79 AS BIGINT),CAST(0.1543 AS DOUBLE)),
      |('src2:0',CAST(4 AS BIGINT),CAST(699 AS BIGINT),CAST(1.3652 AS DOUBLE)),
      |('src2:1',CAST(2 AS BIGINT),CAST(351 AS BIGINT),CAST(0.6855 AS DOUBLE)),
      |('src2:2',CAST(4 AS BIGINT),CAST(650 AS BIGINT),CAST(1.2695 AS DOUBLE)),
      |('src2:3',CAST(2 AS BIGINT),CAST(362 AS BIGINT),CAST(0.707 AS DOUBLE)),
      |('src2:4',CAST(3 AS BIGINT),CAST(379 AS BIGINT),CAST(0.7402 AS DOUBLE)),
      |('src3:0',CAST(6 AS BIGINT),CAST(754 AS BIGINT),CAST(1.4727 AS DOUBLE)),
      |('src3:1',CAST(2 AS BIGINT),CAST(282 AS BIGINT),CAST(0.5508 AS DOUBLE)),
      |('src3:2',CAST(5 AS BIGINT),CAST(502 AS BIGINT),CAST(0.9805 AS DOUBLE)),
      |('src3:3',CAST(2 AS BIGINT),CAST(428 AS BIGINT),CAST(0.8359 AS DOUBLE)),
      |('src4:0',CAST(5 AS BIGINT),CAST(656 AS BIGINT),CAST(1.2813 AS DOUBLE)),
      |('src4:1',CAST(4 AS BIGINT),CAST(372 AS BIGINT),CAST(0.7266 AS DOUBLE)),
      |('src4:2',CAST(4 AS BIGINT),CAST(650 AS BIGINT),CAST(1.2695 AS DOUBLE)),
      |('src4:3',CAST(2 AS BIGINT),CAST(386 AS BIGINT),CAST(0.7539 AS DOUBLE)),
      |('src5:0',CAST(3 AS BIGINT),CAST(583 AS BIGINT),CAST(1.1387 AS DOUBLE)),
      |('src5:1',CAST(5 AS BIGINT),CAST(560 AS BIGINT),CAST(1.0938 AS DOUBLE)),
      |('src5:2',CAST(4 AS BIGINT),CAST(529 AS BIGINT),CAST(1.0332 AS DOUBLE)),
      |('src5:3',CAST(3 AS BIGINT),CAST(588 AS BIGINT),CAST(1.1484 AS DOUBLE)),
      |('src6:0',CAST(6 AS BIGINT),CAST(517 AS BIGINT),CAST(1.0098 AS DOUBLE)),
      |('src6:1',CAST(4 AS BIGINT),CAST(662 AS BIGINT),CAST(1.293 AS DOUBLE)),
      |('src6:2',CAST(5 AS BIGINT),CAST(370 AS BIGINT),CAST(0.7227 AS DOUBLE)),
      |('src7:0',CAST(4 AS BIGINT),CAST(628 AS BIGINT),CAST(1.2266 AS DOUBLE)),
      |('src7:1',CAST(4 AS BIGINT),CAST(562 AS BIGINT),CAST(1.0977 AS DOUBLE)),
      |('src7:2',CAST(2 AS BIGINT),CAST(450 AS BIGINT),CAST(0.8789 AS DOUBLE)),
      |('src7:3',CAST(3 AS BIGINT),CAST(573 AS BIGINT),CAST(1.1191 AS DOUBLE)),
      |('src7:4',CAST(2 AS BIGINT),CAST(229 AS BIGINT),CAST(0.4473 AS DOUBLE)),
      |('src8:0',CAST(4 AS BIGINT),CAST(538 AS BIGINT),CAST(1.0508 AS DOUBLE)),
      |('src8:1',CAST(5 AS BIGINT),CAST(566 AS BIGINT),CAST(1.1055 AS DOUBLE)),
      |('src8:2',CAST(4 AS BIGINT),CAST(594 AS BIGINT),CAST(1.1602 AS DOUBLE)),
      |('src8:3',CAST(2 AS BIGINT),CAST(182 AS BIGINT),CAST(0.3555 AS DOUBLE)),
      |('src9:0',CAST(4 AS BIGINT),CAST(535 AS BIGINT),CAST(1.0449 AS DOUBLE)),
      |('src9:1',CAST(4 AS BIGINT),CAST(532 AS BIGINT),CAST(1.0391 AS DOUBLE)),
      |('src9:2',CAST(4 AS BIGINT),CAST(561 AS BIGINT),CAST(1.0957 AS DOUBLE)),
      |('src9:3',CAST(3 AS BIGINT),CAST(532 AS BIGINT),CAST(1.0391 AS DOUBLE))
      |) AS t(pack_id, n_docs, n_tokens, fill) ORDER BY pack_id""".stripMargin

  /** q112: the salted join's result is salt-invariant — the oracle is the
    * plain join aggregate with the repo's integer-cents sum convention.
    */
  val q112: String =
    """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS DOUBLE)/100.0
      |    AS sum_price
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** q113: image near-dup — the oracle regenerates the variant pixel
    * functions, the 8×8 box-filtered per-mille luma grid (floor division
    * throughout), the 56 dHash comparison bits, and the EXHAUSTIVE Hamming
    * cross join; the engine must reproduce it through PNG decode + banded
    * bucket joins (exact recall by pigeonhole, so the sets agree).
    */
  val q113: String =
    """WITH d AS (SELECT doc_id AS k, doc_id % 20 AS base, doc_id // 20 AS noise,
      |    CAST(doc_id % 20 % 16 + 8 AS BIGINT) AS w,
      |    CAST((doc_id % 20 * 3) % 16 + 8 AS BIGINT) AS h
      |  FROM documents WHERE doc_id < 40),
      |cell AS (SELECT k, base, noise, gx, gy,
      |    gx*w//8 AS x0, greatest(gx*w//8 + 1, (gx+1)*w//8) AS x1,
      |    gy*h//8 AS y0, greatest(gy*h//8 + 1, (gy+1)*h//8) AS y1
      |  FROM d,
      |    LATERAL (SELECT unnest(range(0, 8)) AS gx) a,
      |    LATERAL (SELECT unnest(range(0, 8)) AS gy) b),
      |g AS (SELECT k, gx, gy,
      |    CAST(sum(299*((sx*sx+3*sy+base*37)%250 +
      |          CASE WHEN noise=1 AND (sx+sy)%11=0 THEN 3 ELSE 0 END)
      |        + 587*((sy*sy+2*sx+base*59)%250)
      |        + 114*((sx*sy+base*83)%250)) AS BIGINT)
      |      // CAST(count(*) AS BIGINT) AS l
      |  FROM cell,
      |    LATERAL (SELECT unnest(range(x0, x1)) AS sx) xs,
      |    LATERAL (SELECT unnest(range(y0, y1)) AS sy) ys
      |  GROUP BY k, gx, gy),
      |hb AS (SELECT a.k,
      |    CAST(sum(CASE WHEN b.l > a.l
      |      THEN (CAST(1 AS BIGINT) << (a.gy*7 + a.gx)) ELSE 0 END) AS BIGINT)
      |      AS hash
      |  FROM g a JOIN g b ON a.k = b.k AND b.gy = a.gy AND b.gx = a.gx + 1
      |  WHERE a.gx < 7
      |  GROUP BY a.k),
      |p AS (SELECT a.k AS id_1, b.k AS id_2,
      |    CAST(bit_count(xor(a.hash, b.hash)) AS BIGINT) AS hamming
      |  FROM hb a JOIN hb b ON a.k < b.k)
      |SELECT id_1, id_2, hamming FROM p WHERE hamming <= 3
      |ORDER BY id_1, id_2""".stripMargin

  /** q114: audio near-dup — the oracle regenerates the PCM sample formula,
    * the 57-window |s| loudness envelope (window of sample i = i·57/n,
    * floor), the 56 comparison bits, and the EXHAUSTIVE Hamming join.
    */
  val q114: String =
    """WITH d AS (SELECT doc_id AS k, doc_id % 30 AS base, doc_id // 30 AS noise,
      |    (doc_id % 30 % 50 + 100) * (doc_id % 30 % 2 + 1) AS n
      |  FROM documents WHERE doc_id < 60),
      |s AS (SELECT k, n, i,
      |    abs(((i*(base+7)*31+17)%4001)-2000 +
      |        CASE WHEN noise=1 AND i%13=0 THEN 7 ELSE 0 END) AS a,
      |    i*57//n AS wi
      |  FROM d, LATERAL (SELECT unnest(range(0, n)) AS i) ii),
      |e AS (SELECT k, wi, CAST(sum(a) AS BIGINT) AS e FROM s GROUP BY k, wi),
      |hb AS (SELECT a.k,
      |    CAST(sum(CASE WHEN b.e > a.e
      |      THEN (CAST(1 AS BIGINT) << a.wi) ELSE 0 END) AS BIGINT) AS hash
      |  FROM e a JOIN e b ON a.k = b.k AND b.wi = a.wi + 1
      |  WHERE a.wi < 56 GROUP BY a.k),
      |p AS (SELECT a.k AS id_1, b.k AS id_2,
      |    CAST(bit_count(xor(a.hash, b.hash)) AS BIGINT) AS hamming
      |  FROM hb a JOIN hb b ON a.k < b.k)
      |SELECT id_1, id_2, hamming FROM p WHERE hamming <= 3
      |ORDER BY id_1, id_2""".stripMargin

  /** q115: quantile binning — boundaries are quantile_cont at the interior
    * deciles (the engine's interpolated order statistics are definitionally
    * identical), deduped; bin = count of boundaries strictly below.
    */
  val q115: String = {
    val qs = (1 to 9).map(i =>
      s"quantile_cont(l_extendedprice, 0.$i)").mkString(", ")
    s"""WITH b AS (SELECT list_sort(list_distinct(list_value($qs))) AS bs
       |  FROM lineitem)
       |SELECT l_orderkey, l_linenumber,
       |  CASE WHEN l_extendedprice IS NULL THEN NULL
       |    ELSE CAST(len(list_filter(b.bs, x -> l_extendedprice > x)) AS BIGINT)
       |  END AS bin
       |FROM lineitem, b WHERE l_orderkey < 200
       |ORDER BY l_orderkey, l_linenumber""".stripMargin
  }

  /** q116: smoothed mean-target encoding — the oracle mirrors the exact
    * integer-cent sums and the pinned double-conversion shape:
    * (Σcents/100 + m·prior) / (n + m), prior = global Σcents/100/n.
    */
  val q116: String =
    """WITH g AS (SELECT CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT))
      |      AS DOUBLE)/100.0/count(*) AS prior
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |m AS (SELECT o_orderpriority,
      |    CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS ts,
      |    CAST(count(*) AS BIGINT) AS tn
      |  FROM orders
      |  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
      |  GROUP BY o_orderpriority)
      |SELECT o.o_orderkey, o.o_orderpriority,
      |  round(coalesce(
      |    (CAST(m.ts AS DOUBLE)/100.0 + 20.0*g.prior)/(CAST(m.tn AS DOUBLE) + 20.0),
      |    g.prior), 4) AS o_orderpriority_tenc
      |FROM orders o CROSS JOIN g LEFT JOIN m USING (o_orderpriority)
      |WHERE o.o_orderkey < 500 ORDER BY o.o_orderkey""".stripMargin

  /** q124: end-to-end image dedup — q113's arithmetic dHash CTEs, then the
    * recursive closure over the Hamming pair set; survivors are docs that
    * are their own component minimum.
    */
  val q124: String =
    """WITH RECURSIVE
      |d AS (SELECT doc_id AS k, doc_id % 20 AS base, doc_id // 20 AS noise,
      |    CAST(doc_id % 20 % 16 + 8 AS BIGINT) AS w,
      |    CAST((doc_id % 20 * 3) % 16 + 8 AS BIGINT) AS h
      |  FROM documents WHERE doc_id < 40),
      |cell AS (SELECT k, base, noise, gx, gy,
      |    gx*w//8 AS x0, greatest(gx*w//8 + 1, (gx+1)*w//8) AS x1,
      |    gy*h//8 AS y0, greatest(gy*h//8 + 1, (gy+1)*h//8) AS y1
      |  FROM d,
      |    LATERAL (SELECT unnest(range(0, 8)) AS gx) a,
      |    LATERAL (SELECT unnest(range(0, 8)) AS gy) b),
      |g AS (SELECT k, gx, gy,
      |    CAST(sum(299*((sx*sx+3*sy+base*37)%250 +
      |          CASE WHEN noise=1 AND (sx+sy)%11=0 THEN 3 ELSE 0 END)
      |        + 587*((sy*sy+2*sx+base*59)%250)
      |        + 114*((sx*sy+base*83)%250)) AS BIGINT)
      |      // CAST(count(*) AS BIGINT) AS l
      |  FROM cell,
      |    LATERAL (SELECT unnest(range(x0, x1)) AS sx) xs,
      |    LATERAL (SELECT unnest(range(y0, y1)) AS sy) ys
      |  GROUP BY k, gx, gy),
      |hb AS (SELECT a.k,
      |    CAST(sum(CASE WHEN b.l > a.l
      |      THEN (CAST(1 AS BIGINT) << (a.gy*7 + a.gx)) ELSE 0 END) AS BIGINT)
      |      AS hash
      |  FROM g a JOIN g b ON a.k = b.k AND b.gy = a.gy AND b.gx = a.gx + 1
      |  WHERE a.gx < 7
      |  GROUP BY a.k),
      |p AS (SELECT a.k AS id_1, b.k AS id_2
      |  FROM hb a JOIN hb b ON a.k < b.k
      |  WHERE bit_count(xor(a.hash, b.hash)) <= 3),
      |edges AS (SELECT id_1 AS a, id_2 AS b FROM p
      |          UNION SELECT id_2, id_1 FROM p),
      |reach(a, r) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT e.a, r.r FROM edges e JOIN reach r ON r.a = e.b),
      |cc AS (SELECT a AS id, least(a, min(r)) AS cluster_id
      |  FROM reach GROUP BY a)
      |SELECT k AS doc_id FROM hb
      |WHERE k NOT IN (SELECT id FROM cc WHERE id <> cluster_id)
      |ORDER BY doc_id""".stripMargin

  /** q125: the streaming ingest gate's batch replay — shared-constant
    * Gopher rules, EXACT 13-gram decontamination standing in for the
    * Bloom probe (zero false negatives; false positives ~1e-17 at the
    * fixture's sizing — the repo's exact-at-fixture convention), then the
    * identical redaction chain with raw-text PII counts.
    */
  val q125: String = {
    val pats = graft.ops.TextAnalysis.piiPatterns.toMap
    val chain = graft.ops.TextAnalysis.PiiPlaceholders.foldLeft("txt") {
      case (acc, (nm, ph)) => s"regexp_replace($acc, '${pats(nm)}', '$ph', 'g')"
    }
    val T = graft.ops.TextAnalysis.Sql
    val gop = T.gopherRules("src", "doc_id", "txt", 50L, 100000L)
    val n = 13
    val gram = (0 until n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    def cnt(p: String) = s"CAST(len(regexp_extract_all(txt, '$p')) AS BIGINT)"
    s"""WITH src AS (SELECT doc_id,
       |  CASE WHEN doc_id % 10 = 0 THEN 'short doc'
       |       WHEN doc_id % 9 = 1 THEN '${graft.Queries.q91Passage}'
       |       ELSE substr(text, 1, 300) || ' contact user' ||
       |            CAST(doc_id % 40 AS VARCHAR) ||
       |            '@example.com and they should review the rest of that plan with care' END AS txt
       |  FROM documents WHERE doc_id < 150),
       |gop AS ($gop),
       |keptg AS (SELECT s.doc_id, s.txt FROM src s
       |          JOIN gop ON gop.id = s.doc_id WHERE gop.pass),
       |bg AS (SELECT DISTINCT g FROM (
       |    SELECT unnest(list_transform(range(1, len(toks) - ${n - 2}), i -> $gram)) AS g
       |    FROM (SELECT regexp_extract_all(lower('${graft.Queries.q91Passage}'), '\\S+') AS toks))),
       |cg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - ${n - 2}), i -> $gram)) AS g
       |    FROM (SELECT doc_id, regexp_extract_all(lower(txt), '\\S+') AS toks FROM keptg)
       |    WHERE len(toks) >= $n),
       |hit AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g)),
       |clean AS (SELECT k.doc_id, k.txt FROM keptg k
       |          LEFT JOIN hit ON hit.doc_id = k.doc_id WHERE hit.doc_id IS NULL)
       |SELECT doc_id, red AS txt, pii_emails, pii_urls, pii_ips, pii_phones
       |FROM (SELECT doc_id, $chain AS red,
       |  ${cnt(pats("emails"))} AS pii_emails,
       |  ${cnt(pats("urls"))} AS pii_urls,
       |  ${cnt(pats("ips"))} AS pii_ips,
       |  ${cnt(pats("phones"))} AS pii_phones
       |  FROM clean)
       |ORDER BY doc_id""".stripMargin
  }

  /** q99: key-skew profile — exact counts, heaviest-first with value
    * tie-break, share over the exact total.
    */
  val q99: String =
    """WITH c AS (SELECT CAST(l_suppkey AS VARCHAR) AS value,
      |           CAST(count(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
      |SELECT value, cnt,
      |  round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
      |FROM c CROSS JOIN t
      |ORDER BY cnt DESC, value ASC LIMIT 10""".stripMargin

  /** q126: robust (median/IQR) scaling — quantile_cont is the same
    * linearly-interpolated order statistic as the Scala exact-quantile fit,
    * so the literal (x − med)/(q3 − q1) mirrors the driver-side fit
    * arithmetic operation-for-operation.
    */
  val q126: String =
    """WITH f AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
      |  quantile_cont(l_extendedprice, 0.50) AS med,
      |  quantile_cont(l_extendedprice, 0.75) AS q3 FROM lineitem)
      |SELECT l_orderkey, l_linenumber,
      |  round((l_extendedprice - f.med) / (f.q3 - f.q1), 4) AS rscaled
      |FROM lineitem, f WHERE l_orderkey < 200
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q127: winsorization at the exact 5th/95th percentiles. The null gate
    * mirrors the Scala side: least/greatest skip nulls in both engines,
    * so the CASE keeps null values null instead of clamping them.
    */
  val q127: String =
    """WITH f AS (SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
      |  quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem)
      |SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_extendedprice IS NULL THEN NULL
      |    ELSE round(greatest(least(l_extendedprice, f.hi), f.lo), 4)
      |  END AS wins
      |FROM lineitem, f WHERE l_orderkey < 200
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q128: candidate-key profile — exact distinct/null counts per
    * candidate, key = unique and non-null (the reference's index
    * contract).
    */
  val q128: String = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val rows = cols.map { c =>
      s"""SELECT '$c' AS column_name, s.n AS n_rows, s.d_$c AS n_distinct,
         |  s.z_$c AS n_null, (s.z_$c = 0 AND s.d_$c = s.n) AS is_key FROM s"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    val aggs = cols.map(c =>
      s"CAST(count(DISTINCT $c) AS BIGINT) AS d_$c, " +
        s"CAST(count(*) FILTER (WHERE $c IS NULL) AS BIGINT) AS z_$c")
      .mkString(",\n  ")
    s"""WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  $aggs FROM customer)
       |$rows
       |ORDER BY column_name""".stripMargin
  }

  /** q129: functional dependencies — count(DISTINCT a) equals the pair
    * distinct count over rows where both are non-null; the filtered
    * struct count mirrors Spark's any-null-skipping multi-argument
    * distinct count.
    */
  val q129: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderpriority")
    val pairs = for { a <- cols; b <- cols if a != b } yield (a, b)
    val rows = pairs.map { case (a, b) =>
      val da = s"CAST(count(DISTINCT $a) FILTER (WHERE $b IS NOT NULL) AS BIGINT)"
      val dp = s"CAST(count(DISTINCT ($a, $b)) FILTER " +
        s"(WHERE $a IS NOT NULL AND $b IS NOT NULL) AS BIGINT)"
      s"""SELECT '$a' AS determinant, '$b' AS dependent,
         |  $da AS n_determinant, $dp AS n_pairs, ($da = $dp) AS holds,
         |  TRUE AS is_exact
         |FROM orders""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$rows
       |ORDER BY determinant, dependent""".stripMargin
  }

  /** q130: Shannon entropy per column — the oracle writes the SAME
    * algebraic shape as the Scala side (H = ln N − Σc·ln c / N, one plain
    * aggregate) so the floating-point evaluation matches.
    */
  val q130: String = {
    val cols = Seq("o_custkey", "o_orderpriority", "o_orderstatus")
    val melt = cols.map(c =>
      s"SELECT '$c' AS column_name, CAST($c AS VARCHAR) AS value FROM orders")
      .mkString("\nUNION ALL\n")
    s"""WITH m AS ($melt),
       |c AS (SELECT column_name, value, CAST(count(*) AS BIGINT) AS cnt
       |  FROM m WHERE value IS NOT NULL GROUP BY column_name, value)
       |SELECT column_name, CAST(sum(cnt) AS BIGINT) AS n,
       |  CAST(count(*) AS BIGINT) AS n_distinct,
       |  round(ln(CAST(sum(cnt) AS DOUBLE)) -
       |    sum(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE))) /
       |    CAST(sum(cnt) AS DOUBLE), 6) AS entropy,
       |  CASE WHEN count(*) = 1 THEN 0.0
       |    ELSE round((ln(CAST(sum(cnt) AS DOUBLE)) -
       |      sum(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE))) /
       |      CAST(sum(cnt) AS DOUBLE)) / ln(CAST(count(*) AS DOUBLE)), 6)
       |  END AS normalized_entropy
       |FROM c GROUP BY column_name ORDER BY column_name""".stripMargin
  }

  /** q131: k-anonymity — class sizes from one GROUP BY, reduced to the
    * single report row.
    */
  val q131: String =
    """WITH cls AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(count(*) AS BIGINT) AS sz
      |  FROM customer GROUP BY c_nationkey, c_mktsegment)
      |SELECT CAST(50 AS BIGINT) AS k,
      |  CAST(sum(sz) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_classes,
      |  CAST(min(sz) AS BIGINT) AS min_class_size,
      |  CAST(count(*) FILTER (WHERE sz < 50) AS BIGINT) AS classes_below_k,
      |  CAST(coalesce(sum(sz) FILTER (WHERE sz < 50), 0) AS BIGINT)
      |    AS rows_below_k,
      |  round(CAST(coalesce(sum(sz) FILTER (WHERE sz < 50), 0) AS DOUBLE) /
      |    CAST(sum(sz) AS DOUBLE), 6) AS share_below_k,
      |  (min(sz) >= 50) AS is_k_anonymous
      |FROM cls""".stripMargin

  /** q132: l-diversity — distinct sensitive values per class, reduced to
    * the single report row.
    */
  val q132: String =
    """WITH cls AS (SELECT o_orderstatus, o_orderpriority,
      |    CAST(count(*) AS BIGINT) AS sz,
      |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS dv
      |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
      |SELECT CAST(3 AS BIGINT) AS l,
      |  CAST(count(*) AS BIGINT) AS n_classes,
      |  CAST(min(dv) AS BIGINT) AS min_diversity,
      |  CAST(count(*) FILTER (WHERE dv < 3) AS BIGINT) AS classes_below_l,
      |  CAST(coalesce(sum(sz) FILTER (WHERE dv < 3), 0) AS BIGINT)
      |    AS rows_below_l,
      |  round(CAST(coalesce(sum(sz) FILTER (WHERE dv < 3), 0) AS DOUBLE) /
      |    CAST(sum(sz) AS DOUBLE), 6) AS share_below_l,
      |  (min(dv) >= 3) AS is_l_diverse
      |FROM cls""".stripMargin

  /** q133: fuzzy self-join — the oracle is the brute-force quadratic join
    * the PassJoin blocking replaces; DuckDB's levenshtein is the same
    * unit-cost metric as Spark's.
    */
  val q133: String =
    """SELECT a.s_suppkey AS id_1, b.s_suppkey AS id_2,
      |  levenshtein(a.s_name, b.s_name) AS dist
      |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
      |WHERE levenshtein(a.s_name, b.s_name) <= 1
      |ORDER BY id_1, id_2""".stripMargin

  /** q134: snapshot diff — both snapshots derived deterministically from
    * orders; IS DISTINCT FROM mirrors the engine's null-safe compare and
    * the changed-column list is built the same way (fixed column order,
    * comma-joined).
    */
  val q134: String = {
    val cmp = Seq("o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val diffs = cmp.map(c => s"(o.$c IS DISTINCT FROM n.$c)")
    val names = cmp.map(c =>
      s"CASE WHEN o.$c IS DISTINCT FROM n.$c THEN '$c' END")
    s"""WITH o AS (SELECT *, TRUE AS present FROM orders),
       |n AS (SELECT *, TRUE AS present FROM (
       |  SELECT o_orderkey, o_custkey, o_orderstatus,
       |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
       |         ELSE o_totalprice END AS o_totalprice,
       |    o_orderdate,
       |    CASE WHEN o_orderkey % 5 = 0 THEN 'X-DIFF'
       |         ELSE o_orderpriority END AS o_orderpriority
       |  FROM orders WHERE o_orderkey % 13 <> 0
       |  UNION ALL
       |  SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus,
       |    o_totalprice, o_orderdate, o_orderpriority
       |  FROM orders WHERE o_orderkey % 11 = 0))
       |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       |  CASE WHEN o.present IS NULL THEN 'added'
       |       WHEN n.present IS NULL THEN 'removed'
       |       WHEN ${diffs.mkString(" OR ")} THEN 'changed'
       |       ELSE 'unchanged' END AS status,
       |  CASE WHEN o.present IS NULL OR n.present IS NULL THEN ''
       |       -- array_to_string of an empty list is NULL in DuckDB
       |       ELSE coalesce(array_to_string(list_filter(
       |         [${names.mkString(", ")}], x -> x IS NOT NULL), ','), '')
       |       END AS changed_cols,
       |  CASE WHEN o.present IS NULL OR n.present IS NULL THEN 0
       |       ELSE ${diffs.map(d => s"CAST($d AS INT)").mkString(" + ")}
       |       END AS n_changed
       |FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey
       |ORDER BY o_orderkey""".stripMargin
  }

  /** q135: C4 line cleaning — the line derivation and every predicate are
    * stated with the identical regex arithmetic (RE2 and Java agree on
    * these patterns); array_to_string needs the empty-list coalesce.
    */
  val q135: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      regexp_replace(text, '((\S+ ){20}\S+) ', '\1' || chr(10), 'g'),
      |      '((\S+ ){6}\S+) ', '\1.' || chr(10), 'g') AS t
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, t,
      |    list_transform(string_split(t, chr(10)), x -> trim(x)) AS lines,
      |    list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
      |      x -> len(regexp_extract_all(x, '\S+')) >= 3
      |        AND regexp_matches(x, '[.!?"'']$')
      |        AND NOT contains(lower(x), 'javascript')) AS kept
      |  FROM base),
      |f AS (
      |  SELECT doc_id, t, lines, kept,
      |    coalesce(array_to_string(kept, chr(10)), '') AS clean
      |  FROM k)
      |SELECT doc_id,
      |  CAST(len(lines) AS BIGINT) AS n_lines,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  CAST(len(regexp_extract_all(clean, '[.!?]')) AS BIGINT)
      |    AS n_sentences,
      |  (len(regexp_extract_all(clean, '[.!?]')) >= 3
      |    AND NOT contains(lower(t), 'lorem ipsum')
      |    AND NOT contains(t, '{')) AS page_kept,
      |  md5(clean) AS clean_md5
      |FROM f ORDER BY doc_id""".stripMargin

  /** q136: Gopher repetition signals — the unit construction (trimmed
    * non-empty lines + word n-grams over lowercased \S+ tokens), the
    * lexicographic (cnt, len) top-gram tie-break (struct max), and the
    * threshold table are all restated from the engine's single source of
    * truth ([[graft.ops.TextAnalysis.RepetitionThresholds]]).
    */
  val q136: String = {
    val topNs = Seq(2, 3, 4)
    val dupNs = Seq(5, 6, 7, 8, 9, 10)
    val th = graft.ops.TextAnalysis.RepetitionThresholds
    val gramBranches = (topNs ++ dupNs).map { n =>
      s"""  SELECT doc_id, chars, $n AS n,
         |    unnest([array_to_string(w[i:i+${n - 1}], ' ')
         |            for i in range(1, greatest(len(w) - ${n - 2}, 1))]) AS u
         |  FROM toks""".stripMargin
    }
    // the engine packs the (cnt, len) lexicographic max into one BIGINT
    // (len capped at 2^20-1) to stay hash-aggregable; mirror it exactly
    val topAggs = topNs.map(n =>
      s"    max(CASE WHEN n = $n THEN CAST(cnt AS BIGINT) * 1048576 + least(len, 1048575) END) AS _top$n")
    val dupAggs = dupNs.map(n =>
      s"    sum(CASE WHEN n = $n AND cnt >= 2 THEN cnt * len ELSE 0 END) AS _dup$n")
    def frac(num: String, den: String): String =
      s"round(least(CASE WHEN $den > 0 THEN CAST($num AS DOUBLE) / CAST($den AS DOUBLE) ELSE 0.0 END, 1.0), 4)"
    val measures =
      Seq("dup_line_frac" -> frac("_dupl", "_lines"),
        "dup_line_char_frac" -> frac("_duplc", "chars")) ++
      topNs.map(n => s"top_${n}gram_char_frac" ->
        frac(s"coalesce((_top$n // 1048576) * (_top$n % 1048576), 0)",
          "chars")) ++
      dupNs.map(n => s"dup_${n}gram_char_frac" -> frac(s"_dup$n", "chars"))
    val measureSelects = measures.map { case (name, e) => s"  $e AS $name" }
    val passExpr = measures.map { case (name, e) => s"$e <= ${th(name)}" }
      .mkString("(", " AND ", ")")
    s"""WITH toks AS (
       |  SELECT doc_id, length(text) AS chars,
       |    regexp_extract_all(lower(text), '\\S+') AS w, text
       |  FROM documents),
       |units AS (
       |  SELECT doc_id, chars, 0 AS n,
       |    unnest(list_filter(list_transform(string_split(text, chr(10)),
       |      x -> trim(x)), x -> x <> '')) AS u
       |  FROM toks
       |  UNION ALL
       |${gramBranches.mkString("  UNION ALL\n")}),
       |c AS (
       |  SELECT doc_id, chars, n, u, count(*) AS cnt, length(u) AS len
       |  FROM units GROUP BY doc_id, chars, n, u),
       |p AS (
       |  SELECT doc_id, chars,
       |    sum(CASE WHEN n = 0 THEN cnt ELSE 0 END) AS _lines,
       |    sum(CASE WHEN n = 0 AND cnt >= 2 THEN cnt ELSE 0 END) AS _dupl,
       |    sum(CASE WHEN n = 0 AND cnt >= 2 THEN cnt * len ELSE 0 END) AS _duplc,
       |${(topAggs ++ dupAggs).mkString(",\n")}
       |  FROM c GROUP BY doc_id, chars)
       |-- LEFT JOIN: a doc with no units (empty/null text) still reports
       |-- zeros, as the engine's explode_outer row does
       |SELECT d.doc_id,
       |${measureSelects.mkString(",\n")},
       |  $passExpr AS pass
       |FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q137: entity clusters — recursive transitive closure over the
    * symmetrized brute-force levenshtein edge set (the q65/q67 oracle
    * convention; O(V·E) closure is oracle-scale only, the engine side
    * iterates min-label propagation).
    */
  val q137: String = graft.ops.Dedup.Sql.closureSql(
    """SELECT a.s_suppkey AS id_1, b.s_suppkey AS id_2
      |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
      |WHERE levenshtein(a.s_name, b.s_name) <= 1""".stripMargin)

  /** q138: CMS point frequencies — exact counts, because the sketch width
    * (20000 cells) dwarfs the vocabulary (≤ 5 values) so no cells
    * collide; the sketch path being exact in this regime is the property
    * under test.
    */
  val q138: String =
    """WITH vals(column_name, value) AS (VALUES
      |  ('o_orderpriority', '1-URGENT'), ('o_orderpriority', '2-HIGH'),
      |  ('o_orderpriority', '3-MEDIUM'),
      |  ('o_orderpriority', '4-NOT SPECIFIED'),
      |  ('o_orderpriority', '5-LOW'),
      |  ('o_orderstatus', 'F'), ('o_orderstatus', 'O'),
      |  ('o_orderstatus', 'P'))
      |SELECT v.column_name, v.value,
      |  CAST((SELECT count(*) FROM orders o
      |        WHERE (v.column_name = 'o_orderpriority'
      |               AND o.o_orderpriority = v.value)
      |           OR (v.column_name = 'o_orderstatus'
      |               AND o.o_orderstatus = v.value)) AS BIGINT) AS estimate
      |FROM vals v ORDER BY column_name, value""".stripMargin

  /** q139: composite candidate keys — tuple distinct counts via a
    * filtered struct count (mirroring Spark's any-null-skipping
    * multi-argument distinct), any-null row counts, key = no null rows
    * and tuple-distinct == rows.
    */
  val q139: String = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    val tuples = (1 to 2).flatMap(k => cols.combinations(k).toSeq)
    val rows = tuples.map { cs =>
      val name = cs.mkString(",")
      val nonNull = cs.map(c => s"$c IS NOT NULL").mkString(" AND ")
      val anyNull = cs.map(c => s"$c IS NULL").mkString(" OR ")
      val tuple = if (cs.size == 1) cs.head else s"(${cs.mkString(", ")})"
      val d = s"CAST(count(DISTINCT $tuple) FILTER (WHERE $nonNull) AS BIGINT)"
      val z = s"CAST(count(*) FILTER (WHERE $anyNull) AS BIGINT)"
      s"""SELECT '$name' AS key_columns, ${cs.size} AS arity,
         |  CAST(count(*) AS BIGINT) AS n_rows, $d AS n_distinct,
         |  $z AS n_null_rows, ($z = 0 AND $d = count(*)) AS is_key,
         |  TRUE AS is_exact
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$rows
       |ORDER BY key_columns""".stripMargin
  }

  /** q140: multi-field linkage — the brute-force quadratic join with the
    * conjunction of both banded predicates; per-field distances mirror
    * the engine's `dist_<column>` naming.
    */
  val q140: String =
    """SELECT a.c_custkey AS id_1, b.c_custkey AS id_2,
      |  levenshtein(a.c_name, b.c_name) AS dist_c_name,
      |  levenshtein(a.c_mktsegment, b.c_mktsegment) AS dist_c_mktsegment
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |  AND levenshtein(a.c_mktsegment, b.c_mktsegment) <= 2
      |ORDER BY id_1, id_2""".stripMargin

  /** q141: TANE-staged key search — the oracle computes the FULL unpruned
    * lattice in SQL, derives the arity-1 key verdicts in a CTE, and gates
    * every arity-2 row on "contains no arity-1 key", so both the profile
    * values AND the prune set are pinned against the data (the engine
    * must emit exactly the non-implied candidates).
    */
  val q141: String = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    def profile(cs: Seq[String]): String = {
      val name = cs.mkString(",")
      val nonNull = cs.map(c => s"$c IS NOT NULL").mkString(" AND ")
      val anyNull = cs.map(c => s"$c IS NULL").mkString(" OR ")
      val tuple = if (cs.size == 1) cs.head else s"(${cs.mkString(", ")})"
      val d = s"CAST(count(DISTINCT $tuple) FILTER (WHERE $nonNull) AS BIGINT)"
      val z = s"CAST(count(*) FILTER (WHERE $anyNull) AS BIGINT)"
      s"""SELECT '$name' AS key_columns, ${cs.size} AS arity,
         |  CAST(count(*) AS BIGINT) AS n_rows, $d AS n_distinct,
         |  $z AS n_null_rows, ($z = 0 AND $d = count(*)) AS is_key,
         |  TRUE AS is_exact
         |FROM customer""".stripMargin
    }
    val k1 = cols.map(c =>
      s"""SELECT '$c' AS c,
         |  (count(*) FILTER (WHERE $c IS NULL) = 0
         |   AND count(DISTINCT $c) = count(*)) AS is_key
         |FROM customer""".stripMargin).mkString("\nUNION ALL\n")
    val a1 = cols.map(c => profile(Seq(c)))
    val a2 = cols.combinations(2).toSeq.map { cs =>
      val members = cs.map(c => s"'$c'").mkString(", ")
      s"""SELECT * FROM (
         |${profile(cs)}
         |) t WHERE NOT EXISTS (
         |  SELECT 1 FROM k1 WHERE k1.is_key AND k1.c IN ($members))"""
        .stripMargin
    }
    s"""WITH k1 AS (
       |$k1
       |)
       |${(a1 ++ a2).mkString("\nUNION ALL\n")}
       |ORDER BY key_columns""".stripMargin
  }

  /** q142: composite-determinant FDs — every measure restated in SQL
    * (determinant distinct filtered to rows where the dependent is also
    * non-null, mirroring Spark's any-null-skipping multi-argument
    * distinct), arity-1 verdicts derived in a CTE, and each arity-2 row
    * gated on "no contained determinant already holds for this
    * dependent" — the TANE prune itself is part of the oracled contract.
    */
  val q142: String = {
    val dets = Seq("o_orderkey", "o_custkey", "o_orderstatus")
    val deps = Seq("o_orderpriority", "o_totalprice")
    def measure(xs: Seq[String], c: String): String = {
      val name = xs.mkString(",")
      val allNN = (xs :+ c).map(x => s"$x IS NOT NULL").mkString(" AND ")
      val xTuple = if (xs.size == 1) xs.head else s"(${xs.mkString(", ")})"
      val pTuple = s"(${(xs :+ c).mkString(", ")})"
      val da = s"CAST(count(DISTINCT $xTuple) FILTER (WHERE $allNN) AS BIGINT)"
      val dp = s"CAST(count(DISTINCT $pTuple) FILTER (WHERE $allNN) AS BIGINT)"
      s"""SELECT '$name' AS determinant, ${xs.size} AS arity,
         |  '$c' AS dependent, $da AS n_determinant, $dp AS n_pairs,
         |  ($da = $dp) AS holds, TRUE AS is_exact
         |FROM orders""".stripMargin
    }
    val h1 = (for { x <- dets; c <- deps } yield {
      val nn = s"$x IS NOT NULL AND $c IS NOT NULL"
      val da = s"count(DISTINCT $x) FILTER (WHERE $nn)"
      val dp = s"count(DISTINCT ($x, $c)) FILTER (WHERE $nn)"
      s"SELECT '$x' AS x, '$c' AS c, ($da = $dp) AS holds FROM orders"
    }).mkString("\nUNION ALL\n")
    val a1 = for { x <- dets; c <- deps } yield measure(Seq(x), c)
    val a2 = for { xs <- dets.combinations(2).toSeq; c <- deps } yield {
      val members = xs.map(x => s"'$x'").mkString(", ")
      s"""SELECT * FROM (
         |${measure(xs, c)}
         |) t WHERE NOT EXISTS (
         |  SELECT 1 FROM h1
         |  WHERE h1.holds AND h1.c = '$c' AND h1.x IN ($members))"""
        .stripMargin
    }
    s"""WITH h1 AS (
       |$h1
       |)
       |${(a1 ++ a2).mkString("\nUNION ALL\n")}
       |ORDER BY determinant, dependent""".stripMargin
  }

  /** q143: the q141 lattice under the HLL screen — the oracle is q141's
    * with the (approximate-by-contract) n_distinct column projected
    * away: the screen's verdicts and the prune set must match exact SQL.
    */
  val q143: String =
    s"""SELECT key_columns, arity, n_rows, n_null_rows, is_key FROM (
       |$q141
       |) ORDER BY key_columns""".stripMargin

  /** q144: the q142 composite-FD lattice under the refute-only screen —
    * q142's oracle with the approximate count columns projected away.
    */
  val q144: String =
    s"""SELECT determinant, arity, dependent, holds FROM (
       |$q142
       |) ORDER BY determinant, dependent""".stripMargin

  /** q145: the q142 pattern extended to arity 3 — holding CTEs at arity
    * 1 AND 2, each level gated on "no holding subset at any smaller
    * arity". An UNMEASURED holding pair always contains a holding
    * single, so gating on all-pairs `holds` (which SQL can state
    * directly) selects exactly the engine's Apriori-generated measure
    * set.
    */
  val q145: String = {
    val dets = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    val dep = "o_totalprice"
    def measure(xs: Seq[String]): String = {
      val name = xs.mkString(",")
      val allNN = (xs :+ dep).map(x => s"$x IS NOT NULL").mkString(" AND ")
      val xTuple = if (xs.size == 1) xs.head else s"(${xs.mkString(", ")})"
      val pTuple = s"(${(xs :+ dep).mkString(", ")})"
      val da = s"CAST(count(DISTINCT $xTuple) FILTER (WHERE $allNN) AS BIGINT)"
      val dp = s"CAST(count(DISTINCT $pTuple) FILTER (WHERE $allNN) AS BIGINT)"
      s"""SELECT '$name' AS determinant, ${xs.size} AS arity,
         |  '$dep' AS dependent, $da AS n_determinant, $dp AS n_pairs,
         |  ($da = $dp) AS holds, TRUE AS is_exact
         |FROM orders""".stripMargin
    }
    def holdsSelect(xs: Seq[String]): String = {
      val nn = (xs :+ dep).map(x => s"$x IS NOT NULL").mkString(" AND ")
      val xT = if (xs.size == 1) xs.head else s"(${xs.mkString(", ")})"
      val pT = s"(${(xs :+ dep).mkString(", ")})"
      s"""SELECT '${xs.mkString(",")}' AS d,
         |  (count(DISTINCT $xT) FILTER (WHERE $nn) =
         |   count(DISTINCT $pT) FILTER (WHERE $nn)) AS holds
         |FROM orders""".stripMargin
    }
    val h1 = dets.map(x => holdsSelect(Seq(x))).mkString("\nUNION ALL\n")
    val h2 = dets.combinations(2).toSeq.map(holdsSelect)
      .mkString("\nUNION ALL\n")
    def gate(body: String, subsets: Seq[Seq[String]]): String = {
      val singles = subsets.filter(_.size == 1)
        .map(s => s"'${s.head}'").mkString(", ")
      val pairs = subsets.filter(_.size == 2)
        .map(s => s"'${s.mkString(",")}'").mkString(", ")
      val g1 =
        s"NOT EXISTS (SELECT 1 FROM h1 WHERE h1.holds AND h1.d IN ($singles))"
      val g2 = if (pairs.isEmpty) "" else
        s" AND NOT EXISTS (SELECT 1 FROM h2 WHERE h2.holds AND h2.d IN ($pairs))"
      s"""SELECT * FROM (
         |$body
         |) t WHERE $g1$g2""".stripMargin
    }
    val a1 = dets.map(x => measure(Seq(x)))
    val a2 = dets.combinations(2).toSeq.map(xs =>
      gate(measure(xs), xs.map(Seq(_))))
    val a3 = dets.combinations(3).toSeq.map(xs =>
      gate(measure(xs), xs.map(Seq(_)) ++ xs.combinations(2).toSeq))
    s"""WITH h1 AS (
       |$h1
       |), h2 AS (
       |$h2
       |)
       |${(a1 ++ a2 ++ a3).mkString("\nUNION ALL\n")}
       |ORDER BY determinant, dependent""".stripMargin
  }

  /** q146: MJPEG pixel decode — the fixture's block-constant grayscale
    * frames round-trip the JPEG codec exactly (DC-only blocks at unit
    * quantization), so every decoded statistic is recomputed here from
    * the block-value formula (7k + 13f + 29bi) % 256: per-frame luma mean
    * is the mean of the 8 block values (each block covers 64 of 512
    * pixels), min/max are the block extrema, dimensions are the encoded
    * 32×16, and frame timestamps follow the container's 25 fps
    * (frame_idx · 40 ms).
    */
  val q146: String =
    """WITH px AS (
      |  SELECT d.doc_id, f.f AS frame_idx, b.b AS bi,
      |         (d.doc_id * 7 + f.f * 13 + b.b * 29) % 256 AS v
      |  FROM (SELECT doc_id FROM documents WHERE doc_id < 40) d,
      |       LATERAL (SELECT unnest(range(0, 3)) AS f) f,
      |       LATERAL (SELECT unnest(range(0, 8)) AS b) b)
      |SELECT doc_id, frame_idx, frame_idx * 40 AS ts_ms,
      |       32 AS frame_width, 16 AS frame_height,
      |       sum(v) / 8.0 AS luma_mean,
      |       min(v) AS luma_min, max(v) AS luma_max
      |FROM px GROUP BY doc_id, frame_idx
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** q147: inclusion dependencies — per pair, the exact distinct counts
    * and the count of distinct left values with no right match, all on
    * the STRING-cast comparison the engine documents (integer columns:
    * both engines' casts agree).
    */
  val q147: String = {
    def pair(lt: String, lc: String, rt: String, rc: String): String =
      s"""SELECT left_column, right_column, n_left_distinct,
         |  n_right_distinct, n_missing,
         |  CASE WHEN n_left_distinct = 0 THEN 1.0
         |    ELSE CAST(n_left_distinct - n_missing AS DOUBLE)
         |      / n_left_distinct END AS coverage,
         |  n_missing = 0 AS holds,
         |  TRUE AS is_exact FROM (
         |  SELECT '$lc' AS left_column, '$rc' AS right_column,
         |    (SELECT count(DISTINCT CAST($lc AS VARCHAR)) FROM $lt
         |       WHERE $lc IS NOT NULL) AS n_left_distinct,
         |    (SELECT count(DISTINCT CAST($rc AS VARCHAR)) FROM $rt
         |       WHERE $rc IS NOT NULL) AS n_right_distinct,
         |    (SELECT count(*) FROM
         |       (SELECT DISTINCT CAST($lc AS VARCHAR) AS v FROM $lt
         |          WHERE $lc IS NOT NULL) a
         |       WHERE NOT EXISTS (SELECT 1 FROM $rt
         |          WHERE CAST($rc AS VARCHAR) = a.v)) AS n_missing
         |) t""".stripMargin
    Seq(
      pair("lineitem", "l_orderkey", "orders", "o_orderkey"),
      pair("lineitem", "l_suppkey", "orders", "o_orderkey"),
      pair("orders", "o_custkey", "customer", "c_custkey"),
      pair("customer", "c_custkey", "orders", "o_custkey"),
      pair("lineitem", "l_suppkey", "supplier", "s_suppkey"))
      .mkString("", "\nUNION ALL\n",
        "\nORDER BY left_column, right_column")
  }

  /** q148: t-closeness — the engine's exact-integer numerator per class
    * (½·[Σ|c·n − g·sz| + (n − Σg)·sz] / (sz·n)) written identically, one
    * double division at the end, so doubles match bit-for-bit.
    */
  val q148: String =
    """WITH nn AS (SELECT source, lang FROM documents
      |    WHERE lang IS NOT NULL),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nn),
      |g AS (SELECT lang AS v, CAST(count(*) AS BIGINT) AS gc
      |  FROM nn GROUP BY 1),
      |cv AS (SELECT source, lang AS v, CAST(count(*) AS BIGINT) AS c
      |  FROM nn GROUP BY 1, 2),
      |cz AS (SELECT cv.*,
      |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS sz
      |  FROM cv),
      |cls AS (SELECT source, any_value(sz) AS sz,
      |    CAST(sum(abs(c * n - gc * sz)) +
      |      (n - sum(gc)) * any_value(sz) AS BIGINT) AS num
      |  FROM cz JOIN g USING (v) CROSS JOIN tot GROUP BY source, n),
      |d AS (SELECT sz,
      |    CAST(num AS DOUBLE) / (2.0 * sz * (SELECT n FROM tot)) AS dist
      |  FROM cls)
      |SELECT CAST(0.02 AS DOUBLE) AS t,
      |  (SELECT n FROM tot) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_classes,
      |  coalesce(max(dist), 0.0) AS max_distance,
      |  CAST(count(*) FILTER (WHERE dist > 0.02) AS BIGINT)
      |    AS classes_above_t,
      |  CAST(coalesce(sum(sz) FILTER (WHERE dist > 0.02), 0) AS BIGINT)
      |    AS rows_above_t,
      |  round(CAST(coalesce(sum(sz) FILTER (WHERE dist > 0.02), 0)
      |      AS DOUBLE) / (SELECT n FROM tot), 6) AS share_above_t,
      |  (coalesce(max(dist), 0.0) <= 0.02) AS is_t_close
      |FROM d""".stripMargin

  /** q149: composite inclusion dependencies — tuple containment restated
    * as DISTINCT multi-column sets with string-cast components and a
    * NOT EXISTS all-components equality (null right components fail the
    * equality, which IS the "right nulls match nothing" rule; left
    * any-null tuples are filtered, the MATCH SIMPLE rule).
    */
  val q149: String = {
    // the sweep builders with the table-name columns projected away —
    // ONE copy of the composite-IND oracle convention serves q149/q152/q153
    def cpair(lsrc: String, lcs: Seq[String],
              rsrc: String, rcs: Seq[String]): String =
      s"""SELECT left_columns, right_columns, arity, n_left_distinct,
         |  n_right_distinct, n_missing, coverage, holds, is_exact FROM (
         |${sweepSelect(sweepRow("", lsrc, lcs, "", rsrc, rcs))}
         |) p""".stripMargin
    val slice = "(SELECT * FROM lineitem WHERE l_orderkey < 2000)"
    Seq(
      cpair("lineitem", Seq("l_orderkey", "l_linestatus"),
        "orders", Seq("o_orderkey", "o_orderstatus")),
      cpair("lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey")),
      cpair("lineitem", Seq("l_orderkey", "l_suppkey"),
        "orders", Seq("o_orderkey", "o_custkey")),
      cpair(slice, Seq("l_orderkey", "l_linenumber"),
        "lineitem", Seq("l_orderkey", "l_linenumber")),
      cpair("lineitem", Seq("l_orderkey", "l_linenumber"),
        slice, Seq("l_orderkey", "l_linenumber")))
      .mkString("", "\nUNION ALL\n",
        "\nORDER BY left_columns, right_columns, n_missing")
  }

  /** q150: ordered-attribute t-closeness (EMD) — cumulative
    * exact-integer differences over the global value vocabulary in value
    * order, Σ|cumulative| / ((m−1)·sz·n) with ONE double division of two
    * exact integers (both < 2⁵³ at any bench scale, so the doubles are
    * the exact integers and the division is bit-identical across
    * engines).
    */
  val q150: String =
    """WITH nn AS (SELECT l_returnflag AS q1, l_linestatus AS q2,
      |    l_quantity AS s FROM lineitem WHERE l_quantity IS NOT NULL),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(DISTINCT s) AS BIGINT) AS m FROM nn),
      |g AS (SELECT s AS v, CAST(count(*) AS BIGINT) AS gc
      |  FROM nn GROUP BY 1),
      |sz AS (SELECT q1, q2, CAST(count(*) AS BIGINT) AS sz
      |  FROM nn GROUP BY 1, 2),
      |cv AS (SELECT q1, q2, s AS v, CAST(count(*) AS BIGINT) AS c
      |  FROM nn GROUP BY 1, 2, 3),
      |grid AS (SELECT sz.q1, sz.q2, sz.sz, g.v, g.gc,
      |    coalesce(cv.c, 0) AS c
      |  FROM sz CROSS JOIN g
      |  LEFT JOIN cv ON cv.q1 = sz.q1 AND cv.q2 = sz.q2 AND cv.v = g.v),
      |cum AS (SELECT q1, q2, sz,
      |    sum(c * (SELECT n FROM tot) - gc * sz)
      |      OVER (PARTITION BY q1, q2 ORDER BY v
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
      |  FROM grid),
      |cls AS (SELECT q1, q2, any_value(sz) AS sz, sum(abs(r)) AS num
      |  FROM cum GROUP BY q1, q2),
      |d AS (SELECT sz, CASE WHEN (SELECT m FROM tot) > 1 THEN
      |    CAST(num AS DOUBLE) /
      |      CAST(((SELECT m FROM tot) - 1) * sz * (SELECT n FROM tot)
      |        AS DOUBLE)
      |    ELSE 0.0 END AS dist FROM cls)
      |SELECT CAST(0.003 AS DOUBLE) AS t,
      |  (SELECT n FROM tot) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_classes,
      |  coalesce(max(dist), 0.0) AS max_distance,
      |  CAST(count(*) FILTER (WHERE dist > 0.003) AS BIGINT)
      |    AS classes_above_t,
      |  CAST(coalesce(sum(sz) FILTER (WHERE dist > 0.003), 0) AS BIGINT)
      |    AS rows_above_t,
      |  round(CAST(coalesce(sum(sz) FILTER (WHERE dist > 0.003), 0)
      |      AS DOUBLE) / (SELECT n FROM tot), 6) AS share_above_t,
      |  (coalesce(max(dist), 0.0) <= 0.003) AS is_t_close
      |FROM d""".stripMargin

  /** Shared builders for the IND-sweep oracles (q152/q153): counts and
    * misses on the STRING-cast comparison, tuple misses via NOT EXISTS on
    * every component (the q149 convention), table names in the output.
    */
  private def sweepUnaryMiss(lsrc: String, lc: String,
                             rsrc: String, rc: String): String =
    s"""(SELECT count(*) FROM
       |  (SELECT DISTINCT CAST($lc AS VARCHAR) AS v FROM $lsrc
       |     WHERE $lc IS NOT NULL) a
       |  WHERE NOT EXISTS (SELECT 1 FROM $rsrc
       |     WHERE CAST($rc AS VARCHAR) = a.v))""".stripMargin

  private def sweepRow(lt: String, lsrc: String, lcs: Seq[String],
                       rt: String, rsrc: String, rcs: Seq[String]): String = {
    val k = lcs.size
    val lsel = lcs.zipWithIndex.map { case (c, i) =>
      s"CAST($c AS VARCHAR) AS v$i" }.mkString(", ")
    val lnn = lcs.map(c => s"$c IS NOT NULL").mkString(" AND ")
    val rsel = rcs.zipWithIndex.map { case (c, i) =>
      s"CAST($c AS VARCHAR) AS v$i" }.mkString(", ")
    val rnn = rcs.map(c => s"$c IS NOT NULL").mkString(" AND ")
    val eq = rcs.zipWithIndex.map { case (c, i) =>
      s"CAST(r.$c AS VARCHAR) = a.v$i" }.mkString(" AND ")
    s"""SELECT '$lt' AS left_table, '${lcs.mkString(",")}' AS left_columns,
       |  '$rt' AS right_table, '${rcs.mkString(",")}' AS right_columns,
       |  $k AS arity,
       |  (SELECT count(*) FROM
       |     (SELECT DISTINCT $lsel FROM $lsrc WHERE $lnn) x)
       |    AS n_left_distinct,
       |  (SELECT count(*) FROM
       |     (SELECT DISTINCT $rsel FROM $rsrc WHERE $rnn) x)
       |    AS n_right_distinct,
       |  (SELECT count(*) FROM
       |     (SELECT DISTINCT $lsel FROM $lsrc WHERE $lnn) a
       |     WHERE NOT EXISTS (SELECT 1 FROM $rsrc r WHERE $eq))
       |    AS n_missing""".stripMargin
  }

  private def sweepSelect(inner: String, where: String = "",
                          theta: Double = 1.0): String = {
    // θ = 1 is the classic IND; θ < 1 the partial-IND verdict — the
    // (1.0 - θ) subtraction is written out, not pre-computed, so DuckDB
    // evaluates the same IEEE ops the Scala side does
    val holds =
      if (theta == 1.0) "n_missing = 0"
      else s"CAST(n_missing AS DOUBLE) <= (1.0 - $theta) * n_left_distinct"
    s"""SELECT left_table, left_columns, right_table, right_columns,
       |  arity, n_left_distinct, n_right_distinct, n_missing,
       |  CASE WHEN n_left_distinct = 0 THEN 1.0
       |    ELSE CAST(n_left_distinct - n_missing AS DOUBLE)
       |      / n_left_distinct END AS coverage,
       |  $holds AS holds, TRUE AS is_exact FROM (
       |$inner
       |) t$where""".stripMargin
  }

  /** q152: the schema-wide unary IND sweep — the q147 per-pair SQL lifted
    * to every cross-table column pair of the 4-table star.
    */
  val q152: String = {
    val tabs = Seq(
      "region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_regionkey", "n_name"),
      "customer" -> Seq("c_custkey", "c_nationkey"),
      "supplier" -> Seq("s_suppkey", "s_nationkey"))
    val blocks = for {
      (lt, lcs) <- tabs; (rt, rcs) <- tabs if lt != rt
      a <- lcs; b <- rcs
    } yield sweepSelect(sweepRow(lt, lt, Seq(a), rt, rt, Seq(b)))
    blocks.mkString("", "\nUNION ALL\n",
      "\nORDER BY left_table, left_columns, right_table, right_columns")
  }

  /** q153: the composite-arity sweep — every unary candidate, plus a
    * level-2 row EXACTLY where the MIND generation rule admits one (both
    * unary projections hold, gated in the WHERE clause), so the oracle
    * pins the lattice walk itself as well as every measured count.
    */
  val q153: String = {
    // (name, source SQL, columns)
    val tabs = Seq(
      ("customer", "customer", Seq("c_custkey", "c_nationkey")),
      ("supplier", "supplier", Seq("s_suppkey", "s_nationkey")),
      ("docs", "documents", Seq("source", "lang")),
      ("head", "(SELECT * FROM documents WHERE doc_id < 300)",
        Seq("source", "lang")))
    val unary = for {
      (lt, lsrc, lcs) <- tabs; (rt, rsrc, rcs) <- tabs if lt != rt
      a <- lcs; b <- rcs
    } yield sweepSelect(sweepRow(lt, lsrc, Seq(a), rt, rsrc, Seq(b)))
    // arity-2 candidates per ordered table pair over (x1,x2) × (y1,y2):
    // {(x1,y1),(x2,y2)} and {(x1,y2),(x2,y1)} — each emitted only when
    // BOTH member unary INDs hold (the MIND/Apriori projection rule)
    val level2 = for {
      (lt, lsrc, lcs) <- tabs; (rt, rsrc, rcs) <- tabs if lt != rt
      combo <- Seq(Seq(rcs(0), rcs(1)), Seq(rcs(1), rcs(0)))
    } yield sweepSelect(
      sweepRow(lt, lsrc, lcs, rt, rsrc, combo),
      where = s"""
        |WHERE ${sweepUnaryMiss(lsrc, lcs(0), rsrc, combo(0))} = 0
        |  AND ${sweepUnaryMiss(lsrc, lcs(1), rsrc, combo(1))} = 0""".stripMargin)
    (unary ++ level2).mkString("", "\nUNION ALL\n",
      "\nORDER BY arity, left_table, left_columns, right_table, right_columns")
  }

  /** q154: approximate FDs — the TANE g₃ error recomputed exactly
    * (per-(X,c) group counts → per-X (sum, max) → one global row), with
    * g3 and holds written as the engine's own expressions (one double
    * division / one double compare of exact integers). Level-2 blocks
    * are gated on BOTH unary projections being non-holding — the
    * Apriori generation rule pinned in SQL, the q153 convention.
    */
  val q154: String = {
    val eps = "0.3"
    // exact (n_rows, n_kept) for X -> c over lineitem, the engine's
    // two-level aggregation restated
    def counts(xs: Seq[String], c: String): String = {
      val xsel = xs.mkString(", ")
      val nn = (xs :+ c).map(x => s"$x IS NOT NULL").mkString(" AND ")
      s"""(SELECT CAST(coalesce(sum(nx), 0) AS BIGINT) AS n_rows,
         |    CAST(coalesce(sum(mx), 0) AS BIGINT) AS n_kept FROM (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS nx, max(cnt) AS mx FROM (
         |    SELECT $xsel, $c, CAST(count(*) AS BIGINT) AS cnt
         |    FROM lineitem WHERE $nn GROUP BY $xsel, $c) g
         |  GROUP BY $xsel) p)""".stripMargin
    }
    def unaryNotHolding(x: String, c: String): String =
      s"""NOT (SELECT CAST(n_rows - n_kept AS DOUBLE) <= $eps * n_rows
         |  FROM ${counts(Seq(x), c)} u)""".stripMargin
    def m(xs: Seq[String], c: String, gate: String = ""): String =
      s"""SELECT '${xs.mkString(",")}' AS determinant,
         |  ${xs.size} AS arity, '$c' AS dependent, n_rows, n_kept,
         |  CASE WHEN n_rows = 0 THEN 0.0
         |    ELSE CAST(n_rows - n_kept AS DOUBLE) / n_rows END AS g3,
         |  CAST(n_rows - n_kept AS DOUBLE) <= $eps * n_rows AS holds,
         |  TRUE AS is_exact
         |FROM ${counts(xs, c)} t$gate""".stripMargin
    val dets = Seq("l_orderkey", "l_linenumber", "l_suppkey")
    val deps = Seq("l_returnflag", "l_linestatus")
    val unary = for (c <- deps; x <- dets) yield m(Seq(x), c)
    val level2 = for {
      c <- deps
      pair <- dets.combinations(2).toSeq
    } yield m(pair, c, gate =
      s"""
         |WHERE ${unaryNotHolding(pair(0), c)}
         |  AND ${unaryNotHolding(pair(1), c)}""".stripMargin)
    (unary ++ level2).mkString("", "\nUNION ALL\n",
      "\nORDER BY arity, determinant, dependent")
  }

  /** q155: partial INDs — the q149 convention with the θ = 0.6 holds
    * relaxation and the coverage quotient, all exact integers with one
    * double division/compare.
    */
  val q155: String = {
    def ppair(lsrc: String, lcs: Seq[String],
              rsrc: String, rcs: Seq[String]): String =
      s"""SELECT left_columns, right_columns, arity, n_left_distinct,
         |  n_right_distinct, n_missing, coverage, holds, is_exact FROM (
         |${sweepSelect(sweepRow("", lsrc, lcs, "", rsrc, rcs), theta = 0.6)}
         |) p""".stripMargin
    val head = "(SELECT * FROM documents WHERE doc_id < 300)"
    Seq(
      ppair("customer", Seq("c_custkey"), "orders", Seq("o_custkey")),
      ppair("orders", Seq("o_custkey"), "customer", Seq("c_custkey")),
      ppair("part", Seq("p_partkey"), "lineitem", Seq("l_partkey")),
      ppair("documents", Seq("source", "lang"), head, Seq("source", "lang")))
      .mkString("", "\nUNION ALL\n",
        "\nORDER BY left_columns, right_columns, n_missing")
  }

  /** q156: approximate keys — the g₃ uniqueness error recomputed exactly
    * (n, distinct complete tuples, any-null rows per candidate), with
    * error and holds written as the engine's own expressions and level-2
    * rows gated on BOTH unary projections failing — the q154 Apriori
    * convention lifted to the key lattice.
    */
  val q156: String = {
    val eps = "0.15"
    def counts(cs: Seq[String]): String = {
      val sel = cs.mkString(", ")
      val nn = cs.map(c => s"$c IS NOT NULL").mkString(" AND ")
      val anyNull = cs.map(c => s"$c IS NULL").mkString(" OR ")
      s"""(SELECT (SELECT count(*) FROM lineitem) AS n_rows,
         |  (SELECT count(*) FROM (
         |     SELECT DISTINCT $sel FROM lineitem WHERE $nn) d)
         |    AS n_distinct,
         |  (SELECT count(*) FROM lineitem WHERE $anyNull) AS n_any_null)""".stripMargin
    }
    def unaryNotHolding(c: String): String =
      s"""NOT (SELECT CAST(n_rows - n_distinct AS DOUBLE) <= $eps * n_rows
         |  FROM ${counts(Seq(c))} u)""".stripMargin
    def m(cs: Seq[String], gate: String = ""): String =
      s"""SELECT '${cs.mkString(",")}' AS columns, ${cs.size} AS arity,
         |  n_rows, n_distinct, n_any_null,
         |  CASE WHEN n_rows = 0 THEN 0.0
         |    ELSE CAST(n_rows - n_distinct AS DOUBLE) / n_rows
         |  END AS uniqueness_error,
         |  CAST(n_rows - n_distinct AS DOUBLE) <= $eps * n_rows AS holds,
         |  TRUE AS is_exact
         |FROM ${counts(cs)} t$gate""".stripMargin
    val cols = Seq("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey")
    val unary = cols.map(c => m(Seq(c)))
    val level2 = cols.combinations(2).toSeq.map(pair =>
      m(pair, gate =
        s"""
           |WHERE ${unaryNotHolding(pair(0))}
           |  AND ${unaryNotHolding(pair(1))}""".stripMargin))
    (unary ++ level2).mkString("", "\nUNION ALL\n",
      "\nORDER BY arity, columns")
  }

  /** q157: order dependencies — group-level prefix-extrema violations
    * recomputed with plain window functions over the per-x extrema
    * frame; counts are exact integers, the label a CASE over them.
    */
  val q157: String = {
    def pair(t: String, x: String, y: String): String =
      s"""SELECT on_column, ordered_column, n_groups, asc_violations,
         |  desc_violations,
         |  CASE WHEN asc_violations = 0 AND desc_violations = 0 THEN 'both'
         |    WHEN asc_violations = 0 THEN 'asc'
         |    WHEN desc_violations = 0 THEN 'desc'
         |    ELSE 'none' END AS monotone
         |FROM (
         |  SELECT '$x' AS on_column, '$y' AS ordered_column,
         |    count(*) AS n_groups,
         |    count(*) FILTER (WHERE pm > mn) AS asc_violations,
         |    count(*) FILTER (WHERE pn < mx) AS desc_violations
         |  FROM (
         |    SELECT mn, mx,
         |      max(mx) OVER (ORDER BY x
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm,
         |      min(mn) OVER (ORDER BY x
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pn
         |    FROM (
         |      SELECT $x AS x, min($y) AS mn, max($y) AS mx FROM $t
         |      WHERE $x IS NOT NULL AND $y IS NOT NULL GROUP BY $x) g
         |  ) w
         |) a""".stripMargin
    Seq(
      pair("events", "event_id", "ts"),
      pair("events", "event_id", "value"),
      pair("events", "user_id", "value"),
      pair("orders", "o_orderkey", "o_orderdate"),
      pair("orders", "o_custkey", "o_totalprice"),
      pair("documents", "doc_id", "n_chars"))
      .mkString("", "\nUNION ALL\n",
        "\nORDER BY on_column, ordered_column")
  }

  /** q158: join-cardinality profile — per-key counts on each side, the
    * inner join of the COUNT tables, contribution products, and the
    * exact total (HUGEINT, shipped as its nearest double exactly like
    * the engine's Decimal(38,0) path); ratios are raw double quotients.
    */
  val q158: String = {
    def profile(lsrc: String, lk: String, rsrc: String, rk: String,
                k: Int): String = {
      val j =
        s"""SELECT la.k AS key, ca AS left_rows, cb AS right_rows,
           |    CAST(ca AS HUGEINT) * cb AS out_rows
           |  FROM (SELECT CAST($lk AS VARCHAR) k, count(*) ca FROM $lsrc
           |        WHERE $lk IS NOT NULL GROUP BY 1) la
           |  JOIN (SELECT CAST($rk AS VARCHAR) k, count(*) cb FROM $rsrc
           |        WHERE $rk IS NOT NULL GROUP BY 1) rb USING (k)""".stripMargin
      s"""SELECT key, left_rows, right_rows,
         |  CAST(out_rows AS DOUBLE) AS out_rows,
         |  CAST(out_rows AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
         |  m AS n_matching_keys, CAST(tot AS DOUBLE) AS total_out_rows
         |FROM (SELECT * FROM ($j) j
         |      CROSS JOIN (SELECT count(*) m, sum(out_rows) tot
         |        FROM ($j) jt) t
         |      ORDER BY out_rows DESC, key LIMIT $k) p""".stripMargin
    }
    Seq(
      profile("lineitem", "l_orderkey", "orders", "o_orderkey", 10),
      profile("lineitem", "l_suppkey", "lineitem", "l_suppkey", 5))
      .map(p => s"SELECT * FROM ($p) q")
      .mkString("", "\nUNION ALL\n",
        "\nORDER BY total_out_rows, out_rows DESC, key")
  }

  /** q159: ordered funnel — the nested-min definition in chained CTEs
    * (step i = earliest event of its type strictly after step i−1's
    * time), conversion ratios as raw double quotients of exact counts
    * with the engine's zero-denominator → 0.0 convention.
    */
  val q159: String = {
    val steps = Seq("signup", "view", "click", "purchase")
    val ctes = steps.zipWithIndex.map { case (s, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, min(ts) t FROM events
           |  WHERE event_type = '$s' AND user_id IS NOT NULL
           |    AND ts IS NOT NULL GROUP BY 1)""".stripMargin
      else
        s"""s${i + 1} AS (SELECT e.user_id, min(e.ts) t FROM events e
           |  JOIN s$i p ON e.user_id = p.user_id
           |  WHERE e.event_type = '$s' AND e.ts > p.t GROUP BY 1)""".stripMargin
    }
    val counts = steps.indices.map(i =>
      s"(SELECT count(*) FROM s${i + 1}) c${i + 1}").mkString(", ")
    val rows = steps.zipWithIndex.map { case (s, i) =>
      val n = s"c${i + 1}"
      val prev = if (i == 0) n else s"c$i"
      s"""SELECT ${i + 1} AS step_index, '$s' AS step, $n AS n_actors,
         |  CASE WHEN $prev = 0 THEN 0.0
         |    ELSE CAST($n AS DOUBLE) / $prev END AS conversion,
         |  CASE WHEN c1 = 0 THEN 0.0
         |    ELSE CAST($n AS DOUBLE) / c1 END AS overall
         |FROM c""".stripMargin
    }
    s"""WITH ${ctes.mkString(",\n")},
       |c AS (SELECT $counts)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY step_index""".stripMargin
  }

  /** q160: cohort retention — anchored 7-day buckets by pure day
    * arithmetic (floor(days-since-epoch / 7)), cohort-relative offsets,
    * distinct (cohort, offset, actor) cells, exact counts, one double
    * division.
    */
  val q160: String =
    s"""WITH b AS (SELECT user_id a, CAST(ts AS DATE) d FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |f AS (SELECT a, min(d) fd FROM b GROUP BY 1),
       |fc AS (SELECT a, fd, CAST(floor(
       |    date_diff('day', DATE '1970-01-01', fd) / 7.0) AS BIGINT)
       |    cohort FROM f),
       |cells AS (SELECT DISTINCT cohort, CAST(floor(
       |    date_diff('day', fd, d) / 7.0) AS BIGINT) offp, b.a
       |  FROM b JOIN fc USING (a)),
       |cnt AS (SELECT cohort, offp, count(*) n FROM cells GROUP BY 1, 2),
       |sz AS (SELECT cohort, count(*) cs FROM fc GROUP BY 1)
       |SELECT cohort AS cohort_period, offp AS period_offset,
       |  n AS n_active, cs AS cohort_size,
       |  CAST(n AS DOUBLE) / cs AS retention
       |FROM cnt JOIN sz USING (cohort)
       |ORDER BY cohort_period, period_offset""".stripMargin

  /** q161: grid resample — epoch-anchored hourly buckets, the full grid
    * via a lateral generate_series between the occupied bounds,
    * left-joined onto the per-bucket aggregates; make_timestamp keeps
    * the bucket start a plain (TZ-free) TIMESTAMP, matching Spark's
    * timestamp_seconds under the UTC session.
    */
  val q161: String =
    s"""WITH o AS (
       |  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) b,
       |    count(*) n, min(value) min_value, max(value) max_value,
       |    count(value) count_value
       |  FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'
       |  GROUP BY 1),
       |bounds AS (SELECT min(b) mn, max(b) mx FROM o),
       |grid AS (SELECT unnest(generate_series(mn, mx)) AS b FROM bounds)
       |SELECT make_timestamp(b * 3600 * 1000000) AS bucket_start,
       |  coalesce(n, 0) AS n, n IS NULL AS is_gap,
       |  min_value, max_value, count_value
       |FROM grid LEFT JOIN o USING (b)
       |ORDER BY bucket_start""".stripMargin

  /** q162: forward fill — the identical IGNORE NULLS running window over
    * the same deterministically-sparsified column.
    */
  val q162: String =
    s"""SELECT user_id, event_id,
       |  last_value(CASE WHEN event_type = 'view' THEN value END
       |    IGNORE NULLS) OVER (
       |    PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
       |FROM events
       |ORDER BY user_id, event_id""".stripMargin

  /** q163: windowed funnel — the q159 nested-min CTE chain with each
    * step's deadline carried as t0 (the step-1 time): step i joins step
    * i−1 and must land strictly after it AND at or before t0 + window
    * (inclusive). Interval arithmetic on TIMESTAMP is exact at µs
    * precision, matching the Spark fold's Long micros comparison.
    */
  val q163: String = {
    val w = 604800L
    val steps = Seq("signup", "view", "click", "purchase")
    val ctes = steps.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, min(ts) t, min(ts) t0 FROM events
           |  WHERE event_type = '$st' AND user_id IS NOT NULL
           |    AND ts IS NOT NULL GROUP BY 1)""".stripMargin
      else
        s"""s${i + 1} AS (SELECT e.user_id, min(e.ts) t, p.t0 FROM events e
           |  JOIN s$i p ON e.user_id = p.user_id
           |  WHERE e.event_type = '$st' AND e.ts > p.t
           |    AND e.ts <= p.t0 + INTERVAL '$w seconds'
           |  GROUP BY 1, 3)""".stripMargin
    }
    val counts = steps.indices.map(i =>
      s"(SELECT count(*) FROM s${i + 1}) c${i + 1}").mkString(", ")
    val rows = steps.zipWithIndex.map { case (st, i) =>
      val n = s"c${i + 1}"
      val prev = if (i == 0) n else s"c$i"
      s"""SELECT ${i + 1} AS step_index, '$st' AS step, $n AS n_actors,
         |  CASE WHEN $prev = 0 THEN 0.0
         |    ELSE CAST($n AS DOUBLE) / $prev END AS conversion,
         |  CASE WHEN c1 = 0 THEN 0.0
         |    ELSE CAST($n AS DOUBLE) / c1 END AS overall
         |FROM c""".stripMargin
    }
    s"""WITH ${ctes.mkString(",\n")},
       |c AS (SELECT $counts)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY step_index""".stripMargin
  }

  /** q164: funnel inter-step timing — the q159 CTE chain's consecutive
    * step times differenced in exact µs (epoch_us) with ONE double
    * division by 1e6, then quantile_cont at 0.5/0.9 (the q02 exact-
    * quantile oracle convention).
    */
  val q164: String = {
    val steps = Seq("signup", "view", "click", "purchase")
    val ctes = steps.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, min(ts) t FROM events
           |  WHERE event_type = '$st' AND user_id IS NOT NULL
           |    AND ts IS NOT NULL GROUP BY 1)""".stripMargin
      else
        s"""s${i + 1} AS (SELECT e.user_id, min(e.ts) t FROM events e
           |  JOIN s$i p ON e.user_id = p.user_id
           |  WHERE e.event_type = '$st' AND e.ts > p.t GROUP BY 1)""".stripMargin
    }
    val deltas = (2 to steps.size).map(i =>
      s"""d$i AS (SELECT (epoch_us(s$i.t) - epoch_us(s${i - 1}.t))
         |  / 1000000.0 d FROM s$i JOIN s${i - 1} USING (user_id))""".stripMargin)
    val rows = (2 to steps.size).map(i =>
      s"""SELECT $i AS step_index, '${steps(i - 1)}' AS step,
         |  (SELECT count(*) FROM d$i) AS n_pairs,
         |  (SELECT CAST(quantile_cont(d, 0.5) AS DOUBLE) FROM d$i)
         |    AS p50_seconds,
         |  (SELECT CAST(quantile_cont(d, 0.9) AS DOUBLE) FROM d$i)
         |    AS p90_seconds""".stripMargin)
    s"""WITH ${(ctes ++ deltas).mkString(",\n")}
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY step_index""".stripMargin
  }

  /** q165: per-key grid resample — per-key bounds CTE, the grid via
    * unnest(generate_series(mn, mx)) PER ROW of the bounds frame (the
    * select-list unnest expands per key — the lateral-args form
    * generate_series itself does not support), left-joined on
    * (key, bucket).
    */
  val q165: String =
    s"""WITH o AS (
       |  SELECT event_type, CAST(floor(epoch(ts) / 21600) AS BIGINT) b,
       |    count(*) n, min(value) min_value, max(value) max_value
       |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
       |    AND value > 250
       |  GROUP BY 1, 2),
       |kb AS (SELECT event_type, min(b) mn, max(b) mx FROM o GROUP BY 1),
       |grid AS (SELECT event_type, unnest(generate_series(mn, mx)) AS b
       |  FROM kb)
       |SELECT grid.event_type,
       |  make_timestamp(b * 21600 * 1000000) AS bucket_start,
       |  coalesce(n, 0) AS n, n IS NULL AS is_gap, min_value, max_value
       |FROM grid LEFT JOIN o USING (event_type, b)
       |ORDER BY grid.event_type, bucket_start""".stripMargin

  /** q166: grid-then-fill — the q165 grid's min_value run through the
    * identical IGNORE NULLS running window per key.
    */
  val q166: String =
    s"""WITH o AS (
       |  SELECT event_type, CAST(floor(epoch(ts) / 21600) AS BIGINT) b,
       |    count(*) n, min(value) min_value
       |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
       |    AND value > 250
       |  GROUP BY 1, 2),
       |kb AS (SELECT event_type, min(b) mn, max(b) mx FROM o GROUP BY 1),
       |grid AS (SELECT event_type, unnest(generate_series(mn, mx)) AS b
       |  FROM kb),
       |g AS (SELECT grid.event_type,
       |    make_timestamp(b * 21600 * 1000000) AS bucket_start,
       |    n IS NULL AS is_gap, min_value
       |  FROM grid LEFT JOIN o USING (event_type, b))
       |SELECT event_type, bucket_start, is_gap,
       |  last_value(min_value IGNORE NULLS) OVER (
       |    PARTITION BY event_type ORDER BY bucket_start
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS min_value_filled
       |FROM g
       |ORDER BY event_type, bucket_start""".stripMargin

  /** q167: schema-wide OD sweep — the q157 per-pair window arithmetic
    * over every declared ordered pair of each table, tagged with its
    * table name.
    */
  val q167: String = {
    def pair(t: String, x: String, y: String): String =
      s"""SELECT '$t' AS "table", on_column, ordered_column, n_groups,
         |  asc_violations, desc_violations,
         |  CASE WHEN asc_violations = 0 AND desc_violations = 0 THEN 'both'
         |    WHEN asc_violations = 0 THEN 'asc'
         |    WHEN desc_violations = 0 THEN 'desc'
         |    ELSE 'none' END AS monotone
         |FROM (
         |  SELECT '$x' AS on_column, '$y' AS ordered_column,
         |    count(*) AS n_groups,
         |    count(*) FILTER (WHERE pm > mn) AS asc_violations,
         |    count(*) FILTER (WHERE pn < mx) AS desc_violations
         |  FROM (
         |    SELECT mn, mx,
         |      max(mx) OVER (ORDER BY x
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm,
         |      min(mn) OVER (ORDER BY x
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pn
         |    FROM (
         |      SELECT $x AS x, min($y) AS mn, max($y) AS mx FROM $t
         |      WHERE $x IS NOT NULL AND $y IS NOT NULL GROUP BY $x) g
         |  ) w
         |) a""".stripMargin
    val decl = Seq(
      "events" -> Seq("event_id", "ts", "value"),
      "orders" -> Seq("o_orderkey", "o_orderdate", "o_totalprice"),
      "documents" -> Seq("doc_id", "n_chars"))
    decl.flatMap { case (t, cs) =>
      for (x <- cs; y <- cs if x != y) yield pair(t, x, y)
    }.mkString("", "\nUNION ALL\n",
      "\nORDER BY \"table\", on_column, ordered_column")
  }

  /** q168: per-actor funnel drill-down — the q163 windowed CTE chain
    * left-joined onto the participating-actor set; reached is a CASE
    * over which step CTEs contain the actor, step timestamps are the
    * CTE mins themselves.
    */
  val q168: String = {
    val w = 604800L
    val steps = Seq("signup", "view", "click", "purchase")
    val ctes = steps.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, min(ts) t, min(ts) t0 FROM events
           |  WHERE event_type = '$st' AND user_id IS NOT NULL
           |    AND ts IS NOT NULL GROUP BY 1)""".stripMargin
      else
        s"""s${i + 1} AS (SELECT e.user_id, min(e.ts) t, p.t0 FROM events e
           |  JOIN s$i p ON e.user_id = p.user_id
           |  WHERE e.event_type = '$st' AND e.ts > p.t
           |    AND e.ts <= p.t0 + INTERVAL '$w seconds'
           |  GROUP BY 1, 3)""".stripMargin
    }
    val reached = steps.indices.reverse.map(i =>
      s"WHEN s${i + 1}.t IS NOT NULL THEN ${i + 1}").mkString(" ")
    val joins = steps.indices.map(i =>
      s"LEFT JOIN s${i + 1} ON a.user_id = s${i + 1}.user_id").mkString("\n  ")
    val tsCols = steps.indices.map(i =>
      s"s${i + 1}.t AS step${i + 1}_ts").mkString(", ")
    s"""WITH ${ctes.mkString(",\n")},
       |actors AS (SELECT DISTINCT user_id FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |    AND event_type IN (${steps.map(st => s"'$st'").mkString(",")}))
       |SELECT a.user_id, CASE $reached ELSE 0 END AS reached, $tsCols
       |FROM actors a $joins
       |ORDER BY a.user_id""".stripMargin
  }

  /** q169: next-event distribution — the identical lead(1) window over
    * the (ts, type, event_id) total order, terminal rows excluded,
    * share as the exact quotient.
    */
  val q169: String =
    s"""WITH s AS (SELECT user_id, event_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_type, event_id) nx
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |    AND event_type IS NOT NULL),
       |f AS (SELECT nx FROM s WHERE event_type = 'signup'
       |  AND nx IS NOT NULL)
       |SELECT nx AS next_type, count(*) AS n,
       |  CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM f) AS share
       |FROM f GROUP BY 1 ORDER BY n DESC, next_type""".stripMargin

  /** q170: interval overlap — the quadratic theta join over the same
    * samples (cheap at oracle scale; the engine side is the bucketed
    * equi-join).
    */
  val q170: String =
    s"""WITH l AS (SELECT l_orderkey, l_linenumber,
       |    l_extendedprice * (1 - l_discount) AS lo,
       |    l_extendedprice AS hi
       |  FROM lineitem WHERE l_partkey <= 5),
       |r AS (SELECT o_orderkey, o_totalprice * 0.95 AS lo,
       |    o_totalprice AS hi
       |  FROM orders WHERE o_orderkey % 199 = 0)
       |SELECT l.l_orderkey, l.l_linenumber, r.o_orderkey,
       |  l.lo, l.hi, r.lo AS lo_r, r.hi AS hi_r
       |FROM l JOIN r ON l.lo <= r.hi AND r.lo <= l.hi
       |ORDER BY l.l_orderkey, l.l_linenumber, r.o_orderkey,
       |  l.lo""".stripMargin

  /** q171: top event paths — the identical lead() window chain, gap
    * rule in exact BIGINT micros, share over all complete paths before
    * the top-k limit.
    */
  val q171: String =
    s"""WITH s AS (SELECT user_id, event_type y, epoch_us(ts) t,
       |    lead(event_type, 1) OVER w y1, lead(epoch_us(ts), 1) OVER w t1,
       |    lead(event_type, 2) OVER w y2, lead(epoch_us(ts), 2) OVER w t2
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |    AND event_type IS NOT NULL
       |  WINDOW w AS (PARTITION BY user_id
       |    ORDER BY ts, event_type, event_id)),
       |p AS (SELECT y || ' > ' || y1 || ' > ' || y2 AS path FROM s
       |  WHERE y1 IS NOT NULL AND y2 IS NOT NULL
       |    AND t1 - t <= CAST(172800 AS BIGINT) * 1000000
       |    AND t2 - t1 <= CAST(172800 AS BIGINT) * 1000000),
       |c AS (SELECT path, count(*) n FROM p GROUP BY 1),
       |tot AS (SELECT sum(n) s FROM c)
       |SELECT path, n, CAST(n AS DOUBLE) / (SELECT s FROM tot) AS share
       |FROM c ORDER BY n DESC, path LIMIT 10""".stripMargin

  /** q172: per-group exact quantiles — quantile_cont per group (the q02
    * interpolation convention).
    */
  val q172: String =
    s"""SELECT l_returnflag, count(*) AS n,
       |  CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE) AS p25,
       |  CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE) AS p50,
       |  CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE) AS p90
       |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** q173: per-group top-k values — the identical rank/share windows
    * over per-(group, value) counts.
    */
  val q173: String =
    s"""WITH c AS (SELECT source, CAST(lang AS VARCHAR) AS value,
       |    count(*) n
       |  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
       |r AS (SELECT source, value, n,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY n DESC, value) AS rank,
       |    CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY source) AS share
       |  FROM c)
       |SELECT source, value, n, share, rank FROM r WHERE rank <= 3
       |ORDER BY source, rank""".stripMargin

  /** q174: probability sampling — the Sampling.Sql mirror of the
    * identical md5 keep predicate, aggregated the same way.
    */
  val q174: String =
    s"""SELECT event_type, count(*) AS n,
       |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
       |    AS sum_cents
       |FROM events
       |WHERE ${graft.ops.Sampling.Sql.probabilityKeep(
             "event_id", "value / 500.0", "r13")}
       |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** q175: null-group-key grouped quantiles — DuckDB GROUP BY groups the
    * NULL key and quantile_cont returns its real quantiles; the Spark
    * side must null-safe-join to match.
    */
  val q175: String =
    s"""SELECT nullif(l_returnflag, 'N') AS flag_or_null, count(*) AS n,
       |  CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE) AS p50,
       |  CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE) AS p90
       |FROM lineitem GROUP BY 1
       |ORDER BY flag_or_null NULLS LAST""".stripMargin

  /** q176: dimensional funnel — the q159 nested-min CTE chain, with the
    * derived dimension (functionally dependent on user_id, so the
    * per-user CTEs are unchanged) grouped into per-dim counts at the
    * end. Dim joins are IS NOT DISTINCT FROM: the NULL dimension is a
    * real slice on both engines.
    */
  val q176: String = {
    val steps = Seq("signup", "view", "click", "purchase")
    val ctes = steps.zipWithIndex.map { case (s, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, min(ts) t FROM base
           |  WHERE event_type = '$s' GROUP BY 1)""".stripMargin
      else
        s"""s${i + 1} AS (SELECT e.user_id, min(e.ts) t FROM base e
           |  JOIN s$i p ON e.user_id = p.user_id
           |  WHERE e.event_type = '$s' AND e.ts > p.t GROUP BY 1)""".stripMargin
    }
    val cnts = steps.indices.map(i =>
      s"""c${i + 1} AS (SELECT dm.dim, count(*) n FROM s${i + 1}
         |  JOIN dm USING (user_id) GROUP BY 1)""".stripMargin)
    val joins = steps.indices.map(i =>
      s"LEFT JOIN c${i + 1} ON d.dim IS NOT DISTINCT FROM c${i + 1}.dim")
      .mkString("\n")
    val ns = steps.indices.map(i =>
      s"coalesce(c${i + 1}.n, 0) AS n${i + 1}").mkString(", ")
    val rows = steps.zipWithIndex.map { case (s, i) =>
      val n = s"n${i + 1}"
      val prev = if (i == 0) n else s"n$i"
      s"""SELECT dim, ${i + 1} AS step_index, '$s' AS step,
         |  $n AS n_actors,
         |  CASE WHEN $prev = 0 THEN 0.0
         |    ELSE CAST($n AS DOUBLE) / $prev END AS conversion,
         |  CASE WHEN n1 = 0 THEN 0.0
         |    ELSE CAST($n AS DOUBLE) / n1 END AS overall
         |FROM w""".stripMargin
    }
    s"""WITH base AS (SELECT user_id, ts, event_type,
       |    CASE WHEN user_id % 3 = 0 THEN NULL
       |      ELSE 'seg' || CAST(user_id % 3 AS VARCHAR) END AS dim
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |${ctes.mkString(",\n")},
       |dm AS (SELECT user_id, any_value(dim) dim FROM base GROUP BY 1),
       |dims AS (SELECT DISTINCT dim FROM base
       |  WHERE event_type IN (${steps.map(s => s"'$s'").mkString(", ")})),
       |${cnts.mkString(",\n")},
       |w AS (SELECT d.dim, $ns FROM dims d
       |$joins)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY dim NULLS LAST, step_index""".stripMargin
  }

  /** q177: approximate ODs — per-pair ADJACENT lag violations over the
    * grouped-extrema frame, error = violations / greatest(n−1, 1), the
    * identical epsilon label arithmetic.
    */
  val q177: String = {
    val eps = "0.02"
    def pair(x: String, y: String): String =
      s"""SELECT on_column, ordered_column, n_groups,
         |  asc_violations, desc_violations,
         |  CAST(asc_violations AS DOUBLE) / greatest(n_groups - 1, 1)
         |    AS asc_error,
         |  CAST(desc_violations AS DOUBLE) / greatest(n_groups - 1, 1)
         |    AS desc_error,
         |  CASE WHEN CAST(asc_violations AS DOUBLE)
         |      / greatest(n_groups - 1, 1) <= $eps
         |    AND CAST(desc_violations AS DOUBLE)
         |      / greatest(n_groups - 1, 1) <= $eps THEN 'both'
         |    WHEN CAST(asc_violations AS DOUBLE)
         |      / greatest(n_groups - 1, 1) <= $eps THEN 'asc'
         |    WHEN CAST(desc_violations AS DOUBLE)
         |      / greatest(n_groups - 1, 1) <= $eps THEN 'desc'
         |    ELSE 'none' END AS monotone
         |FROM (
         |  SELECT '$x' AS on_column, '$y' AS ordered_column,
         |    count(*) AS n_groups,
         |    count(*) FILTER (WHERE pm > mn) AS asc_violations,
         |    count(*) FILTER (WHERE pn < mx) AS desc_violations
         |  FROM (
         |    SELECT mn, mx,
         |      lag(mx) OVER (ORDER BY x) AS pm,
         |      lag(mn) OVER (ORDER BY x) AS pn
         |    FROM (
         |      SELECT $x AS x, min($y) AS mn, max($y) AS mx FROM events
         |      WHERE $x IS NOT NULL AND $y IS NOT NULL GROUP BY $x) g
         |  ) w
         |) a""".stripMargin
    Seq(pair("event_id", "ts"), pair("event_id", "value"),
      pair("user_id", "value"))
      .mkString("", "\nUNION ALL\n",
        "\nORDER BY on_column, ordered_column")
  }

  /** q178: dimensional cohort retention — the q160 CTE chain with the
    * dimension carried through every stage; dimension joins are IS NOT
    * DISTINCT FROM (the NULL slice is a real slice on both engines).
    */
  val q178: String =
    s"""WITH b AS (SELECT user_id a,
       |    CASE WHEN user_id % 3 = 0 THEN NULL
       |      ELSE 'seg' || CAST(user_id % 3 AS VARCHAR) END AS dim,
       |    CAST(ts AS DATE) d
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |f AS (SELECT a, dim, min(d) fd FROM b GROUP BY 1, 2),
       |fc AS (SELECT a, dim, fd, CAST(floor(
       |    date_diff('day', DATE '1970-01-01', fd) / 7.0) AS BIGINT)
       |    cohort FROM f),
       |cells AS (SELECT DISTINCT fc.dim, cohort, CAST(floor(
       |    date_diff('day', fd, d) / 7.0) AS BIGINT) offp, b.a
       |  FROM b JOIN fc ON b.a = fc.a
       |    AND b.dim IS NOT DISTINCT FROM fc.dim),
       |cnt AS (SELECT dim, cohort, offp, count(*) n
       |  FROM cells GROUP BY 1, 2, 3),
       |sz AS (SELECT dim, cohort, count(*) cs FROM fc GROUP BY 1, 2)
       |SELECT cnt.dim, cnt.cohort AS cohort_period,
       |  offp AS period_offset, n AS n_active, cs AS cohort_size,
       |  CAST(n AS DOUBLE) / cs AS retention
       |FROM cnt JOIN sz ON cnt.cohort = sz.cohort
       |  AND cnt.dim IS NOT DISTINCT FROM sz.dim
       |ORDER BY cnt.dim NULLS LAST, cohort_period, period_offset""".stripMargin

  /** q179: event transition matrix — the q169 lead(1) window grouped by
    * BOTH sides of the pair, shares row-normalized per from_type.
    */
  val q179: String =
    s"""WITH s AS (SELECT user_id, event_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_type, event_id) nx
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |    AND event_type IS NOT NULL),
       |c AS (SELECT event_type AS from_type, nx AS next_type,
       |    count(*) AS n
       |  FROM s WHERE nx IS NOT NULL GROUP BY 1, 2)
       |SELECT from_type, next_type, n,
       |  CAST(n AS DOUBLE) /
       |    sum(n) OVER (PARTITION BY from_type) AS share
       |FROM c ORDER BY from_type, n DESC, next_type""".stripMargin

  /** q180: skew-split sessionization — the plain q57 lag/cumsum over the
    * derived hot keys (NULL slice included; DuckDB PARTITION BY groups
    * the null key, so the Spark heavy path's null-safe (key, segment)
    * rejoin must reproduce real session indices for it).
    */
  val q180: String = {
    val gapUs = 3600L * 1000000L
    s"""WITH e AS (SELECT nullif(user_id % 7, 0) AS k, event_id,
       |             epoch_us(ts) AS us FROM events),
       |m AS (SELECT k, event_id, us,
       |        CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > $gapUs
       |             THEN 1 ELSE 0 END AS is_new
       |      FROM e WINDOW w AS (PARTITION BY k
       |        ORDER BY us NULLS FIRST, event_id)),
       |s AS (SELECT k, us,
       |        sum(is_new) OVER (PARTITION BY k
       |          ORDER BY us NULLS FIRST, event_id
       |          ROWS UNBOUNDED PRECEDING) - 1 AS session_index
       |      FROM m)
       |SELECT k, CAST(session_index AS BIGINT) AS session_index,
       |  count(*) AS n_events,
       |  min(us) AS start_us, max(us) AS end_us,
       |  max(us) - min(us) AS duration_us
       |FROM s GROUP BY k, session_index
       |ORDER BY k NULLS LAST, session_index""".stripMargin
  }

  /** q181: skew-split forward fill — the plain whole-key IGNORE NULLS
    * running last over the q180 derived hot keys (NULL slice included).
    */
  val q181: String =
    s"""SELECT nullif(user_id % 7, 0) AS k, event_id,
       |  last_value(CASE WHEN value >= 250.0 THEN value END IGNORE NULLS)
       |    OVER (PARTITION BY nullif(user_id % 7, 0)
       |      ORDER BY epoch_us(ts) NULLS LAST, event_id NULLS LAST
       |      ROWS UNBOUNDED PRECEDING) AS v
       |FROM events
       |ORDER BY k NULLS LAST, event_id""".stripMargin

  /** q182: dimensional funnel step timing — the q164 nested-min CTEs with
    * deltas joined to the per-user dimension (actor-constant, so the
    * per-user CTEs are unchanged), per-dim quantile_cont, and a NULL-safe
    * left join onto the dim grid so zero-pair cells survive.
    */
  val q182: String = {
    val steps = Seq("signup", "view", "click", "purchase")
    val ctes = steps.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, min(ts) t FROM base
           |  WHERE event_type = '$st' GROUP BY 1)""".stripMargin
      else
        s"""s${i + 1} AS (SELECT e.user_id, min(e.ts) t FROM base e
           |  JOIN s$i p ON e.user_id = p.user_id
           |  WHERE e.event_type = '$st' AND e.ts > p.t GROUP BY 1)""".stripMargin
    }
    val deltas = (2 to steps.size).map(i =>
      s"""d$i AS (SELECT dm.dim, (epoch_us(s$i.t) - epoch_us(s${i - 1}.t))
         |  / 1000000.0 d FROM s$i JOIN s${i - 1} USING (user_id)
         |  JOIN dm USING (user_id))""".stripMargin)
    val cells = (2 to steps.size).map(i =>
      s"""c$i AS (SELECT dim, count(*) n,
         |  CAST(quantile_cont(d, 0.5) AS DOUBLE) p50,
         |  CAST(quantile_cont(d, 0.9) AS DOUBLE) p90
         |  FROM d$i GROUP BY 1)""".stripMargin)
    val rows = (2 to steps.size).map(i =>
      s"""SELECT dd.dim, $i AS step_index, '${steps(i - 1)}' AS step,
         |  coalesce(c$i.n, 0) AS n_pairs, c$i.p50 AS p50_seconds,
         |  c$i.p90 AS p90_seconds
         |FROM dims dd LEFT JOIN c$i ON dd.dim IS NOT DISTINCT FROM c$i.dim"""
        .stripMargin)
    s"""WITH base AS (SELECT user_id, ts, event_type,
       |    CASE WHEN user_id % 3 = 0 THEN NULL
       |      ELSE 'seg' || CAST(user_id % 3 AS VARCHAR) END AS dim
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |dm AS (SELECT user_id, any_value(dim) dim FROM base GROUP BY 1),
       |dims AS (SELECT DISTINCT dim FROM base
       |  WHERE event_type IN (${steps.map(s => s"'$s'").mkString(", ")})),
       |${(ctes ++ deltas ++ cells).mkString(",\n")}
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY dim NULLS LAST, step_index""".stripMargin
  }

  /** q183: conditional FDs — the identical two-level per-pattern g3
    * (counts per (p, x, c), sum/max per (p, x), support/kept per p)
    * per candidate, unioned; the derived fixture makes the FD hold
    * exactly inside the 'signup' pattern only.
    */
  val q183: String = {
    def cand(c: String): String =
      s"""SELECT 'event_type' AS pattern_column,
         |  CAST(__p AS VARCHAR) AS pattern_value,
         |  'uid_bucket' AS determinant, '$c' AS dependent,
         |  CAST(n AS BIGINT) AS support, CAST(kept AS BIGINT) AS n_kept,
         |  CAST(n - kept AS DOUBLE) / n AS g3,
         |  CAST(n - kept AS DOUBLE) <= 0.02 * n AS holds
         |FROM (
         |  SELECT __p, sum(nx) n, sum(mx) kept FROM (
         |    SELECT event_type AS __p, uid_bucket, sum(cnt) nx,
         |      max(cnt) mx
         |    FROM (
         |      SELECT event_type, uid_bucket, $c, count(*) cnt FROM base
         |      WHERE event_type IS NOT NULL AND uid_bucket IS NOT NULL
         |        AND $c IS NOT NULL
         |      GROUP BY 1, 2, 3) g
         |    GROUP BY 1, 2) x
         |  GROUP BY 1) p
         |WHERE n >= 100""".stripMargin
    s"""WITH base AS (SELECT event_type,
       |    user_id % 25 AS uid_bucket,
       |    CASE WHEN event_type = 'signup' THEN (user_id % 25) * 2
       |      ELSE CAST(floor(value / 100) AS BIGINT) END AS clean_in_signup,
       |    CAST(floor(value / 250) AS BIGINT) AS value_bucket
       |  FROM events)
       |${cand("clean_in_signup")}
       |UNION ALL
       |${cand("value_bucket")}
       |ORDER BY pattern_column, determinant, dependent, pattern_value"""
      .stripMargin
  }

  /** The q184/q185 event-property dimension as SQL — must match the
    * Spark derivation bit-for-bit (double comparisons on the raw value).
    */
  private val valueDimSql: String =
    """CASE WHEN value < 250.0 THEN 'lo'
      |      WHEN value < 400.0 THEN 'hi'
      |      ELSE NULL END""".stripMargin

  /** q184: dimensional funnel over an EVENT-PROPERTY dimension — the
    * q176 chained CTEs run per (user, dim) SLICE (nested-min joins
    * null-safe on the dimension), so an actor participates
    * independently in every value band its events touch.
    */
  val q184: String = {
    val steps = Seq("signup", "view", "click", "purchase")
    val ctes = steps.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, dim, min(ts) t FROM base
           |  WHERE event_type = '$st' GROUP BY 1, 2)""".stripMargin
      else
        s"""s${i + 1} AS (SELECT e.user_id, e.dim, min(e.ts) t FROM base e
           |  JOIN s$i p ON e.user_id = p.user_id
           |    AND e.dim IS NOT DISTINCT FROM p.dim
           |  WHERE e.event_type = '$st' AND e.ts > p.t
           |  GROUP BY 1, 2)""".stripMargin
    }
    val cnts = steps.indices.map(i =>
      s"""c${i + 1} AS (SELECT dim, count(*) n FROM s${i + 1}
         |  GROUP BY 1)""".stripMargin)
    val joins = steps.indices.map(i =>
      s"LEFT JOIN c${i + 1} ON d.dim IS NOT DISTINCT FROM c${i + 1}.dim")
      .mkString("\n")
    val ns = steps.indices.map(i =>
      s"coalesce(c${i + 1}.n, 0) AS n${i + 1}").mkString(", ")
    val rows = steps.zipWithIndex.map { case (st, i) =>
      val n = s"n${i + 1}"
      val prev = if (i == 0) n else s"n$i"
      s"""SELECT dim AS vdim, ${i + 1} AS step_index, '$st' AS step,
         |  $n AS n_actors,
         |  CASE WHEN $prev = 0 THEN 0.0
         |    ELSE CAST($n AS DOUBLE) / $prev END AS conversion,
         |  CASE WHEN n1 = 0 THEN 0.0
         |    ELSE CAST($n AS DOUBLE) / n1 END AS overall
         |FROM w""".stripMargin
    }
    s"""WITH base AS (SELECT user_id, ts, event_type,
       |    $valueDimSql AS dim
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |${ctes.mkString(",\n")},
       |dims AS (SELECT DISTINCT dim FROM base
       |  WHERE event_type IN (${steps.map(s => s"'$s'").mkString(", ")})),
       |${cnts.mkString(",\n")},
       |w AS (SELECT d.dim, $ns FROM dims d
       |$joins)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY vdim NULLS LAST, step_index""".stripMargin
  }

  /** q185: dimensional retention over the same event-property dimension
    * — q178's per-(user, dim) structure with the dim derived from the
    * event's value band.
    */
  val q185: String =
    s"""WITH b AS (SELECT user_id a,
       |    $valueDimSql AS dim,
       |    CAST(ts AS DATE) d
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |f AS (SELECT a, dim, min(d) fd FROM b GROUP BY 1, 2),
       |fc AS (SELECT a, dim, fd, CAST(floor(
       |    date_diff('day', DATE '1970-01-01', fd) / 7.0) AS BIGINT)
       |    cohort FROM f),
       |cells AS (SELECT DISTINCT fc.dim, cohort, CAST(floor(
       |    date_diff('day', fd, d) / 7.0) AS BIGINT) offp, b.a
       |  FROM b JOIN fc ON b.a = fc.a
       |    AND b.dim IS NOT DISTINCT FROM fc.dim),
       |cnt AS (SELECT dim, cohort, offp, count(*) n
       |  FROM cells GROUP BY 1, 2, 3),
       |sz AS (SELECT dim, cohort, count(*) cs FROM fc GROUP BY 1, 2)
       |SELECT cnt.dim AS vdim, cnt.cohort AS cohort_period,
       |  offp AS period_offset, n AS n_active, cs AS cohort_size,
       |  CAST(n AS DOUBLE) / cs AS retention
       |FROM cnt JOIN sz ON cnt.cohort = sz.cohort
       |  AND cnt.dim IS NOT DISTINCT FROM sz.dim
       |ORDER BY cnt.dim NULLS LAST, cohort_period, period_offset""".stripMargin

  /** q186: dimensional transition matrix — q179's lead(1) window run per
    * (user, dim) PARTITION (window partitioning groups the NULL dim),
    * counts and row shares one dimension deeper.
    */
  val q186: String =
    s"""WITH s AS (SELECT user_id,
       |    $valueDimSql AS dim, event_type,
       |    lead(event_type) OVER (PARTITION BY user_id, $valueDimSql
       |      ORDER BY ts, event_type, event_id) nx
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |    AND event_type IS NOT NULL),
       |c AS (SELECT dim AS vdim, event_type AS from_type, nx AS next_type,
       |    count(*) AS n
       |  FROM s WHERE nx IS NOT NULL GROUP BY 1, 2, 3)
       |SELECT vdim, from_type, next_type, n,
       |  CAST(n AS DOUBLE) /
       |    sum(n) OVER (PARTITION BY vdim, from_type) AS share
       |FROM c
       |ORDER BY vdim NULLS LAST, from_type, n DESC, next_type""".stripMargin

  /** q187: dimensional top paths — the q171 double-lead window per
    * (user, dim) partition with the gap chain rule, per-dim shares and
    * a per-dim deterministic rank.
    */
  val q187: String = {
    val gapUs = 172800L * 1000000L
    s"""WITH s AS (SELECT user_id,
       |    $valueDimSql AS dim, event_type, epoch_us(ts) AS us,
       |    lead(event_type) OVER w AS y1, lead(epoch_us(ts)) OVER w AS t1,
       |    lead(event_type, 2) OVER w AS y2,
       |    lead(epoch_us(ts), 2) OVER w AS t2
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |    AND event_type IS NOT NULL
       |  WINDOW w AS (PARTITION BY user_id, $valueDimSql
       |    ORDER BY epoch_us(ts), event_type, event_id)),
       |p AS (SELECT dim AS vdim,
       |    event_type || ' > ' || y1 || ' > ' || y2 AS path
       |  FROM s WHERE y1 IS NOT NULL AND y2 IS NOT NULL
       |    AND t1 - us <= $gapUs AND t2 - t1 <= $gapUs),
       |c AS (SELECT vdim, path, count(*) AS n FROM p GROUP BY 1, 2),
       |r AS (SELECT vdim, path, n,
       |    CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY vdim) AS share,
       |    row_number() OVER (PARTITION BY vdim
       |      ORDER BY n DESC, path) AS rank
       |  FROM c)
       |SELECT vdim, path, n, share, rank FROM r WHERE rank <= 5
       |ORDER BY vdim NULLS LAST, rank""".stripMargin
  }

  /** q188: sequential dependencies — per-pair grouped extrema, adjacent
    * lag over distinct x, the identical two-extreme-cross-pair gap
    * predicate and floor-1 error arithmetic.
    */
  val q188: String = {
    def cand(x: String, y: String): String =
      s"""SELECT '$x' AS on_column, '$y' AS ordered_column,
         |  0.0 AS min_gap, 500.0 AS max_gap,
         |  count(*) AS n_groups,
         |  count(*) FILTER (WHERE pmx IS NOT NULL AND NOT
         |    (mn - pmx >= 0.0 AND mx - pmn <= 500.0)) AS violations,
         |  CAST(count(*) FILTER (WHERE pmx IS NOT NULL AND NOT
         |    (mn - pmx >= 0.0 AND mx - pmn <= 500.0)) AS DOUBLE)
         |    / greatest(count(*) - 1, 1) AS error,
         |  CAST(count(*) FILTER (WHERE pmx IS NOT NULL AND NOT
         |    (mn - pmx >= 0.0 AND mx - pmn <= 500.0)) AS DOUBLE)
         |    / greatest(count(*) - 1, 1) <= 0.15 AS holds
         |FROM (
         |  SELECT mn, mx, lag(mx) OVER (ORDER BY x) pmx,
         |    lag(mn) OVER (ORDER BY x) pmn
         |  FROM (
         |    SELECT $x AS x, min($y) mn, max($y) mx FROM base
         |    WHERE $x IS NOT NULL AND $y IS NOT NULL GROUP BY 1) g) w"""
        .stripMargin
    s"""WITH base AS (SELECT event_id, user_id, value,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events)
       |${cand("event_id", "ts_s")}
       |UNION ALL
       |${cand("user_id", "value")}
       |ORDER BY on_column, ordered_column""".stripMargin
  }

  /** q189: sequential-gap inference — the identical adjacent lo/hi gap
    * frame with quantile_cont at trim / 1−trim.
    */
  val q189: String = {
    def cand(x: String, y: String): String =
      s"""SELECT '$x' AS on_column, '$y' AS ordered_column,
         |  count(*) AS n_adjacent,
         |  CAST(quantile_cont(lo, 0.05) AS DOUBLE) AS gap_low,
         |  CAST(quantile_cont(hi, 0.95) AS DOUBLE) AS gap_high
         |FROM (
         |  SELECT mn - lag(mx) OVER (ORDER BY x) AS lo,
         |    mx - lag(mn) OVER (ORDER BY x) AS hi
         |  FROM (
         |    SELECT $x AS x, min($y) mn, max($y) mx FROM base
         |    WHERE $x IS NOT NULL AND $y IS NOT NULL GROUP BY 1) g) w
         |WHERE lo IS NOT NULL""".stripMargin
    s"""WITH base AS (SELECT event_id, user_id, value,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events)
       |${cand("event_id", "ts_s")}
       |UNION ALL
       |${cand("user_id", "value")}
       |ORDER BY on_column, ordered_column""".stripMargin
  }

  /** q190/q191: skew-split as-of join — DuckDB's NATIVE ASOF LEFT JOIN
    * over the q180 derived hot keys (NULL slice: ASOF's equality
    * condition never matches null keys, and LEFT keeps the probes — the
    * same convention as the Spark side's filtered right and null-safe
    * rejoin). Comparison on epoch MICROS like q68.
    */
  private def asofSplitSql(strict: Boolean, withValue: Boolean): String = {
    val op = if (strict) ">" else ">="
    val valSel = if (withValue) ", value" else ""
    val valOut = if (withValue) ", r.value AS purchase_value" else ""
    s"""SELECT l.event_id, l.k, r.event_id AS purchase_id$valOut
       |FROM (SELECT event_id, nullif(user_id % 7, 0) AS k,
       |        epoch_us(ts) AS us FROM events
       |      WHERE event_type = 'click') l
       |ASOF LEFT JOIN (SELECT event_id, nullif(user_id % 7, 0) AS k$valSel,
       |        epoch_us(ts) AS us FROM events
       |      WHERE event_type = 'purchase') r
       |  ON l.k = r.k AND l.us $op r.us
       |ORDER BY l.event_id""".stripMargin
  }

  val q190: String = asofSplitSql(strict = false, withValue = true)
  val q191: String = asofSplitSql(strict = true, withValue = false)

  /** q195: tolerance-bounded asof — native ASOF finds the nearest
    * preceding purchase, then a CASE null-s the payload when the gap
    * exceeds 2 h (no fallback: any earlier row is farther still).
    */
  val q195: String =
    """SELECT l.event_id, l.k,
      |  CASE WHEN l.us - r.us <= 7200000000 THEN r.event_id END
      |    AS purchase_id,
      |  CASE WHEN l.us - r.us <= 7200000000 THEN r.value END
      |    AS purchase_value
      |FROM (SELECT event_id, nullif(user_id % 7, 0) AS k,
      |        epoch_us(ts) AS us FROM events
      |      WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT event_id, nullif(user_id % 7, 0) AS k, value,
      |        epoch_us(ts) AS us FROM events
      |      WHERE event_type = 'purchase') r
      |  ON l.k = r.k AND l.us >= r.us
      |ORDER BY l.event_id""".stripMargin

  /** q196: forward asof — DuckDB's `l.us <= r.us` inequality matches the
    * EARLIEST right row at or after each probe.
    */
  val q196: String =
    """SELECT l.event_id, l.k, r.event_id AS purchase_id
      |FROM (SELECT event_id, nullif(user_id % 7, 0) AS k,
      |        epoch_us(ts) AS us FROM events
      |      WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT event_id, nullif(user_id % 7, 0) AS k,
      |        epoch_us(ts) AS us FROM events
      |      WHERE event_type = 'purchase') r
      |  ON l.k = r.k AND l.us <= r.us
      |ORDER BY l.event_id""".stripMargin

  /** q193: sequential-dependency sweep — the q188 per-pair CTE repeated
    * over the generated 12-pair candidate set (every declared column ×
    * every numeric declared column), with the table label.
    */
  val q193: String = {
    def cand(x: String, y: String): String =
      s"""SELECT 'events' AS "table", '$x' AS on_column,
         |  '$y' AS ordered_column,
         |  0.0 AS min_gap, 500.0 AS max_gap,
         |  count(*) AS n_groups,
         |  count(*) FILTER (WHERE pmx IS NOT NULL AND NOT
         |    (mn - pmx >= 0.0 AND mx - pmn <= 500.0)) AS violations,
         |  CAST(count(*) FILTER (WHERE pmx IS NOT NULL AND NOT
         |    (mn - pmx >= 0.0 AND mx - pmn <= 500.0)) AS DOUBLE)
         |    / greatest(count(*) - 1, 1) AS error,
         |  CAST(count(*) FILTER (WHERE pmx IS NOT NULL AND NOT
         |    (mn - pmx >= 0.0 AND mx - pmn <= 500.0)) AS DOUBLE)
         |    / greatest(count(*) - 1, 1) <= 0.15 AS holds
         |FROM (
         |  SELECT mn, mx, lag(mx) OVER (ORDER BY x) pmx,
         |    lag(mn) OVER (ORDER BY x) pmn
         |  FROM (
         |    SELECT $x AS x, CAST(min($y) AS DOUBLE) mn,
         |      CAST(max($y) AS DOUBLE) mx FROM base
         |    WHERE $x IS NOT NULL AND $y IS NOT NULL GROUP BY 1) g) w"""
        .stripMargin
    val cols = Seq("event_id", "ts_s", "user_id", "value")
    val pairs = for (x <- cols; y <- cols if x != y) yield (x, y)
    s"""WITH base AS (SELECT event_id, user_id, value,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events)
       |${pairs.map { case (x, y) => cand(x, y) }.mkString("\nUNION ALL\n")}
       |ORDER BY on_column, ordered_column""".stripMargin
  }

  /** q199: nearest asof — backward and forward native ASOF passes
    * joined on the probe, the closer (tie: backward) picked by CASE.
    */
  val q199: String =
    """WITH l AS (SELECT event_id, nullif(user_id % 7, 0) AS k,
      |        epoch_us(ts) AS us FROM events WHERE event_type = 'click'),
      |r AS (SELECT event_id, nullif(user_id % 7, 0) AS k,
      |        epoch_us(ts) AS us FROM events
      |      WHERE event_type = 'purchase'),
      |b AS (SELECT l.event_id, r.event_id AS pid, r.us AS rus
      |      FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.us >= r.us),
      |f AS (SELECT l.event_id, r.event_id AS pid, r.us AS rus
      |      FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.us <= r.us)
      |SELECT l.event_id, l.k,
      |  CASE WHEN b.pid IS NOT NULL AND
      |            (f.pid IS NULL OR l.us - b.rus <= f.rus - l.us)
      |       THEN b.pid ELSE f.pid END AS purchase_id
      |FROM l JOIN b USING (event_id) JOIN f USING (event_id)
      |ORDER BY l.event_id""".stripMargin

  /** q198: sequential-gap-inference sweep — the q189 per-pair
    * quantile_cont CTE repeated over the q193 candidate set with the
    * table label.
    */
  val q198: String = {
    def cand(x: String, y: String): String =
      s"""SELECT 'events' AS "table", '$x' AS on_column,
         |  '$y' AS ordered_column,
         |  count(*) AS n_adjacent,
         |  CAST(quantile_cont(lo, 0.05) AS DOUBLE) AS gap_low,
         |  CAST(quantile_cont(hi, 0.95) AS DOUBLE) AS gap_high
         |FROM (
         |  SELECT mn - lag(mx) OVER (ORDER BY x) AS lo,
         |    mx - lag(mn) OVER (ORDER BY x) AS hi
         |  FROM (
         |    SELECT $x AS x, min($y) mn, max($y) mx FROM base
         |    WHERE $x IS NOT NULL AND $y IS NOT NULL GROUP BY 1) g) w
         |WHERE lo IS NOT NULL""".stripMargin
    val cols = Seq("event_id", "ts_s", "user_id", "value")
    val pairs = for (x <- cols; y <- cols if x != y) yield (x, y)
    s"""WITH base AS (SELECT event_id, user_id, value,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events)
       |${pairs.map { case (x, y) => cand(x, y) }.mkString("\nUNION ALL\n")}
       |ORDER BY on_column, ordered_column""".stripMargin
  }

  /** q194: wildcard-tableau CFDs — the mask expansion written as an
    * explicit four-branch UNION (full, each single-constant, all-
    * wildcard), then the identical (sum, max) / (support, kept) levels
    * and exact-Long g₃ arithmetic. NULL pattern cells = wildcards (real
    * nulls are gated out before grouping on both sides).
    */
  val q194: String =
    """WITH base AS (
      |  SELECT event_type,
      |    CAST(floor(value / 250) AS BIGINT) AS vband,
      |    user_id % 25 AS uid_bucket,
      |    CASE WHEN event_type = 'signup' AND value < 250
      |      THEN (user_id % 25) * 3
      |      ELSE CAST(floor(value / 100) AS BIGINT) END AS dep
      |  FROM events),
      |g AS (SELECT event_type, vband, uid_bucket, dep, count(*) AS cnt
      |  FROM base WHERE event_type IS NOT NULL AND vband IS NOT NULL
      |    AND uid_bucket IS NOT NULL AND dep IS NOT NULL
      |  GROUP BY 1, 2, 3, 4),
      |e AS (
      |  SELECT nc, ep, vb, uid_bucket, dep, sum(cnt) AS cnt FROM (
      |    SELECT 2 AS nc, event_type AS ep, vband AS vb,
      |      uid_bucket, dep, cnt FROM g
      |    UNION ALL SELECT 1, event_type, NULL, uid_bucket, dep, cnt FROM g
      |    UNION ALL SELECT 1, NULL, vband, uid_bucket, dep, cnt FROM g
      |    UNION ALL SELECT 0, NULL, NULL, uid_bucket, dep, cnt FROM g)
      |  GROUP BY 1, 2, 3, 4, 5),
      |l2 AS (SELECT nc, ep, vb, uid_bucket, sum(cnt) AS nx, max(cnt) AS mx
      |  FROM e GROUP BY 1, 2, 3, 4),
      |l3 AS (SELECT nc, ep, vb, sum(nx) AS n, sum(mx) AS kept
      |  FROM l2 GROUP BY 1, 2, 3)
      |SELECT 'uid_bucket' AS determinant, 'dep' AS dependent,
      |  nc AS n_const,
      |  CAST(ep AS VARCHAR) AS event_type, CAST(vb AS VARCHAR) AS vband,
      |  CAST(n AS BIGINT) AS support, CAST(kept AS BIGINT) AS n_kept,
      |  CAST(n - kept AS DOUBLE) / n AS g3,
      |  CAST(n - kept AS DOUBLE) <= 0.02 * n AS holds
      |FROM l3 WHERE n >= 50
      |ORDER BY n_const, event_type NULLS FIRST, vband NULLS FIRST"""
      .stripMargin

  /** q192: rolling 1-hour min/max — the plain sliding RANGE window in
    * DuckDB (where it is cheap); the Spark side must reproduce it from
    * the two-bucket grow-only decomposition exactly, including empty-
    * window nulls and boundary inclusivity.
    */
  val q192: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, value
      |           FROM events WHERE user_id < 40)
      |SELECT event_id, user_id,
      |  min(value) OVER w AS min_window,
      |  max(value) OVER w AS max_window
      |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  def all(q09Literal: Option[String]): Map[String, String] = {
    val base = Map(
      "q07_mutual_info_orders" -> q07Pinned,
      "q16_medcouple_outliers" -> q16Pinned,
      "q34_dependence_max" -> q34Pinned,
      "q36_ivf_ann" -> q36Pinned,
      "q63_pq_error" -> q63Pinned,
      "q64_ivf_pq" -> q64Pinned,
      "q65_dup_clusters" -> q65,
      "q66_gopher_rules" -> q66,
      "q67_deduplicate" -> q67,
      "q68_asof_join" -> q68,
      "q69_range_join" -> q69,
      "q70_normalize" -> q70,
      "q71_mixture" -> q71,
      "q72_topk_source" -> q72,
      "q73_line_dedup" -> q73,
      "q74_bloom_contamination" -> q74Pinned,
      "q75_kmeans" -> q75Pinned,
      "q76_semdedup" -> q76Pinned,
      "q77_lm_score" -> q77,
      "q78_domain_blocklist" -> q78,
      "q79_repeated_spans" -> q79,
      "q80_naive_bayes" -> q80,
      "q81_canonical_urls" -> q81,
      "q82_datacard" -> q82,
      "q83_tfidf" -> q83,
      "q84_cross_decontamination" -> q84,
      "q85_curriculum" -> q85,
      "q86_audio_meta" -> q86,
      "q87_perplexity_partition" -> q87,
      "q88_exact_sample" -> q88,
      "q89_token_budget" -> q89,
      "q90_incremental_dedup" -> q90,
      "q91_curate_pipeline" -> q91,
      "q92_bpe_train" -> q92Pinned,
      "q93_bpe_pieces" -> q93Pinned,
      "q94_rolling_window" -> q94,
      "q95_resample" -> q95,
      "q96_cross_minhash" -> graft.ops.Dedup.Sql.crossJaccardPairs(
        "documents", "doc_id", "text", 3, 0.5,
        "id >= 100", "id < 100"),
      "q97_standardize" -> q97,
      "q98_frequency_encode" -> q98,
      "q99_skew_report" -> q99,
      "q100_image_features" -> q100,
      "q101_audio_features" -> q101,
      "q102_neardup_scaled" -> q102,
      "q103_pca_project" -> q103Pinned,
      "q104_opq_error" -> q104Pinned,
      "q105_ivf_opq" -> q105Pinned,
      "q01_pricing_summary" -> q01,
      "q02_describe_lineitem" -> q02,
      // q106 = a projection of q02's describe, so the oracle is shared
      // verbatim
      "q106_describe_approx" -> q02,
      "q107_image_resize" -> q107,
      "q108_video_frames" -> q108,
      "q109_heavy_hitters" -> q109,
      "q110_profile_quantiles" -> q110,
      "q111_tokenize_pack" -> q111Pinned,
      "q112_salted_join" -> q112,
      "q113_image_neardup" -> q113,
      "q114_audio_neardup" -> q114,
      "q115_quantile_bin" -> q115,
      "q116_target_encode" -> q116,
      "q117_dedup_keep_best" -> q117,
      "q118_constraints" -> q118,
      "q119_quarantine" -> q119,
      "q120_temperature_weights" -> q120,
      "q121_drift_psi" -> q121,
      "q122_embedding_stats" -> q122,
      "q123_release_funnel" -> q123,
      "q124_image_dedup" -> q124,
      "q125_ingest_twin" -> q125,
      "q126_robust_scale" -> q126,
      "q127_winsorize" -> q127,
      "q128_candidate_keys" -> q128,
      "q129_functional_deps" -> q129,
      "q130_column_entropy" -> q130,
      "q131_k_anonymity" -> q131,
      "q132_l_diversity" -> q132,
      "q133_fuzzy_join" -> q133,
      "q134_snapshot_diff" -> q134,
      "q135_c4_clean" -> q135,
      "q136_gopher_repetition" -> q136,
      "q137_entity_clusters" -> q137,
      "q138_cms_frequency" -> q138,
      "q139_composite_keys" -> q139,
      "q140_multifield_linkage" -> q140,
      "q141_staged_keys" -> q141,
      "q142_composite_fds" -> q142,
      "q143_screened_keys" -> q143,
      "q144_screened_fds" -> q144,
      "q145_staged_fds3" -> q145,
      "q146_mjpeg_luma" -> q146,
      "q147_inclusion_deps" -> q147,
      "q148_t_closeness" -> q148,
      "q149_composite_inds" -> q149,
      "q150_t_closeness_ordered" -> q150,
      // q151 = q146's frames at q146's cadence in an MP4 container: the
      // decoded statistics are container-invariant, so the arithmetic
      // oracle is shared verbatim (the q106→q02 convention)
      "q151_mjpeg_mp4" -> q146,
      "q152_ind_sweep" -> q152,
      "q153_composite_sweep" -> q153,
      "q154_fd_error" -> q154,
      "q155_partial_inds" -> q155,
      "q156_approx_keys" -> q156,
      "q157_order_deps" -> q157,
      "q158_join_cardinality" -> q158,
      "q159_funnel" -> q159,
      "q163_windowed_funnel" -> q163,
      "q164_funnel_timing" -> q164,
      "q165_resample_grid_keyed" -> q165,
      "q166_grid_ffill" -> q166,
      "q167_od_sweep" -> q167,
      "q168_funnel_actors" -> q168,
      "q169_next_event" -> q169,
      "q170_interval_overlap" -> q170,
      "q171_top_paths" -> q171,
      "q172_grouped_quantiles" -> q172,
      "q173_top_values_by_group" -> q173,
      "q174_probability_sample" -> q174,
      "q175_null_key_quantiles" -> q175,
      "q176_funnel_by_dim" -> q176,
      "q177_approx_ods" -> q177,
      "q178_retention_by_dim" -> q178,
      "q179_transition_matrix" -> q179,
      "q180_sessionize_split" -> q180,
      "q181_ffill_split" -> q181,
      "q182_funnel_timing_by_dim" -> q182,
      "q183_cfds" -> q183,
      "q184_funnel_by_event_dim" -> q184,
      "q185_retention_by_event_dim" -> q185,
      "q186_transitions_by_dim" -> q186,
      "q187_top_paths_by_dim" -> q187,
      "q188_sequential_deps" -> q188,
      "q189_infer_seq_gaps" -> q189,
      "q190_asof_split" -> q190,
      "q191_asof_strict_split" -> q191,
      "q192_rolling_extrema" -> q192,
      "q193_seq_dep_sweep" -> q193,
      "q194_tableau_cfds" -> q194,
      "q195_asof_tolerance" -> q195,
      "q196_asof_forward" -> q196,
      // q197 is the skew-flat twin of q94 with a contract-identical
      // output: the SAME oracle SQL pins both implementations
      "q197_rolling_bucketed" -> q94,
      "q198_seq_gap_sweep" -> q198,
      "q199_asof_nearest" -> q199,
      // q200 forces the heavy (actor, segment) split of the q171
      // machinery with an identical output contract: the SAME lead()
      // chain SQL pins both paths (heavy/light parity is spec-pinned)
      "q200_paths_heavy" -> q171,
      "q160_cohort_retention" -> q160,
      "q161_resample_grid" -> q161,
      "q162_forward_fill" -> q162,
      "q03_value_counts_orders" -> q03,
      "q04_histogram_price" -> q04,
      "q05_pearson_lineitem" -> q05,
      "q06_spearman_lineitem" -> q06,
      "q08_boxplot_lineitem" -> q08,
      "q10_concat_columns" -> q10,
      "q11_select_rename" -> q11,
      "q12_boolean_transform" -> q12,
      "q13_sentinel_replace" -> q13,
      "q14_datetime_coerce" -> q14,
      "q15_freq_inference" -> q15,
      "q20_dedup_exact" -> q20,
      "q21_ngram_jaccard" -> q21,
      "q22_minhash_lsh" -> q22,
      "q23_simhash_pairs" -> q23,
      "q24_lang_id" -> q24,
      "q25_text_quality" -> q25,
      "q26_fingerprint" -> q26,
      "q27_ann_cosine" -> q27,
      "q28_embedding_centroids" -> q28,
      "q29_lsh_ann" -> q29,
      "q30_multimodal" -> q30,
      "q39_embedding_neardup" -> q39,
      "q40_winnowing" -> q40,
      "q31_top_values" -> q31,
      "q32_recent_values" -> q32,
      "q33_int_range_counts" -> q33,
      "q35_loc_union" -> q35,
      "q37_describe_datetime" -> q37,
      "q38_validate_types" -> q38,
      "q41_latlong" -> q41,
      "q42_ordinal" -> q42,
      "q43_regex_types" -> q43,
      "q44_learned_datetime" -> q44,
      "q45_calendar_freq" -> q45,
      "q46_weekly_freq" -> q46,
      "q47_image_meta" -> q47,
      "q48_pii_scan" -> q48,
      "q49_boilerplate" -> q49,
      "q50_repetition" -> q50,
      "q51_pii_redact" -> q51,
      "q52_hash_split" -> q52,
      "q53_contamination" -> q53,
      "q54_chunking" -> q54,
      "q55_top_ngrams" -> q55,
      "q56_domains" -> q56,
      "q57_sessionize" -> q57,
      "q58_iloc" -> q58,
      "q59_packing" -> q59,
      "q60_quantize" -> q60,
      "q61_timedelta" -> q61,
      "q62_incremental_profile" -> q62)
    base ++ q09Literal.map("q09_infer_types" -> _)
  }
}
