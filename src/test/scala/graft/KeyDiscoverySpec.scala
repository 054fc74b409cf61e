package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.stats.KeyDiscovery

class KeyDiscoverySpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq[(Int, Option[String], String, Option[Int])](
    (1, Some("a"), "x", Some(10)),
    (2, Some("b"), "x", Some(10)),
    (3, Some("c"), "y", Some(20)),
    (4, None, "y", Some(20)),
    (5, Some("e"), "z", None)
  ).toDF("id", "tag", "grp", "grp_val")

  test("candidateKeys: unique-and-non-null wins; nulls and dupes disqualify") {
    val out = KeyDiscovery.candidateKeys(df, Seq("id", "tag", "grp"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out("id") == ((5L, 5L, 0L, true)))
    // unique among non-nulls but has a null: NOT a key
    assert(out("tag") == ((5L, 4L, 1L, false)))
    assert(out("grp") == ((5L, 3L, 0L, false)))
  }

  test("per-pair FD jobs prune to the pair's two columns") {
    Seq(KeyDiscovery.tupleFdAgg(df, Seq("grp"), "grp_val"),
      KeyDiscovery.fdPairAgg(df, "grp", "grp_val")).foreach { agg =>
      val scanned = agg.queryExecution.optimizedPlan.collectLeaves()
        .flatMap(_.output).map(_.name).toSet
      assert(scanned.subsetOf(Set("grp", "grp_val")), s"scanned: $scanned")
    }
  }

  test("per-candidate profile jobs prune to the candidate's columns") {
    // the concurrent-jobs shape reads ≈ one full-width scan in TOTAL only
    // because each job's plan references nothing beyond its tuple
    val plan = KeyDiscovery.tupleProfileAgg(df, Seq("grp", "grp_val"))
      .queryExecution.optimizedPlan
    val scanned = plan.collectLeaves().flatMap(_.output).map(_.name).toSet
    assert(scanned.subsetOf(Set("grp", "grp_val")), s"scanned: $scanned")
  }

  test("functionalDependencies: keys determine all; value columns don't") {
    val out = KeyDiscovery.functionalDependencies(df,
        Seq("id", "grp", "grp_val"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(4)).toMap
    assert(out(("id", "grp")))
    assert(out(("id", "grp_val")))
    assert(!out(("grp", "id")))
    // grp -> grp_val holds: x->10, y->20, z has only a null grp_val (the
    // any-null-skipping pair count ignores it, as does the oracle)
    assert(out(("grp", "grp_val")))
    assert(out(("grp_val", "grp"))) // 10->x, 20->y over non-null pairs
    assert(!out(("grp_val", "id")))
  }

  test("functionalDependencies breaks when one determinant maps to two values") {
    val broken = df.unionAll(
      Seq((6, Option("f"), "x", Option(99))).toDF("id", "tag", "grp", "grp_val"))
    val out = KeyDiscovery.functionalDependencies(broken, Seq("grp", "grp_val"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(4)).toMap
    assert(!out(("grp", "grp_val"))) // x maps to 10 and 99
    assert(out(("grp_val", "grp")))
  }

  test("compositeCandidateKeys: tuple distinct + any-null semantics") {
    val out = KeyDiscovery.compositeCandidateKeys(df,
        Seq(Seq("id"), Seq("grp", "grp_val"), Seq("id", "tag"),
          Seq("grp", "id")))
      .collect().map(r => r.getString(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    assert(out("id") == ((1, 5L, 5L, 0L, true)))
    // (grp, grp_val): pairs (x,10)(x,10)(y,20)(y,20)(z,null) → distinct 2
    // over the 4 all-non-null rows, 1 any-null row, not a key
    assert(out("grp,grp_val") == ((2, 5L, 2L, 1L, false)))
    // (id, tag): unique tuples but one null member row disqualifies
    assert(out("id,tag") == ((2, 5L, 4L, 1L, false)))
    // adding id to a non-key makes the tuple a key (no nulls in either)
    assert(out("grp,id") == ((2, 5L, 5L, 0L, true)))
  }

  test("discoverKeys(maxArity=2): singles + pairs, lattice order") {
    val out = KeyDiscovery.discoverKeys(df, Seq("id", "grp", "grp_val"))
    val names = out.collect().map(_.getString(0)).toSeq
    assert(names == Seq("id", "grp", "grp_val",
      "id,grp", "id,grp_val", "grp,grp_val"))
  }

  test("discoverKeysStaged prunes supersets of found keys, agrees on the key set") {
    val staged = KeyDiscovery.discoverKeysStaged(df, Seq("id", "grp", "grp_val"))
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    // id is an arity-1 key, so no arity-2 tuple containing it is measured
    assert(staged.keySet == Set("id", "grp", "grp_val", "grp,grp_val"))
    assert(staged("id") && !staged("grp,grp_val"))
    // the unpruned walk's key set is the staged key set plus the implied
    // supersets of discovered keys — nothing else
    val full = KeyDiscovery.discoverKeys(df, Seq("id", "grp", "grp_val"))
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    val impliedExtra = full.filter(_._2).keySet -- staged.filter(_._2).keySet
    assert(impliedExtra.forall(_.split(",").contains("id")), s"$impliedExtra")
  }

  test("HLL screen: verdict parity with exact on the q139-style lattice, fewer exact jobs") {
    val tuples = Seq(Seq("id"), Seq("tag"), Seq("grp"), Seq("grp_val"),
      Seq("id", "grp"), Seq("grp", "grp_val"), Seq("id", "tag"),
      Seq("tag", "grp"), Seq("tag", "grp_val"), Seq("grp_val", "id"))
    val exact = KeyDiscovery.compositeCandidateKeys(df, tuples)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    val (profiles, nExact) =
      KeyDiscovery.profileTuplesScreened(df, tuples, rsd = 0.02)
    val screened = tuples.zip(profiles).map { case (cs, ((n, d, z), _)) =>
      cs.mkString(",") -> ((n, d, z, z == 0L && d == n))
    }.toMap
    // is_key verdicts are identical...
    tuples.map(_.mkString(",")).foreach { k =>
      assert(screened(k)._4 == exact(k)._4, s"verdict mismatch at $k")
      // ...null counts and row counts always exact...
      assert(screened(k)._1 == exact(k)._1 && screened(k)._3 == exact(k)._3)
      // ...and candidates that survived the screen carry EXACT distincts
      if (screened(k)._4) assert(screened(k)._2 == exact(k)._2)
    }
    // the screen paid exact confirms only for the null-free near-keys
    assert(nExact < tuples.size, s"screen saved nothing: $nExact")
    // screened-out estimates stay within the documented HLL band (tiny
    // cardinalities here, where HLL++ is exact, so equality in practice)
    tuples.map(_.mkString(",")).foreach { k =>
      assert(math.abs(screened(k)._2 - exact(k)._2) <=
        math.max(1L, (0.1 * exact(k)._2).toLong), s"estimate off at $k")
    }
  }

  test("screenTupleAgg prunes to its tuple, plans NO Expand; staged walk accepts the screen") {
    import org.apache.spark.sql.catalyst.plans.logical.{Expand, LeafNode}
    val agg = KeyDiscovery.screenTupleAgg(df, Seq("grp", "grp_val"), rsd = 0.02)
    val plan = agg.queryExecution.optimizedPlan
    assert(plan.collect { case l: LeafNode => l }.size == 1)
    assert(plan.collect { case e: Expand => e }.isEmpty,
      "HLL screen must not plan as Expand — its shuffle is one sketch")
    val scanned = plan.collectLeaves().flatMap(_.output).map(_.name).toSet
    assert(scanned.subsetOf(Set("grp", "grp_val")), s"scanned: $scanned")
    val staged = KeyDiscovery.discoverKeysStaged(df,
        Seq("id", "grp", "grp_val"), screen = KeyDiscovery.Screen.Hll)
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(staged.keySet == Set("id", "grp", "grp_val", "grp,grp_val"))
    assert(staged("id") && !staged("grp,grp_val"))
  }

  test("compositeFunctionalDependencies: TANE prune + tuple measures") {
    // id -> grp holds at arity 1, so (id, X) -> grp is pruned for every X;
    // (grp, grp_val) is measured for dependent id and does NOT hold
    val out = KeyDiscovery.compositeFunctionalDependencies(df,
        Seq("id", "grp", "grp_val"), Seq("grp", "id"), maxArity = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(2)) ->
        ((r.getInt(1), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // dependent == determinant combinations are skipped
    assert(!out.contains(("id", "id")) && !out.contains(("grp", "grp")))
    assert(out(("id", "grp"))._4)           // key determines all
    assert(!out(("grp", "id"))._4)
    assert(!out(("grp_val", "id"))._4)
    // arity-2: tuples containing id are pruned for dependent grp (id -> grp
    // already holds); (grp, grp_val) -> id is measured and fails (x maps
    // to ids 1 and 2)
    assert(!out.contains(("id,grp_val", "grp")))
    assert(out.contains(("grp,grp_val", "id")))
    assert(!out(("grp,grp_val", "id"))._4)
    // arity-1 measures agree with the pairwise profiler's convention
    val pairwise = KeyDiscovery.functionalDependencies(df,
        Seq("id", "grp", "grp_val"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    for (((d, c), (a, da, dp, h)) <- out if a == 1 && pairwise.contains((d, c)))
      assert(pairwise((d, c)) == ((da, dp, h)), s"convention drift at $d->$c")
  }

  test("FD refute-screen: verdict parity, exact counts for every holds=true, fewer exact jobs") {
    val cols = Seq("id", "grp", "grp_val")
    val exact = KeyDiscovery.functionalDependencies(df, cols)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    val screened = KeyDiscovery.functionalDependencies(df, cols,
        screen = KeyDiscovery.Screen.Hll)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    exact.keySet.foreach { k =>
      assert(screened(k)._3 == exact(k)._3, s"verdict mismatch at $k")
      // a surviving pair is exact-confirmed, so its counts are exact too
      if (screened(k)._3) assert(screened(k) == exact(k))
    }
    // the screen refutes clearly-failing pairs without an exact job:
    // grp -> id has 3 determinant values against 5 pairs (ratio 1.67,
    // far past the 1 + 8*rsd band even at tiny-n HLL exactness)
    val pairs = (for { a <- cols; b <- cols if a != b } yield (Seq(a), b))
    val (_, nExact) = KeyDiscovery.fdTuplesScreened(df, pairs, rsd = 0.02)
    assert(nExact < pairs.size, s"screen refuted nothing: $nExact")
    // staged composite walk under the screen keeps the same prune set
    val stagedExact = KeyDiscovery.compositeFunctionalDependencies(df,
        cols, Seq("grp", "id"), maxArity = 2)
      .collect().map(r => (r.getString(0), r.getString(2)) -> r.getBoolean(5))
      .toMap
    val stagedScr = KeyDiscovery.compositeFunctionalDependencies(df,
        cols, Seq("grp", "id"), maxArity = 2,
        screen = KeyDiscovery.Screen.Hll)
      .collect().map(r => (r.getString(0), r.getString(2)) -> r.getBoolean(5))
      .toMap
    assert(stagedScr == stagedExact)
  }

  test("screenFdAgg prunes to its columns and plans no Expand") {
    import org.apache.spark.sql.catalyst.plans.logical.{Expand, LeafNode}
    val agg = KeyDiscovery.screenFdAgg(df, Seq("grp"), "grp_val", rsd = 0.02)
    val plan = agg.queryExecution.optimizedPlan
    assert(plan.collect { case l: LeafNode => l }.size == 1)
    assert(plan.collect { case e: Expand => e }.isEmpty)
    val scanned = plan.collectLeaves().flatMap(_.output).map(_.name).toSet
    assert(scanned.subsetOf(Set("grp", "grp_val")), s"scanned: $scanned")
  }

  test("staged walk at arity 3: Apriori generation equals enumerate-then-filter") {
    // arity-1: no keys; arity-2 keys (a,b) and (b,d); the only legal
    // arity-3 candidate is (a,c,d) — every triple containing a key is
    // pruned, and Apriori can only build it from the non-key survivors
    // {ac, ad, cd} sharing prefixes
    val df3 = Seq(
      (1, 1, "x", 10), (1, 2, "x", 10), (2, 1, "y", 20),
      (2, 2, "y", 20), (3, 1, "x", 30), (3, 2, "z", 30)
    ).toDF("a", "b", "c", "d")
    val cols = Seq("a", "b", "c", "d")
    val staged = KeyDiscovery.discoverKeysStaged(df3, cols, maxArity = 3)
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    // the enumerate-then-filter reference, written out
    assert(staged.keySet == Set("a", "b", "c", "d",
      "a,b", "a,c", "a,d", "b,c", "b,d", "c,d", "a,c,d"))
    assert(staged("a,b") && staged("b,d") && !staged("a,c,d"))
    assert(Seq("a", "b", "c", "d").forall(c => !staged(c)))
  }

  test("composite FDs at arity 3: Apriori levels reach a triple-only determinant") {
    // no single column or pair determines e; the full triple does (rows
    // are distinct on (a,b,c)) — the arity-3 level must be generated from
    // the six arity-2 non-holding survivors and measure exactly (a,b,c)
    val df3 = Seq(
      (1, 1, 1, 1), (1, 2, 2, 2), (2, 1, 2, 3), (2, 2, 1, 4), (1, 1, 2, 5)
    ).toDF("a", "b", "c", "e")
    val out = KeyDiscovery.compositeFunctionalDependencies(df3,
        Seq("a", "b", "c"), Seq("e"), maxArity = 3)
      .collect().map(r => (r.getString(0), r.getString(2)) ->
        ((r.getInt(1), r.getBoolean(5)))).toMap
    assert(out.keySet.map(_._1) ==
      Set("a", "b", "c", "a,b", "a,c", "b,c", "a,b,c"))
    assert(out.filter(_._2._1 < 3).values.forall(!_._2))
    assert(out(("a,b,c", "e"))._2)
  }

  test("Screen.Auto: Exact parity below the threshold, Hll selected above it") {
    // small frame: Auto resolves to Exact — identical rows, all is_exact
    val tuples = Seq(Seq("id"), Seq("grp"), Seq("grp", "grp_val"))
    val auto = KeyDiscovery.compositeCandidateKeys(df, tuples,
      screen = KeyDiscovery.Screen.Auto).collect().map(_.toSeq).toSeq
    val exact = KeyDiscovery.compositeCandidateKeys(df, tuples)
      .collect().map(_.toSeq).toSeq
    assert(auto == exact)
    assert(exact.forall(_.last == true))
    // large frame: the optimizer's size estimate crosses AutoScreenBytes
    // WITHOUT materializing anything, so Auto picks the screen — proven
    // by the far-from-unique column coming back as a sketch estimate
    // (is_exact = false), which the Exact path can never produce
    val big = spark.range(40L * 1000 * 1000)
      .select(col("id"), pmod(col("id"), lit(1000)).as("grp"))
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(KeyDiscovery.AutoScreenBytes))
    val row = KeyDiscovery.compositeCandidateKeys(big, Seq(Seq("grp")),
      screen = KeyDiscovery.Screen.Auto).head()
    assert(!row.getBoolean(5) && !row.getBoolean(6))
  }

  test("inclusionDependencies: exact verdicts, counts, and FK null semantics") {
    val child = Seq(
      (Some(1), "a"), (Some(2), "b"), (Some(2), "c"),
      (None, "d"), (Some(9), "e")).toDF("fk", "tag")
    val parent = Seq(1, 2, 3, 4).toDF("pk")
    val out = KeyDiscovery.inclusionDependencies(
      child, Seq("fk", "tag"), parent, Seq("pk")).collect()
    assert(out.length == 2)
    val fk = out(0)
    assert(fk.getString(0) == "fk" && fk.getString(1) == "pk")
    assert(fk.getLong(2) == 3)        // distinct non-null: 1, 2, 9
    assert(fk.getLong(3) == 4)
    assert(fk.getLong(4) == 1)        // 9 has no parent
    assert(fk.getDouble(5) == 2.0 / 3) // coverage = (3 - 1) / 3
    assert(!fk.getBoolean(6) && fk.getBoolean(7))
    val tag = out(1)                  // strings vs ints: nothing matches
    assert(tag.getLong(4) == 5 && tag.getDouble(5) == 0.0 &&
      !tag.getBoolean(6))
    // drop the violator: the IND holds, NULL fk does not violate (SQL FK)
    val ok = KeyDiscovery.inclusionDependencies(
      child.where(col("tag") =!= "e"), Seq("fk"), parent, Seq("pk")).head()
    assert(ok.getLong(4) == 0 && ok.getDouble(5) == 1.0 &&
      ok.getBoolean(6) && ok.getBoolean(7))
  }

  test("inclusionDependencies property: verdicts equal brute-force set containment") {
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 6) {
      val l = Seq.fill(30)(rnd.nextInt(12)).map(v =>
        if (rnd.nextInt(10) == 0) None else Some(v))
      val r = Seq.fill(25)(rnd.nextInt(12))
      val got = KeyDiscovery.inclusionDependencies(
        l.toDF("a"), Seq("a"), r.toDF("b"), Seq("b")).head()
      val la = l.flatten.toSet
      val rb = r.toSet
      assert(got.getLong(2) == la.size, s"trial $trial")
      assert(got.getLong(3) == rb.size, s"trial $trial")
      assert(got.getLong(4) == (la -- rb).size, s"trial $trial")
      val cov = if (la.isEmpty) 1.0
        else (la.size - (la -- rb).size).toDouble / la.size
      assert(got.getDouble(5) == cov, s"trial $trial")
      assert(got.getBoolean(6) == la.subsetOf(rb), s"trial $trial")
    }
  }

  test("inclusionDependencies HLL screen: every holds verdict exact, refutations marked") {
    // far-from-contained column (0..999 vs 0..9) must refute under the
    // screen; contained column must confirm exactly
    val l = spark.range(1000).select(
      col("id").as("wide"), pmod(col("id"), lit(10)).as("narrow"))
    val r = spark.range(10).select(col("id").as("pk"))
    val out = KeyDiscovery.inclusionDependencies(
      l, Seq("wide", "narrow"), r, Seq("pk"),
      screen = KeyDiscovery.Screen.Hll).collect()
    val wide = out(0)
    assert(!wide.getBoolean(6) && !wide.getBoolean(7)) // refuted, estimates
    val narrow = out(1)
    assert(narrow.getBoolean(6) && narrow.getBoolean(7)) // confirmed exact
    assert(narrow.getLong(2) == 10 && narrow.getLong(3) == 10 &&
      narrow.getLong(4) == 0)
    // empty left column: null sketch never refutes; exact confirm holds
    val empty = KeyDiscovery.inclusionDependencies(
      l.where(col("wide") < 0), Seq("wide"), r, Seq("pk"),
      screen = KeyDiscovery.Screen.Hll).head()
    assert(empty.getLong(2) == 0 && empty.getLong(4) == 0 &&
      empty.getDouble(5) == 1.0 && // empty left set: fully covered
      empty.getBoolean(6) && empty.getBoolean(7))
  }

  test("inclusionDependencies confirm plan: equi-join on the value, never a cartesian") {
    // one plan confirms a whole level: its executed joins are equi-joins,
    // and a sweep's job count does not grow with its candidate count
    val t1 = spark.range(300).select((0 until 6).map(i =>
      pmod(col("id"), lit(7 + i)).as(s"a$i")): _*)
    val t2 = spark.range(40).select((0 until 5).map(i =>
      (col("id") * (i + 1)).as(s"b$i")): _*)
    val plan = KeyDiscovery.indLevelPlan(IndexedSeq(t1, t2),
      Seq((0, Seq("a0"), 1, Seq("b0")), (1, Seq("b1"), 0, Seq("a0"))))
    plan.collect()
    val executed = plan.queryExecution.executedPlan.toString
    assert(executed.contains("isFinalPlan=true"), executed)
    assert(!executed.contains("CartesianProduct") &&
      !executed.contains("BroadcastNestedLoopJoin"), executed)
    val counter = new JobCounter(spark.sparkContext)
    try {
      def sweepJobs(leftCols: Int): Int = {
        val (rows, jobs, _) = counter.count(KeyDiscovery.discoverInds(Seq(
          ("t1", t1, (0 until leftCols).map(i => s"a$i")),
          ("t2", t2, (0 until 5).map(i => s"b$i")))).collect())
        assert(rows.length == 2 * leftCols * 5)
        jobs
      }
      val (jobs10, jobs60) = (sweepJobs(1), sweepJobs(6))
      assert(jobs10 == jobs60, s"10 pairs: $jobs10 jobs, 60 pairs: $jobs60")
    } finally counter.close()
  }

  test("compositeInclusionDependencies: tuple verdicts, counts, and " +
    "composite null semantics") {
    // child (k1,k2) tuples: (1,a) (2,b) (2,b) (9,a) (null,c) (3,null)
    val child = Seq(
      (Some(1), Some("a")), (Some(2), Some("b")), (Some(2), Some("b")),
      (Some(9), Some("a")), (None, Some("c")), (Some(3), None))
      .toDF("k1", "k2")
    val parent = Seq((1, "a"), (2, "b"), (3, "c"), (9, "a"))
      .toDF("p1", "p2")
    val out = KeyDiscovery.compositeInclusionDependencies(child, parent,
      Seq(Seq("k1", "k2") -> Seq("p1", "p2"),
        Seq("k1") -> Seq("p1"),
        Seq("k2") -> Seq("p2"))).collect()
    val t2 = out(0)
    assert(t2.getString(0) == "k1,k2" && t2.getString(1) == "p1,p2" &&
      t2.getInt(2) == 2)
    // any-null tuples (null,c) and (3,null) are ignored (MATCH SIMPLE):
    // distinct complete tuples (1,a) (2,b) (9,a) are ALL in the parent
    assert(t2.getLong(3) == 3 && t2.getLong(4) == 4 && t2.getLong(5) == 0)
    assert(t2.getBoolean(7) && t2.getBoolean(8))
    // arity-1 through the same tuple path: k1 = {1,2,9,3} ⊆ {1,2,3,9}
    val a1 = out(1)
    assert(a1.getLong(3) == 4 && a1.getLong(5) == 0 && a1.getBoolean(7))
    val a2 = out(2)
    assert(a2.getLong(3) == 3 && a2.getLong(5) == 0 && a2.getBoolean(7))
    // break containment positionally: (9,a) vs parent with (9,z) shows the
    // tuple is compared as a whole, not per component
    val parent2 = Seq((1, "a"), (2, "b"), (9, "z")).toDF("p1", "p2")
    val miss = KeyDiscovery.compositeInclusionDependencies(child, parent2,
      Seq(Seq("k1", "k2") -> Seq("p1", "p2"))).head()
    assert(miss.getLong(5) == 1 && !miss.getBoolean(7)) // (9,a) unmatched
  }

  test("compositeInclusionDependencies property: verdicts equal brute-force " +
    "tuple containment") {
    // one call mixes arities and names items in several candidates, z is
    // all-null, and the screen and partial coverage take the same inputs;
    // the sweep over the same tables puts every item on both sides
    val rnd = new scala.util.Random(43)
    def v(n: Int): Option[Int] =
      if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(n))
    val (lCols, rCols) = (Seq("a1", "a2", "z"), Seq("b1", "b2"))
    val pairs = Seq(Seq("a1", "a2") -> Seq("b1", "b2"), Seq("a1") -> Seq("b1"),
      Seq("a2") -> Seq("b1"), Seq("a2") -> Seq("b2"), Seq("z") -> Seq("b1"),
      Seq("a2", "a1") -> Seq("b2", "b1"), Seq("a1", "z") -> Seq("b1", "b2"))
    for (trial <- 1 to 4) {
      val l = Seq.fill(40)(Seq(v(6), v(4), None))
      val r = Seq.fill(30)(Seq(v(6), v(4)))
      val ldf = l.map(x => (x(0), x(1), x(2))).toDF(lCols: _*)
      val rdf = r.map(x => (x(0), x(1))).toDF(rCols: _*)
      val rowsOf = Map("l" -> (l, lCols), "r" -> (r, rCols))
      def tuples(t: String, cs: Seq[String]): Set[Seq[Option[Int]]] = {
        val (rows, cols) = rowsOf(t)
        rows.map(row => cs.map(c => row(cols.indexOf(c))))
          .filter(_.forall(_.isDefined)).toSet
      }
      // (n_left, n_right, n_missing, coverage, holds, is_exact) against
      // the brute-force sets; a screened row must be truly non-holding
      def check(got: Seq[Any], lt: String, ls: Seq[String], rt: String,
                rs: Seq[String], theta: Double): Unit = {
        val (a, b) = (tuples(lt, ls), tuples(rt, rs))
        val miss = (a -- b).size
        val holds = miss <= (1 - theta) * a.size
        val what = s"trial $trial θ=$theta $lt.$ls ⊆ $rt.$rs: $got"
        if (got(5) == true) {
          val cov = if (a.isEmpty) 1.0 else (a.size - miss).toDouble / a.size
          assert(got == Seq(a.size.toLong, b.size.toLong, miss.toLong, cov,
            holds, true), what)
        } else assert(got(4) == false && !holds, what)
      }
      for {
        screen <- Seq(KeyDiscovery.Screen.Exact, KeyDiscovery.Screen.Hll)
        theta <- Seq(1.0, 0.5)
      } {
        val got = KeyDiscovery.compositeInclusionDependencies(ldf, rdf, pairs,
          screen = screen, minCoverage = theta).collect()
        assert(got.length == pairs.size)
        pairs.zip(got).foreach { case ((ls, rs), row) =>
          check(row.toSeq.drop(3), "l", ls, "r", rs, theta) }
        val swept = KeyDiscovery.discoverInds(
          Seq(("l", ldf, lCols), ("r", rdf, rCols)),
          maxArity = if (theta == 1.0) 2 else 1, screen = screen,
          minCoverage = theta).collect()
        assert(swept.count(_.getInt(4) == 1) == 2 * lCols.size * rCols.size)
        swept.foreach { row =>
          check(row.toSeq.drop(5), row.getString(0),
            row.getString(1).split(",").toSeq, row.getString(2),
            row.getString(3).split(",").toSeq, theta)
        }
      }
    }
  }

  test("compositeInclusionDependencies HLL screen: a holding tuple pair is " +
    "NEVER refuted (encoding-collision safety), misses are refuted") {
    // contained tuple set: slice ⊆ full — under ANY encoding the union
    // estimate equals the right estimate exactly, so refutation is
    // impossible and the exact confirm reports holds = is_exact = true
    val full = spark.range(2000).select(
      col("id").as("x"), pmod(col("id"), lit(7)).as("y"))
    val slice = full.where(col("id") < 300).drop("id")
    val held = KeyDiscovery.compositeInclusionDependencies(
      slice, full, Seq(Seq("x", "y") -> Seq("x", "y")),
      screen = KeyDiscovery.Screen.Hll).head()
    assert(held.getBoolean(7) && held.getBoolean(8))
    assert(held.getLong(3) == 300 && held.getLong(5) == 0)
    // far-from-contained: full (2000 tuples) vs slice (300) must refute
    // with sketch estimates, marked is_exact = false
    val refuted = KeyDiscovery.compositeInclusionDependencies(
      full, slice, Seq(Seq("x", "y") -> Seq("x", "y")),
      screen = KeyDiscovery.Screen.Hll).head()
    assert(!refuted.getBoolean(7) && !refuted.getBoolean(8))
    assert(refuted.getLong(5) > 0)
    // misuse guards
    intercept[IllegalArgumentException] {
      KeyDiscovery.compositeInclusionDependencies(full, slice,
        Seq(Seq("x", "y") -> Seq("x"))) // arity mismatch
    }
    intercept[IllegalArgumentException] {
      KeyDiscovery.compositeInclusionDependencies(full, slice,
        Seq(Seq("x", "x") -> Seq("x", "y"))) // duplicate component
    }
  }

  test("discoverInds: the staged sweep's verdict set equals per-call " +
    "inclusionDependencies, exact and screened alike") {
    val t1 = spark.range(120).select(col("id").as("a"),
      pmod(col("id"), lit(10)).as("b"))
    val t2 = spark.range(10).select(col("id").as("c"))
    val t3 = spark.range(200).select(pmod(col("id"), lit(50)).as("d"))
    val tabs = Seq(("t1", t1, Seq("a", "b")), ("t2", t2, Seq("c")),
      ("t3", t3, Seq("d")))
    def perCall(): Map[(String, String, String, String), (Long, Long, Long, Boolean)] =
      (for {
        (lt, ldf, lcs) <- tabs; (rt, rdf, rcs) <- tabs if lt != rt
        a <- lcs; b <- rcs
      } yield {
        val r = KeyDiscovery.inclusionDependencies(ldf, Seq(a), rdf, Seq(b))
          .head()
        (lt, a, rt, b) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(6)))
      }).toMap
    val expect = perCall()
    val swept = KeyDiscovery.discoverInds(tabs).collect()
    assert(swept.length == expect.size) // 2·1 + 2·1 + 1·2+1·1 + 1·2+1·1 = 10
    swept.foreach { r =>
      val key = (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
      val (na, nb, miss, holds) = expect(key)
      assert(r.getInt(4) == 1)
      assert(r.getLong(5) == na && r.getLong(6) == nb &&
        r.getLong(7) == miss && r.getBoolean(9) == holds, s"$key")
      assert(r.getBoolean(10)) // exact mode: every row exact
    }
    // screened sweep: every is_exact row matches the exact truth, every
    // refuted row is truly non-holding (refute-only soundness)
    val screened = KeyDiscovery.discoverInds(tabs,
      screen = KeyDiscovery.Screen.Hll).collect()
    screened.foreach { r =>
      val key = (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
      val (na, nb, miss, holds) = expect(key)
      if (r.getBoolean(10))
        assert(r.getLong(5) == na && r.getLong(6) == nb &&
          r.getLong(7) == miss && r.getBoolean(9) == holds, s"$key")
      else
        assert(!r.getBoolean(9) && !holds, s"refuted but holds: $key")
    }
  }

  test("discoverInds: a level of more than 64 items counts every pair " +
    "exactly") {
    // 40 + 30 columns are 70 items: the value index's item sets span two
    // 64-bit words
    val t1 = spark.range(60).select((0 until 40).map(i =>
      pmod(col("id") * (i + 1), lit(11 + i)).as(s"a$i")): _*)
    val t2 = spark.range(25).select((0 until 30).map(i =>
      (pmod(col("id"), lit(5 + i)) + i % 3).as(s"b$i")): _*)
    def sets(df: org.apache.spark.sql.DataFrame): Map[String, Set[Long]] = {
      val rows = df.collect()
      df.columns.zipWithIndex.map { case (c, i) =>
        c -> rows.map(_.getLong(i)).toSet }.toMap
    }
    val cols = sets(t1) ++ sets(t2)
    val swept = KeyDiscovery.discoverInds(Seq(("t1", t1, t1.columns.toSeq),
      ("t2", t2, t2.columns.toSeq))).collect()
    assert(swept.length == 2 * 40 * 30)
    swept.foreach { r =>
      val (a, b) = (cols(r.getString(1)), cols(r.getString(3)))
      assert((r.getLong(5), r.getLong(6), r.getLong(7)) ==
        ((a.size.toLong, b.size.toLong, (a -- b).size.toLong)),
        r.toString)
    }
  }

  test("discoverInds maxArity=2: MIND generation — composite candidates " +
    "exist exactly where both projections hold, verdicts match brute force") {
    // t1 (a, b) vs t2 (c, d): a⊆c holds, b⊆d holds, a⊆d and b⊆c do not →
    // the only level-2 candidate is (a,b) ⊆ (c,d); its truth is measured
    val t1 = Seq((1, 100), (2, 200), (3, 100)).toDF("a", "b")
    val t2 = Seq((1, 100), (2, 200), (3, 100), (4, 300)).toDF("c", "d")
    val out = KeyDiscovery.discoverInds(
      Seq(("t1", t1, Seq("a", "b")), ("t2", t2, Seq("c", "d"))),
      maxArity = 2).collect()
    val l2 = out.filter(_.getInt(4) == 2)
    assert(l2.length == 1, out.mkString("\n"))
    val r = l2.head
    assert(r.getString(0) == "t1" && r.getString(1) == "a,b" &&
      r.getString(3) == "c,d")
    // tuples (1,100),(2,200),(3,100) all appear in t2 → holds
    assert(r.getLong(5) == 3 && r.getLong(7) == 0 && r.getBoolean(9))
    // shrink t2 to (1,100),(2,200),(3,300): both projections STILL hold,
    // so the composite is generated — but tuple (3,100) is missing, so it
    // measures failing (projections holding is necessary, not sufficient)
    val out2 = KeyDiscovery.discoverInds(
      Seq(("t1", t1, Seq("a", "b")),
        ("t2", Seq((1, 100), (2, 200), (3, 300)).toDF("c", "d"),
          Seq("c", "d"))),
      maxArity = 2).collect()
    val l2b = out2.filter(_.getInt(4) == 2)
    // unary: a={1,2,3}⊆c={1,2,3} holds; b={100,200}⊆d={100,200,300} holds
    // composite (3,100) not in t2 rows → generated, 1 miss, fails
    assert(l2b.length == 1)
    assert(l2b.head.getLong(7) == 1 && !l2b.head.getBoolean(9))
    // a table pair with a failing projection generates NO composite:
    // swap d so b ⊄ d
    val out3 = KeyDiscovery.discoverInds(
      Seq(("t1", t1, Seq("a", "b")),
        ("t2", Seq((1, 9), (2, 9), (3, 9)).toDF("c", "d"), Seq("c", "d"))),
      maxArity = 2).collect()
    assert(!out3.exists(_.getInt(4) == 2))
  }

  test("Screen.Auto resolves from the measured frame's estimate") {
    // Auto reads the optimizer estimate of the frame it is given: a
    // 100-row limit of a source past the threshold measures exactly
    val big = spark.range(40L * 1000 * 1000)
      .select(col("id"), pmod(col("id"), lit(1000)).as("grp"))
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(KeyDiscovery.AutoScreenBytes))
    assert(big.limit(100).queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(KeyDiscovery.AutoScreenBytes))
    val r = KeyDiscovery.compositeCandidateKeys(big.limit(100),
      Seq(Seq("grp")), screen = KeyDiscovery.Screen.Auto).head()
    assert(r.getBoolean(6)) // exact path taken
    val fd = KeyDiscovery.functionalDependencies(big.limit(100),
      Seq("id", "grp"), screen = KeyDiscovery.Screen.Auto).head()
    assert(fd.getBoolean(5)) // is_exact
  }

  test("approximateFunctionalDependencies: g3 equals the removed-row " +
      "fraction, null gating, holds at maxError") {
    val d = Seq[(Int, Option[String], Option[String])](
      (1, Some("x"), Some("a")), (2, Some("x"), Some("a")),
      (3, Some("x"), Some("b")), (4, Some("y"), Some("c")),
      (5, Some("y"), Some("c")), (6, None, Some("d")),
      (7, Some("z"), None)
    ).toDF("id", "k", "v")
    val out = KeyDiscovery.approximateFunctionalDependencies(
      d, Seq("id", "k"), Seq("v"), maxError = 0.3)
      .collect().map(r => r.getString(0) -> r).toMap
    // k -> v gates to rows 1..5 (null k and null v both excluded):
    // x keeps 2 of 3, y keeps 2 of 2 -> g3 = (5 - 4)/5
    val kv = out("k")
    assert(kv.getLong(3) == 5 && kv.getLong(4) == 4)
    assert(kv.getDouble(5) == 1.0 / 5)
    assert(kv.getBoolean(6) && kv.getBoolean(7)) // 0.2 <= 0.3, exact
    // id is a key: every group keeps its single row, g3 = 0
    val idv = out("id")
    assert(idv.getLong(3) == 6 && idv.getLong(4) == 6)
    assert(idv.getDouble(5) == 0.0 && idv.getBoolean(6))
    // tighten the budget: k -> v no longer holds, g3 unchanged
    val tight = KeyDiscovery.approximateFunctionalDependencies(
      d, Seq("k"), Seq("v"), maxError = 0.1).head()
    assert(tight.getDouble(5) == 1.0 / 5 && !tight.getBoolean(6))
    // empty restriction (all dependents null): g3 = 0 by convention
    val empty = KeyDiscovery.approximateFunctionalDependencies(
      d.where(col("v").isNull), Seq("k"), Seq("v"), maxError = 0.1).head()
    assert(empty.getLong(3) == 0 && empty.getDouble(5) == 0.0 &&
      empty.getBoolean(6))
  }

  test("approximateFunctionalDependencies property: g3 equals brute force") {
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 6) {
      val rows = Seq.fill(120)((rnd.nextInt(8), rnd.nextInt(4)))
      val d = rows.toDF("k", "v")
      val got = KeyDiscovery.approximateFunctionalDependencies(
        d, Seq("k"), Seq("v"), maxError = 0.2).head()
      val n = rows.size.toLong
      val kept = rows.groupBy(_._1).values
        .map(g => g.groupBy(_._2).values.map(_.size).max.toLong).sum
      assert(got.getLong(3) == n && got.getLong(4) == kept, s"trial $trial")
      assert(got.getDouble(5) == (n - kept).toDouble / n, s"trial $trial")
      assert(got.getBoolean(6) == ((n - kept).toDouble <= 0.2 * n),
        s"trial $trial")
    }
  }

  test("approximateFunctionalDependencies maxArity=2: g3 monotone prune — " +
      "holding sets generate no supersets, survivors pair Apriori-style") {
    // k1 -> c and k2 -> c both fail at 0.1, their PAIR nails c exactly;
    // key -> c holds at level 1, so (key, *) must never be measured
    val d = Seq(
      (1, "a", "p", "u"), (2, "a", "q", "v"), (3, "b", "p", "v"),
      (4, "b", "q", "u"), (5, "a", "p", "u"), (6, "b", "q", "u")
    ).toDF("key", "k1", "k2", "c")
    val out = KeyDiscovery.approximateFunctionalDependencies(
      d, Seq("key", "k1", "k2"), Seq("c"), maxError = 0.1, maxArity = 2)
      .collect()
    val byDet = out.map(r => r.getString(0) -> r).toMap
    assert(byDet("key").getBoolean(6))         // key holds at level 1
    assert(!byDet("k1").getBoolean(6) && !byDet("k2").getBoolean(6))
    val pair = byDet("k1,k2")                  // the one level-2 candidate
    assert(pair.getInt(1) == 2 && pair.getDouble(5) == 0.0 &&
      pair.getBoolean(6))
    // no superset of the holding {key} was measured
    assert(out.forall(r => !r.getString(0).split(",").contains("key") ||
      r.getInt(1) == 1))
    assert(out.length == 4) // 3 unary + exactly one generated pair
  }

  test("approximateFunctionalDependencies prune is MINIMALITY, not " +
      "implication: the null-gate counterexample is pinned") {
    // g3(a -> c) = 2/5 holds at 0.4, so (a,b) is pruned — but its OWN
    // g3 on the narrower a,b,c-non-null gate is 1/2 > 0.4. The scaladoc
    // documents the pruned row as "not minimal", never "implied to hold".
    val d = Seq[(Int, Option[Int], String)](
      (1, None, "c1"), (1, None, "c1"), (1, None, "c1"),
      (1, Some(5), "c2"), (1, Some(5), "c3")
    ).toDF("a", "b", "c")
    val out = KeyDiscovery.approximateFunctionalDependencies(
      d, Seq("a", "b"), Seq("c"), maxError = 0.4, maxArity = 2).collect()
    val byDet = out.map(r => r.getString(0) -> r).toMap
    assert(byDet("a").getDouble(5) == 2.0 / 5 && byDet("a").getBoolean(6))
    assert(!byDet.contains("a,b")) // pruned: non-minimal
    // measured on its own gate (b non-null restricts to rows 4-5, where
    // grouping by a equals grouping by (a,b) since b is constant), the
    // superset genuinely exceeds the budget — the documented
    // counterexample, pinned so the claim stays honest
    val gated = KeyDiscovery.approximateFunctionalDependencies(
      d.where(col("b").isNotNull), Seq("a"), Seq("c"),
      maxError = 0.4).head()
    assert(gated.getLong(3) == 2 && gated.getDouble(5) == 0.5 &&
      !gated.getBoolean(6))
    // duplicate columns refuse loudly (degenerate "x,x" candidates)
    intercept[IllegalArgumentException] {
      KeyDiscovery.approximateFunctionalDependencies(
        d, Seq("a", "a"), Seq("c"))
    }
    intercept[IllegalArgumentException] {
      KeyDiscovery.compositeFunctionalDependencies(
        d, determinants = Seq("a", "a"), dependents = Seq("c"))
    }
  }

  test("approximateFunctionalDependencies HLL screen: every holds exact, " +
      "gross violators refuted with estimate rows") {
    val d = spark.range(2000).select(
      col("id"), lit("const").as("one"), pmod(col("id"), lit(5)).as("grp"))
    val out = KeyDiscovery.approximateFunctionalDependencies(
      d, Seq("id", "one"), Seq("grp", "id"),
      maxError = 0.05, screen = KeyDiscovery.Screen.Hll)
      .collect().map(r => (r.getString(0), r.getString(2)) -> r).toMap
    // one -> id: 2000 distinct dependents under one determinant value —
    // violation lower bound ~1999 >> 100 + 8*rsd*dp, refuted on sketches
    val refuted = out(("one", "id"))
    assert(!refuted.getBoolean(6) && !refuted.getBoolean(7))
    assert(refuted.getDouble(5) > 0.05) // estimate-derived g3 lower bound
    // id -> grp: exact FD; the refute-only screen must confirm it exactly
    val held = out(("id", "grp"))
    assert(held.getBoolean(6) && held.getBoolean(7))
    assert(held.getLong(3) == 2000 && held.getLong(4) == 2000 &&
      held.getDouble(5) == 0.0)
  }

  test("partial INDs: coverage threshold relaxes holds; screened rows " +
      "never hold; discoverInds sweeps unary partial INDs") {
    val child = Seq((1, "a"), (2, "b"), (9, "c"), (7, "d"), (8, "e"))
      .toDF("fk", "tag")
    val parent = Seq(1, 2, 9, 3).toDF("pk")
    // 3 of 5 distinct fk values covered: coverage 0.6
    val p = KeyDiscovery.inclusionDependencies(
      child, Seq("fk"), parent, Seq("pk"), minCoverage = 0.6).head()
    assert(p.getLong(4) == 2 && p.getDouble(5) == 3.0 / 5)
    assert(p.getBoolean(6) && p.getBoolean(7)) // holds at theta = 0.6
    val strict = KeyDiscovery.inclusionDependencies(
      child, Seq("fk"), parent, Seq("pk"), minCoverage = 0.7).head()
    assert(!strict.getBoolean(6)) // 0.6 < 0.7
    // composite path shares the verdict rule over distinct tuples
    val comp = KeyDiscovery.compositeInclusionDependencies(
      child, child.where(col("fk") < 8),
      Seq(Seq("fk", "tag") -> Seq("fk", "tag")), minCoverage = 0.6).head()
    assert(comp.getLong(5) == 2 && comp.getDouble(6) == 3.0 / 5 &&
      comp.getBoolean(7))
    // screen path: the theta-relaxed refute bound
    // |A ∪ B| > (1 + 8·rsd)(|B| + (1 − θ)|A|) fires on DISJOINT sides
    // (8000 > 1.16·5500) and a screened row can never read holds
    val l = spark.range(5000).select(col("id").as("wide"))
    val rt = spark.range(10000, 13000).select(col("id").as("pk"))
    val scr = KeyDiscovery.inclusionDependencies(
      l, Seq("wide"), rt, Seq("pk"),
      screen = KeyDiscovery.Screen.Hll, minCoverage = 0.5).head()
    assert(!scr.getBoolean(7)) // is_exact = false
    assert(!scr.getBoolean(6)) // screened rows never read holds
    // but a pair that HOLDS at theta is never refuted by the screen:
    // 3000 of 5000 covered (0.6 >= 0.5), union 5000 < 1.16·5500
    val rIn = spark.range(3000).select(col("id").as("pk"))
    val held = KeyDiscovery.inclusionDependencies(
      l, Seq("wide"), rIn, Seq("pk"),
      screen = KeyDiscovery.Screen.Hll, minCoverage = 0.5).head()
    assert(held.getBoolean(6) && held.getBoolean(7)) // exact confirm
    assert(held.getDouble(5) == 3000.0 / 5000)
    // sweep parity at theta < 1 (unary only)
    val tabs = Seq(
      ("child", child, Seq("fk")), ("parent", parent, Seq("pk")))
    val swept = KeyDiscovery.discoverInds(tabs, minCoverage = 0.6)
      .collect().map(row => (row.getString(0), row.getString(1),
        row.getString(2), row.getString(3)) ->
        ((row.getDouble(8), row.getBoolean(9)))).toMap
    assert(swept(("child", "fk", "parent", "pk")) == ((3.0 / 5, true)))
    // the arity lattice refuses partial coverage (projection rule unsound)
    intercept[IllegalArgumentException] {
      KeyDiscovery.discoverInds(tabs, maxArity = 2, minCoverage = 0.6)
    }
  }

  test("approximateKeys: uniqueness error equals rows-to-remove, " +
      "minimality prune, level-2 Apriori generation") {
    // k1/k2 alone fail at 0.2, their pair holds; v holds at level 1 so
    // no pair containing v is ever measured (minimal eps-keys only)
    val d = Seq((1, "a", 1), (1, "b", 2), (2, "a", 3), (2, "b", 4),
      (2, "b", 4)).toDF("k1", "k2", "v")
    val out = KeyDiscovery.approximateKeys(
      d, Seq("k1", "k2", "v"), maxError = 0.2, maxArity = 2).collect()
    val byCols = out.map(r => r.getString(0) -> r).toMap
    assert(byCols("v").getLong(3) == 4 &&
      byCols("v").getDouble(5) == 1.0 / 5 && byCols("v").getBoolean(6))
    assert(byCols("k1").getDouble(5) == 3.0 / 5 &&
      !byCols("k1").getBoolean(6))
    assert(byCols("k2").getDouble(5) == 3.0 / 5 &&
      !byCols("k2").getBoolean(6))
    val pair = byCols("k1,k2") // distinct tuples: (1,a)(1,b)(2,a)(2,b)
    assert(pair.getInt(1) == 2 && pair.getLong(3) == 4 &&
      pair.getDouble(5) == 1.0 / 5 && pair.getBoolean(6))
    assert(out.length == 4) // no pair containing the holding v
    // nulls disqualify strictly: any-null rows count into the error
    val dn = Seq[(Option[Int], Int)]((Some(1), 0), (Some(2), 0),
      (None, 0), (None, 0)).toDF("k", "pad")
    val kn = KeyDiscovery.approximateKeys(dn, Seq("k"), maxError = 0.5)
      .head()
    assert(kn.getLong(2) == 4 && kn.getLong(3) == 2 && kn.getLong(4) == 2)
    assert(kn.getDouble(5) == 0.5 && kn.getBoolean(6)) // (4-2)/4 <= 0.5
    // empty frame: error 0 by convention
    val e = KeyDiscovery.approximateKeys(dn.where(col("pad") > 0),
      Seq("k"), maxError = 0.0).head()
    assert(e.getLong(2) == 0 && e.getDouble(5) == 0.0 && e.getBoolean(6))
  }

  test("approximateKeys HLL screen: gross violators refuted sketch-only, " +
      "every holds exact") {
    val d = spark.range(2000).select(
      col("id"), lit(7).as("const"))
    val out = KeyDiscovery.approximateKeys(
      d, Seq("id", "const"), maxError = 0.05,
      screen = KeyDiscovery.Screen.Hll)
      .collect().map(r => r.getString(0) -> r).toMap
    val ref = out("const") // d_est ~ 1: error bound ~1 >> 0.05, refuted
    assert(!ref.getBoolean(6) && !ref.getBoolean(7))
    assert(ref.getDouble(5) > 0.05)
    val held = out("id")   // exact confirm: 2000 distinct, error 0
    assert(held.getBoolean(6) && held.getBoolean(7))
    assert(held.getLong(3) == 2000 && held.getDouble(5) == 0.0)
  }

  test("orderDependencies: monotone labels, tie rule, null gating, " +
      "group-level violation counts") {
    val d = Seq[(Option[Int], Option[Int])](
      (Some(1), Some(1)), (Some(2), Some(2)), (Some(3), Some(2)),
      (Some(4), Some(3)), (None, Some(9)), (Some(5), None)
    ).toDF("x", "y")
    val asc = KeyDiscovery.orderDependencies(d, Seq("x" -> "y")).head()
    assert(asc.getLong(2) == 4)        // null x / null y rows ignored
    assert(asc.getLong(3) == 0)        // non-decreasing
    assert(asc.getLong(4) == 3)        // every later group breaks desc
    assert(asc.getString(5) == "asc")
    // reversed y: desc
    val rd = d.withColumn("y", -col("y"))
    val desc = KeyDiscovery.orderDependencies(rd, Seq("x" -> "y")).head()
    assert(desc.getLong(3) == 3 && desc.getLong(4) == 0 &&
      desc.getString(5) == "desc")
    // constant y: both directions hold
    val cb = KeyDiscovery.orderDependencies(
      d.withColumn("y", lit(5)), Seq("x" -> "y")).head()
    assert(cb.getString(5) == "both")
    // rows tied on x constrain nothing: (1,5),(1,1) then (2,6) is asc
    val tie = Seq((1, 5), (1, 1), (2, 6)).toDF("x", "y")
    val t = KeyDiscovery.orderDependencies(tie, Seq("x" -> "y")).head()
    assert(t.getLong(2) == 2 && t.getLong(3) == 0 &&
      t.getString(5) == "asc")
    // but a group whose min undercuts an earlier max violates
    val v = Seq((1, 5), (2, 4), (2, 9)).toDF("x", "y")
    val vo = KeyDiscovery.orderDependencies(v, Seq("x" -> "y")).head()
    assert(vo.getLong(3) == 1 && vo.getString(5) == "none")
    // empty frame: zero groups, both directions hold vacuously
    val em = KeyDiscovery.orderDependencies(
      d.where(col("x") > 99), Seq("x" -> "y")).head()
    assert(em.getLong(2) == 0 && em.getString(5) == "both")
  }

  test("orderDependencyAgg plan: rows collapse through groupBy(x) before " +
      "ANY Sort — every Sort operates on the grouped frame") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // AQE off so executedPlan is the plain EnsureRequirements output
    // (sparkPlan predates the inserted SortExec nodes; the adaptive
    // wrapper hides them from collect) — the PlanShapeSpec toggle
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val d = spark.range(10000).select(
        pmod(col("id"), lit(500)).as("x"), col("id").as("y"))
      val plan = KeyDiscovery.orderDependencyAgg(d, "x", "y", 8)
        .queryExecution.executedPlan
      val sorts = plan.collect { case s: SortExec => s }
      assert(sorts.nonEmpty) // the window/range machinery does sort —
      // but only AFTER the aggregation collapsed rows to distinct x
      sorts.foreach { s =>
        assert(s.exists { case _: BaseAggregateExec => true
                          case _ => false },
          s"a Sort with no Aggregate below it (raw-row sort):\n$s")
      }
    } finally conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("orderDependencies property: violation counts equal brute force " +
      "at every partition count (carry-in correctness)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4; p <- Seq(1, 3, 8)) {
      val rows = Seq.fill(150)((rnd.nextInt(60), rnd.nextInt(20)))
      val d = rows.toDF("x", "y")
      val got = KeyDiscovery.orderDependencies(d, Seq("x" -> "y"),
        partitions = p).head()
      val groups = rows.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (x, g) => (g.map(_._2).min, g.map(_._2).max) }
      val ascViol = groups.indices.count { i =>
        i > 0 && groups.take(i).map(_._2).max > groups(i)._1 }
      val descViol = groups.indices.count { i =>
        i > 0 && groups.take(i).map(_._1).min < groups(i)._2 }
      assert(got.getLong(2) == groups.size, s"trial $trial p=$p")
      assert(got.getLong(3) == ascViol, s"trial $trial p=$p")
      assert(got.getLong(4) == descViol, s"trial $trial p=$p")
    }
  }

  test("approximateOrderDependencies: adjacent counts equal brute force " +
      "at every partition count; epsilon-0 verdicts equal exact; a " +
      "dirtied near-monotone pair separates under epsilon") {
    val rnd = new scala.util.Random(44)
    for (trial <- 1 to 3; p <- Seq(1, 3, 8)) {
      val rows = Seq.fill(150)((rnd.nextInt(60), rnd.nextInt(20)))
      val d = rows.toDF("x", "y")
      val got = KeyDiscovery.approximateOrderDependencies(d,
        Seq("x" -> "y"), epsilon = 0.0, partitions = p).head()
      val groups = rows.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (_, g) => (g.map(_._2).min, g.map(_._2).max) }
      val ascViol = groups.indices.count { i =>
        i > 0 && groups(i - 1)._2 > groups(i)._1 }
      val descViol = groups.indices.count { i =>
        i > 0 && groups(i - 1)._1 < groups(i)._2 }
      val den = math.max(groups.size - 1, 1).toDouble
      assert(got.getLong(2) == groups.size, s"trial $trial p=$p")
      assert(got.getLong(3) == ascViol, s"trial $trial p=$p")
      assert(got.getLong(4) == descViol, s"trial $trial p=$p")
      assert(got.getDouble(5) == ascViol / den, s"trial $trial p=$p")
      assert(got.getDouble(6) == descViol / den, s"trial $trial p=$p")
      // epsilon = 0 reduces to the exact verdict (zero adjacent
      // violations <=> zero prefix violations, the chain argument)
      val exact = KeyDiscovery.orderDependencies(d, Seq("x" -> "y"),
        partitions = p).head()
      assert(got.getString(7) == exact.getString(5), s"trial $trial p=$p")
    }
    // a long monotone run with ONE outlier row: exact reads none, the
    // approximate form prices the dirt at ~2 adjacent pairs
    val dirty = ((1 to 100).map(i => (i, i)) :+ (50, 999)).toDF("x", "y")
    val exact = KeyDiscovery.orderDependencies(dirty,
      Seq("x" -> "y")).head()
    assert(exact.getString(5) == "none")
    val apx = KeyDiscovery.approximateOrderDependencies(dirty,
      Seq("x" -> "y"), epsilon = 0.05).head()
    assert(apx.getLong(3) == 1L)               // only 50->51 breaks asc
    assert(apx.getDouble(5) == 1.0 / 99)
    assert(apx.getString(7) == "asc")          // held under epsilon
    val strict = KeyDiscovery.approximateOrderDependencies(dirty,
      Seq("x" -> "y"), epsilon = 0.0).head()
    assert(strict.getString(7) == "none")
    intercept[IllegalArgumentException] {
      KeyDiscovery.approximateOrderDependencies(dirty,
        Seq("x" -> "y"), epsilon = 1.0)
    }
  }

  test("discoverOrderDependencies: sweep verdicts equal per-call results " +
      "across MaxCandidates chunks; declared-pair fan-out and order") {
    val rnd = new scala.util.Random(7)
    // 9 columns -> 72 ordered pairs, spanning two MaxCandidates=64 chunks
    val cols = (0 until 9).map(i => s"c$i")
    val rows = Seq.fill(120)(Row.fromSeq(
      Seq.fill(9)(rnd.nextInt(15): java.lang.Integer)))
    val schema = StructType(cols.map(c =>
      StructField(c, IntegerType, nullable = true)))
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val sweep = KeyDiscovery.discoverOrderDependencies(
      Seq(("t", d, cols))).collect()
    assert(sweep.length == 72)
    assert(sweep.forall(_.getString(0) == "t"))
    // declared-order canonical pair order, across the chunk boundary
    val expPairs = for (x <- cols; y <- cols if x != y) yield (x, y)
    assert(sweep.map(r => (r.getString(1), r.getString(2))).toSeq
      == expPairs)
    // verdict parity with per-call orderDependencies on a sample of
    // pairs from BOTH chunks
    for ((x, y) <- Seq(("c0", "c1"), ("c3", "c8"), ("c8", "c0"))) {
      val one = KeyDiscovery.orderDependencies(d, Seq(x -> y)).head()
      val row = sweep.find(r =>
        r.getString(1) == x && r.getString(2) == y).get
      assert((row.getLong(3), row.getLong(4), row.getLong(5),
        row.getString(6)) ==
        ((one.getLong(2), one.getLong(3), one.getLong(4),
          one.getString(5))), s"($x,$y)")
    }
    // multi-table: rows tagged with their table, tables in given order
    val d2 = Seq((1, 10), (2, 20), (3, 15)).toDF("a", "b")
    val two = KeyDiscovery.discoverOrderDependencies(
      Seq(("u", d2, Seq("a", "b")), ("v", d2, Seq("a", "b")))).collect()
    assert(two.map(_.getString(0)).toSeq == Seq("u", "u", "v", "v"))
    intercept[IllegalArgumentException] {
      KeyDiscovery.discoverOrderDependencies(Seq(("t", d2, Seq("a"))))
    }
    intercept[IllegalArgumentException] {
      KeyDiscovery.discoverOrderDependencies(
        Seq(("t", d2, Seq("a", "b")), ("t", d2, Seq("a", "b"))))
    }
  }

  test("conditionalFunctionalDependencies: per-pattern g3 equals brute " +
      "force (nulls gated, support gate, conditional hold)") {
    val rnd = new scala.util.Random(20250818)
    // p in {P0, P1, P2, null}; inside P0 the FD x -> c holds by
    // construction (c = 2x); elsewhere c is noisy; nulls in every role
    val rows = (0 until 600).map { _ =>
      val p = rnd.nextInt(8) match {
        case 0 => None
        case n => Some(s"P${n % 3}")
      }
      val x = if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(12))
      val c = (p, x) match {
        case (_, None) => Some(rnd.nextInt(30))
        case (Some("P0"), Some(xv)) => Some(2 * xv)
        case _ => if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(6))
      }
      (p.orNull, x.map(Integer.valueOf).orNull, c.map(Integer.valueOf).orNull)
    }
    val df = rows.toDF("p", "x", "c")
    // brute force: per pattern value, n and sum of per-x max group size
    val gated = rows.collect {
      case (p, x, c) if p != null && x != null && c != null => (p, x, c)
    }
    val ref = gated.groupBy(_._1).map { case (p, g) =>
      val kept = g.groupBy(_._2).values
        .map(xs => xs.groupBy(_._3).values.map(_.size).max).sum
      p -> ((g.size.toLong, kept.toLong))
    }
    for (minSupport <- Seq(1L, 60L)) {
      val out = KeyDiscovery.conditionalFunctionalDependencies(df,
          Seq("p"), Seq("x"), Seq("c"), maxError = 0.05,
          minSupport = minSupport)
        .collect()
        .map(r => r.getString(1) -> ((r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getBoolean(7)))).toMap
      val expected = ref.filter(_._2._1 >= minSupport)
      assert(out.keySet == expected.keySet, s"minSupport=$minSupport")
      expected.foreach { case (p, (n, kept)) =>
        val (gn, gk, g3, holds) = out(p)
        assert((gn, gk) == ((n, kept)), s"pattern $p")
        assert(g3 == (n - kept).toDouble / n, s"pattern $p g3")
        assert(holds == ((n - kept).toDouble <= 0.05 * n), s"pattern $p")
      }
      // the constructed conditional FD: holds exactly in P0
      assert(out("P0")._4 && out("P0")._3 == 0.0)
      assert(!out("P1")._4 && !out("P2")._4, "noise patterns must fail")
    }
    // misuse guards
    intercept[IllegalArgumentException] {
      KeyDiscovery.conditionalFunctionalDependencies(df, Seq("p"),
        Seq("p"), Seq("p"))
    }
    intercept[IllegalArgumentException] {
      KeyDiscovery.conditionalFunctionalDependencies(df, Seq("p"),
        Seq("x"), Seq("c"), minSupport = 0L)
    }
  }

  test("sequentialDependencies: adjacent gap verdicts equal brute force " +
      "at multiple partition counts; guards are loud") {
    val rnd = new scala.util.Random(20250820)
    // mostly cadence-10 steps on distinct x, some duplicate-x groups
    // (extrema matter), some outliers, nulls in both roles
    val rows = (0 until 300).flatMap { i =>
      val x: java.lang.Long =
        if (rnd.nextInt(40) == 0) null else java.lang.Long.valueOf(i / 2)
      val base = (i / 2) * 10.0
      val y: java.lang.Double =
        if (rnd.nextInt(40) == 1) null
        else java.lang.Double.valueOf(
          if (rnd.nextInt(10) == 0) base + rnd.nextInt(200) - 100
          else base + rnd.nextInt(3))
      Seq((x, y))
    }
    val df = rows.toDF("x", "y")
    val (g1, g2) = (5.0, 15.0)
    // brute force over distinct-x extrema in x order
    val groups = rows.filter(r => r._1 != null && r._2 != null)
      .groupBy(_._1.longValue).toSeq.sortBy(_._1)
      .map { case (_, g) =>
        (g.map(_._2.doubleValue).min, g.map(_._2.doubleValue).max) }
    val viol = groups.sliding(2).count {
      case Seq((pmn, pmx), (mn, mx)) =>
        !(mn - pmx >= g1 && mx - pmn <= g2)
      case _ => false
    }
    val expErr = viol.toDouble / math.max(groups.size - 1, 1)
    for (p <- Seq(1, 3, 8)) {
      val out = KeyDiscovery.sequentialDependencies(df,
          Seq("x" -> "y"), g1, g2, epsilon = expErr + 0.001,
          partitions = p)
        .head()
      assert(out.getLong(4) == groups.size.toLong, s"p=$p n_groups")
      assert(out.getLong(5) == viol.toLong, s"p=$p violations")
      assert(out.getDouble(6) == expErr, s"p=$p error")
      assert(out.getBoolean(7), s"p=$p holds at epsilon just above")
    }
    // single-group and empty restrictions hold with zero violations
    val tiny = Seq((1L, 5.0)).toDF("x", "y")
    val t = KeyDiscovery.sequentialDependencies(tiny, Seq("x" -> "y"),
      0.0, 1.0).head()
    assert(t.getLong(4) == 1L && t.getLong(5) == 0L && t.getBoolean(7))
    intercept[IllegalArgumentException] {
      KeyDiscovery.sequentialDependencies(df, Seq("x" -> "y"), 5.0, 1.0)
    }
    intercept[IllegalArgumentException] {
      KeyDiscovery.sequentialDependencies(
        df.withColumn("s", lit("a")), Seq("x" -> "s"), 0.0, 1.0)
    }
  }

  test("inferSequentialGaps: exact trimmed quantiles of the adjacent " +
      "gap distribution; the trim-0 envelope re-checks as holding") {
    val rnd = new scala.util.Random(20250821)
    // DUPLICATE x values: per-group min != max, so the lower gap
    // (next.min - prev.max) and upper gap (next.max - prev.min)
    // genuinely diverge — a lo/hi variable swap cannot pass
    val rows = (0 until 200).flatMap { i =>
      val base = (i * 10).toDouble + rnd.nextInt(3)
      Seq((i.toLong, base), (i.toLong, base + 1 + rnd.nextInt(3)))
    } :+ (500L, 9999.0) // one cadence-break outlier group
    val df = rows.toDF("x", "y")
    // brute-force adjacent extrema gaps in x order
    val groups = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, g) => (g.map(_._2).min, g.map(_._2).max) }
    val lows = groups.sliding(2).map {
      case Seq((_, pmx), (mn, _)) => mn - pmx }.toSeq.sorted
    val highs = groups.sliding(2).map {
      case Seq((pmn, _), (_, mx)) => mx - pmn }.toSeq.sorted
    assert(lows != highs, "fixture must split the two gap definitions")
    def q(vs: Seq[Double], p: Double): Double = {
      val pos = p * (vs.size - 1)
      val (lo, hi) = (vs(pos.toInt), vs(math.ceil(pos).toInt))
      if (pos == math.floor(pos)) lo
      else lo * (math.ceil(pos) - pos) + hi * (pos - math.floor(pos))
    }
    val out = KeyDiscovery.inferSequentialGaps(df, Seq("x" -> "y"),
      trim = 0.1).head()
    assert(out.getLong(2) == lows.size.toLong)
    assert(out.getDouble(3) == q(lows, 0.1), "gap_low")
    assert(out.getDouble(4) == q(highs, 0.9), "gap_high")
    // trim = 0: the exact envelope, and the CHECK composition holds at
    // epsilon 0 by construction
    val env = KeyDiscovery.inferSequentialGaps(df, Seq("x" -> "y")).head()
    assert(env.getDouble(3) == lows.min && env.getDouble(4) == highs.max)
    val check = KeyDiscovery.sequentialDependencies(df, Seq("x" -> "y"),
      env.getDouble(3), env.getDouble(4)).head()
    assert(check.getLong(5) == 0L && check.getBoolean(7),
      "the inferred envelope must hold exactly")
    // empty restriction: null gaps over zero adjacents
    val none = KeyDiscovery.inferSequentialGaps(
      df.where(col("x") < 0), Seq("x" -> "y")).head()
    assert(none.getLong(2) == 0L && none.isNullAt(3) && none.isNullAt(4))
  }

  test("adjacentGapViolationAgg plan: rows collapse through groupBy(x) " +
      "before ANY Sort (the sequential-dependency scale contract)") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val d = spark.range(10000).select(
        pmod(col("id"), lit(500)).as("x"),
        col("id").cast("double").as("y"))
      val plan = KeyDiscovery.adjacentGapViolationAgg(d, "x", "y",
          0.0, 100.0, 8)
        .queryExecution.executedPlan
      val sorts = plan.collect { case s: SortExec => s }
      assert(sorts.nonEmpty)
      sorts.foreach { s =>
        assert(s.exists { case _: BaseAggregateExec => true
          case _ => false },
          s"a Sort runs on raw rows (no aggregate below it):\n$plan")
      }
    } finally conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("batched multi-pair seq-dep/gap calls equal their single-pair " +
      "calls when one y has WHOLE GROUPS null (the per-y existence gate " +
      "of the shared multi-y frame)") {
    val rnd = new scala.util.Random(20260817)
    // y1 dense; y2 null for entire x groups (every third group) so the
    // batched frame carries groups that exist for y1 but not y2 — the
    // ignoreNulls adjacency must skip them for y2 exactly as the
    // per-pair frame (which never had them) does. Nulls in x too.
    val rows = (0 until 240).map { i =>
      val g = i / 2
      val x: java.lang.Long =
        if (rnd.nextInt(30) == 0) null else java.lang.Long.valueOf(g)
      val y1 = java.lang.Double.valueOf(g * 10.0 + rnd.nextInt(4))
      val y2: java.lang.Double =
        if (g % 3 == 0) null
        else java.lang.Double.valueOf(g * 7.0 + rnd.nextInt(5))
      (x, y1, y2)
    }
    val df = rows.toDF("x", "y1", "y2")
    val pairs = Seq("x" -> "y1", "x" -> "y2")
    for (p <- Seq(1, 4)) {
      val batched = KeyDiscovery.sequentialDependencies(df, pairs,
        5.0, 25.0, epsilon = 0.2, partitions = p).collect()
      val single = pairs.flatMap(pr =>
        KeyDiscovery.sequentialDependencies(df, Seq(pr),
          5.0, 25.0, epsilon = 0.2, partitions = p).collect())
      assert(batched.map(_.toSeq).toSeq == single.map(_.toSeq).toSeq,
        s"check half diverges at p=$p")
      val gBatched = KeyDiscovery.inferSequentialGaps(df, pairs,
        trim = 0.1, partitions = p).collect()
      val gSingle = pairs.flatMap(pr =>
        KeyDiscovery.inferSequentialGaps(df, Seq(pr),
          trim = 0.1, partitions = p).collect())
      assert(gBatched.map(_.toSeq).toSeq == gSingle.map(_.toSeq).toSeq,
        s"inference half diverges at p=$p")
    }
    // a CONTIGUOUS x-run with no y2 at all (groups 40..79) starves whole
    // range partitions of that y at p=4: the per-partition carry must
    // read null there (max_by over all-null keys) and the next existing
    // group's predecessor must skip PAST those partitions via the
    // ignoreNulls carry — the strongest form of the per-y existence gate
    val rows2 = (0 until 240).map { i =>
      val g = i / 2
      val y2: java.lang.Double =
        if (g >= 40 && g < 80) null
        else java.lang.Double.valueOf(g * 7.0 + rnd.nextInt(5))
      (java.lang.Long.valueOf(g),
        java.lang.Double.valueOf(g * 10.0 + rnd.nextInt(4)), y2)
    }
    val df2 = rows2.toDF("x", "y1", "y2")
    for (p <- Seq(1, 4)) {
      val batched = KeyDiscovery.sequentialDependencies(df2, pairs,
        5.0, 25.0, epsilon = 0.2, partitions = p).collect()
      val single = pairs.flatMap(pr =>
        KeyDiscovery.sequentialDependencies(df2, Seq(pr),
          5.0, 25.0, epsilon = 0.2, partitions = p).collect())
      assert(batched.map(_.toSeq).toSeq == single.map(_.toSeq).toSeq,
        s"contiguous-run check half diverges at p=$p")
      val gBatched = KeyDiscovery.inferSequentialGaps(df2, pairs,
        trim = 0.1, partitions = p).collect()
      val gSingle = pairs.flatMap(pr =>
        KeyDiscovery.inferSequentialGaps(df2, Seq(pr),
          trim = 0.1, partitions = p).collect())
      assert(gBatched.map(_.toSeq).toSeq == gSingle.map(_.toSeq).toSeq,
        s"contiguous-run inference half diverges at p=$p")
    }
    // the OD family rides the same shared frame — same parity contract
    for (p <- Seq(1, 4)) {
      val oBatched = KeyDiscovery.orderDependencies(df, pairs,
        partitions = p).collect()
      val oSingle = pairs.flatMap(pr =>
        KeyDiscovery.orderDependencies(df, Seq(pr),
          partitions = p).collect())
      assert(oBatched.map(_.toSeq).toSeq == oSingle.map(_.toSeq).toSeq,
        s"exact OD diverges at p=$p")
      val aBatched = KeyDiscovery.approximateOrderDependencies(df, pairs,
        epsilon = 0.3, partitions = p).collect()
      val aSingle = pairs.flatMap(pr =>
        KeyDiscovery.approximateOrderDependencies(df, Seq(pr),
          epsilon = 0.3, partitions = p).collect())
      assert(aBatched.map(_.toSeq).toSeq == aSingle.map(_.toSeq).toSeq,
        s"approximate OD diverges at p=$p")
    }
    // sanity: the y2 pair really sees fewer groups (the gate is live)
    val ns = KeyDiscovery.sequentialDependencies(df, pairs, 5.0, 25.0)
      .collect().map(r => r.getString(1) -> r.getLong(4)).toMap
    assert(ns("y2") < ns("y1"))
  }

  test("discoverSequentialDeps: generated pairs = declared × numeric " +
      "declared, verdicts equal per-call sequentialDependencies") {
    val rnd = new scala.util.Random(99)
    val a = (0 until 200).map { i =>
      (i.toLong, i * 10.0 + rnd.nextInt(3), s"s${i % 5}",
        (i % 7).toLong)
    }.toDF("seq", "reading", "tag", "grp")
    val b = (0 until 100).map(i => (i.toLong, i * 2.0))
      .toDF("id", "v")
    val out = KeyDiscovery.discoverSequentialDeps(
        Seq(("a", a, Seq("seq", "reading", "tag")), ("b", b, Seq("id", "v"))),
        minGap = 0.0, maxGap = 50.0, epsilon = 0.1)
      .collect()
    // generation rule: x over declared, y over NUMERIC declared, x != y
    // a: x in {seq, reading, tag}, y in {seq, reading} -> 2+2? pairs:
    //   (seq,reading),(reading,seq),(tag,seq),(tag,reading) = 4
    // b: (id,v),(v,id) = 2
    assert(out.length == 6)
    val got = out.map(r => (r.getString(0), r.getString(1),
      r.getString(2))).toSet
    assert(got == Set(("a", "seq", "reading"), ("a", "reading", "seq"),
      ("a", "tag", "seq"), ("a", "tag", "reading"),
      ("b", "id", "v"), ("b", "v", "id")))
    // verdicts identical to per-call
    for ((t, df, pairs) <- Seq(
        ("a", a, Seq("seq" -> "reading", "reading" -> "seq",
          "tag" -> "seq", "tag" -> "reading")),
        ("b", b, Seq("id" -> "v", "v" -> "id")))) {
      val percall = KeyDiscovery.sequentialDependencies(df, pairs,
        0.0, 50.0, epsilon = 0.1).collect()
        .map(r => r.toSeq).toSet
      val swept = out.filter(_.getString(0) == t)
        .map(r => r.toSeq.drop(1)).toSet
      assert(swept == percall, s"table $t verdict drift")
    }
    // no numeric candidate -> loud
    intercept[IllegalArgumentException] {
      KeyDiscovery.discoverSequentialDeps(
        Seq(("a", a, Seq("tag", "grp"))) // grp numeric — ok; use strings
          .map { case (t, d, _) => (t, d.select(col("tag"),
            col("tag").as("tag2")), Seq("tag", "tag2")) },
        0.0, 1.0)
    }
    // the GAP-INFERENCE sweep: same generation rule, values equal
    // per-call inferSequentialGaps
    val gaps = KeyDiscovery.discoverSequentialGaps(
        Seq(("a", a, Seq("seq", "reading", "tag")), ("b", b, Seq("id", "v"))),
        trim = 0.1).collect()
    assert(gaps.length == 6)
    assert(gaps.map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet == got)
    for ((t, df, pairs) <- Seq(
        ("a", a, Seq("seq" -> "reading", "reading" -> "seq",
          "tag" -> "seq", "tag" -> "reading")),
        ("b", b, Seq("id" -> "v", "v" -> "id")))) {
      val percall = KeyDiscovery.inferSequentialGaps(df, pairs, trim = 0.1)
        .collect().map(_.toSeq).toSet
      val swept = gaps.filter(_.getString(0) == t)
        .map(_.toSeq.drop(1)).toSet
      assert(swept == percall, s"table $t gap-sweep drift")
    }
  }

  test("tableauConditionalFds: every subset × value-combo cell equals " +
      "brute-force g3; wildcard = NULL; guards are loud") {
    val rnd = new scala.util.Random(777)
    val rows = (0 until 400).map { i =>
      val p1: java.lang.Long =
        if (rnd.nextInt(30) == 0) null else java.lang.Long.valueOf(i % 3)
      val p2 = if (rnd.nextInt(25) == 0) null else s"r${i % 2}"
      val x = java.lang.Long.valueOf(i % 10)
      // c is a function of x exactly when p1 = 0; noisy elsewhere
      val c: java.lang.Long =
        if (rnd.nextInt(20) == 0) null
        else if (p1 != null && p1 == 0L) java.lang.Long.valueOf((i % 10) * 2)
        else java.lang.Long.valueOf(rnd.nextInt(5))
      (p1, p2, x, c)
    }
    val df = rows.toDF("p1", "p2", "x", "c")
    val out = KeyDiscovery.tableauConditionalFds(df, Seq("p1", "p2"),
        "x", "c", maxError = 0.05, minSupport = 5L).collect()
    // brute force over gated rows
    val gated = rows.filter(r =>
      r._1 != null && r._2 != null && r._3 != null && r._4 != null)
    def g3(sel: ((java.lang.Long, String, java.lang.Long, java.lang.Long))
        => Boolean): (Long, Long) = {
      val s = gated.filter(sel)
      val kept = s.groupBy(_._3).map(_._2.groupBy(_._4).map(_._2.size).max)
        .sum
      (s.size.toLong, kept.toLong)
    }
    val expect = scala.collection.mutable.Map[(Int, Option[String],
      Option[String]), (Long, Long)]()
    for (m <- 0 until 4) {
      val p1s = if ((m & 1) == 1) gated.map(_._1.longValue).distinct.map(Some(_))
        else Seq(None)
      val p2s = if ((m & 2) == 2) gated.map(_._2).distinct.map(Some(_))
        else Seq(None)
      for (v1 <- p1s; v2 <- p2s) {
        val (n, kept) = g3(r =>
          v1.forall(_ == r._1.longValue) && v2.forall(_ == r._2))
        if (n >= 5)
          expect((Integer.bitCount(m),
            v1.map(_.toString), v2.map(identity))) = (n, kept)
      }
    }
    assert(out.length == expect.size, s"cells: ${out.length} vs ${expect.size}")
    out.foreach { r =>
      val key = (r.getInt(2), Option(r.getString(3)), Option(r.getString(4)))
      val (n, kept) = expect(key)
      assert(r.getLong(5) == n && r.getLong(6) == kept, s"cell $key")
      assert(r.getDouble(7) == (n - kept).toDouble / n, s"g3 $key")
      assert(r.getBoolean(8) == ((n - kept).toDouble <= 0.05 * n),
        s"holds $key")
      assert(r.getString(0) == "x" && r.getString(1) == "c")
    }
    // the all-wildcard anchor is present and equals the global gated FD
    assert(out.exists(r => r.getInt(2) == 0 && r.isNullAt(3) &&
      r.isNullAt(4)))
    // degenerate roles and arity bound are loud
    intercept[IllegalArgumentException] {
      KeyDiscovery.tableauConditionalFds(df, Seq("p1", "x"), "x", "c")
    }
    intercept[IllegalArgumentException] {
      KeyDiscovery.tableauConditionalFds(df, Seq("p1"), "x", "x")
    }
    intercept[IllegalArgumentException] {
      KeyDiscovery.tableauConditionalFds(
        df.withColumn("p3", lit(1)).withColumn("p4", lit(1)),
        Seq("p1", "p2", "p3", "p4"), "x", "c")
    }
  }

  test("compositeCandidateKeys misuse guards are loud") {
    intercept[IllegalArgumentException] {
      KeyDiscovery.compositeCandidateKeys(df, Seq(Seq("id", "id")))
    }
    intercept[IllegalArgumentException] {
      KeyDiscovery.compositeCandidateKeys(df, Seq(Seq("nope")))
    }
    intercept[IllegalArgumentException] {
      KeyDiscovery.compositeCandidateKeys(df,
        Seq.fill(KeyDiscovery.MaxCandidates + 1)(Seq("id")))
    }
  }
}
