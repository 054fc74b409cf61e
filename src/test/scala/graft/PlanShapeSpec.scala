package graft

import org.apache.spark.sql.functions._

import graft.ops.{Corpus, Dedup, Similarity}

/** Physical-plan shape assertions for the scale-critical operators: the
  * properties that make these plans survive a 100× scale-up (broadcast
  * instead of corpus shuffle, bucketed joins instead of cross products)
  * are pinned here so a refactor that silently degrades the plan fails in
  * `sbt test`, not in a cluster bill.
  *
  * Assertions run on the INITIAL executed plan (before AQE re-planning) —
  * the shape Catalyst commits to from the logical plan alone, which is
  * what holds at any data size.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (0L until 50L)
    .map(i => (i, s"the quick brown fox $i jumps over the lazy dog " * 3))
    .toDF("doc_id", "text")

  private def vecs = (0L until 60L).map { i =>
    (i, Array.tabulate(16)(j => (math.sin(i * 17 + j) * 3).toFloat).toSeq)
  }.toDF("vec_id", "embedding")

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("cross-corpus minhash decontamination: bench broadcast, zero corpus hash-shuffle before the candidate join") {
    val plan = planOf(Dedup.crossMinhashMatches(docs, docs.limit(5),
      "doc_id", "text"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"bench side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cross product:\n$plan")
  }

  test("cross-set embedding decontamination: broadcast bucket equi-join, no cartesian") {
    val plan = planOf(Similarity.crossSetMatches(vecs, "vec_id",
      vecs.limit(4), "vec_id", "embedding", dim = 16))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"no cross product:\n$plan")
  }

  test("scaled embedding near-dup: bucket equi-join only — never a cross product") {
    val plan = planOf(Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
      dim = 16))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"no cross product:\n$plan")
  }

  test("benchmark-gram decontamination: corpus streams through a broadcast join, never a shuffle join") {
    val plan = planOf(Corpus.contamination(docs, "doc_id", "text",
      docs.limit(3), "doc_id", "text", n = 3))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark grams must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus must not shuffle-join the benchmark:\n$plan")
  }

  test("hierarchical assignment is a shuffle-free projection") {
    val idx = Similarity.kmeansFitHierarchical(vecs, "embedding", k = 12,
      iters = 2, seed = 1L)
    val plan = planOf(Similarity.ivfAssignHierarchical(vecs, "vec_id",
      "embedding", idx))
    assert(!plan.contains("Exchange"),
      s"assignment must add no exchange:\n$plan")
    assert(!plan.contains("Join"), s"assignment must add no join:\n$plan")
  }

  test("heavy hitters: partial (map-side) sketch aggregation before one capacity-sized shuffle") {
    val df = docs.withColumn("g", (col("doc_id") % 3).cast("string"))
    val plan = planOf(graft.ops.Sketches.heavyHitters(df, "text", 8, Seq("g")))
    // ObjectHashAggregate partial pass = the per-partition MG summary; the
    // exchange then carries only capacity-sized serialized states
    assert(plan.contains("ObjectHashAggregate"),
      s"typed-imperative aggregate expected:\n$plan")
    assert(plan.contains("partial_ww_heavy_hitters"),
      s"map-side partial sketch expected:\n$plan")
  }

  test("naive bayes scoring re-enters via broadcast — the corpus never shuffles against the model") {
    val labeled = docs.withColumn("label",
      when(col("doc_id") % 2 === 0, "a").otherwise("b"))
    val (weights, classes) =
      graft.ops.Classifier.trainNaiveBayes(labeled, "label", "text")
    val plan = planOf(graft.ops.Classifier.scoreNaiveBayes(
      docs, "doc_id", "text", weights, classes))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"model must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no corpus-side merge join:\n$plan")
  }

  test("fitted scalers apply as shuffle-free, join-free projections") {
    val vals = (1 to 200).map(i => (i.toLong, i * 1.5)).toDF("id", "v")
    val rfit = graft.ops.FeaturePrep.fitRobust(vals, "v")
    val wfit = graft.ops.FeaturePrep.fitWinsor(vals, "v")
    val plan = planOf(vals.select(col("id"),
      graft.ops.FeaturePrep.robustScale(rfit)(col("v")).as("r"),
      graft.ops.FeaturePrep.winsorize(wfit)(col("v")).as("w")))
    assert(!plan.contains("Exchange"), s"apply must add no exchange:\n$plan")
    assert(!plan.contains("Join"), s"apply must add no join:\n$plan")
    assert(!plan.contains("Aggregate"), s"fit must ride as literals:\n$plan")
  }

  test("fuzzy join: every join is a bucketed equi-join, never a cross product") {
    val names = (0L until 40L).map(i => (i, f"Item#$i%05d")).toDF("id", "s")
    for (d <- Seq(1, 2)) {
      val plan = planOf(graft.ops.RecordLinkage
        .fuzzySelfPairs(names, "id", "s", d))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"maxDist=$d must stay equi-join:\n$plan")
    }
  }

  test("multi-field linkage: block + verify stages stay all-equi-join") {
    val recs = (0L until 40L)
      .map(i => (i, s"n${i % 7}x", s"a${i % 5}y")).toDF("id", "nm", "ad")
    // one d=1 (FastSS) and one d=2 (PassJoin) field in the same pipeline
    val plan = planOf(graft.ops.RecordLinkage.multiFieldSelfPairs(
      recs, "id", Seq("nm" -> 1, "ad" -> 2)))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"blocking field AND verify joins must stay equi-joins:\n$plan")
  }

  test("gopher repetition: hash aggregates only — the packed max never degrades to a sort") {
    // the (cnt,len) max is packed into one BIGINT precisely so the per-doc
    // roll-up stays a HashAggregate; a struct max would force a
    // SortAggregate over the whole unit table
    val plan = planOf(graft.ops.TextAnalysis.gopherRepetition(
      docs, "doc_id", "text"))
    assert(!plan.contains("SortAggregate"),
      s"roll-up must stay a HashAggregate:\n$plan")
  }

  test("snapshot diff: one full-outer key join, no extra exchange after it") {
    val a = (0L until 50L).map(i => (i, i * 2)).toDF("id", "v")
    val b = (10L until 60L).map(i => (i, i * 3)).toDF("id", "v")
    val plan = planOf(graft.ops.SnapshotDiff.diff(a, b, Seq("id")))
    assert(plan.contains("FullOuter"), s"expect full-outer join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"equi-join only:\n$plan")
    // the verdict projection must ride the join output directly
    assert("Exchange".r.findAllIn(plan).size <= 2,
      s"only the two join-input exchanges:\n$plan")
  }

  test("segmented funnel: two hash-aggregate exchanges — (actor, segment) " +
      "then actor — and never a Sort over raw rows") {
    val evs = (0L until 200L).map(i =>
      (i % 7, new java.sql.Timestamp(i * 3600L * 1000L),
        Seq("a", "b", "c")((i % 3).toInt))).toDF("u", "t", "y")
    val plan = planOf(graft.ops.EventAnalytics.actorProgress(
      evs, "u", "t", "y", Seq("a", "b", "c"), 0L, 86400L))
    // exactly the two shuffles of the two-level fold: row-scale by
    // (actor, segment), vector-scale by actor — a third would mean the
    // skew-splitting segment key silently dropped out of the plan
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      s"expect exactly 2 hash exchanges:\n$plan")
    // the fold sorts ARRAYS inside aggregate result expressions, never
    // the relation: a Sort node (or a sort-based aggregate) means
    // per-actor history materialized as task-local rows again
    assert(!plan.contains("Sort ["), s"no relational Sort:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"hash aggregation expected:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"object-hash collect expected:\n$plan")
  }

  test("skew-split paths: heavy actors sort by (actor, segment) over ONE " +
      "reused exchange; the all-light default keeps the plain window") {
    val evs = (0L until 200L).map(i =>
      (i % 7, new java.sql.Timestamp(i * 3600L * 1000L),
        Seq("a", "b", "c")((i % 3).toInt), i)).toDF("u", "t", "y", "eid")
    // static planner: AQE defers exchange reuse to runtime, hiding the
    // shape this test pins (AQE's own reuse then dedups it identically)
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    val (heavyPlan, lightPlan) = try {
      conf.set("spark.sql.adaptive.enabled", "false")
      (planOf(graft.ops.EventAnalytics.topEventPaths(
        evs, "u", "t", "y", 3, 10, maxGapSeconds = 7200L,
        orderCols = Seq("eid"), segmentThreshold = 1L)),
        planOf(graft.ops.EventAnalytics.topEventPaths(
          evs, "u", "t", "y", 3, 10, maxGapSeconds = 7200L,
          orderCols = Seq("eid"))))
    } finally conf.set("spark.sql.adaptive.enabled", prevAqe)
    // heavy path (threshold 1 = every actor segmented): three hash
    // exchange NODES — row-scale (actor, segment); actor over the
    // segment-count-sized boundary state; path over the bounded counts
    // (a ReusedExchange line repeats the referenced node's text, so
    // count tree nodes)
    assert("\\+- Exchange hashpartitioning".r.findAllIn(heavyPlan)
      .size == 3, s"expect exactly 3 hash exchange nodes:\n$heavyPlan")
    // the in-segment and boundary branches must READ THE SAME shuffle —
    // a missing ReusedExchange means the raw events shuffled twice
    assert(heavyPlan.contains("ReusedExchange"),
      s"the (actor, segment) exchange must be reused:\n$heavyPlan")
    // every heavy-path Sort is SEGMENT-bounded: leading keys (actor,
    // segment) — an actor-only sort would mean the hot actor's whole
    // history in one task again (top-k is TakeOrderedAndProject)
    val sorts = "Sort \\[[^\\]]*".r.findAllIn(heavyPlan).toSeq
    assert(sorts.nonEmpty, s"expected segment-window sorts:\n$heavyPlan")
    sorts.foreach(s => assert(
      s.matches("Sort \\[__a#\\d+[^,]*, __seg#.*"),
      s"sort must lead with (actor, segment), got: $s\n$heavyPlan"))
    assert(!heavyPlan.contains("SortAggregate"),
      s"hash aggregation expected:\n$heavyPlan")
    assert(heavyPlan.contains("ObjectHashAggregate"),
      s"object-hash collect expected:\n$heavyPlan")
    // all-light default: NO segment machinery — one per-actor window
    // exchange plus the path aggregate, no boundary merge, no reuse
    assert("\\+- Exchange hashpartitioning".r.findAllIn(lightPlan)
      .size == 2, s"light path = window + path agg exchanges:\n$lightPlan")
    assert(!lightPlan.contains("__seg") &&
      !lightPlan.contains("ReusedExchange"),
      s"no segment machinery on the all-light path:\n$lightPlan")
  }

  test("intervalOverlap: bin equi-join, never a nested loop or cartesian") {
    val l = (0L until 50L).map(i => (i, i * 2.0, i * 2.0 + 5)).toDF("lid", "lo", "hi")
    val r = (0L until 60L).map(i => (i, i * 1.5, i * 1.5 + 4)).toDF("rid", "lo", "hi")
    val plan = planOf(graft.ops.RangeJoin.intervalOverlap(
      l, "lo", "hi", r, "lo", "hi", binWidth = 5.0))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"bin equi-join expected, got a nested loop:\n$plan")
  }

  test("gridJoin under AQE skew-join: result and plan shape are unchanged") {
    // gridJoin hand-splits hot keys BEFORE the exchange; AQE's runtime
    // skew split targets sort-merge joins post-hoc. Pin that enabling it
    // changes neither the match set nor the equi-join shape, so a Spark
    // upgrade cannot silently double-handle (or mishandle) the skew.
    val hotLeft = ((0L until 80L).map(i => (i, "hot")) ++
      (80L until 100L).map(i => (i, s"cold$i"))).toDF("lid", "k")
    val hotRight = ((0L until 60L).map(i => (i + 1000L, "hot")) ++
      (60L until 90L).map(i => (i + 1000L, s"coldr$i"))).toDF("rid", "k")
    def run(): (Set[(Long, Long)], String) = {
      val j = graft.ops.SkewJoin.gridJoin(hotLeft, hotRight, Seq("k"),
        "lid", "rid", chunkSize = 8)
      (j.select("lid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet, planOf(j))
    }
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    val prevSkew = conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      val (withSkew, planSkew) = run()
      conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val (without, planPlain) = run()
      assert(withSkew == without, "match set must be AQE-skew invariant")
      // expected exact set: hot 80×60 cross via the grid + no cold overlap
      assert(withSkew.size == 80 * 60)
      for (plan <- Seq(planSkew, planPlain)) {
        assert(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin"),
          s"grid join must stay an equi-join:\n$plan")
      }
    } finally {
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      conf.set("spark.sql.adaptive.skewJoin.enabled", prevSkew)
    }
  }

  test("exact quantiles: NO Sort node and no range partitioning in ANY launched job") {
    // the sort-free histogram walk launches its per-level aggregations
    // internally, so the pin captures every executed plan via a
    // QueryExecutionListener instead of inspecting one DataFrame
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = (0 until 5000)
        .map(i => (i.toDouble / 7.0, (i * 31 % 1000).toDouble))
        .toDF("a", "b")
      val got = graft.stats.Describe.exactQuantiles(
        df, Map("a" -> Seq(0.25 * 4999, 0.5 * 4999, 0.75 * 4999),
          "b" -> Seq(0.5 * 4999)))
      assert(got("a").size == 3 && got("b").size == 1)
      // listener delivery is async: wait for the batched-stats job plus at
      // least one narrowing level (one level covers every column)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (plans.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(200) // drain any still-in-flight listener events
      assert(plans.size >= 2, s"expected the walk's jobs, saw ${plans.size}")
      plans.forEach { plan =>
        assert(!plan.contains("Sort ") && !plan.contains("+- Sort") &&
          !plan.contains("SortAggregate") &&
          !plan.contains("rangepartitioning"),
          s"quantile job must not sort:\n$plan")
      }
    } finally spark.listenerManager.unregister(listener)
  }
}
