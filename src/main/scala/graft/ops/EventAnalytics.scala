package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.WorkingSet

import scala.jdk.CollectionConverters._

/** Event-sequence analytics over an (actor, timestamp, event-type) log —
  * the product-analytics family every training-data/event pipeline ends up
  * re-implementing: ordered-funnel conversion (optionally with a
  * conversion window), inter-step timing, and cohort retention. All are
  * EXACT (no sessionization sampling, no sketch), all reduce the log to
  * actor-keyed aggregates before anything else moves, and all emit counts
  * as exact Longs with one final double division per ratio (the repo-wide
  * bit-exact oracle convention).
  *
  * Reference: the funnel semantics are the standard nested-min form
  * (step i is the EARLIEST event of type iₜₕ strictly after the step
  * i−1 time — and, when a window is set, no later than the step-1 time
  * plus the window). The greedy-earliest match over the time-sorted
  * stream is equivalent and is how [[funnel]] computes it, segmented.
  */
object EventAnalytics {

  /** Widest accepted conversion window (≈100k years in seconds) — an API
    * sanity bound. The deadline arithmetic itself is SATURATING (a
    * far-future anchor near Long.MaxValue µs clamps the deadline to
    * Long.MaxValue — "no deadline" — instead of wrapping negative and
    * silently censoring every conversion, or throwing under ANSI).
    */
  val MaxWindowSeconds: Long = 3153600000000L

  /** Default per-actor event-count threshold above which the successor
    * family ([[topEventPaths]], [[nextEventDistribution]]) routes an
    * actor to the SEGMENTED path: light actors keep the codegen'd
    * whole-actor window (task size bounded by this threshold), heavy
    * ones split by (actor, segment) — the [[SkewJoin]] hand-split
    * philosophy applied to event sequences.
    */
  val DefaultSegmentThreshold: Long = 100000L

  /** Cap on the heavy-actor literal split: above this many heavy actors
    * the isInCollection predicate would bloat the plan, so every actor
    * takes the segmented path instead (correct either way — that many
    * genuinely heavy actors means segment-grain parallelism is the
    * right shape for the whole log anyway).
    */
  private[graft] val MaxHeavyActors = 10000

  /** Target segment count for `segmentSeconds = 0` (AUTO): the observed
    * [min, max] event-time span divides into this many segments (width
    * floored at 1 µs), so per-task group size is bounded relative to
    * the log's actual time range with no prior knowledge of it.
    */
  val AutoSegments: Long = 4096L

  /** Ordered funnel: how many actors complete each prefix of `steps` in
    * time order? An actor reaches step i when an event of type
    * `steps(i)` exists STRICTLY after its step-(i−1) time (step 0 = the
    * actor's earliest `steps(0)` event); ties at the same timestamp do
    * not advance, and rows with a null actor/ts/type are ignored. With
    * `windowSeconds > 0`, steps 2..k must additionally land AT OR BEFORE
    * the step-1 time plus the window (the standard conversion-window
    * rule, anchored at the actor's one greedy step-1 event — no
    * re-anchoring). Greedy-earliest over the sorted stream equals the
    * nested-min definition: taking the earliest qualifying event at
    * every step only ever leaves MORE room for later steps, and the
    * deadline is a fixed censoring both forms share.
    *
    * Scale shape — SKEW-SAFE by construction (r13): events prune to the
    * step types at the scan, then ONE row-scale shuffle groups them by
    * (actor, time-segment) — `segmentSeconds`-wide epoch-anchored
    * buckets; `segmentSeconds = 0` derives the width from the observed
    * span (one pruned pre-scan, [[AutoSegments]] buckets) — so a hot
    * actor (bot, service account) splits across as
    * many tasks as it has active segments instead of materializing its
    * whole history in one `collect_list`. Each segment folds to a
    * TRANSITION VECTOR: for every entry progress i ∈ 0..k−1, the
    * time-increasing sequence of advance timestamps the greedy fold
    * would produce entering the segment at step i (≤ k·(k+1)/2 scalars
    * total). Vectors compose exactly because segment boundaries strictly
    * separate timestamps: the entry `last` is always an earlier
    * segment's timestamp, hence strictly below every timestamp in the
    * segment (the `t > last` tie rule can never cross an edge), and a
    * conversion deadline censors a segment by PREFIX-truncating its
    * advance sequence (advance times are increasing, and every later
    * candidate for a censored step is later still). A second actor-keyed
    * shuffle merges the segment-count-sized vectors in segment order —
    * per-actor state is k timestamps, per-task memory is bounded by the
    * busiest single segment, not the busiest actor. The per-step counts
    * are one more aggregation over the actor-level frame; driver state
    * is step-count-sized.
    *
    * Output: one row per step — (step_index 1-based, step, n_actors,
    * conversion = this step's actors over the PREVIOUS step's as a raw
    * double quotient of exact Longs — 1.0 at step 1 —, overall = this
    * step's actors over the FIRST step's). A zero denominator reads
    * 0.0, and every step is emitted even when empty.
    *
    * EAGER at call time (the [[graft.ops.SkewJoin.joinCardinality]] /
    * [[graft.ops.TimeSeries.resampleGrid]] contract): the step-count
    * aggregation runs via a driver `head()` before this returns — the
    * result frame itself is a bounded local relation.
    */
  def funnel(df: DataFrame, actorCol: String, tsCol: String,
             typeCol: String, steps: Seq[String],
             windowSeconds: Long = 0L,
             segmentSeconds: Long = 86400L): DataFrame = {
    val k = steps.size
    val prog = actorProgress(df, actorCol, tsCol, typeCol, steps,
      windowSeconds, segmentSeconds)
    // one tiny aggregation: actors reaching AT LEAST step i, for all i
    val aggs = (1 to k).map(i =>
      count(when(col("__r") >= i, 1)).as(s"__s$i"))
    val row = prog.agg(aggs.head, aggs.tail: _*).head()
    val counts = (0 until k).map(row.getLong)
    val spark = df.sparkSession
    val rows = steps.zipWithIndex.map { case (s, i) =>
      val n = counts(i)
      val prev = if (i == 0) n else counts(i - 1)
      val first = counts(0)
      Row(i + 1, s, n,
        if (prev == 0L) 0.0 else n.toDouble / prev,
        if (first == 0L) 0.0 else n.toDouble / first)
    }
    spark.createDataFrame(
      rows.asJava,
      StructType(Seq(
        StructField("step_index", IntegerType, nullable = false),
        StructField("step", StringType, nullable = false),
        StructField("n_actors", LongType, nullable = false),
        StructField("conversion", DoubleType, nullable = false),
        StructField("overall", DoubleType, nullable = false))))
  }

  /** Dimensional funnel — [[funnel]] grouped by a property column
    * ("funnel by country"): per (dimension, step), how many actors
    * complete each prefix of `steps` within that dimension's event
    * slice. The dimension RIDES the actor key through the identical
    * skew-safe segmented machinery (both shuffles key on (actor,
    * dimension, ...) instead of (actor, ...)), so an actor whose events
    * carry several dimension values participates INDEPENDENTLY in each
    * slice — for the common per-actor-constant dimension this is
    * exactly the per-country funnel. A NULL dimension is a real slice
    * (groupBy keeps it, and no join ever has to re-match it — the
    * [[graft.stats.Describe.groupedQuantiles]] hazard class cannot
    * arise here by construction). Every dimension with at least one
    * step-typed event emits all k steps, zero-count steps included.
    *
    * Unlike [[funnel]] (EAGER: one bounded driver head()), this stays
    * LAZY at any dimension cardinality — the per-dimension step counts
    * are one dimension-bounded aggregate over the actor-level frame and
    * the k rows per dimension unroll via posexplode of the count vector,
    * no driver collect — EXCEPT with `segmentSeconds = 0`, where the
    * AUTO width's span pre-scan ([[autoSegmentMicros]]) runs eagerly at
    * call time, exactly as it does for [[funnel]].
    *
    * Output: (dimCol, step_index, step, n_actors, conversion, overall)
    * — [[funnel]]'s columns with the dimension prepended, the same
    * zero-denominator → 0.0 / step-1 → 1.0 convention, ordered by
    * (dimension NULLS LAST, step_index).
    */
  def funnelBy(df: DataFrame, actorCol: String, tsCol: String,
               typeCol: String, dimCol: String, steps: Seq[String],
               windowSeconds: Long = 0L,
               segmentSeconds: Long = 86400L): DataFrame = {
    val k = steps.size
    require(!Seq("step_index", "step", "n_actors", "conversion", "overall")
      .contains(dimCol),
      s"dimension column '$dimCol' collides with a funnel output column")
    val prog = actorProgress(df, actorCol, tsCol, typeCol, steps,
      windowSeconds, segmentSeconds, Some(dimCol))
    val aggs = (1 to k).map(i =>
      count(when(col("__r") >= i, 1)).as(s"__s$i"))
    val counts = prog.groupBy(col("__d"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("__d"),
        array((1 to k).map(i => col(s"__s$i")): _*).as("__ns"))
    val stepArr = array(steps.map(lit): _*)
    // prev reads element_at(__ns, __p) 1-based = the PREVIOUS step; the
    // __p = 0 branch never consults it and greatest() keeps the index
    // in-range even if the optimizer reorders the CASE arms (ANSI)
    val prev = when(col("__p") === 0, col("__n"))
      .otherwise(element_at(col("__ns"),
        greatest(col("__p"), lit(1))))
    val first = element_at(col("__ns"), 1)
    counts
      .select(col("__d"), col("__ns"),
        posexplode(col("__ns")).as(Seq("__p", "__n")))
      .select(
        col("__d").as(dimCol),
        (col("__p") + 1).as("step_index"),
        element_at(stepArr, col("__p") + 1).as("step"),
        col("__n").as("n_actors"),
        when(prev === 0, lit(0.0))
          .otherwise(col("__n").cast(DoubleType) / prev).as("conversion"),
        when(first === 0, lit(0.0))
          .otherwise(col("__n").cast(DoubleType) / first).as("overall"))
      .orderBy(col(dimCol).asc_nulls_last, col("step_index"))
  }

  /** Inter-step timing: for each COMPLETED transition i−1 → i (i ≥ 2),
    * the count and exact median/p90 of the seconds between the two
    * advance times — the other half of product analytics next to the
    * conversion counts. Quantiles are EXACT via the shared sort-free
    * histogram walk ([[graft.stats.Describe.exactQuantiles]] — no Sort
    * node at any scale) with SQL `percentile` interpolation; deltas are
    * the exact microsecond difference divided by 1e6 once (bit-stable
    * across engines).
    *
    * Scale shape: the actor-progress frame (the [[funnel]] machinery —
    * same skew posture) is reduced to k−1 delta columns and persisted
    * (actor-count rows × k−1 doubles) for the walk's narrow levels;
    * unpersisted before returning. Output (bounded, k−1 rows):
    * (step_index, step, n_pairs, p50_seconds, p90_seconds) for steps
    * 2..k, step_index ascending; a step no actor completed reads
    * n_pairs = 0 with null quantiles.
    *
    * EAGER at call time (the [[funnel]] contract): the quantile walk's
    * driver rounds run inside this call over the actor-progress frame,
    * cached for the call's duration, returning a bounded local relation.
    */
  def funnelStepTiming(df: DataFrame, actorCol: String, tsCol: String,
                       typeCol: String, steps: Seq[String],
                       windowSeconds: Long = 0L,
                       segmentSeconds: Long = 86400L): DataFrame = {
    val k = steps.size
    require(k >= 2, "inter-step timing needs at least two funnel steps")
    val spark = df.sparkSession
    val prog = actorProgress(df, actorCol, tsCol, typeCol, steps,
      windowSeconds, segmentSeconds)
    WorkingSet.scoped { ws =>
      val deltas = ws.cache(prog.select((2 to k).map { i =>
        when(size(col("__adv")) >= i,
          (element_at(col("__adv"), i) - element_at(col("__adv"), i - 1))
            .cast(DoubleType) / 1e6).as(s"__d$i")
      }: _*))
      val statCols = (2 to k).flatMap(i => Seq(
        count(col(s"__d$i")), min(col(s"__d$i")), max(col(s"__d$i"))))
      val statRow = deltas.agg(statCols.head, statCols.tail: _*).head()
      val stats = (2 to k).map { i =>
        val o = (i - 2) * 3
        s"__d$i" -> ((statRow.getLong(o),
          if (statRow.isNullAt(o + 1)) Double.NaN else statRow.getDouble(o + 1),
          if (statRow.isNullAt(o + 2)) Double.NaN else statRow.getDouble(o + 2)))
      }.toMap
      val targets = stats.collect { case (c, (n, _, _)) if n > 0 =>
        c -> Seq(0.5 * (n - 1), 0.9 * (n - 1))
      }
      val qs = graft.stats.Describe.exactQuantiles(deltas, targets, stats)
      val rows = (2 to k).map { i =>
        val n = stats(s"__d$i")._1
        val q = qs.get(s"__d$i")
        Row(i, steps(i - 1), n,
          q.map(s => java.lang.Double.valueOf(s.head)).orNull,
          q.map(s => java.lang.Double.valueOf(s(1))).orNull)
      }
      spark.createDataFrame(
        rows.asJava,
        StructType(Seq(
          StructField("step_index", IntegerType, nullable = false),
          StructField("step", StringType, nullable = false),
          StructField("n_pairs", LongType, nullable = false),
          StructField("p50_seconds", DoubleType, nullable = true),
          StructField("p90_seconds", DoubleType, nullable = true))))
    }
  }

  /** Dimensional inter-step timing — [[funnelStepTiming]] grouped by a
    * property column ("time-to-purchase by country"): per (dimension,
    * completed transition i−1 → i), the pair count and EXACT p50/p90 of
    * the seconds between the two advance times. The dimension rides the
    * actor key through the identical skew-safe segmented machinery
    * ([[actorProgress]] with the dimension widening both shuffles — the
    * [[funnelBy]] posture), and the quantiles are the
    * [[graft.stats.Describe.groupedQuantiles]] collapse-then-window walk
    * — raw deltas never sort, per-group state is the group's distinct
    * delta values, and the final dimension join is NULL-SAFE by that
    * operator's construction (a NULL dimension is a real slice).
    *
    * Unlike [[funnelStepTiming]] (EAGER: per-column driver walk rounds),
    * this stays LAZY at any dimension cardinality — one melt of the
    * actor-level frame to (dim, step, delta) rows, one grouped quantile
    * plan over it, and a (dims × k−1) grid left-join so every (dimension
    * with at least one step-typed event, step 2..k) row appears even
    * with zero completed pairs (null quantiles, the [[funnelStepTiming]]
    * convention) — EXCEPT with `segmentSeconds = 0`, where the AUTO
    * width's span pre-scan runs eagerly (the [[funnelBy]] caveat).
    *
    * Output: (dimCol, step_index, step, n_pairs, p50_seconds,
    * p90_seconds) for steps 2..k per dimension, ordered by (dimension
    * NULLS LAST, step_index).
    */
  def funnelStepTimingBy(df: DataFrame, actorCol: String, tsCol: String,
                         typeCol: String, dimCol: String,
                         steps: Seq[String], windowSeconds: Long = 0L,
                         segmentSeconds: Long = 86400L): DataFrame = {
    val k = steps.size
    require(k >= 2, "inter-step timing needs at least two funnel steps")
    require(!Seq("step_index", "step", "n_pairs", "p50_seconds",
        "p90_seconds").contains(dimCol),
      s"dimension column '$dimCol' collides with a timing output column")
    val prog = actorProgress(df, actorCol, tsCol, typeCol, steps,
      windowSeconds, segmentSeconds, Some(dimCol))
    // melt to one row per COMPLETED transition; the size guard keeps
    // every element_at in-bounds under ANSI (lazy CASE, the
    // funnelStepTiming pattern)
    val deltaArr = array((2 to k).map(i => struct(
      lit(i).as("i"),
      when(size(col("__adv")) >= i,
        (element_at(col("__adv"), i) - element_at(col("__adv"), i - 1))
          .cast(DoubleType) / 1e6).as("d"))): _*)
    val melted = prog
      .select(col("__d"), explode(deltaArr).as("__e"))
      .select(col("__d"), col("__e")("i").as("__step"),
        col("__e")("d").as("__delta"))
      .where(col("__delta").isNotNull)
    val q = graft.stats.Describe.groupedQuantiles(melted,
      Seq("__d", "__step"), "__delta", Seq(0.5, 0.9))
    // (dims that fired any step) × (steps 2..k) grid: zero-pair cells
    // survive with null quantiles; the dim match is NULL-SAFE
    val stepArr = array(steps.map(lit): _*)
    val stepsDf = df.sparkSession.range(2, k + 1)
      .select(col("id").cast(IntegerType).as("step_index"),
        element_at(stepArr, col("id").cast(IntegerType)).as("step"))
    // dim list from ONE narrow pruned scan of the raw frame (same gate
    // actorProgress applies, so the set is identical) — deriving it from
    // `prog` would re-run the whole segmented fold: the grid branch
    // column-prunes below exchange reuse (the Sessionize state-branch
    // lesson), doubling the op's dominant row-scale work
    val grid = df
      .where(col(actorCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isin(steps: _*))
      .select(col(dimCol).as("__gd")).distinct()
      .crossJoin(stepsDf)
    grid.join(q,
        grid("__gd") <=> q("__d") && grid("step_index") === q("__step"),
        "left")
      .select(col("__gd").as(dimCol), col("step_index"), col("step"),
        coalesce(col("n"), lit(0L)).as("n_pairs"),
        col("p50").as("p50_seconds"), col("p90").as("p90_seconds"))
      .orderBy(col(dimCol).asc_nulls_last, col("step_index"))
  }

  /** The funnel's actor-level core: one row per actor holding `__adv`
    * (the advance timestamps in micros, one per reached step, increasing)
    * and `__r` = reached step count — the segmented transition-vector
    * fold the [[funnel]] scaladoc describes. Shared by [[funnel]] and
    * [[funnelStepTiming]]; exposed package-private for the property
    * specs (brute-force parity across segment widths and Zipf skew).
    */
  private[graft] def actorProgress(df: DataFrame, actorCol: String,
                                   tsCol: String, typeCol: String,
                                   steps: Seq[String], windowSeconds: Long,
                                   segmentSeconds: Long,
                                   dimCol: Option[String] = None)
      : DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(steps.distinct.size == steps.size,
      "duplicate funnel step: repeated types make the greedy match " +
        "ambiguous with the nested-min definition")
    // segment upper bound keeps `t - pmod(t, width)` wrap-free (the
    // consecutiveWindows rationale: TimestampType µs vs Long range)
    require(segmentSeconds >= 0 && segmentSeconds <= MaxWindowSeconds,
      s"need 0 <= segmentSeconds <= $MaxWindowSeconds (0 = auto), " +
        s"got $segmentSeconds")
    require(windowSeconds >= 0 && windowSeconds <= MaxWindowSeconds,
      s"need 0 <= windowSeconds <= $MaxWindowSeconds, got $windowSeconds")
    (Seq(actorCol, tsCol, typeCol) ++ dimCol).foreach(c =>
      require(df.columns.contains(c), s"column '$c' not in frame"))
    val k = steps.size
    val winMicros = windowSeconds * 1000000L // bounded by the require
    val t = unix_micros(col(tsCol).cast(TimestampType))
    val segMicros =
      if (segmentSeconds > 0) Math.multiplyExact(segmentSeconds, 1000000L)
      else autoSegmentMicros(df, actorCol, tsCol, typeCol, steps)
    // segment id = the segment-START micros, `t - pmod(t, width)`: exact
    // Long arithmetic (correct for negative pre-1970 micros), no division
    // — Spark's `/` on Longs is DOUBLE division, which misbuckets near
    // boundaries above 2^53 µs
    val seg = t - pmod(t, lit(segMicros))
    // full re-projection onto internal names: user column names can never
    // collide with the fold's aliases (the loud-misuse class, closed
    // structurally rather than by a reserved-name require)
    // a dimension (funnelBy) simply RIDES the actor key: both shuffles
    // group by (actor, dim, ...) instead of (actor, ...), so each
    // (actor, dimension-slice) folds independently — same skew posture,
    // NULL dimensions kept as a real slice (groupBy groups them)
    val dimKeys = dimCol.map(_ => col("__d")).toSeq
    val base = df
      .where(col(actorCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isin(steps: _*))
      .select(col(actorCol).as("__a") +:
        (dimCol.map(d => col(d).as("__d")).toSeq ++
          Seq(t.as("__t"), col(typeCol).as("__y"), seg.as("__seg"))): _*)
    val stepArr = array(steps.map(lit): _*)
    val emptyAdv = array().cast(ArrayType(LongType, containsNull = false))
    // saturating deadline: anchor + winMicros clamps to Long.MaxValue for
    // a far-future anchor instead of wrapping (non-ANSI) or throwing
    // (ANSI) — either would corrupt the censoring on exactly the
    // sentinel-timestamp inputs the resampleGrid guard class defends
    def deadline(anchor: Column): Column =
      when(anchor > lit(Long.MaxValue - winMicros), lit(Long.MaxValue))
        .otherwise(anchor + winMicros)
    // per (actor, segment): sorted events fold to the transition vector —
    // vec(i+1) = the advance-timestamp sequence from entry progress i.
    // Within a segment the entry `last` never constrains the FIRST
    // advance (it is strictly below every segment timestamp) and, for
    // entry 0 with a window, the fold's own first advance anchors the
    // deadline; entry ≥ 1 deadlines are applied at merge by truncation.
    val segVec = base
      .groupBy(col("__a") +: dimKeys :+ col("__seg"): _*)
      .agg(sort_array(collect_list(struct(col("__t").as("t"),
        col("__y").as("y")))).as("__evs"))
      .select((col("__a") +: dimKeys) :+ col("__seg") :+
        (transform(sequence(lit(0), lit(k - 1)), i =>
          aggregate(col("__evs"), emptyAdv, (adv, e) => {
            // every adv/stepArr access is shielded from ANSI
            // out-of-bounds: the index clamp and the lazy CASE branches
            // hold even if the optimizer reorders the conjuncts
            val advance = size(adv) < (lit(k) - i) &&
              e("y") === element_at(stepArr,
                least(i + size(adv) + 1, lit(k)).cast(IntegerType)) &&
              when(size(adv) === 0, lit(true))
                .otherwise(e("t") > element_at(adv, -1)) &&
              (if (windowSeconds > 0)
                i > 0 || when(size(adv) === 0, lit(true))
                  .otherwise(e("t") <= deadline(element_at(adv, 1)))
              else lit(true))
            when(advance, concat(adv, array(e("t")))).otherwise(adv)
          }))).as("__vec"): _*)
    // per actor: merge vectors in segment order; entry progress indexes
    // the next segment's vector, a set deadline prefix-truncates it
    segVec
      .groupBy(col("__a") +: dimKeys: _*)
      .agg(sort_array(collect_list(struct(col("__seg").as("s"),
        col("__vec").as("v")))).as("__segs"))
      .select((col("__a") +: dimKeys) :+
        aggregate(col("__segs"), emptyAdv, (adv, sv) => {
          val localRaw = element_at(sv("v"),
            least(size(adv) + 1, lit(k)).cast(IntegerType))
          val local =
            if (windowSeconds > 0)
              when(size(adv) >= 1, filter(localRaw,
                a => a <= deadline(element_at(adv, 1))))
                .otherwise(localRaw)
            else localRaw
          when(size(adv) >= k, adv).otherwise(concat(adv, local))
        }).as("__adv"): _*)
      .withColumn("__r", size(col("__adv")))
  }

  /** Per-actor funnel drill-down: one row per actor with at least one
    * step-typed event — the actor, its furthest `reached` step (0 when
    * it never fired step 1), and the advance timestamp of each reached
    * step as `step<i>_ts` columns. The "who dropped where" companion to
    * [[funnel]]'s aggregate counts; same semantics, same segmented
    * skew-safe machinery, actor column keeps its input name.
    *
    * Output: (actorCol, reached, step1_ts .. stepK_ts), null ts beyond
    * the reached prefix.
    */
  def funnelActors(df: DataFrame, actorCol: String, tsCol: String,
                   typeCol: String, steps: Seq[String],
                   windowSeconds: Long = 0L,
                   segmentSeconds: Long = 86400L): DataFrame = {
    val k = steps.size
    require(!steps.indices.map(i => s"step${i + 1}_ts").contains(actorCol)
      && actorCol != "reached",
      s"actor column '$actorCol' collides with a drill-down output column")
    actorProgress(df, actorCol, tsCol, typeCol, steps,
        windowSeconds, segmentSeconds)
      .select(col("__a").as(actorCol) +: col("__r").as("reached") +:
        (1 to k).map(i =>
          timestamp_micros(when(size(col("__adv")) >= i,
            element_at(col("__adv"), i))).as(s"step${i}_ts")): _*)
  }

  /** Consecutive length-`length` windows over each actor's (ts, type,
    * orderCols-tiebroken) total order — the shared SKEW-SPLIT core of
    * [[topEventPaths]] and [[nextEventDistribution]] (r14; both
    * previously whole-actor lead() windows whose hot actor paid a
    * whole-history single-task external sort — the posture [[funnel]]
    * graduated from in r13). One output row per qualifying window,
    * holding the window's type sequence as `__w`. The (t, y, orderCols)
    * order is asc_nulls_last throughout (= DuckDB's default).
    *
    * Scale shape — the [[SkewJoin]] hand-split philosophy: an EAGER
    * map-side-combined per-actor count (bounded output: ≤
    * rows/threshold actors, capped by [[MaxHeavyActors]]) routes each
    * actor to one of two paths. LIGHT actors (the overwhelming
    * majority) keep the pre-r14 whole-actor lead() window — whole-stage
    * codegen, task size BOUNDED BY THE THRESHOLD, none of the
    * per-partition overhead segmenting every actor would pay (measured
    * 4-5x suite cost on 1.2M near-empty (actor, day) partitions).
    * HEAVY actors (bots, service accounts) split by (actor,
    * time-segment): the same codegen'd lead() window with the partition
    * key extended emits windows fully inside a segment (a lead past the
    * segment edge reads null), and boundary-crossing windows come from
    * an actor-keyed merge whose per-segment state is only (head, tail,
    * n) — the first/last `length−1` events picked by row_number (the
    * full segment is never collected) and the row count.
    *
    * Boundary correctness: segment boundaries strictly separate
    * timestamps (bucket = `t - pmod(t, width)`, exact Long arithmetic),
    * so concatenating segment runs in segment order IS the actor's
    * total order. Every window is emitted EXACTLY ONCE, attributed to
    * the segment of its LAST event: the merge carry (the trailing
    * `length−1` events before the current segment) reconstructs exactly
    * from tails — `lastN(carry ++ tail, length−1)` — and a window
    * spanning an entire sparse segment survives INSIDE the carry until
    * the segment that completes it: a start event c(i) stays in the
    * carry precisely while its window is incomplete (take + n ≤
    * length−1 ⟺ needed > n), so in-segment and start-in-carry emission
    * partition the window set with no distinct pass. Both heavy
    * branches read the SAME (actor, segment) exchange (Catalyst
    * ReuseExchange); the merge's interpreted higher-order lambdas run
    * over segment-count-scale state, never rows.
    */
  private def consecutiveWindows(df: DataFrame, actorCol: String,
                                 tsCol: String, typeCol: String,
                                 length: Int, maxGapSeconds: Long,
                                 orderCols: Seq[String],
                                 segmentSeconds: Long,
                                 segmentThreshold: Long,
                                 split: HeavySplit,
                                 dimCol: Option[String] = None)
      : DataFrame = {
    (Seq(actorCol, tsCol, typeCol) ++ orderCols ++ dimCol).foreach(c =>
      require(df.columns.contains(c), s"column '$c' not in frame"))
    // the upper bound keeps `t - pmod(t, width)` wrap-free: with width
    // <= MaxWindowSeconds µs (~3.2e18) and TimestampType's µs domain
    // (|t| < 2.6e17), the subtraction stays 4+ orders inside Long range
    require(segmentSeconds >= 0 && segmentSeconds <= MaxWindowSeconds,
      s"need 0 <= segmentSeconds <= $MaxWindowSeconds (0 = auto), " +
        s"got $segmentSeconds")
    require(segmentThreshold > 0,
      s"need segmentThreshold > 0, got $segmentThreshold")
    val m = length - 1 // carry/head/tail bound
    val gapMicros = maxGapSeconds * 1000000L // callers bound maxGapSeconds
    val t = unix_micros(col(tsCol).cast(TimestampType))
    // a dimension (the funnelBy convention) RIDES the actor key: every
    // partition/group widens from (actor, ...) to (actor, dim, ...), so
    // each (actor, dimension) slice has its own consecutive order and a
    // NULL dimension is a real slice (windows/groupBys keep it)
    val dimKeys = dimCol.map(_ => col("__d")).toSeq
    val base = df
      .where(col(actorCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isNotNull)
      .select(col(actorCol).as("__a") +:
        (dimCol.map(d => col(d).as("__d")).toSeq ++
          (t.as("__t") +: col(typeCol).as("__y") +:
            orderCols.zipWithIndex.map { case (c, i) =>
              col(c).as(s"__o$i") })): _*)
    import org.apache.spark.sql.expressions.Window
    // the total order both paths share: (t, y, orderCols) asc_nulls_last
    val ord = col("__t").asc_nulls_last +: col("__y").asc_nulls_last +:
      orderCols.indices.map(i => col(s"__o$i").asc_nulls_last)
    // THE SKEW SPLIT: under the default Detect policy, one eager
    // map-side-combined per-key count (the joinCardinality contract)
    // finds the heavy keys — bounded by rows/threshold; if it still
    // exceeds MaxHeavyActors the literal split would bloat the plan, so
    // EVERY actor takes the segmented path instead (correct either way).
    // AssumeLight/Known skip the pre-scan (r14 ADVICE: callers composing
    // several successor-family ops over one frame share one detect).
    // With a DIMENSION, all work partitions per (actor, dim) SLICE, so
    // Detect routes per slice too — via the slice's xxhash64 (an
    // isInCollection of struct literals is unsupported; a hash collision
    // merely routes a light slice heavy, and routing never changes
    // results). A caller-built Known enumerates ACTOR keys by contract:
    // it routes whole actors (conservative — every slice of a heavy
    // actor is segmented; a 150k-event actor spread thin across many
    // slices is better served by Detect's per-slice counts).
    val (routeKey, routing) = split match {
      case HeavySplit.Detect if dimCol.isDefined =>
        val h = xxhash64(col("__a"), col("__d"))
        (h, HeavySplit.detectOn(base, h, col("__t"), segmentThreshold))
      case other =>
        (col("__a"), HeavySplit.resolve(other, base, col("__a"),
          col("__t"), segmentThreshold))
    }
    val allHeavy = routing.allHeavy
    val heavySet = routing.keys
    // the codegen'd consecutive-window enumerator, shared by both paths:
    // lead() over `parts` — a lead past the partition edge reads null
    // and the window is simply not emitted there
    def leadWindows(src: DataFrame, parts: Seq[Column]): DataFrame = {
      val w = Window.partitionBy(parts: _*).orderBy(ord: _*)
      val stepped = (1 until length).foldLeft(src) { (d, i) =>
        d.withColumn(s"__y$i", lead(col("__y"), i).over(w))
          .withColumn(s"__t$i", lead(col("__t"), i).over(w))
      }
      val complete = (1 until length)
        .map(i => col(s"__y$i").isNotNull).reduce(_ && _)
      val gapOkLead =
        if (maxGapSeconds == 0) lit(true)
        else (1 until length).map { i =>
          val prev = if (i == 1) col("__t") else col(s"__t${i - 1}")
          col(s"__t$i") - prev <= lit(gapMicros)
        }.reduce(_ && _)
      stepped
        .where(complete && gapOkLead)
        .select(dimKeys :+ array(col("__y") +:
          (1 until length).map(i => col(s"__y$i")): _*).as("__w"): _*)
    }
    // LIGHT actors (≤ threshold events): the plain per-actor window —
    // whole-stage codegen, one partition per actor, task size bounded
    // by the threshold itself
    val heavyPred = HeavySplit.isHeavy(routeKey, routing)
    val lightRows: Option[DataFrame] =
      if (allHeavy) None
      else Some(leadWindows(
        if (heavySet.isEmpty) base else base.where(!heavyPred),
        col("__a") +: dimKeys))
    // HEAVY actors: the segmented machinery — (actor, segment) windows
    // emit in-segment windows; boundary windows come from an actor-keyed
    // merge over segment-count-sized (head, tail, n) state
    val heavyOut: Option[DataFrame] =
      if (!allHeavy && heavySet.isEmpty) None
      else {
        // the clamp bounds the merge state (≤ AutoSegments structs per
        // actor) when Detect read the heavy spans; AUTO width derives
        // from the same spans — no second span scan (r14 ADVICE).
        // Known-without-span trusts the caller's width as documented.
        val segMicros = HeavySplit.clampSegmentMicros(
          if (segmentSeconds > 0)
            Math.multiplyExact(segmentSeconds, 1000000L)
          else if (routing.maxSpanMicros.isDefined)
            1L // AUTO: the clamp raises this to ceil(maxSpan/AutoSegments)
          else autoSegmentMicros(df, actorCol, tsCol, typeCol, Nil),
          routing.maxSpanMicros)
        val hb = (if (allHeavy) base
          else base.where(heavyPred))
          .withColumn("__seg",
            col("__t") - pmod(col("__t"), lit(segMicros)))
        val w = Window
          .partitionBy(col("__a") +: dimKeys :+ col("__seg"): _*)
          .orderBy(ord: _*)
        val inRows = leadWindows(hb,
          col("__a") +: dimKeys :+ col("__seg"))
        // boundary state: h/tl pick the first/last m rows of the SAME
        // order via row_number (tiny collect_lists — never the full
        // segment); their internal (t, y) sort is sufficient because
        // the selected SET is fixed by the row_number and rows tying on
        // (t, y) contribute the same (t, y) either way
        def gapOk(wn: Column): Column =
          if (maxGapSeconds == 0) lit(true)
          else forall(zip_with(slice(wn, 1, m), slice(wn, 2, m),
            (a, b) => b("t") - a("t") <= lit(gapMicros)), x => x)
        def types(wn: Column): Column = transform(wn, e => e("y"))
        def lastN(arr: Column): Column =
          when(size(arr) <= m, arr).otherwise(slice(arr, -m, m))
        val evStruct = struct(col("__t").as("t"), col("__y").as("y"))
        val segState = hb
          .withColumn("__rn", row_number().over(w))
          .withColumn("__cnt", count(lit(1)).over(
            w.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .groupBy(col("__a") +: dimKeys :+ col("__seg"): _*)
          .agg(
            sort_array(collect_list(when(col("__rn") <= m, evStruct)))
              .as("h"),
            sort_array(collect_list(when(col("__rn") > col("__cnt") - m,
              evStruct))).as("tl"),
            count(lit(1)).as("n"))
        // the carry INTO a segment = the last m events of ALL previous
        // occupied segments; every occupied segment holds ≥ 1 event, so
        // those events lie within the previous m segments' tails — m
        // lag columns over the segment-scale frame reconstruct the
        // carry positionally, replacing the per-actor collect_list +
        // sequential fold whose output-array concat accumulation was
        // QUADRATIC in a key's occupied segments (the r16 fill-core
        // lesson applied to the boundary merge; results identical, the
        // emitted window set is position-defined either way)
        val wSegs = Window.partitionBy(col("__a") +: dimKeys: _*)
          .orderBy(col("__seg"))
        // typed empty event array derived from the data itself (the y
        // type is whatever the caller's type column is)
        val emptyEvs = slice(col("h"), 1, 0)
        val prevTails =
          if (m == 1) coalesce(lag(col("tl"), 1).over(wSegs), emptyEvs)
          else concat((m to 1 by -1).map(i =>
            coalesce(lag(col("tl"), i).over(wSegs), emptyEvs)): _*)
        val withCarry = segState.withColumn("__c", lastN(prevTails))
        val carry = col("__c")
        val cSz = size(carry)
        val cStarts = filter(
          sequence(lit(1), greatest(cSz, lit(1))), i => i <= cSz)
        val newWins = filter(transform(cStarts, i => {
          val take = cSz - i + lit(1)
          val needed = lit(length) - take
          // needed ∈ [1, length−1]; completable here iff the segment
          // has that many events — otherwise the start stays in the
          // carry and a later segment emits it
          val wn = concat(slice(carry, i, take),
            slice(col("h"), lit(1), needed))
          when(needed <= col("n") && gapOk(wn), types(wn))
        }), wn => wn.isNotNull)
        val boundRows = withCarry
          .select(dimKeys :+ explode(newWins).as("__w"): _*)
        Some(inRows.unionAll(boundRows))
      }
    (lightRows, heavyOut) match {
      case (Some(l), Some(h)) => l.unionAll(h)
      case (Some(l), None) => l
      case (None, Some(h)) => h
      case (None, None) => // unreachable: allHeavy XOR not
        throw new IllegalStateException("empty window split")
    }
  }

  /** Next-event distribution: over each actor's (ts, type)-ordered event
    * stream, what immediately follows an event of `fromType`? Every
    * `fromType` occurrence contributes its successor ROW's type (the
    * documented total order — ties made deterministic by `orderCols`,
    * the [[TimeSeries.forwardFill]] contract); terminal occurrences
    * (nothing after them) are excluded from the distribution. Rows with
    * a null actor, ts, or type are ignored.
    *
    * Scale shape (r14): successor pairs are length-2
    * [[consecutiveWindows]] — the skew-split core: light actors keep
    * the codegen'd per-actor window (task size ≤ `segmentThreshold`),
    * heavy actors split by (actor, segment) with a bounded boundary
    * merge, so a hot actor spreads across its active segments instead
    * of sorting its whole history in one task. EAGER at call time (the
    * [[SkewJoin.joinCardinality]] contract): the bounded heavy-actor
    * count pre-scan runs before this returns. The distribution itself
    * is a bounded (≤ |type vocabulary|) aggregation; the share
    * denominator rides it as an unpartitioned window sum (the
    * Sampling/Drift pattern).
    *
    * Output: (next_type, n, share = n over all counted successors as a
    * raw double quotient), ordered by n desc then next_type.
    */
  def nextEventDistribution(df: DataFrame, actorCol: String, tsCol: String,
                            typeCol: String, fromType: String,
                            orderCols: Seq[String] = Nil,
                            segmentSeconds: Long = 86400L,
                            segmentThreshold: Long = DefaultSegmentThreshold,
                            split: HeavySplit = HeavySplit.Detect)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = consecutiveWindows(df, actorCol, tsCol, typeCol,
      length = 2, maxGapSeconds = 0L, orderCols, segmentSeconds,
      segmentThreshold, split)
    pairs
      .where(element_at(col("__w"), 1) === fromType)
      .groupBy(element_at(col("__w"), 2).as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", col("n").cast(DoubleType) /
        sum(col("n")).over(Window.partitionBy()).cast(DoubleType))
      .orderBy(col("n").desc, col("next_type").asc)
  }

  /** The `segmentSeconds = 0` AUTO width: one narrow (ts, type)-pruned
    * pre-scan reads the span and divides it into [[AutoSegments]] — the
    * right default when the log's time range is unknown a priori; the
    * fixed-width form skips the extra scan when the caller knows the
    * cadence. Span arithmetic in BigInt: min/max micros can straddle
    * the epoch. Package-private so the spec can pin the derived width
    * itself (parity across widths alone would not catch a regression
    * to one giant segment).
    */
  private[graft] def autoSegmentMicros(df: DataFrame, actorCol: String,
                                       tsCol: String, typeCol: String,
                                       steps: Seq[String]): Long = {
    val t = unix_micros(col(tsCol).cast(TimestampType))
    // empty steps = every non-null type participates (the successor-row
    // family); a step list prunes the scan to the funnel's types
    val typePred =
      if (steps.isEmpty) col(typeCol).isNotNull
      else col(typeCol).isin(steps: _*)
    val b = df
      .where(col(actorCol).isNotNull && col(tsCol).isNotNull && typePred)
      .agg(min(t), max(t)).head()
    if (b.isNullAt(0)) 1L
    else {
      val span = BigInt(b.getLong(1)) - BigInt(b.getLong(0)) + 1
      ((span + AutoSegments - 1) / AutoSegments).max(1).toLong
    }
  }

  /** Event-type TRANSITION MATRIX: over each actor's (ts, type,
    * tiebreak) total order, the count and share of every (from_type →
    * next_type) successor pair — [[nextEventDistribution]] for EVERY
    * from-type at once, the Sankey-diagram / first-order-Markov table.
    * Terminal occurrences (nothing after them) contribute nothing, rows
    * with a null actor/ts/type are ignored, and `share` normalizes each
    * ROW of the matrix (n over the from-type's total counted
    * successors), so each from_type's shares sum to 1.
    *
    * Scale shape: successor pairs are the same length-2 skew-split
    * [[consecutiveWindows]] core as [[nextEventDistribution]] (light
    * actors codegen'd whole-actor windows, heavy actors segmented;
    * EAGER bounded pre-count at call time, the
    * [[SkewJoin.joinCardinality]] contract); the matrix aggregation is
    * ≤ |vocabulary|² bounded, and the row-share denominator rides it as
    * a from-type-partitioned window sum over the bounded frame.
    *
    * Output: (from_type, next_type, n, share), ordered by (from_type,
    * n desc, next_type).
    */
  def eventTransitionMatrix(df: DataFrame, actorCol: String,
                            tsCol: String, typeCol: String,
                            orderCols: Seq[String] = Nil,
                            segmentSeconds: Long = 86400L,
                            segmentThreshold: Long =
                              DefaultSegmentThreshold,
                            split: HeavySplit = HeavySplit.Detect)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = consecutiveWindows(df, actorCol, tsCol, typeCol,
      length = 2, maxGapSeconds = 0L, orderCols, segmentSeconds,
      segmentThreshold, split)
    transitionShares(pairs
      .select(element_at(col("__w"), 1).as("from_type"),
        element_at(col("__w"), 2).as("next_type")))
  }

  /** The transition matrix's final projection over a raw
    * (from_type, next_type) pair frame: per-cell counts with each ROW
    * of the matrix normalized (share = n over the from-type's total).
    * ONE definition shared by [[eventTransitionMatrix]] and the
    * streaming twin's closed-window read
    * ([[graft.streaming.StreamingFrame.streamingTransitions]] emissions
    * — `transitionShares(hits.select("from_type", "next_type"))`), the
    * [[graft.stats.ValueCounts.rankValueCounts]] sharing pattern, so
    * the two can never drift on the normalization. Input pairs are
    * counted as given — pass RAW pair rows, not pre-collapsed counts.
    *
    * Scale shape: one map-side-combined aggregation (shuffle ≤
    * |vocabulary|² cells); the row-share denominator rides the bounded
    * frame as a from-type-partitioned window sum.
    */
  def transitionShares(pairs: DataFrame,
                       sliceCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    (sliceCols ++ Seq("from_type", "next_type")).foreach(c =>
      require(pairs.columns.contains(c), s"column '$c' not in frame"))
    require(!sliceCols.exists(Seq("from_type", "next_type", "n", "share")
        .contains),
      "slice column collides with a transition output column")
    val slices = sliceCols.map(col)
    pairs
      .groupBy(slices ++ Seq(col("from_type"), col("next_type")): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("share", col("n").cast(DoubleType) /
        sum(col("n")).over(Window.partitionBy(
          slices :+ col("from_type"): _*)).cast(DoubleType))
      .orderBy(sliceCols.map(c => col(c).asc_nulls_last) ++
        Seq(col("from_type").asc, col("n").desc,
          col("next_type").asc): _*)
  }

  /** Dimensional transition matrix — [[eventTransitionMatrix]] grouped
    * by a property column ("transitions by country"): the dimension
    * rides the actor key through the same skew-split
    * [[consecutiveWindows]] core (the [[funnelBy]] convention), so each
    * (actor, dimension) slice has its OWN consecutive order — an actor
    * whose events carry several dimension values contributes successor
    * pairs within each slice independently, and a NULL dimension is a
    * real slice. `share` row-normalizes per (dimension, from_type).
    * Same routing knobs and eager-pre-scan contract as the plain form.
    *
    * Output: (dimCol, from_type, next_type, n, share), ordered by
    * (dimension NULLS LAST, from_type, n desc, next_type).
    */
  def eventTransitionMatrixBy(df: DataFrame, actorCol: String,
                              tsCol: String, typeCol: String,
                              dimCol: String,
                              orderCols: Seq[String] = Nil,
                              segmentSeconds: Long = 86400L,
                              segmentThreshold: Long =
                                DefaultSegmentThreshold,
                              split: HeavySplit = HeavySplit.Detect)
      : DataFrame = {
    require(!Seq("from_type", "next_type", "n", "share").contains(dimCol),
      s"dimension column '$dimCol' collides with an output column")
    val pairs = consecutiveWindows(df, actorCol, tsCol, typeCol,
      length = 2, maxGapSeconds = 0L, orderCols, segmentSeconds,
      segmentThreshold, split, Some(dimCol))
    transitionShares(pairs
      .select(col("__d").as(dimCol),
        element_at(col("__w"), 1).as("from_type"),
        element_at(col("__w"), 2).as("next_type")),
      Seq(dimCol))
  }

  /** Dimensional top event paths — [[topEventPaths]] grouped by a
    * property column: top-k most frequent length-`length` consecutive
    * sequences PER dimension slice, with `share` normalized within the
    * slice and a 1..k `rank` per dimension (deterministic: n desc, path
    * asc). Same slice semantics as [[eventTransitionMatrixBy]]; same
    * skew-split core, routing knobs, and gap chain rule as the plain
    * form. The per-dimension top-k is a row_number over the bounded
    * (dimension × path) count frame — never over rows.
    *
    * Output: (dimCol, path, n, share, rank ≤ k), ordered by (dimension
    * NULLS LAST, rank).
    */
  def topEventPathsBy(df: DataFrame, actorCol: String, tsCol: String,
                      typeCol: String, dimCol: String, length: Int,
                      k: Int, maxGapSeconds: Long = 0L,
                      orderCols: Seq[String] = Nil,
                      segmentSeconds: Long = 86400L,
                      segmentThreshold: Long = DefaultSegmentThreshold,
                      split: HeavySplit = HeavySplit.Detect): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(length >= 2, s"need length >= 2, got $length")
    require(k > 0, s"need k > 0, got $k")
    require(maxGapSeconds >= 0 && maxGapSeconds <= MaxWindowSeconds,
      s"need 0 <= maxGapSeconds <= $MaxWindowSeconds, got $maxGapSeconds")
    require(!Seq("path", "n", "share", "rank").contains(dimCol),
      s"dimension column '$dimCol' collides with an output column")
    val wins = consecutiveWindows(df, actorCol, tsCol, typeCol, length,
      maxGapSeconds, orderCols, segmentSeconds, segmentThreshold, split,
      Some(dimCol))
    wins
      .select(col("__d").as(dimCol),
        concat_ws(" > ", (1 to length).map(i =>
          element_at(col("__w"), i)): _*).as("path"))
      .groupBy(col(dimCol), col("path"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", col("n").cast(DoubleType) /
        sum(col("n")).over(Window.partitionBy(col(dimCol)))
          .cast(DoubleType))
      .withColumn("rank", row_number().over(Window
        .partitionBy(col(dimCol))
        .orderBy(col("n").desc, col("path").asc)))
      .where(col("rank") <= k)
      .orderBy(col(dimCol).asc_nulls_last, col("rank"))
  }

  /** Top-k event paths: the most frequent length-`length` sequences of
    * CONSECUTIVE events in the per-actor (ts, type, tiebreak) total
    * order — "what do actors actually do", the sequence companion to
    * [[nextEventDistribution]]'s single step. A window of `length`
    * consecutive rows forms a path when it is complete (no partition
    * edge inside it) and, with `maxGapSeconds > 0`, every consecutive
    * gap inside it is at most the bound (a session-style chain rule —
    * paths never span a cold gap). Rows with a null actor, ts, or type
    * are ignored; every qualifying window counts (overlapping windows
    * each count — the standard n-gram convention).
    *
    * Scale shape (r14): windows come from the skew-split
    * [[consecutiveWindows]] core — light actors keep the codegen'd
    * per-actor window (task size ≤ `segmentThreshold`), heavy actors
    * take the (actor, time-segment) shuffle with segment-bounded sorts
    * and a segment-count-sized boundary merge, the [[funnel]] skew
    * posture — replacing the unconditional per-actor lead() windows
    * whose hot actor paid a whole-history single-task external sort.
    * EAGER at call time (the [[SkewJoin.joinCardinality]] contract):
    * the bounded heavy-actor count pre-scan runs before this returns.
    * The path counts collapse map-side (≤ vocabulary^length distinct
    * paths, far fewer in practice); the share denominator rides the
    * aggregate as an unpartitioned window sum over that bounded frame,
    * and top-k is a deterministic (n desc, path asc) limit.
    *
    * Output: (path — types joined with " > " —, n, share = n over ALL
    * complete paths as a raw double quotient), top-k rows.
    */
  def topEventPaths(df: DataFrame, actorCol: String, tsCol: String,
                    typeCol: String, length: Int, k: Int,
                    maxGapSeconds: Long = 0L,
                    orderCols: Seq[String] = Nil,
                    segmentSeconds: Long = 86400L,
                    segmentThreshold: Long = DefaultSegmentThreshold,
                    split: HeavySplit = HeavySplit.Detect): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(length >= 2, s"need length >= 2, got $length")
    require(k > 0, s"need k > 0, got $k")
    // upper bound matches windowSeconds' sanity require: unbounded, the
    // micros conversion wraps negative and every gap check silently fails
    require(maxGapSeconds >= 0 && maxGapSeconds <= MaxWindowSeconds,
      s"need 0 <= maxGapSeconds <= $MaxWindowSeconds, got $maxGapSeconds")
    val wins = consecutiveWindows(df, actorCol, tsCol, typeCol, length,
      maxGapSeconds, orderCols, segmentSeconds, segmentThreshold, split)
    wins
      .select(concat_ws(" > ", (1 to length).map(i =>
        element_at(col("__w"), i)): _*).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", col("n").cast(DoubleType) /
        sum(col("n")).over(Window.partitionBy()).cast(DoubleType))
      .orderBy(col("n").desc, col("path").asc)
      .limit(k)
  }

  /** Cohort retention: actors bucketed by the period of their FIRST
    * event, and for each (cohort, period-offset) cell the count of
    * cohort actors active in that offset period. Periods are pure
    * day-arithmetic buckets of `periodDays` anchored at 1970-01-01
    * (`floor(days-since-epoch / periodDays)`) — no calendar week
    * convention to disagree on across engines — and the offset is
    * `cohort-relative`: `floor(datediff(event, first_event) /
    * periodDays)`, so offset 0 always exists for a non-empty cohort.
    * Rows with a null actor or ts are ignored.
    *
    * Scale shape: one actor-keyed aggregation finds first events
    * (shuffle ≤ actors); events join that frame on the actor (AQE
    * broadcasts the per-actor side when it fits, else a co-keyed
    * shuffle), collapse to distinct (cohort, offset, actor) cells
    * map-side, and the cell counts + cohort sizes are two more bounded
    * aggregations. Nothing row-scale moves after the first shuffle.
    *
    * Output: (cohort_period — the anchored bucket index of the cohort's
    * first-event day, week-like when periodDays = 7 —, period_offset,
    * n_active, cohort_size, retention = n_active/cohort_size as the raw
    * double quotient of exact Longs), ordered by (cohort_period,
    * period_offset).
    */
  def cohortRetention(df: DataFrame, actorCol: String, tsCol: String,
                      periodDays: Int = 7): DataFrame =
    cohortCore(df, actorCol, tsCol, None, periodDays)

  /** The shared cohort pipeline under [[cohortRetention]] and
    * [[cohortRetentionBy]] — one definition of the anchor arithmetic,
    * distinct-cell collapse, broadcast sizes and retention quotient, so
    * the two entry points can never drift (the funnelBy/actorProgress
    * convention). A dimension, when present, widens every key, and the
    * two joins back on it are NULL-SAFE — a NULL dimension is a real
    * slice.
    */
  private def cohortCore(df: DataFrame, actorCol: String, tsCol: String,
                         dimCol: Option[String], periodDays: Int)
      : DataFrame = {
    require(periodDays > 0, s"need periodDays > 0, got $periodDays")
    (Seq(actorCol, tsCol) ++ dimCol).foreach(c =>
      require(df.columns.contains(c), s"column '$c' not in frame"))
    val dimKeys = dimCol.map(_ => col("__d")).toSeq
    val base = df
      .where(col(actorCol).isNotNull && col(tsCol).isNotNull)
      .select(col(actorCol).as("__a") +:
        (dimCol.map(d => col(d).as("__d")).toSeq :+
          to_date(col(tsCol)).as("__day")): _*)
    val firsts = base.groupBy(col("__a") +: dimKeys: _*)
      .agg(min(col("__day")).as("__first"))
      .withColumn("__cohort",
        floor(datediff(col("__first"), lit("1970-01-01").cast("date"))
          / periodDays))
    val backJoin = col("b.__a") === col("f.__a") &&
      dimCol.map(_ => col("b.__d") <=> col("f.__d")).getOrElse(lit(true))
    val cells = base.as("b").join(firsts.as("f"), backJoin)
      .select(dimCol.map(_ => col("f.__d").as("__d")).toSeq ++ Seq(
        col("f.__cohort").as("__cohort"),
        floor(datediff(col("b.__day"), col("f.__first")) / periodDays)
          .as("period_offset"),
        col("b.__a").as("__a")): _*)
      .distinct()
      .groupBy(dimKeys :+ col("__cohort") :+ col("period_offset"): _*)
      .agg(count(lit(1)).as("n_active"))
    val sizes = firsts
      .groupBy(dimCol.map(_ => col("__d").as("__sd")).toSeq :+
        col("__cohort").as("__scohort"): _*)
      .agg(count(lit(1)).as("cohort_size"))
    val sizeJoin = col("__cohort") === col("__scohort") &&
      dimCol.map(_ => col("__d") <=> col("__sd")).getOrElse(lit(true))
    cells.join(broadcast(sizes), sizeJoin)
      .select(dimCol.map(d => col("__d").as(d)).toSeq ++ Seq(
        col("__cohort").as("cohort_period"),
        col("period_offset"),
        col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size"))
          .as("retention")): _*)
      .orderBy(dimCol.map(d => col(d).asc_nulls_last).toSeq ++ Seq(
        col("cohort_period"), col("period_offset")): _*)
  }

  /** Dimensional cohort retention — [[cohortRetention]] grouped by a
    * property column ("retention by country"): the dimension rides the
    * actor key exactly as in [[funnelBy]], so each (actor, dimension)
    * slice anchors its own cohort at the slice's first event and an
    * actor whose events carry several dimension values participates
    * independently in each (per-actor-constant dimensions reduce to the
    * plain per-country read). A NULL dimension is a real slice: every
    * join back on the dimension is NULL-SAFE (`<=>`), the
    * [[graft.stats.Describe.groupedQuantiles]] hazard class closed by
    * construction, not by testdata luck.
    *
    * Scale shape: identical to [[cohortRetention]] with the dimension
    * widening each key — first-event shuffle ≤ (actor, dim) slices,
    * cells collapse to distinct (dim, cohort, offset, actor) map-side,
    * sizes stay (dim × cohort)-bounded and broadcast.
    *
    * Output: (dimCol, cohort_period, period_offset, n_active,
    * cohort_size, retention), ordered by (dimension NULLS LAST,
    * cohort_period, period_offset).
    */
  def cohortRetentionBy(df: DataFrame, actorCol: String, tsCol: String,
                        dimCol: String, periodDays: Int = 7): DataFrame = {
    require(!Seq("cohort_period", "period_offset", "n_active",
        "cohort_size", "retention").contains(dimCol),
      s"dimension column '$dimCol' collides with an output column")
    cohortCore(df, actorCol, tsCol, Some(dimCol), periodDays)
  }
}
