package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.Concurrency.runConcurrently

import scala.jdk.CollectionConverters._

/** Schema discovery beyond declared typing: candidate-key detection and
  * functional-dependency profiling — the automated version of the
  * uniqueness check the reference runs when an index is DECLARED
  * (`table_schema.py` `_validate_index`; woodwork never searches for one).
  * Feeding `set_index`/`set_types` with measured facts instead of hope is
  * the natural next step for a profiling engine.
  *
  * Scale shape (key profiles): k CONCURRENT per-candidate jobs, each one
  * narrow aggregation scanning ONLY its tuple's columns (columnar
  * pruning — summed scan bytes ≈ Σ tuple widths, comparable to one
  * full-width scan) with map-side partial distinct collapsing
  * low-cardinality tuples BEFORE the shuffle. Measured 3–7× faster than
  * the alternative one-scan multi-distinct aggregate on the q139
  * lattice: Spark plans that shape as one Expand shuffling k+1 copies
  * of every scanned row regardless of cardinality — the same
  * melt-vs-jobs result [[columnEntropy]] measured first. The FD
  * profile follows the same pattern — per-pair jobs measured 2.7×
  * faster than the batched 2k²-group Expand on the q129 shape
  * even though pairs re-read shared columns, because each pair's
  * map-side partial distinct collapses before the shuffle; one job
  * per UNORDERED pair reads both directions. Driver state is
  * candidate-list-sized (k rows / k² pair rows), never data-sized.
  *
  * INDs are the exception: a level's confirms share their items (one
  * column is the left side of many candidates), so every candidate of
  * a level is confirmed by ONE plan over MIND's value index (see
  * [[inclusionDependencies]]) — a few Spark jobs per level whatever
  * the candidate count, where a join per candidate paid about four
  * each (q152's 60-pair sweep: 247 jobs, now 11).
  *
  * APPROX SCREEN (the 100 TB shape): each exact `count_distinct` shuffles
  * every distinct tuple — for a near-unique candidate that is the whole
  * table crossing the wire, per candidate. `screen = Hll` (or `Auto` on
  * a frame past the measured crossover — see [[KeyDiscovery.Screen]])
  * first
  * measures every candidate with `approx_count_distinct` (HLL++ — the
  * shuffle is one fixed-size sketch, not the tuples) in concurrent
  * narrow jobs, and pays the exact shuffle ONLY for candidates the
  * sketch cannot rule out. A candidate is screened to `is_key = false`
  * without an exact job when it has any null row, or when its HLL
  * estimate reads below (1 − ε)·n with ε = 5·rsd (HLL++ NDV error is
  * ≈ Gaussian with σ = rsd, so a 5σ screen mis-skips a true key with
  * probability < 3·10⁻⁷). Screened-out candidates report the HLL
  * estimate (±rsd) as `n_distinct` with `is_exact = false` — the schema
  * itself marks which rows are sketch estimates; candidates that survive
  * the screen carry exact counts and an exact verdict. Measured at sf0.1
  * (30-candidate lineitem lattice): 19/30 exact jobs skipped, shuffle
  * volume collapses to the confirms — wall-clock parity locally (the
  * in-memory shuffle is cheap at one box), the savings are wire bytes.
  *
  * The scale knob is the CANDIDATE count, not the row count (measured
  * sub-linear in rows at 30× data, BENCH_SF1 §4): bound one call by
  * [[MaxCandidates]] and profile a wide table in staged batches.
  */
object KeyDiscovery {

  /** Measurement-plan selector for the distinct-count measures: `Exact`
    * pays an exact `count_distinct` shuffle per candidate; `Hll` applies
    * the object doc's HLL screen (screen-then-confirm for keys,
    * refute-only for FDs); `Auto` resolves per call from the optimizer's
    * scan-size estimate — `Hll` when the frame reads at least
    * [[AutoScreenBytes]], `Exact` below. The switch point encodes the
    * measured crossover (BENCH_SF1 §r10, the q142/q144 lattice): the
    * screen is ~par with exact at sf0.1 (orders reads a few MB) and 2.1×
    * faster at 100×, so the threshold sits safely inside that span —
    * below it the sketch-job overhead buys nothing, above it every
    * skipped exact measure saves a distinct-tuple shuffle. Verdict
    * semantics are screen-mode-invariant: every row a screened call
    * returns with `is_exact = true` carries exact counts, and only
    * screened-out/refuted rows carry sketch estimates (their `is_exact =
    * false` says so in the artifact itself).
    */
  sealed trait Screen
  object Screen {
    case object Exact extends Screen
    case object Hll extends Screen
    case object Auto extends Screen
  }

  /** [[Screen.Auto]]'s switch point, compared against the logical plan's
    * `stats.sizeInBytes` estimate (for a parquet scan: the file bytes to
    * read after partition pruning). 256 MB ≈ 10× the sf0.1 lattice
    * tables where exact and screen measure at parity — decisively below
    * the 100× replicas where the screen measures 2.1× faster.
    */
  val AutoScreenBytes: Long = 256L << 20

  /** Resolves `screen` for one call over `frames`: under `Auto`, the
    * LARGEST frame's optimizer scan estimate against [[AutoScreenBytes]]
    * (for an IND, either side large enough makes the exact distinct
    * shuffle worth screening away).
    */
  private def useHll(screen: Screen, frames: DataFrame*): Boolean =
    screen match {
      case Screen.Exact => false
      case Screen.Hll   => true
      case Screen.Auto  =>
        frames.map(_.queryExecution.optimizedPlan.stats.sizeInBytes)
          .max >= BigInt(AutoScreenBytes)
    }

  private def requireRsd(rsd: Double): Unit =
    require(rsd > 0 && rsd < 0.2, s"need 0 < rsd < 0.2, got $rsd")

  /** The schema of a driver-side verdict table: every column is
    * non-nullable. */
  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  /** A driver-side verdict table as a local relation: reading it back
    * runs no Spark job. */
  private def localFrame(spark: SparkSession, rows: Seq[Row],
                         schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Candidate-key profile for the given columns: exact distinct count,
    * null count, and whether the column uniquely identifies rows
    * (distinct == non-null rows AND no nulls — the reference's index
    * contract: unique and non-null).
    *
    * Output: (column_name, n_rows, n_distinct, n_null, is_key), one row
    * per candidate, in the given column order.
    */
  def candidateKeys(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one candidate column")
    require(cols.size <= MaxCandidates,
      s"${cols.size} candidates > $MaxCandidates: bound the per-call " +
        "fan-out — profile in staged batches")
    cols.foreach(c => require(df.columns.contains(c),
      s"candidate column '$c' not in frame"))
    val (profiles, _) = measure(cols.size)(i => tupleProfile(df, Seq(cols(i))))
    val rows = cols.zip(profiles).map { case (c, ((n, d, z), _)) =>
      Row(c, n, d, z, z == 0L && d == n)
    }
    localFrame(df.sparkSession, rows, schema("column_name" -> StringType,
      "n_rows" -> LongType, "n_distinct" -> LongType, "n_null" -> LongType,
      "is_key" -> BooleanType))
  }

  /** Composite candidate-key profile: like [[candidateKeys]] but over
    * column TUPLES — the common real-world case (a fact table keyed by
    * (order, line number)). Per candidate tuple: exact distinct count of
    * the tuple (over rows where EVERY member is non-null — Spark's
    * multi-argument distinct count skips any-null rows and the contract
    * mirrors it), the count of rows with any null member, and `is_key`
    * (no null rows AND tuple-distinct == total rows — the reference's
    * index contract lifted to composites).
    *
    * Each candidate measures in its own narrow CONCURRENT job (see the
    * object doc for the measured jobs-vs-Expand tradeoff; `screen`
    * selects the HLL screen-then-confirm path — the object doc states
    * its error bound; `is_exact` marks per row whether its counts are
    * exact or sketch estimates). The scale knob is the candidate count:
    * `MaxCandidates` bounds one call's concurrent driver-job fan-out;
    * search a wide lattice in staged batches — run arity 1 first and
    * drop every tuple containing a discovered key (supersets of a key
    * are trivially keys), the TANE-style prune [[discoverKeysStaged]]
    * automates.
    *
    * Output: (key_columns comma-joined, arity, n_rows, n_distinct,
    * n_null_rows, is_key, is_exact), one row per candidate in the given
    * order.
    */
  def compositeCandidateKeys(df: DataFrame,
                             candidates: Seq[Seq[String]],
                             screen: Screen = Screen.Exact,
                             screenRsd: Double = 0.02): DataFrame = {
    val hll = useHll(screen, df)
    validateCandidates(df, candidates)
    compositeResult(df.sparkSession,
      candidates.zip(keyProfiles(df, candidates, hll, screenRsd)))
  }

  private def validateCandidates(df: DataFrame,
                                 candidates: Seq[Seq[String]]): Unit = {
    require(candidates.nonEmpty, "need at least one candidate tuple")
    require(candidates.size <= MaxCandidates,
      s"${candidates.size} candidates > $MaxCandidates: bound the " +
        "per-call fan-out — profile in staged batches")
    candidates.foreach { cs =>
      require(cs.nonEmpty, "empty candidate tuple")
      require(cs.distinct.size == cs.size,
        s"duplicate column in candidate ${cs.mkString(",")}")
      cs.foreach(c => require(df.columns.contains(c),
        s"candidate column '$c' not in frame"))
    }
  }

  /** `is_exact` is the self-describing marker for screened calls: a
    * `false` row's `n_distinct` is an HLL estimate (±rsd), every `true`
    * row carries exact counts (r10 ADVICE — the convention is now a
    * schema-level fact, not a scaladoc warning).
    */
  private def compositeResult(spark: SparkSession,
      profiled: Seq[(Seq[String], ((Long, Long, Long), Boolean))]): DataFrame = {
    val rows = profiled.map { case (cs, ((n, d, z), exact)) =>
      Row(cs.mkString(","), cs.size, n, d, z, z == 0L && d == n, exact)
    }
    localFrame(spark, rows, schema("key_columns" -> StringType,
      "arity" -> IntegerType, "n_rows" -> LongType, "n_distinct" -> LongType,
      "n_null_rows" -> LongType, "is_key" -> BooleanType,
      "is_exact" -> BooleanType))
  }

  /** Per-call measure budget shared by [[candidateKeys]],
    * [[compositeCandidateKeys]] and [[functionalDependencies]]: k
    * concurrent jobs each scan the table (pruned), so cost is
    * measures × scan; one call is bounded and wider lattices profile in
    * staged batches. 64 keeps one call under the all-pairs profile of an
    * 11-column table.
    */
  val MaxCandidates = 64

  /** Arity-bounded key search: all single columns plus all unordered
    * tuples up to `maxArity` over `cols`, measured in one
    * [[compositeCandidateKeys]] call. Tuple order follows the given
    * column order (combinations, not permutations — tuple distinctness
    * is order-free). The default (arity 2) covers the dominant
    * real-world case; the candidate budget caps the lattice.
    */
  def discoverKeys(df: DataFrame, cols: Seq[String],
                   maxArity: Int = 2,
                   screen: Screen = Screen.Exact,
                   screenRsd: Double = 0.02): DataFrame = {
    require(maxArity >= 1, s"need maxArity >= 1, got $maxArity")
    val tuples = (1 to maxArity)
      .flatMap(k => cols.combinations(k).toSeq)
    compositeCandidateKeys(df, tuples, screen = screen, screenRsd = screenRsd)
  }

  /** Apriori candidate generation (Agrawal & Srikant 1994 — the same
    * level rule TANE's lattice walk uses): size-(k+1) candidates are
    * unions of two size-k SURVIVORS sharing a (k−1)-prefix, kept only
    * when every k-subset also survived. Output-equivalent to enumerating
    * `cols.combinations(k+1)` and filtering against the pruned sets, but
    * the driver-side work is bounded by the survivor count, not the full
    * lattice — 50 columns at maxArity 5 no longer materializes 2M
    * combinations to discard most of them. Candidates emerge sorted in
    * lattice (column-index) order, matching `combinations` order.
    */
  private def aprioriNextLevel(survivors: Seq[Seq[String]],
                               idx: Map[String, Int]): Seq[Seq[String]] = {
    import scala.math.Ordering.Implicits.seqOrdering
    val survivorSet = survivors.map(_.toSet).toSet
    survivors.groupBy(_.init).toSeq.flatMap { case (prefix, group) =>
      val lasts = group.map(_.last).sortBy(idx)
      for {
        i <- lasts.indices
        j <- (i + 1) until lasts.size
        cand = (prefix :+ lasts(i)) :+ lasts(j)
        if cand.toSet.subsets(cand.size - 1).forall(survivorSet.contains)
      } yield cand
    }.sortBy(_.map(idx))
  }

  /** The one lattice walk (TANE, Huhtala et al. 1999) behind
    * [[discoverKeysStaged]], [[approximateKeys]],
    * [[compositeFunctionalDependencies]] and
    * [[approximateFunctionalDependencies]]. Per target `t` (the dependent
    * of an FD walk; the single `()` of a key walk), level 1 is every
    * column `x` of `cols` with `first(x, t)`, and each higher level is
    * generated Apriori-style ([[aprioriNextLevel]]) from the target's
    * previous-level SURVIVORS — measured candidates whose measure does
    * not `hold`. A holding set therefore never generates a superset,
    * which IS the prune. Each level measures in [[MaxCandidates]]-bounded
    * chunks (`measureChunk` returns one measure per candidate, in chunk
    * order), so a wide lattice never exceeds the per-call budget.
    *
    * Returns every measured candidate with its measure in lattice order:
    * levels ascending, each level by (column-index tuple, target index).
    */
  private def latticeWalk[T, M](cols: Seq[String], targets: Seq[T],
      maxArity: Int)(first: (String, T) => Boolean)(
      measureChunk: Seq[(Seq[String], T)] => Seq[M])(
      holds: M => Boolean): Seq[((Seq[String], T), M)] = {
    import scala.math.Ordering.Implicits.seqOrdering
    val idx = cols.zipWithIndex.toMap
    val tIdx = targets.zipWithIndex.toMap
    val out = Seq.newBuilder[((Seq[String], T), M)]
    var survivors = Map.empty[T, Seq[Seq[String]]]
    for (a <- 1 to maxArity) {
      val level =
        if (a == 1) for (x <- cols; t <- targets if first(x, t)) yield (Seq(x), t)
        else targets.flatMap(t =>
            aprioriNextLevel(survivors.getOrElse(t, Nil), idx).map((_, t)))
          .sortBy { case (xs, t) => (xs.map(idx), tIdx(t)) }
      // per-level collect is bounded: level measures are candidate-sized
      // driver values (never data-sized), and verdicts gate the next level
      val measured = level.grouped(MaxCandidates)
        .flatMap(chunk => chunk.zip(measureChunk(chunk))).toSeq
      out ++= measured
      survivors = measured.filterNot(m => holds(m._2))
        .groupMap(_._1._2)(_._1._1)
    }
    out.result()
  }

  /** Arity-STAGED key search with TANE-style pruning (Huhtala et al.
    * 1999's lattice walk, restricted to key discovery): profile arity 1,
    * then at each higher arity measure only tuples that contain NO
    * already-discovered key — a superset of a key is never a MINIMAL
    * key, and the minimal frontier is what key discovery reports.
    * (Minimality, not implication, is the honest justification under
    * this object's unique-AND-non-null convention: a key plus an added
    * NULL-bearing column is not itself a key — the any-null rows
    * disqualify it — so a pruned superset's own verdict is "not
    * minimal", not "implied key". Null-free added columns restore the
    * trivially-a-key reading.) This is the
    * operational form of the staged-batch guidance in the object doc:
    * [[latticeWalk]] measures each arity level in [[MaxCandidates]]-bounded
    * chunks, so a wide lattice never exceeds the per-call budget and the
    * prune shrinks level k+1 by every key level k found (on a table whose
    * single-column id is a key, arity 2 over n columns measures
    * C(n−1, 2) tuples instead of C(n, 2)). Levels generate
    * Apriori-style from the previous level's non-key survivors
    * ([[aprioriNextLevel]]) — identical output to enumerate-then-filter,
    * driver work bounded by survivors instead of C(n, a), which is what
    * makes arity 3+ walks over wide tables feasible.
    *
    * `screen = Hll` (or `Auto` on a large frame) applies the object
    * doc's HLL screen-then-confirm path at every level — on a wide
    * lattice where most tuples are far from unique, the exact distinct
    * shuffles collapse to one sketch batch per level plus confirms for
    * the few near-keys.
    *
    * Output: the [[compositeCandidateKeys]] schema over every MEASURED
    * candidate, in lattice order — pruned supersets are absent by
    * construction (skipped as non-minimal; a contained key's row
    * identifies why).
    */
  def discoverKeysStaged(df: DataFrame, cols: Seq[String],
                         maxArity: Int = 2,
                         screen: Screen = Screen.Exact,
                         screenRsd: Double = 0.02): DataFrame = {
    require(maxArity >= 1, s"need maxArity >= 1, got $maxArity")
    require(cols.nonEmpty, "need at least one column")
    val hll = useHll(screen, df)
    val walked = latticeWalk(cols, Seq(()), maxArity)((_, _) => true) { chunk =>
      val cands = chunk.map(_._1)
      validateCandidates(df, cands)
      keyProfiles(df, cands, hll, screenRsd)
    } { case ((n, d, z), _) => z == 0L && d == n }
    compositeResult(df.sparkSession,
      walked.map { case ((cs, _), p) => (cs, p) })
  }

  /** The one measurement step every measure in this object shares: a
    * driver-side `refuted` test over readings an optional sketch screen
    * already took (`Some` = the candidate's sketch-estimate profile, so
    * it skips its exact job), then concurrent EXACT jobs for the
    * survivors in [[MaxCandidates]]-bounded chunks. With no screen every
    * candidate pays its exact job. Returns (profile, isExact) per
    * candidate in input order, plus the number of exact jobs actually
    * paid — the spec/probe hook for "how many exact shuffles did the
    * screen save".
    */
  private def measure[P](count: Int,
      refuted: Int => Option[P] = (_: Int) => None)(
      exact: Int => P): (Seq[(P, Boolean)], Int) = {
    val refutes = (0 until count).map(refuted)
    val confirmIdx = refutes.indices.filter(refutes(_).isEmpty)
    val exactOf = confirmIdx.zip(confirmIdx.grouped(MaxCandidates)
      .flatMap(runConcurrently(_)(exact)).toSeq).toMap
    (refutes.indices.map(i => refutes(i).fold((exactOf(i), true))((_, false))),
      confirmIdx.size)
  }

  /** Key profiles of one candidate batch: HLL screen-then-confirm when
    * `hll`, one exact job per candidate otherwise.
    */
  private def keyProfiles(df: DataFrame, cands: Seq[Seq[String]],
      hll: Boolean, rsd: Double): Seq[((Long, Long, Long), Boolean)] =
    if (hll) profileTuplesScreened(df, cands, rsd)._1
    else measure(cands.size)(i => tupleProfile(df, cands(i)))._1

  /** HLL screen-then-exact-confirm profile (object doc: APPROX SCREEN).
    * The screen runs as concurrent per-candidate approx jobs — the same
    * jobs-beat-batched result as the exact path (measured:
    * the one-scan 30-sketch aggregate at ~9 s vs ~2 s for 30 narrow
    * concurrent sketch jobs at sf0.1: 30 interpreted HLL updates per row
    * in one stage lose to 30 pruned codegen scans that overlap). Either
    * shape shuffles only fixed-size sketches; the exact confirms are
    * where distinct tuples actually cross the wire, and the screen's job
    * is to pay that for near-keys only. A candidate skips its exact job
    * only when the verdict is already decided: a null row disqualifies
    * the key exactly, and an HLL reading 5σ below n cannot belong to a
    * unique tuple.
    */
  private[graft] def profileTuplesScreened(df: DataFrame,
      candidates: Seq[Seq[String]],
      rsd: Double): (Seq[((Long, Long, Long), Boolean)], Int) = {
    requireRsd(rsd)
    val eps = 5 * rsd
    val sketched = runConcurrently(candidates)(screenTuple(df, _, rsd))
    measure(candidates.size, { i =>
      val s @ (n, approxD, z) = sketched(i)
      Option.when(z > 0L || approxD < ((1.0 - eps) * n).toLong)(s)
    })(i => tupleProfile(df, candidates(i)))
  }

  /** One candidate's screening job: count, HLL tuple-distinct estimate,
    * any-null count — a narrow pruned scan whose shuffle is one sketch,
    * never the distinct tuples. The null-skip convention mirrors the
    * exact multi-argument distinct: a tuple with any null member
    * contributes nothing to the sketch. The sketch input is
    * `xxhash64(tuple)` rather than a struct — measurably cheaper per row
    * (no per-row struct allocation before the HLL's own hash), and the
    * added 64-bit-collision shrinkage is n²/2⁶⁵ — orders of magnitude
    * inside the 5σ screen band at any feasible n.
    */
  private[graft] def screenTupleAgg(df: DataFrame, cs: Seq[String],
                                    rsd: Double): DataFrame = {
    val anyNull = cs.map(c => col(c).isNull).reduce(_ || _)
    df.agg(
      count(lit(1)).as("__n"),
      approx_count_distinct(
        when(!anyNull, xxhash64(cs.map(col): _*)), rsd).as("__a"),
      count(when(anyNull, lit(1))).as("__z"))
  }

  /** One candidate's profile aggregation — exposed so the spec can pin
    * that its plan references ONLY the candidate's columns (the pruning
    * that makes k concurrent jobs read ≈ one full-width scan in total).
    */
  private[graft] def tupleProfileAgg(df: DataFrame,
                                     cs: Seq[String]): DataFrame =
    df.agg(
      count(lit(1)).as("__n"),
      count_distinct(col(cs.head), cs.tail.map(col): _*).as("__d"),
      count(when(cs.map(c => col(c).isNull).reduce(_ || _), lit(1)))
        .as("__z"))

  /** The eager readings of [[screenTupleAgg]] and [[tupleProfileAgg]]:
    * (n, distinct, any-null). */
  private def screenTuple(df: DataFrame, cs: Seq[String],
                          rsd: Double): (Long, Long, Long) =
    longs3(screenTupleAgg(df, cs, rsd).head())

  private def tupleProfile(df: DataFrame, cs: Seq[String]): (Long, Long, Long) =
    longs3(tupleProfileAgg(df, cs).head())

  private def longs3(r: Row): (Long, Long, Long) =
    (r.getLong(0), r.getLong(1), r.getLong(2))

  /** Shannon-entropy profile of the given columns: per column, the
    * non-null count, exact distinct count, entropy in nats over the value
    * distribution, and the normalized form H/ln(n_distinct) ∈ [0,1]
    * (0 = constant column, 1 = uniform) — the information-content
    * complement to [[candidateKeys]]: a near-key has normalized entropy
    * near 1, a near-constant near 0.
    *
    * One SINGLE-COLUMN groupBy per column, driven concurrently: parquet
    * column pruning makes k narrow scans read the same bytes, and the
    * shuffle key stays narrow instead of a (column, value) pair per row.
    * The 3× loss once measured at sf0.1 for an exploded melt came from a
    * melt that cast every value to a string; `Describe.meltStats`
    * stacks typed `(cid, double, string)` rows in one aggregation instead.
    *
    * H = −Σ (c/N)·ln(c/N) = ln N − (Σ c·ln c)/N: the right side is a
    * PLAIN aggregate over the per-value count table (no nested total),
    * and the SQL oracle writes the identical expression shape. Rounding
    * uses HALF_UP at 6 places (what Spark's `round` does) driver-side.
    *
    * Values group on their STRING cast (one grouping shape for every
    * input type), so values whose string forms differ count as distinct
    * even when numerically equal — an integer 1 and a double 1.0 in a
    * mixed/cross-typed column are two values here (the SQL oracle's
    * string cast agrees).
    *
    * Output: (column_name, n, n_distinct, entropy, normalized_entropy),
    * one row per column IN THE GIVEN ORDER — an all-null column reads
    * (0, 0, 0.0, 0.0), it is never omitted.
    */
  def columnEntropy(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    cols.foreach(c => require(df.columns.contains(c),
      s"column '$c' not in frame"))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val counts = runConcurrently(cols) { cn =>
      val cDbl = col("cnt").cast(DoubleType)
      df.select(col(cn).cast(StringType).as("v"))
        .where(col("v").isNotNull)
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n"),
          count(lit(1)).as("d"),
          coalesce(sum(cDbl * log(cDbl)), lit(0.0)).as("clc"))
        .head()
    }
    val rows = cols.zip(counts).map { case (cn, r) =>
      val (n, d, clc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val h = if (n == 0L) 0.0 else r6(math.log(n.toDouble) - clc / n)
      val hn = if (d <= 1L) 0.0
        else r6((math.log(n.toDouble) - clc / n) / math.log(d.toDouble))
      Row(cn, n, d, h, hn)
    }
    localFrame(df.sparkSession, rows, schema("column_name" -> StringType,
      "n" -> LongType, "n_distinct" -> LongType, "entropy" -> DoubleType,
      "normalized_entropy" -> DoubleType))
  }

  /** Exact functional-dependency profile over all ordered pairs of the
    * given columns: `a → b` holds when every non-null `a` maps to exactly
    * one non-null `b`, measured as
    * `count(DISTINCT a) = count(DISTINCT a, b)` over rows where both are
    * non-null (Spark's multi-argument distinct count skips any-null rows;
    * the oracle mirrors it with a filtered struct count). Each
    * UNORDERED pair `{a, b}` measures both directions in one concurrent
    * two-column job ([[fdPairAgg]]: the two gated determinant distincts
    * and the shared pair distinct; see the object doc).
    *
    * `screen = Hll`/`Auto` is the FD analog of the key screen —
    * REFUTE-only:
    * two HLL estimates per pair (determinant distinct, pair distinct)
    * in one sketch-shuffle job; `holds` requires the exact counts EQUAL,
    * so a pair whose pair-distinct estimate reads above
    * (1 + 8·rsd)·determinant-estimate is refuted without an exact job
    * (each estimate is ≈ Gaussian with σ = rsd; 8·rsd > 5·√2·rsd covers
    * both, mis-refuting a true FD w.p. < 10⁻⁶). Non-refuted pairs pay
    * the exact confirm, so every `holds = true` is exact; refuted pairs
    * report the HLL estimates (±rsd) as their counts and say so via
    * `is_exact = false`, the [[compositeCandidateKeys]] convention.
    * Measured
    * crossover (BENCH_SF1 r10, the q142/q144 lattice at 100× data):
    * slightly slower than exact at 1× (sketch-job overhead), 2.1×
    * FASTER at 100× — exact measures on near-unique determinants
    * shuffle ~n distinct tuples per pair, the screen's refuted pairs
    * shuffle two sketches. The bigger the table, the stronger the case.
    *
    * Output: (determinant, dependent, n_determinant, n_pairs, holds,
    * is_exact), one row per ordered pair, pair order = nested column
    * order.
    */
  def functionalDependencies(df: DataFrame, cols: Seq[String],
                             screen: Screen = Screen.Exact,
                             screenRsd: Double = 0.02): DataFrame = {
    val hll = useHll(screen, df)
    require(cols.size >= 2, "need at least two columns")
    cols.foreach(c => require(df.columns.contains(c),
      s"column '$c' not in frame"))
    val pairs = for { a <- cols; b <- cols if a != b } yield (Seq(a), b)
    require(pairs.size <= MaxCandidates,
      s"${cols.size} columns give ${pairs.size} ordered pairs > " +
        s"$MaxCandidates: bound the per-call fan-out — profile in staged " +
        "batches")
    val profiles =
      if (hll) fdTuplesScreened(df, pairs, screenRsd)._1
      else {
        val unordered = cols.distinct.combinations(2)
          .map(p => (p(0), p(1))).toSeq
        val (counts, _) = measure(unordered.size) { i =>
          fdPairProfile(df, unordered(i)._1, unordered(i)._2) }
        val byPair = unordered.zip(counts).flatMap {
          case ((a, b), ((da, db, dp), _)) =>
            Seq((a, b) -> (da, dp), (b, a) -> (db, dp))
        }.toMap
        pairs.map { case (a, b) => (byPair((a.head, b)), true) }
      }
    val rows = pairs.zip(profiles).map {
      case ((a, b), ((da, dp), exact)) =>
        Row(a.head, b, da, dp, da == dp, exact)
    }
    localFrame(df.sparkSession, rows, schema("determinant" -> StringType,
      "dependent" -> StringType, "n_determinant" -> LongType,
      "n_pairs" -> LongType, "holds" -> BooleanType,
      "is_exact" -> BooleanType))
  }

  /** FD profiles of one (tuple, dependent) batch: the refute-only screen
    * when `hll`, one exact [[tupleFdAgg]] job per pair otherwise.
    */
  private def fdProfiles(df: DataFrame, pairs: Seq[(Seq[String], String)],
      hll: Boolean, rsd: Double): Seq[((Long, Long), Boolean)] =
    if (hll) fdTuplesScreened(df, pairs, rsd)._1
    else measure(pairs.size)(i => fdProfile(df, pairs(i)))._1

  /** Both directions of one unordered column pair in one job: the
    * determinant distinct of each direction (`a` over rows with `b`
    * non-null, and `b` over rows with `a` non-null — the gate
    * [[tupleFdAgg]] applies) and the shared pair distinct, so `a → b`
    * reads (`__da`, `__dp`) and `b → a` reads (`__db`, `__dp`).
    */
  private[graft] def fdPairAgg(df: DataFrame, a: String,
                               b: String): DataFrame =
    df.agg(
      count_distinct(when(col(b).isNotNull, col(a))).as("__da"),
      count_distinct(when(col(a).isNotNull, col(b))).as("__db"),
      count_distinct(col(a), col(b)).as("__dp"))

  private def fdPairProfile(df: DataFrame, a: String,
                            b: String): (Long, Long, Long) =
    longs3(fdPairAgg(df, a, b).head())

  /** Refute-only HLL screen for FD measures (scaladoc at
    * [[functionalDependencies]]): each (tuple, dependent) first measures
    * in a sketch-shuffle screen job; clearly-failing pairs keep their
    * estimates, survivors get the exact confirm. Returns (profile,
    * isExact) pairs plus the number of exact jobs paid.
    */
  private[graft] def fdTuplesScreened(df: DataFrame,
      pairs: Seq[(Seq[String], String)],
      rsd: Double): (Seq[((Long, Long), Boolean)], Int) = {
    requireRsd(rsd)
    val eps = 8 * rsd
    val sketched = runConcurrently(pairs)(screenFd(df, _, rsd))
    measure(pairs.size, { i =>
      val (da, dp, _) = sketched(i)
      Option.when(dp > ((1.0 + eps) * da).toLong)((da, dp))
    })(i => fdProfile(df, pairs(i)))
  }

  /** One FD screen job: HLL estimates of the determinant distinct and
    * the (determinant, dependent) distinct, both gated on every member
    * non-null (mirroring the exact multi-argument distinct), both over
    * `xxhash64` tuple inputs (see [[screenTupleAgg]] for why) — one
    * narrow scan whose shuffle is two sketches.
    */
  private[graft] def screenFdAgg(df: DataFrame, xs: Seq[String], c: String,
                                 rsd: Double): DataFrame = {
    val gate = (xs :+ c).map(x => col(x).isNotNull).reduce(_ && _)
    df.agg(
      approx_count_distinct(
        when(gate, xxhash64(xs.map(col): _*)), rsd).as("__da"),
      approx_count_distinct(
        when(gate, xxhash64((xs :+ c).map(col): _*)), rsd).as("__dp"),
      // exact gated row count — free in the same scan; the FD screen
      // ignores it, the g3 screen's refute bound needs an exact n
      count(when(gate, 1)).as("__n"))
  }

  /** The eager reading of [[screenFdAgg]]: (da, dp, n). */
  private def screenFd(df: DataFrame, pair: (Seq[String], String),
                       rsd: Double): (Long, Long, Long) =
    longs3(screenFdAgg(df, pair._1, pair._2, rsd).head())

  /** Composite-determinant functional dependencies — the TANE general
    * case (Huhtala et al. 1999): for every dependent `c`, walk the
    * determinant lattice `X ⊆ determinants \ {c}` by arity, measuring
    * `X → c` as tuple-distinct equality
    * (`count(DISTINCT X) = count(DISTINCT X, c)` over rows where every
    * member of `X` AND `c` are non-null — the [[functionalDependencies]]
    * convention lifted to tuples), and PRUNE supersets of determinants
    * that already hold: if `a → c` holds then `(a,b) → c` is implied
    * (the actual TANE rule — measuring it spends a shuffle to learn
    * nothing). The walk is [[latticeWalk]] with one target per
    * dependent: concurrent per-tuple jobs in [[MaxCandidates]] chunks,
    * each level generated Apriori-style from the previous level's
    * NON-holding survivors per dependent ([[aprioriNextLevel]]) —
    * identical output to enumerate-then-filter with driver work bounded
    * by survivors, not C(n, a). `screen = Hll`/`Auto` applies the
    * refute-only HLL screen (scaladoc at [[functionalDependencies]]) at
    * every level — every `holds = true` stays exact, so the prune set is
    * unchanged by screening up to the documented 10⁻⁶ mis-refute odds.
    *
    * Output: (determinant comma-joined, arity, dependent, n_determinant,
    * n_pairs, holds, is_exact) for every MEASURED pair in lattice order
    * — implied supersets are absent by construction.
    */
  def compositeFunctionalDependencies(df: DataFrame,
                                      determinants: Seq[String],
                                      dependents: Seq[String],
                                      maxArity: Int = 2,
                                      screen: Screen = Screen.Exact,
                                      screenRsd: Double = 0.02): DataFrame = {
    requireFdLattice(df, determinants, dependents, maxArity)
    val hll = useHll(screen, df)
    val walked = latticeWalk(determinants, dependents, maxArity)(_ != _) {
      fdProfiles(df, _, hll, screenRsd)
    } { case ((da, dp), _) => da == dp }
    val rows = walked.map { case ((xs, c), ((da, dp), exact)) =>
      Row(xs.mkString(","), xs.size, c, da, dp, da == dp, exact)
    }
    localFrame(df.sparkSession, rows, schema("determinant" -> StringType,
      "arity" -> IntegerType, "dependent" -> StringType,
      "n_determinant" -> LongType, "n_pairs" -> LongType,
      "holds" -> BooleanType, "is_exact" -> BooleanType))
  }

  /** Caller-input checks both composite FD walks share. */
  private def requireFdLattice(df: DataFrame, determinants: Seq[String],
                               dependents: Seq[String], maxArity: Int): Unit = {
    require(maxArity >= 1, s"need maxArity >= 1, got $maxArity")
    require(determinants.nonEmpty, "need at least one determinant column")
    require(dependents.nonEmpty, "need at least one dependent column")
    require(determinants.distinct.size == determinants.size,
      "duplicate determinant column")
    require(dependents.distinct.size == dependents.size,
      "duplicate dependent column")
    (determinants ++ dependents).foreach(c =>
      require(df.columns.contains(c), s"column '$c' not in frame"))
  }

  /** One (tuple → dependent) FD measure: the determinant distinct is
    * counted only over rows where the dependent is ALSO non-null (each
    * argument wrapped in `when(c IS NOT NULL, x)` — any-null args drop
    * the row from the multi-argument distinct, which is exactly the
    * filter), so `da = dp` iff every complete (X, c) row maps X to one c.
    */
  private[graft] def tupleFdAgg(df: DataFrame, xs: Seq[String],
                                c: String): DataFrame = {
    val gate = col(c).isNotNull
    val gated: Seq[Column] = xs.map(x => when(gate, col(x)))
    df.agg(
      count_distinct(gated.head, gated.tail: _*).as("__da"),
      count_distinct(col(xs.head),
        (xs.tail.map(col) :+ col(c)): _*).as("__dp"))
  }

  private def fdProfile(df: DataFrame,
                        pair: (Seq[String], String)): (Long, Long) = {
    val r = tupleFdAgg(df, pair._1, pair._2).head()
    (r.getLong(0), r.getLong(1))
  }

  // ---------------------------------------------- approximate dependencies

  /** APPROXIMATE functional dependencies — the TANE g₃ error measure
    * (Huhtala et al. 1999 §2.3, after Kivinen & Mannila 1995): g₃(X → c)
    * is the fraction of rows that must be REMOVED for `X → c` to hold
    * exactly,
    *
    *   g₃ = (n − Σ_x max_y count(x, y)) / n
    *
    * over rows where every member of X AND c are non-null (the
    * [[functionalDependencies]] null convention), with n the count of
    * such rows and g₃ = 0 on an empty restriction. An FD "approximately
    * holds" when g₃ ≤ maxError — the dirty-data form of FD profiling:
    * one mistyped row refutes an exact FD outright but reads g₃ = 1/n
    * here, which is what a profiler over real data wants to know. The
    * reported g₃ is the RAW double quotient of two exact Long integers
    * (both < 2⁵³ far past bench scale), so it is bit-identical across
    * engines with no rounding convention needed.
    *
    * Each measure is two map-side-combined aggregations — row counts per
    * (X, c) group, then (sum, max) per X group, then one global row —
    * so the first shuffle carries one row per DISTINCT (X, c) group and
    * the second strictly fewer; raw rows never cross the wire. Measures
    * run as concurrent per-candidate jobs pruned to their columns (the
    * object doc's measured-faster geometry).
    *
    * The lattice walk (`maxArity > 1`) is TANE's with the prune
    * justified by MINIMALITY (the [[approximateKeys]] framing, NOT
    * implication): supersets of a holding set are skipped as non-minimal
    * — the object of dependency discovery is the minimal frontier. On a
    * FIXED row set g₃ is genuinely monotone (adding determinant columns
    * refines the partition, each refined group keeps at least as large
    * a max), but the per-candidate null gate means a superset measures a
    * SMALLER row set, on which the fraction can exceed ε even though the
    * subset's didn't — rows (1, null, c₁)×3 + (1, 5, c₂) + (1, 5, c₃)
    * read g₃(a → c) = 2/5 yet g₃((a,b) → c) = 1/2. A pruned row is
    * therefore "not minimal", never "implied to hold". Determinants that
    * are null-free restore the strict monotone reading. Non-holding
    * survivors generate the next level Apriori-style per dependent
    * ([[aprioriNextLevel]]).
    *
    * `screen = Hll`/`Auto` adapts the refute-only HLL screen: a
    * determinant value with k distinct dependents keeps at most
    * count(x) − (k − 1) rows, so Σ max ≤ n − (dp − da) and
    * g₃ ≥ (dp − da)/n. A candidate whose sketch estimates read
    * (dp − da) > maxError·n + 8·rsd·dp is refuted without the exact
    * two-level aggregation (n is EXACT — a plain count in the screen
    * job; the 8·rsd·dp band covers the two estimates' joint deviation at
    * the [[functionalDependencies]] screen's < 10⁻⁶ odds, since
    * da ≤ dp). Refuted rows report the lower-bound g₃ = (dp − da)/n
    * from the estimates and `is_exact = false`; every `holds = true` is
    * exact, so the prune set is unchanged by screening.
    *
    * Output: (determinant comma-joined, arity, dependent, n_rows,
    * n_kept, g3, holds, is_exact) for every MEASURED candidate in
    * lattice order — supersets of holding sets are absent by
    * construction (skipped for minimality, see above).
    */
  def approximateFunctionalDependencies(df: DataFrame,
                                        determinants: Seq[String],
                                        dependents: Seq[String],
                                        maxError: Double = 0.05,
                                        maxArity: Int = 1,
                                        screen: Screen = Screen.Exact,
                                        screenRsd: Double = 0.02): DataFrame = {
    requireFdLattice(df, determinants, dependents, maxArity)
    require(maxError >= 0 && maxError < 1,
      s"need 0 <= maxError < 1, got $maxError")
    val hll = useHll(screen, df)
    def holds(p: ((Long, Long), Boolean)): Boolean = p match {
      case ((n, kept), exact) => exact && (n - kept).toDouble <= maxError * n
    }
    val walked = latticeWalk(determinants, dependents, maxArity)(_ != _) {
      chunk =>
        if (hll) g3Screened(df, chunk, maxError, screenRsd)._1
        else measure(chunk.size)(i => g3Profile(df, chunk(i)))._1
    }(holds)
    val rows = walked.map { case ((xs, c), p @ ((n, kept), exact)) =>
      val g3 = if (n == 0L) 0.0 else (n - kept).toDouble / n
      Row(xs.mkString(","), xs.size, c, n, kept, g3, holds(p), exact)
    }
    localFrame(df.sparkSession, rows, schema("determinant" -> StringType,
      "arity" -> IntegerType, "dependent" -> StringType,
      "n_rows" -> LongType, "n_kept" -> LongType, "g3" -> DoubleType,
      "holds" -> BooleanType, "is_exact" -> BooleanType))
  }

  /** One g₃ measure: (n, Σ_x max_y count) over the gated rows — two
    * map-side-combined aggregation levels, first shuffle sized by the
    * (X, c) group count, second by the X group count.
    */
  private[graft] def g3Agg(df: DataFrame, xs: Seq[String],
                           c: String): DataFrame = {
    val gate = (xs :+ c).map(x => col(x).isNotNull).reduce(_ && _)
    df.where(gate)
      .groupBy((xs :+ c).map(col): _*).count()
      .groupBy(xs.map(col): _*)
      .agg(sum("count").as("__nx"), max("count").as("__mx"))
      .agg(coalesce(sum("__nx"), lit(0L)).as("__n"),
        coalesce(sum("__mx"), lit(0L)).as("__kept"))
  }

  /** Refute-only screen for g₃ measures (scaladoc at
    * [[approximateFunctionalDependencies]]): one sketch job per candidate
    * reads (da, dp, n); candidates whose estimated violation lower bound
    * (dp − da) clears maxError·n + 8·rsd·dp are refuted with estimate
    * rows, survivors pay the exact [[g3Agg]]. Returns ((n, kept),
    * isExact) per candidate plus the exact-job count.
    */
  private[graft] def g3Screened(df: DataFrame,
      pairs: Seq[(Seq[String], String)],
      maxError: Double,
      rsd: Double): (Seq[((Long, Long), Boolean)], Int) = {
    requireRsd(rsd)
    val sketched = runConcurrently(pairs)(screenFd(df, _, rsd))
    measure(pairs.size, { i =>
      val (da, dp, n) = sketched(i)
      Option.when((dp - da).toDouble > maxError * n + 8 * rsd * dp)(
        (n, n - math.min(n, math.max(0L, dp - da))))
    })(i => g3Profile(df, pairs(i)))
  }

  /** One exact g₃ profile: (n, kept) via [[g3Agg]]. */
  private def g3Profile(df: DataFrame,
                        pair: (Seq[String], String)): (Long, Long) = {
    val r = g3Agg(df, pair._1, pair._2).head()
    (r.getLong(0), r.getLong(1))
  }

  /** CONDITIONAL functional dependencies — the next rung of the
    * profiling matrix after keys/FDs/INDs/ODs (Bohannon et al. 2007,
    * "Conditional Functional Dependencies for Data Cleaning"; discovery
    * as in Fan et al. 2011 / CFDMiner): an FD `x → c` that holds not
    * globally but on the subset selected by a CONSTANT pattern over a
    * pattern column — `zip → city` only where `country = 'US'`. For
    * every candidate triple (pattern column p, determinant x, dependent
    * c) and every constant value v of p, the per-pattern TANE g₃
    * ([[approximateFunctionalDependencies]]'s measure restricted to
    * `p = v`):
    *
    *   g₃(x → c | p = v) = (n_v − Σ_x max_y count(x, y)) / n_v
    *
    * over rows where p, x AND c are all non-null (a null is not a
    * constant, and the FD family's null gate applies to x/c), n_v the
    * count of such rows. Patterns below `minSupport` rows are dropped
    * (the standard support gate — a 1-row pattern trivially "holds").
    *
    * Honest scope (the profiling-matrix convention): SINGLE-column
    * constant patterns, arity-1 determinants, no wildcard tableaux and
    * no lattice — so no minimality pruning arises; every (p, v, x, c)
    * cell of every WELL-FORMED candidate is measured and reported. A
    * candidate triple sharing a column across roles (x = p, c = x, or
    * c = p) is degenerate — conditioning on the determinant, or x → x —
    * and is SKIPPED, not errored, so overlapping role lists sweep their
    * non-degenerate combinations; only an all-degenerate call is loud. Per-pattern g₃ is NOT comparable to
    * the global measure by inequality in either direction: a globally
    * failing FD can hold on every high-support pattern (the CFD signal)
    * and a globally ε-holding FD can fail badly inside one small
    * pattern. g₃ is the RAW double quotient of two exact Longs (the
    * family's bit-exact convention); `holds` = violations ≤
    * maxError · n_v, exact (no screen arm — the pattern grouping already
    * collapses the first shuffle to distinct (p, x, c) triples, the
    * shape the HLL screen exists to avoid for wide determinants).
    *
    * Scale shape — LAZY, unlike the lattice walks: each candidate is
    * two map-side-combined aggregation levels emitting ALL its patterns
    * at once — counts per (p, x, c) group (first shuffle ≤ distinct
    * triples), (sum, max) per (p, x), then (support, kept) per pattern
    * — and candidates union into one plan, each branch pruned to its
    * three columns at the scan. Output cardinality is Σ per-candidate
    * qualifying patterns, data-dependent but pattern-bounded; nothing
    * row-scale moves after each candidate's first shuffle and no
    * driver loop runs.
    *
    * Output: (pattern_column, pattern_value — string cast —,
    * determinant, dependent, support, n_kept, g3, holds), ordered by
    * (pattern_column, determinant, dependent, pattern_value).
    */
  def conditionalFunctionalDependencies(df: DataFrame,
                                        patternCols: Seq[String],
                                        determinants: Seq[String],
                                        dependents: Seq[String],
                                        maxError: Double = 0.05,
                                        minSupport: Long = 1L): DataFrame = {
    require(maxError >= 0 && maxError < 1,
      s"need 0 <= maxError < 1, got $maxError")
    require(minSupport >= 1, s"need minSupport >= 1, got $minSupport")
    require(patternCols.nonEmpty, "need at least one pattern column")
    require(determinants.nonEmpty, "need at least one determinant column")
    require(dependents.nonEmpty, "need at least one dependent column")
    Seq(patternCols, determinants, dependents).foreach(cs =>
      require(cs.distinct.size == cs.size, "duplicate column in a role"))
    (patternCols ++ determinants ++ dependents).distinct.foreach(c =>
      require(df.columns.contains(c), s"column '$c' not in frame"))
    val cands = for {
      p <- patternCols
      x <- determinants if x != p
      c <- dependents if c != x && c != p
    } yield (p, x, c)
    require(cands.nonEmpty,
      "no candidate (pattern, determinant, dependent) triple has three " +
        "distinct columns")
    cands.map { case (p, x, c) =>
      val gate = Seq(p, x, c).map(col(_).isNotNull).reduce(_ && _)
      df.where(gate)
        .groupBy(col(p).as("__p"), col(x).as("__x"), col(c).as("__c"))
        .count()
        .groupBy(col("__p"), col("__x"))
        .agg(sum("count").as("__nx"), max("count").as("__mx"))
        .groupBy(col("__p"))
        .agg(sum(col("__nx")).as("__n"), sum(col("__mx")).as("__kept"))
        .where(col("__n") >= minSupport)
        .select(
          lit(p).as("pattern_column"),
          col("__p").cast(StringType).as("pattern_value"),
          lit(x).as("determinant"),
          lit(c).as("dependent"),
          col("__n").as("support"),
          col("__kept").as("n_kept"),
          ((col("__n") - col("__kept")).cast(DoubleType) / col("__n"))
            .as("g3"),
          ((col("__n") - col("__kept")).cast(DoubleType) <=
            lit(maxError) * col("__n")).as("holds"))
    }.reduce(_ unionAll _)
      .orderBy(col("pattern_column"), col("determinant"),
        col("dependent"), col("pattern_value"))
  }

  /** Ceiling on [[tableauConditionalFds]] pattern arity: the tableau
    * expands each distinct (pattern, x, c) tuple to its 2^arity masked
    * variants, so the bound caps the expansion at 8× — and wider
    * pattern sets explode the OUTPUT (every value combo of every
    * subset), which stops being a profile and starts being a dump.
    */
  val MaxPatternArity: Int = 3

  /** WILDCARD-TABLEAU conditional functional dependencies — the full
    * Bohannon et al. 2007 pattern form
    * ([[conditionalFunctionalDependencies]] is the constant-single-
    * column v1): for the candidate FD `determinant → dependent`, every
    * pattern TUPLE over `patternCols` whose components are either a
    * constant drawn from the data or the wildcard `_` — i.e., for every
    * subset S of the pattern columns (the constant positions; the
    * grouping-set-style expansion CFDMiner discovery uses) and every
    * distinct value combination on S — the per-pattern TANE g₃ of the
    * FD restricted to the matching rows. The empty subset (all
    * wildcards) is the plain global FD over the gated rows and anchors
    * the tableau.
    *
    * Conventions (the constant form's, stated honestly):
    *   - rows with a NULL in ANY of pattern/determinant/dependent are
    *     excluded — a null is not a constant, it cannot be matched, and
    *     the FD family's null gate covers x/c; consequently a NULL in an
    *     output pattern column unambiguously means WILDCARD.
    *   - patterns below `minSupport` matching rows are dropped.
    *   - arity is bounded by [[MaxPatternArity]] (expansion + output
    *     cardinality), determinants are arity-1, and there is no
    *     minimality/implication pruning across the tableau — every
    *     qualifying cell is reported (a holding `(v, _)` row does imply
    *     its `(v, w)` specializations hold-ish, but their g₃ values
    *     still differ and profiling wants them).
    *   - this call takes ONE explicit (determinant, dependent)
    *     candidate, so a degenerate role overlap (determinant =
    *     dependent, or either inside the pattern set — conditioning on
    *     the determinant) ERRORS loudly, unlike the constant SWEEP
    *     which skips degenerate combinations of its role lists (there
    *     is no list here to sweep past).
    *
    * Scale shape — LAZY, one row-scale shuffle: rows collapse map-side
    * to distinct (pattern..., x, c) tuples FIRST; the 2^arity mask
    * expansion runs over that bounded frame, then three more
    * cell-scale aggregation levels ((mask, pattern, x, c) re-merge,
    * (sum, max) per (mask, pattern, x), (support, kept) per pattern).
    * No driver loop, nothing row-scale after the first exchange.
    *
    * Output: (determinant, dependent, n_const, one STRING column per
    * pattern attribute — NULL = wildcard —, support, n_kept, g3,
    * holds), ordered by (n_const, pattern values NULLS FIRST); g₃ and
    * `holds` use the family's exact-Long arithmetic.
    */
  def tableauConditionalFds(df: DataFrame, patternCols: Seq[String],
                            determinant: String, dependent: String,
                            maxError: Double = 0.05,
                            minSupport: Long = 1L): DataFrame = {
    require(patternCols.nonEmpty, "need at least one pattern column")
    require(patternCols.size <= MaxPatternArity,
      s"${patternCols.size} pattern columns > $MaxPatternArity: the " +
        "2^arity tableau expansion is bounded — profile wider pattern " +
        "sets as separate calls")
    require(patternCols.distinct.size == patternCols.size,
      "duplicate pattern column")
    require(determinant != dependent,
      s"determinant and dependent are both '$determinant'")
    Seq(determinant, dependent).foreach(c => require(
      !patternCols.contains(c),
      s"'$c' is both a pattern column and a determinant/dependent — " +
        "conditioning on the FD's own columns is degenerate"))
    (patternCols ++ Seq(determinant, dependent)).foreach(c =>
      require(df.columns.contains(c), s"column '$c' not in frame"))
    require(maxError >= 0 && maxError < 1,
      s"need 0 <= maxError < 1, got $maxError")
    require(minSupport >= 1, s"need minSupport >= 1, got $minSupport")
    val reserved = Seq("determinant", "dependent", "n_const", "support",
      "n_kept", "g3", "holds")
    patternCols.foreach(p => require(!reserved.contains(p),
      s"pattern column '$p' collides with an output column"))
    val arity = patternCols.size
    val gate = (patternCols ++ Seq(determinant, dependent))
      .map(col(_).isNotNull).reduce(_ && _)
    val pIn = patternCols.indices.map(i => s"__pi$i")
    val pN = patternCols.indices.map(i => s"__pv$i")
    // the one row-scale shuffle: distinct full tuples with counts
    val t = df.where(gate)
      .groupBy(patternCols.zipWithIndex.map { case (p, i) =>
        col(p).as(pIn(i)) } ++
        Seq(col(determinant).as("__x"), col(dependent).as("__c")): _*)
      .agg(count(lit(1)).as("__cnt"))
    // mask expansion over the bounded tuple frame: bit i set = pattern
    // position i keeps its constant; clear = wildcard (the internal
    // NULL sentinel — safe because gated rows have no null patterns)
    val variants = (0 until (1 << arity)).map { m =>
      struct(lit(Integer.bitCount(m)).as("nc") +:
        patternCols.zipWithIndex.map { case (p, i) =>
          val dt = df.schema(df.schema.fieldIndex(p)).dataType
          (if (((m >> i) & 1) == 1) col(pIn(i))
           else lit(null).cast(dt)).as(s"v$i")
        }: _*)
    }
    val expanded = t.select(explode(array(variants: _*)).as("__e"),
        col("__x"), col("__c"), col("__cnt"))
      .select(col("__e")("nc").as("__nc") +:
        (patternCols.indices.map(i => col("__e")(s"v$i").as(pN(i))) ++
          Seq(col("__x"), col("__c"), col("__cnt"))): _*)
    val keyPat = col("__nc") +: pN.map(col)
    val l3 = expanded
      .groupBy(keyPat ++ Seq(col("__x"), col("__c")): _*)
      .agg(sum("__cnt").as("__cnt2"))
      .groupBy(keyPat :+ col("__x"): _*)
      .agg(sum("__cnt2").as("__nx"), max("__cnt2").as("__mx"))
      .groupBy(keyPat: _*)
      .agg(sum(col("__nx")).as("__n"), sum(col("__mx")).as("__kept"))
      .where(col("__n") >= minSupport)
    l3.select(
      Seq(lit(determinant).as("determinant"),
        lit(dependent).as("dependent"), col("__nc").as("n_const")) ++
        patternCols.zipWithIndex.map { case (p, i) =>
          col(pN(i)).cast(StringType).as(p) } ++
        Seq(col("__n").as("support"), col("__kept").as("n_kept"),
          ((col("__n") - col("__kept")).cast(DoubleType) / col("__n"))
            .as("g3"),
          ((col("__n") - col("__kept")).cast(DoubleType) <=
            lit(maxError) * col("__n")).as("holds")): _*)
      .orderBy(col("n_const") +:
        patternCols.map(p => col(p).asc_nulls_first): _*)
  }

  /** APPROXIMATE candidate keys — the g₃ uniqueness error (the UCC form
    * of Kivinen & Mannila 1995's measure, as in HyUCC / Papenbrock &
    * Naumann 2017): the fraction of rows that must be REMOVED for the
    * tuple to become a STRICT key under this object's key convention
    * (unique AND non-null) —
    *
    *   error(X) = (n − d(X)) / n
    *
    * with d the count of distinct COMPLETE (no-null-member) tuples: the
    * kept set is one row per distinct complete tuple, everything else
    * (any-null rows, surplus duplicates) goes. error = 0 on an empty
    * frame. One mistyped duplicate refutes [[candidateKeys]] outright
    * but reads 1/n here — the dirty-data key profile, the exact sibling
    * of [[approximateFunctionalDependencies]]. The reported error is the
    * RAW double quotient of two exact Longs (bit-identical across
    * engines, the family convention).
    *
    * Measures reuse the [[compositeCandidateKeys]] machinery unchanged:
    * concurrent per-candidate narrow jobs ([[tupleProfileAgg]] — pruned
    * scan, map-side partial distinct), [[MaxCandidates]]-chunked levels,
    * and under `screen = Hll`/`Auto` the [[screenTupleAgg]] sketch jobs
    * with the refute bound shifted from exact-key to ε-key: a candidate
    * is refuted sketch-only when even the OPTIMISTIC distinct reading
    * leaves the error over budget, n − (1 + 8·rsd)·d_est > ε·n (n and
    * the any-null count are exact in the same screen job; 8·rsd is the
    * [[functionalDependencies]] screen's < 10⁻⁶ band). Refuted rows
    * report the estimate with `is_exact = false`; every `holds = true`
    * is exact.
    *
    * The lattice walk prunes supersets of HOLDING tuples for
    * MINIMALITY, not implication: unlike g₃ for FDs, key error is NOT
    * monotone under column addition when the added column carries nulls
    * (ids ∪ {all-null c} reads error 1 where ids read 0 — the strict
    * convention removes any-null rows). A superset of an ε-key is never
    * a MINIMAL ε-key, which is the object of key discovery, so the walk
    * reports the minimal frontier exactly; non-holding survivors
    * generate the next level Apriori-style ([[aprioriNextLevel]]).
    *
    * Output: (columns comma-joined, arity, n_rows, n_distinct,
    * n_any_null, uniqueness_error, holds, is_exact) for every MEASURED
    * candidate in lattice order.
    */
  def approximateKeys(df: DataFrame, cols: Seq[String],
                      maxError: Double = 0.05,
                      maxArity: Int = 1,
                      screen: Screen = Screen.Exact,
                      screenRsd: Double = 0.02): DataFrame = {
    require(maxArity >= 1, s"need maxArity >= 1, got $maxArity")
    require(maxError >= 0 && maxError < 1,
      s"need 0 <= maxError < 1, got $maxError")
    require(cols.nonEmpty, "need at least one column")
    require(cols.distinct.size == cols.size, "duplicate column")
    val hll = useHll(screen, df)
    def holds(p: ((Long, Long, Long), Boolean)): Boolean = p match {
      case ((n, d, _), exact) => exact && (n - d).toDouble <= maxError * n
    }
    val walked = latticeWalk(cols, Seq(()), maxArity)((_, _) => true) { chunk =>
      val cands = chunk.map(_._1)
      validateCandidates(df, cands)
      if (hll) keyErrorScreened(df, cands, maxError, screenRsd)._1
      else measure(cands.size)(i => tupleProfile(df, cands(i)))._1
    }(holds)
    val rows = walked.map { case ((cs, _), p @ ((n, d, z), exact)) =>
      val err = if (n == 0L) 0.0 else (n - d).toDouble / n
      Row(cs.mkString(","), cs.size, n, d, z, err, holds(p), exact)
    }
    localFrame(df.sparkSession, rows, schema("columns" -> StringType,
      "arity" -> IntegerType, "n_rows" -> LongType, "n_distinct" -> LongType,
      "n_any_null" -> LongType, "uniqueness_error" -> DoubleType,
      "holds" -> BooleanType, "is_exact" -> BooleanType))
  }

  /** Refute-only screen for ε-key measures (scaladoc at
    * [[approximateKeys]]): one [[screenTupleAgg]] sketch job per
    * candidate reads (n, d_est, z) with n and z EXACT; candidates whose
    * optimistic error bound n − (1 + 8·rsd)·d_est still exceeds
    * maxError·n are refuted with estimate rows, survivors pay the exact
    * [[tupleProfileAgg]]. Returns ((n, d, z), isExact) per candidate
    * plus the exact-job count.
    */
  private[graft] def keyErrorScreened(df: DataFrame,
      candidates: Seq[Seq[String]],
      maxError: Double,
      rsd: Double): (Seq[((Long, Long, Long), Boolean)], Int) = {
    requireRsd(rsd)
    val sketched = runConcurrently(candidates)(screenTuple(df, _, rsd))
    measure(candidates.size, { i =>
      val (n, dEst, z) = sketched(i)
      Option.when(n - (1.0 + 8 * rsd) * dEst > maxError * n)(
        (n, math.min(n, dEst), z))
    })(i => tupleProfile(df, candidates(i)))
  }

  // ------------------------------------------------- inclusion dependencies

  /** Inclusion-dependency (foreign-key candidate) discovery — the third
    * member of the profiling family (keys → FDs → INDs): for every
    * (a ∈ leftCols) × (b ∈ rightCols) pair, does every non-null value of
    * `left.a` appear in `right.b`? NULL semantics follow SQL foreign
    * keys: left NULLs violate nothing (ignored), right NULLs match
    * nothing. Values compare on their STRING cast — one comparison shape
    * for every input type, the [[columnEntropy]] convention (an integer
    * 1 and a double 1.0 are different values; both engines' casts agree
    * on integer/string columns, which is what FK discovery runs on).
    *
    * EXACT path: ONE plan confirms every pair of the call
    * ([[indLevelPlan]], MIND's value index): one aggregation by value
    * over every named column's non-null values (map-side first, so the
    * shuffle carries distinct values only) gives each value the set of
    * columns holding it; joined to the broadcast pair table, each
    * pair's n_left_distinct, n_right_distinct and matched count are
    * counts over those sets, so n_missing = n_left − matched.
    * `holds` ⟺ n_missing == 0. Never a cartesian shape — the one join
    * is an equi-join on the column.
    *
    * PARTIAL INDs (`minCoverage = θ < 1` — De Marchi et al.'s
    * approximate-IND relaxation, what FK discovery over DIRTY data
    * needs): `holds` becomes containment coverage
    * |A ∩ B| / |A| ≥ θ over distinct values, i.e.
    * `n_missing ≤ (1 − θ)·n_left_distinct`, measured by the SAME join —
    * one orphaned key value no longer hides a 99.99%-true FK. The
    * always-present `coverage` column is that quotient (exact Longs, one
    * double division — bit-identical across engines; 1.0 for an empty
    * left set), and the screen's refute bound relaxes to
    * |A ∪ B| > (1 + 8·rsd)·(|B| + (1 − θ)·|A|), still refute-only.
    *
    * SCREENED path (`screen = Hll`, or `Auto` past [[AutoScreenBytes]]
    * on the larger frame) — REFUTE-only, the [[functionalDependencies]]
    * pattern lifted to set containment: A ⊆ B ⟺ |A ∪ B| = |B|, and HLL
    * sketches union losslessly. ONE sketch-only aggregation per side
    * (fixed-size sketches cross the wire, never values — at 100 TB this
    * is the whole point) yields per-column sketches; each pair's
    * |A ∪ B| estimate comes from a driver-side sketch merge, and a pair
    * whose union estimate exceeds (1 + 8·rsd)·(|B| estimate) is REFUTED
    * without ever paying a distinct shuffle (both estimates are
    * ≈ Gaussian with σ = rsd — the FD screen's 8·rsd > 5·√2·rsd
    * argument, mis-refute odds < 10⁻⁶). Survivors pay the exact confirm
    * join, so every `holds = true` is exact; refuted rows carry sketch
    * estimates (n_missing = max(0, est|A∪B| − est|B|)) and say so via
    * `is_exact = false`.
    *
    * Output: (left_column, right_column, n_left_distinct,
    * n_right_distinct, n_missing, coverage, holds, is_exact), one row
    * per pair in the given order (leftCols major, rightCols minor).
    */
  def inclusionDependencies(left: DataFrame, leftCols: Seq[String],
                            right: DataFrame, rightCols: Seq[String],
                            screen: Screen = Screen.Exact,
                            screenRsd: Double = 0.02,
                            minCoverage: Double = 1.0): DataFrame = {
    require(leftCols.nonEmpty && rightCols.nonEmpty,
      "need at least one column on each side")
    require(minCoverage > 0 && minCoverage <= 1.0,
      s"need 0 < minCoverage <= 1, got $minCoverage")
    leftCols.foreach(c => require(left.columns.contains(c),
      s"column '$c' not in left frame"))
    rightCols.foreach(c => require(right.columns.contains(c),
      s"column '$c' not in right frame"))
    val pairs = for (a <- leftCols; b <- rightCols) yield (Seq(a), Seq(b))
    require(pairs.size <= MaxCandidates,
      s"${pairs.size} pairs > $MaxCandidates: bound the per-call fan-out")
    val profiles = indPairProfiles(left, right, pairs, screen, screenRsd,
      minCoverage)
    val rows = pairs.zip(profiles).map {
      case ((a, b), ((na, nb, miss), exact)) =>
        Row(a.head, b.head, na, nb, miss, indCoverage(na, miss),
          indHolds(exact, miss, na, minCoverage), exact)
    }
    localFrame(left.sparkSession, rows, schema("left_column" -> StringType,
      "right_column" -> StringType, "n_left_distinct" -> LongType,
      "n_right_distinct" -> LongType, "n_missing" -> LongType,
      "coverage" -> DoubleType, "holds" -> BooleanType,
      "is_exact" -> BooleanType))
  }

  /** One (left, right) frame pair's IND measures: the sweep's level
    * measurement ([[measureIndLevel]]) over the two-table list.
    */
  private def indPairProfiles(left: DataFrame, right: DataFrame,
      pairs: Seq[(Seq[String], Seq[String])], screen: Screen, rsd: Double,
      theta: Double): Seq[((Long, Long, Long), Boolean)] = {
    requireRsd(rsd)
    measureIndLevel(IndexedSeq(left, right),
      pairs.map { case (a, b) => (0, a, 1, b) }, useHll(screen, left, right),
      rsd, theta)
  }

  /** PARTIAL-IND verdict: the left distinct set is contained up to the
    * coverage threshold — `miss ≤ (1 − θ)·n_left` on EXACT counts only
    * (the screen is refute-only, so a screened row can never read
    * `holds`). θ = 1 is the classic IND: `miss = 0`.
    */
  private def indHolds(exact: Boolean, miss: Long, nLeft: Long,
                       theta: Double): Boolean =
    exact && miss.toDouble <= (1.0 - theta) * nLeft

  /** Containment coverage |A ∩ B| / |A| over distinct left values — the
    * RAW double quotient of two exact Longs (bit-identical across
    * engines, the q148 convention); an empty left set is fully covered.
    * On screened rows the inputs are sketch estimates and the row says so
    * via `is_exact = false`.
    */
  private def indCoverage(nLeft: Long, miss: Long): Double =
    if (nLeft == 0L) 1.0 else (nLeft - miss).toDouble / nLeft

  /** COMPOSITE inclusion dependencies — [[inclusionDependencies]] lifted
    * to column TUPLES, completing the profiling family (keys → FDs →
    * INDs) at composite arity: real foreign keys are often multi-column
    * (`(ps_partkey, ps_suppkey)`-style), and a per-column IND sweep
    * cannot see them. Each pair is (left tuple, right tuple) of EQUAL
    * arity; containment is positional — left tuple value (a₁,…,aₖ)
    * must appear as a right tuple value (b₁,…,bₖ).
    *
    * Semantics are the unary operator's, lifted: a left tuple with ANY
    * null member violates nothing (SQL MATCH SIMPLE composite-FK rule),
    * a right tuple with any null member matches nothing, and components
    * compare on their STRING cast. The EXACT path needs no tuple
    * encoding at all — every pair of the call, whatever its arity, is
    * confirmed by the one [[indLevelPlan]], whose value index groups on
    * all k string components, so there is no collision question to
    * answer.
    *
    * The SCREENED path sketches each side's tuples as
    * `xxhash64(string-cast components)` ([[indSketchInput]]) — the
    * encoding need not be
    * injective, because the screen is REFUTE-only and containment of
    * tuples implies containment of ANY deterministic encoding of them:
    * if A ⊆ B then enc(A) ⊆ enc(B), so |enc(A) ∪ enc(B)| = |enc(B)|
    * exactly and a holding pair can never be refuted by encoding
    * collisions (a collision can only make a non-holding pair LOOK
    * holding, which just means it pays the exact confirm that decides
    * it). Survivor confirms are exact tuple joins as above, so every
    * `holds = true` is exact; refuted rows carry sketch estimates and
    * `is_exact = false` — the family-wide convention.
    *
    * `minCoverage` relaxes `holds` to partial containment exactly as in
    * [[inclusionDependencies]] (coverage over distinct TUPLES).
    *
    * Output: (left_columns comma-joined, right_columns comma-joined,
    * arity, n_left_distinct, n_right_distinct, n_missing, coverage,
    * holds, is_exact), one row per pair in the given order.
    */
  def compositeInclusionDependencies(left: DataFrame, right: DataFrame,
      pairs: Seq[(Seq[String], Seq[String])],
      screen: Screen = Screen.Exact,
      screenRsd: Double = 0.02,
      minCoverage: Double = 1.0): DataFrame = {
    require(pairs.nonEmpty, "need at least one tuple pair")
    require(minCoverage > 0 && minCoverage <= 1.0,
      s"need 0 < minCoverage <= 1, got $minCoverage")
    require(pairs.size <= MaxCandidates,
      s"${pairs.size} pairs > $MaxCandidates: bound the per-call fan-out")
    pairs.foreach { case (a, b) =>
      require(a.nonEmpty, "empty left tuple")
      require(a.size == b.size,
        s"arity mismatch: (${a.mkString(",")}) vs (${b.mkString(",")})")
      require(a.distinct.size == a.size,
        s"duplicate column in left tuple ${a.mkString(",")}")
      require(b.distinct.size == b.size,
        s"duplicate column in right tuple ${b.mkString(",")}")
      a.foreach(c => require(left.columns.contains(c),
        s"column '$c' not in left frame"))
      b.foreach(c => require(right.columns.contains(c),
        s"column '$c' not in right frame"))
    }
    val profiles = indPairProfiles(left, right, pairs, screen, screenRsd,
      minCoverage)
    val rows = pairs.zip(profiles).map {
      case ((a, b), ((na, nb, miss), exact)) =>
        Row(a.mkString(","), b.mkString(","), a.size, na, nb, miss,
          indCoverage(na, miss), indHolds(exact, miss, na, minCoverage),
          exact)
    }
    localFrame(left.sparkSession, rows, schema("left_columns" -> StringType,
      "right_columns" -> StringType, "arity" -> IntegerType,
      "n_left_distinct" -> LongType, "n_right_distinct" -> LongType,
      "n_missing" -> LongType, "coverage" -> DoubleType,
      "holds" -> BooleanType, "is_exact" -> BooleanType))
  }

  /** The tuple encoding the IND screen sketches: `xxhash64` over the
    * STRING-cast components (so cross-typed pairs keep the operator's
    * string-cast compare semantics), gated on every member non-null (an
    * any-null tuple must not enter the sketch — the exact path excludes
    * it). Deterministic and shared by both sides, which is ALL the
    * refute-only screen needs (see [[compositeInclusionDependencies]]
    * for the collision argument; the hash's own 64-bit collisions shrink
    * estimates by n²/2⁶⁵ — and a holding pair still can never be
    * refuted, since enc(A) ⊆ enc(B) holds under ANY shared deterministic
    * encoding). Hashing instead of concatenating is a measured ~3× on
    * the per-side sketch aggregation at 100× (measured:
    * interpreted per-row string building inside the ObjectHashAggregate
    * was the cost — 9.9 s vs 3.5 s for 5 sketches over 60M rows) — the
    * [[screenTupleAgg]] choice, re-made here.
    */
  private def indSketchInput(cs: Seq[String]): Column = {
    val gate = cs.map(c => col(c).isNotNull).reduce(_ && _)
    when(gate, xxhash64(cs.map(c => col(c).cast(StringType)): _*))
  }

  /** One sketch-only aggregation over a frame for MANY tuples at once —
    * the per-side screen job every IND measure shares
    * (the staged sweep hoists it: each table is sketched ONCE across all
    * its pairs). Returns null for an all-null/empty tuple.
    */
  private def indSketches(df: DataFrame, tuples: Seq[Seq[String]],
                          lgK: Int): Map[Seq[String], Array[Byte]] = {
    val exprs = tuples.zipWithIndex.map { case (cs, i) =>
      hll_sketch_agg(indSketchInput(cs), lgK).as(s"__s$i") }
    val r = df.agg(exprs.head, exprs.tail: _*).head()
    tuples.zipWithIndex.map { case (cs, i) =>
      cs -> (if (r.isNullAt(i)) null else r.getAs[Array[Byte]](i))
    }.toMap
  }

  /** DataSketches HLL relative error ≈ 1.04/√(2^lgK) → lgK from rsd. */
  private def indLgK(rsd: Double): Int =
    math.min(21, math.max(4, math.ceil(
      2 * math.log(1.04 / rsd) / math.log(2)).toInt))

  /** Refute screened-out pairs from per-side sketch maps: A ⊆ᶿ B (at
    * coverage θ) implies |A ∪ B| ≤ |B| + (1 − θ)·|A| exactly (the
    * uncovered left values are the only ones the union can add; θ = 1 is
    * the classic |A ∪ B| = |B|), and HLL sketches union losslessly — so
    * a pair whose driver-side union estimate exceeds
    * (1 + 8·rsd)·(|B| + (1 − θ)·|A| estimates) is refuted without a
    * distinct shuffle (each estimate ≈ Gaussian with σ = rsd — the FD
    * screen's 8·rsd > 5·√2·rsd argument, mis-refute odds < 10⁻⁶). The
    * merge is one local row per pair, no executor job over data. A null
    * sketch is an empty side: never refute, confirm exactly. Returns
    * refuted index → (estA, estB, estMissing) with the miss estimate
    * clamped to [0, estA].
    */
  private def indRefuted(spark: SparkSession,
      sketchPairs: Seq[(Int, Array[Byte], Array[Byte])],
      rsd: Double, theta: Double): Map[Int, (Long, Long, Long)] = {
    if (sketchPairs.isEmpty) return Map.empty
    import spark.implicits._
    sketchPairs.toDF("i", "ska", "skb")
      .select(col("i"),
        hll_sketch_estimate(col("ska")).as("ea"),
        hll_sketch_estimate(col("skb")).as("eb"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb"))).as("eu"))
      .collect()
      .filter { r =>
        r.getLong(3) > ((1.0 + 8 * rsd) *
          (r.getLong(2) + (1.0 - theta) * r.getLong(1))).toLong
      }
      .map { r =>
        val (ea, eb, eu) = (r.getLong(1), r.getLong(2), r.getLong(3))
        r.getInt(0) -> ((ea, eb, math.min(ea, math.max(0L, eu - eb))))
      }.toMap
  }

  /** STAGED schema-wide IND search — the operational driver for a
    * foreign-key sweep over t tables (the [[discoverKeysStaged]] analog
    * for the IND member of the family): measures every cross-table
    * ordered column pair (tᵢ.c ⊆ tⱼ.c' for all i ≠ j), which a caller
    * today hand-batches through t·(t−1) [[inclusionDependencies]] calls
    * — and, with `maxArity > 1`, walks the COMPOSITE-IND lattice above
    * them MIND-style (De Marchi, Lopes & Petit 2002 — the Apriori rule
    * lifted to INDs): an arity-(k+1) candidate
    * `(a₁..aₖ₊₁) ⊆ (b₁..bₖ₊₁)` exists only when every arity-k
    * PROJECTION of it holds (a composite IND implies all its
    * projections), so level k+1 generates from level-k HOLDING INDs of
    * the same table pair via [[aprioriNextLevel]] over (left, right)
    * column-pair items, with left components pairwise distinct and
    * right components pairwise distinct. Items live in canonical
    * (left column index, right column index) order, so the mirror
    * permutation `(a₂,a₁) ⊆ (b₂,b₁)` never appears as a separate
    * candidate. Refuted/missed candidates produce no descendants —
    * the prune is the generation rule itself.
    *
    * The staging is where the scale win lives: under the screen
    * (`Hll`, or `Auto` when the LARGEST table's scan estimate passes
    * [[AutoScreenBytes]]), each table is sketched ONCE PER LEVEL — one
    * sketch-only aggregation per table covering all its live tuples (t
    * jobs per level, fixed-size sketches on the wire) — and every
    * candidate verdict comes from a driver-side sketch merge; only
    * non-refuted candidates enter the level's exact plan. Exact mode
    * confirms every candidate of a level in that one plan
    * ([[indLevelPlan]]: one value → item-set index, one join to the
    * broadcast candidate table, one count per candidate), so a level
    * runs a fixed handful of Spark jobs whatever its candidate count.
    * Unary verdict semantics are identical to per-call
    * [[inclusionDependencies]] results, composite ones to per-call
    * [[compositeInclusionDependencies]] (spec-pinned). Under the screen
    * the lattice walk stays sound: generation uses only
    * exact-confirmed holds, and a refuted candidate's absence of
    * descendants is implied by the projection rule up to the screen's
    * documented < 10⁻⁶ mis-refute odds.
    *
    * `minCoverage < 1` runs the sweep as a PARTIAL-IND sweep (the
    * [[inclusionDependencies]] relaxation) — unary only, because the
    * MIND projection rule does not transfer coverage fractions (see the
    * inline counterexample).
    *
    * Output: (left_table, left_columns comma-joined, right_table,
    * right_columns comma-joined, arity, n_left_distinct,
    * n_right_distinct, n_missing, coverage, holds, is_exact), one row
    * per MEASURED candidate, levels in order, each level in (left table,
    * right table, lattice) order.
    */
  def discoverInds(tables: Seq[(String, DataFrame, Seq[String])],
                   maxArity: Int = 1,
                   screen: Screen = Screen.Exact,
                   screenRsd: Double = 0.02,
                   minCoverage: Double = 1.0): DataFrame = {
    require(tables.size >= 2, "need at least two tables")
    require(maxArity >= 1, s"need maxArity >= 1, got $maxArity")
    require(minCoverage > 0 && minCoverage <= 1.0,
      s"need 0 < minCoverage <= 1, got $minCoverage")
    // the MIND projection rule is UNSOUND for partial INDs over
    // distinct-SET coverage (a frequent covered value can carry a tuple
    // lattice past θ while a rare uncovered one sinks a unary
    // projection: values {x uncovered, y covered} read 0.5 unary but
    // tuples {(x,1), (y,1), (y,2), (y,3)} read 0.75), so the composite
    // walk requires the classic θ = 1
    require(minCoverage == 1.0 || maxArity == 1,
      "partial INDs (minCoverage < 1) are unary-only: the arity-lattice " +
        "projection rule does not transfer coverage fractions")
    require(tables.map(_._1).distinct.size == tables.size,
      "duplicate table name")
    requireRsd(screenRsd)
    tables.foreach { case (t, df, cs) =>
      require(cs.nonEmpty, s"table '$t': need at least one column")
      require(cs.distinct.size == cs.size, s"table '$t': duplicate column")
      // the lattice item encoding is a fixed-width "%03d:%03d" string
      // (so Apriori's canonical sort is the column-index order); a wider
      // table must be swept in batches, loudly — never mis-sorted
      require(cs.size <= 999,
        s"table '$t': ${cs.size} columns > 999 — sweep wider tables in " +
          "batched calls")
      cs.foreach(c => require(df.columns.contains(c),
        s"column '$c' not in table '$t'"))
    }
    val tabs = tables.toIndexedSeq
    val hll = useHll(screen, tabs.map(_._2): _*)
    // a candidate at any arity: (leftTableIdx, leftTuple, rightTableIdx,
    // rightTuple); its lattice identity per table pair is the SET of
    // (leftColIdx, rightColIdx) items in canonical order
    type Cand = (Int, Seq[String], Int, Seq[String])
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    // per ordered table pair: the holding item-sets of the previous level
    // (encoded "lll:rrr" strings so aprioriNextLevel's prefix join applies)
    val colIdx = tabs.map(_._3.zipWithIndex.toMap)
    def item(li: Int, a: String, ri: Int, b: String): String =
      f"${colIdx(li)(a)}%03d:${colIdx(ri)(b)}%03d"
    val holding = scala.collection.mutable.Map
      .empty[(Int, Int), Seq[Seq[String]]].withDefaultValue(Nil)
    val tablePairs = for {
      li <- tabs.indices; ri <- tabs.indices if li != ri
    } yield (li, ri)
    // the per-pair item universe is level-invariant — build it once, and
    // only when the composite walk will consume it
    lazy val itemIdx: Map[(Int, Int), Map[String, Int]] =
      tablePairs.map { case (li, ri) =>
        (li, ri) -> (for (x <- tabs(li)._3; y <- tabs(ri)._3)
          yield item(li, x, ri, y)).sorted.zipWithIndex.toMap
      }.toMap
    for (a <- 1 to maxArity) {
      val level: Seq[Cand] = tablePairs.flatMap { case (li, ri) =>
        if (a == 1)
          for (x <- tabs(li)._3; y <- tabs(ri)._3)
            yield (li, Seq(x), ri, Seq(y))
        else {
          aprioriNextLevel(holding((li, ri)), itemIdx((li, ri)))
            .map { items =>
              val ls = items.map(s => tabs(li)._3(s.take(3).toInt))
              val rs = items.map(s => tabs(ri)._3(s.drop(4).toInt))
              (li, ls, ri, rs)
            }
            // a tuple may not repeat a column on either side
            .filter { case (_, ls, _, rs) =>
              ls.distinct.size == ls.size && rs.distinct.size == rs.size }
        }
      }
      val profiles = measureIndLevel(tabs.map(_._2), level, hll, screenRsd,
        minCoverage)
      val nextHolding = scala.collection.mutable.Map
        .empty[(Int, Int), scala.collection.mutable.ArrayBuffer[Seq[String]]]
      level.zip(profiles).foreach { case ((li, ls, ri, rs), ((na, nb, miss), exact)) =>
        val holds = indHolds(exact, miss, na, minCoverage)
        rows += Row(tabs(li)._1, ls.mkString(","), tabs(ri)._1,
          rs.mkString(","), a, na, nb, miss, indCoverage(na, miss),
          holds, exact)
        // only exact-confirmed holds generate descendants (screen-sound)
        if (holds)
          nextHolding.getOrElseUpdate((li, ri),
            scala.collection.mutable.ArrayBuffer.empty) +=
            ls.zip(rs).map { case (x, y) => item(li, x, ri, y) }.sorted
      }
      holding.clear()
      nextHolding.foreach { case (k, v) => holding(k) = v.toSeq }
    }
    localFrame(tabs.head._2.sparkSession, rows.toSeq, schema(
      "left_table" -> StringType, "left_columns" -> StringType,
      "right_table" -> StringType, "right_columns" -> StringType,
      "arity" -> IntegerType, "n_left_distinct" -> LongType,
      "n_right_distinct" -> LongType, "n_missing" -> LongType,
      "coverage" -> DoubleType, "holds" -> BooleanType,
      "is_exact" -> BooleanType))
  }

  /** Measure one level of IND candidates over `frames` (the sweep's
    * tables, or one call's (left, right) pair): the per-table sketch
    * hoist (one sketch-only aggregation per table covering all its live
    * tuples) and driver-side refutes when `hll`, then ONE exact plan for
    * every surviving candidate ([[indLevelPlan]]). Returns ((nLeft,
    * nRight, nMissing), isExact) per candidate in order.
    */
  private def measureIndLevel(frames: IndexedSeq[DataFrame],
      cands: Seq[(Int, Seq[String], Int, Seq[String])],
      hll: Boolean, rsd: Double,
      theta: Double): Seq[((Long, Long, Long), Boolean)] = {
    val screenedOut: Map[Int, (Long, Long, Long)] =
      if (!hll || cands.isEmpty) Map.empty
      else {
        val lgK = indLgK(rsd)
        val need: Map[Int, Seq[Seq[String]]] =
          (cands.map { case (li, a, _, _) => (li, a) } ++
            cands.map { case (_, _, ri, b) => (ri, b) })
            .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
        val sk = need.map { case (ti, tuples) =>
          ti -> indSketches(frames(ti), tuples, lgK) }
        indRefuted(frames.head.sparkSession,
          cands.zipWithIndex.flatMap { case ((li, a, ri, b), i) =>
            val (ska, skb) = (sk(li)(a), sk(ri)(b))
            if (ska == null || skb == null) Nil else Seq((i, ska, skb))
          }, rsd, theta)
      }
    val survivors = cands.indices.filterNot(screenedOut.contains)
    val exact: Map[Int, (Long, Long, Long)] =
      if (survivors.isEmpty) Map.empty
      else indLevelPlan(frames, survivors.map(cands)).collect().map { r =>
        survivors(r.getInt(0)) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))
      }.toMap
    cands.indices.map(i => screenedOut.get(i) match {
      case Some(estimates) => (estimates, false)
      case None =>
        val (nLeft, nRight, matched) = exact.getOrElse(i, (0L, 0L, 0L))
        ((nLeft, nRight, nLeft - matched), true)
    })
  }

  /** One level's exact IND plan — MIND's value index (De Marchi, Lopes &
    * Petit 2002): each distinct value with the set of ITEMS — the
    * (table, tuple) sides the candidates name — that hold it.
    *
    * Every item is one scan pruned to its columns, reading its tuples
    * as string-cast components padded to the level's widest arity with a
    * constant (a candidate's two items share their arity, so padding
    * never meets a real component), with only tuples whose every member
    * is non-null; each row carries its item's bit. The item scans run as
    * side-by-side tasks of one stage (measured at sf0.1: one scan per
    * table stacking q149's three lineitem items ran them in one 2.2 s
    * task, the stage of item scans took 1 s). One aggregation by value
    * ORs the bits into the item set, map-side first, so the one shuffle
    * carries each task's distinct values: no more rows than the
    * distinct-tuple sets one join per pair shuffled. Each value then emits one row per item in its
    * set (a bit test against each of the level's items), joined to the
    * broadcast candidate sides on the item, and one aggregation per
    * candidate counts its left values (n_left), its right values
    * (n_right) and the left values whose set also holds the right item
    * (matched). Equi-joins only, never a cartesian shape.
    *
    * Returns rows (candidate position, n_left, n_right, matched); a
    * candidate whose two items are both empty has no row.
    */
  private[graft] def indLevelPlan(frames: IndexedSeq[DataFrame],
      cands: Seq[(Int, Seq[String], Int, Seq[String])]): DataFrame = {
    val items = cands.flatMap { case (li, a, ri, b) => Seq((li, a), (ri, b)) }
      .distinct
    val itemId = items.zipWithIndex.toMap
    val vs = (0 until items.map(_._2.size).max).map(i => s"__v$i")
    val words = (items.size + 63) / 64
    val index = items.zipWithIndex
      .map { case ((t, cs), id) =>
        frames(t).select(vs.indices.map { i =>
          (if (i < cs.size) col(cs(i)).cast(StringType) else lit(""))
            .as(vs(i)) } ++
          (0 until words).map { w =>
            lit(if (w == id / 64) 1L << (id % 64) else 0L).as(s"__m$w") }: _*)
      }
      .reduce(_ unionAll _)
      .where(vs.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(vs.map(col): _*)
      .agg(array((0 until words).map(w => bit_or(col(s"__m$w"))): _*)
        .as("__set"))
    // does this value's item set hold the item at (word, bit)?
    def inSet(word: Column, bit: Column): Column =
      (element_at(col("__set"), word + 1) bitwiseAND bit) =!= 0
    val present = index
      .select(col("__set"), explode(array(items.indices.map { id =>
        struct(lit(id).as("__item"), lit(id / 64).as("__w"),
          lit(1L << (id % 64)).as("__b")) }: _*)).as("__i"))
      .where(inSet(col("__i.__w"), col("__i.__b")))
    val sides = localFrame(frames.head.sparkSession,
      cands.zipWithIndex.flatMap { case ((li, a, ri, b), c) =>
        val (l, r) = (itemId((li, a)), itemId((ri, b)))
        Seq(Row(l, c, true, r / 64, 1L << (r % 64)),
          Row(r, c, false, l / 64, 1L << (l % 64)))
      },
      schema("__item" -> IntegerType, "__cand" -> IntegerType,
        "__left" -> BooleanType, "__ow" -> IntegerType, "__ob" -> LongType))
    present
      .join(broadcast(sides), col("__i.__item") === col("__item"))
      .groupBy("__cand")
      .agg(count(when(col("__left"), 1)), count(when(!col("__left"), 1)),
        count(when(col("__left") && inSet(col("__ow"), col("__ob")), 1)))
  }

  // --------------------------------------------------- order dependencies

  /** ORDER-dependency profiling — the fourth member of the profiling
    * family (keys → FDs → INDs → ODs; Szlichta, Godfrey & Gryz 2012):
    * for each (x, y) pair, does sorting by x also sort y? Formally
    * x ≺ y (ascending) holds when for any two rows s, t with
    * s.x < t.x, s.y ≤ t.y — rows TIED on x constrain nothing (the
    * standard OD tie rule), and rows with null x or null y are ignored
    * (the [[functionalDependencies]] null convention). The descending
    * form is checked in the same pass. What a profiler learns from it:
    * a monotone pair is a zero-cost secondary sort key, a
    * range-partition co-key, and an interchangeable filter column
    * (WHERE y > c rewrites to an x range), none of which typing alone
    * reveals.
    *
    * Violations are counted at x-GROUP granularity — group g violates
    * ascending order when max(y over x < g.x) > min(y in g) — so the
    * count is deterministic, order-free, and exactly what the SQL
    * window form computes.
    *
    * Scale shape (NO global sort of raw rows): one groupBy(x) collapses
    * the pair to its distinct-x frame (shuffle ≤ distinct x, map-side
    * combined); that frame is range-partitioned by x, and the prefix
    * extrema factor into a per-partition carry + a within-partition
    * window: per-partition (max, min) aggregate → one window over the
    * ≤P-row partition-stats frame computes each partition's carry-in →
    * broadcast-joined back on partition id, where
    * `Window.partitionBy(pid).orderBy(x)` runs P concurrent windows of
    * ≈ distinctX/P rows each. No single task ever sees the whole
    * grouped frame, no comparison leaves Spark's own type ordering, and
    * the one global window runs over AT MOST `partitions` rows. The
    * carry-in branch reads the grouped frame back through AQE's
    * ReusedExchange (verified in the final adaptive plan),
    * so raw rows are scanned and aggregated exactly once per pair.
    * Pairs run as concurrent jobs (the object doc's measured-faster
    * geometry).
    *
    * Output: (on_column, ordered_column, n_groups, asc_violations,
    * desc_violations, monotone) per pair in the given order, monotone ∈
    * asc | desc | both | none ('both' ⟺ y constant across groups or
    * ≤ 1 group; a strictly monotone pair reads 'asc' or 'desc').
    */
  def orderDependencies(df: DataFrame,
                        pairs: Seq[(String, String)],
                        partitions: Int = 0): DataFrame = {
    require(pairs.nonEmpty, "need at least one (on, ordered) pair")
    require(pairs.size <= MaxCandidates,
      s"${pairs.size} pairs > $MaxCandidates: bound the per-call fan-out")
    pairs.foreach { case (x, y) =>
      require(x != y, s"on and ordered column are both '$x'")
      Seq(x, y).foreach(c => require(df.columns.contains(c),
        s"column '$c' not in frame"))
    }
    val p = partitionsOr(df.sparkSession, partitions)
    val measured = perOnColumn(pairs, 3)(orderDependencyAggMulti(df, _, _, p))
    val rows = pairs.zip(measured).map { case ((x, y), Seq(n, ascV, descV)) =>
      val label =
        if (ascV == 0L && descV == 0L) "both"
        else if (ascV == 0L) "asc"
        else if (descV == 0L) "desc"
        else "none"
      Row(x, y, n, ascV, descV, label)
    }
    localFrame(df.sparkSession, rows, orderDependencySchema)
  }

  /** The pair batching every OD/SD measure shares (r16 optimization):
    * pairs group by on-column, and ONE shared collapse + carry job per
    * distinct x (`agg(x, ys)`, one output row holding `width` Longs per
    * y in ys order) computes every one of its y verdicts at once;
    * distinct on-columns run as concurrent driver jobs (an m-column
    * sweep drops from m·(m−1) grouped-extrema pipelines to m). Returns
    * each pair's `width` Longs in pair order.
    */
  private def perOnColumn(pairs: Seq[(String, String)], width: Int)(
      agg: (String, Seq[String]) => DataFrame): Seq[Seq[Long]] = {
    val byX = byOnColumn(pairs)
    val heads = runConcurrently(byX) { case (x, iys) =>
      agg(x, iys.map(_._2)).head() }
    val of = byX.zip(heads).flatMap { case ((_, iys), r) =>
      iys.zipWithIndex.map { case ((pairId, _), j) =>
        pairId -> (0 until width).map(k => r.getLong(width * j + k))
      }
    }.toMap
    pairs.indices.map(of)
  }

  /** Pairs grouped by on-column: (x, [(pair index, y)]). */
  private def byOnColumn(pairs: Seq[(String, String)])
      : Seq[(String, Seq[(Int, String)])] =
    pairs.zipWithIndex.map { case ((x, y), i) => (x, i, y) }
      .groupBy(_._1).toSeq
      .map { case (x, g) => (x, g.map(t => (t._2, t._3))) }

  /** The range-partition count of the OD/SD plans: the caller's, else
    * the session's shuffle partitions. */
  private def partitionsOr(spark: SparkSession, partitions: Int): Int =
    if (partitions > 0) partitions
    else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** STAGED schema-wide OD sweep — the [[discoverInds]] treatment for
    * the fourth family member: every ordered (on, ordered) pair over
    * each table's DECLARED columns (the caller names the
    * numeric/datetime/ordinal columns worth ordering by, exactly as
    * [[discoverInds]] takes declared column lists), measured with
    * per-pair verdicts identical to per-call [[orderDependencies]]
    * (spec-pinned). ODs are within-table properties, so the sweep is
    * per-table m·(m−1) pairs — [[MaxCandidates]]-chunked so a wide
    * table is never one unbounded job fan-out, and every (table, chunk)
    * unit runs as a concurrent driver job end-to-end (r17: the units
    * are eager and independent; serializing them left the box idle
    * between tables), each unit's per-x batches concurrent inside it
    * (the per-call geometry; raw rows are aggregated once per x-batch,
    * the grouped-extrema plan's cost shape).
    *
    * Output: (table, on_column, ordered_column, n_groups,
    * asc_violations, desc_violations, monotone), tables in the given
    * order, each table's pairs in declared-column canonical order.
    */
  def discoverOrderDependencies(tables: Seq[(String, DataFrame, Seq[String])],
                                partitions: Int = 0): DataFrame = {
    require(tables.nonEmpty, "need at least one table")
    require(tables.map(_._1).distinct.size == tables.size,
      "duplicate table name")
    tables.foreach { case (t, df, cs) =>
      require(cs.size >= 2, s"table '$t': need at least two columns")
      require(cs.distinct.size == cs.size, s"table '$t': duplicate column")
      cs.foreach(c => require(df.columns.contains(c),
        s"column '$c' not in table '$t'"))
    }
    // r17: the per-(table, chunk) calls are EAGER and independent —
    // serializing them left the box idle between tables (q167 ran three
    // orderDependencies calls back-to-back; the r16 driver bench read it
    // 20–43% slower than the r15 per-pair-concurrent geometry). One
    // fan-out over every (table, chunk) unit restores end-to-end overlap
    // on top of the batched per-x plans; output order is unchanged
    // (results come back in unit order, flattened in declaration order).
    val units = tables.flatMap { case (t, df, cs) =>
      val pairs = for (x <- cs; y <- cs if x != y) yield (x, y)
      pairs.grouped(MaxCandidates).map(chunk => (t, df, chunk)).toSeq
    }
    val out = runConcurrently(units) { case (t, df, chunk) =>
      orderDependencies(df, chunk, partitions).collect().toSeq
        .map(r => Row.fromSeq(t +: r.toSeq))
    }.flatten
    localFrame(tables.head._2.sparkSession, out,
      StructType(StructField("table", StringType, nullable = false) +:
        orderDependencySchema.fields.toSeq))
  }

  private val orderDependencySchema = schema("on_column" -> StringType,
    "ordered_column" -> StringType, "n_groups" -> LongType,
    "asc_violations" -> LongType, "desc_violations" -> LongType,
    "monotone" -> StringType)

  /** APPROXIMATE order dependencies — the dirty-data form completing
    * the profiling matrix (keys/FDs have g₃, INDs have coverage-θ; ODs
    * now have adjacent-violation error): for each (x, y) pair, the
    * FRACTION of adjacent distinct-x pairs out of order, and a verdict
    * `holds ⟺ error ≤ epsilon`. Violations are ADJACENT-granularity —
    * group g violates ascending when the PREVIOUS group's max(y)
    * exceeds min(y in g) — not the exact form's prefix-extrema count: a
    * single outlier row dirties ~2 adjacent pairs instead of poisoning
    * every later group, which is what makes the error a usable
    * dirtiness measure. At epsilon = 0 the verdicts equal
    * [[orderDependencies]] exactly (zero adjacent violations ⟺ zero
    * prefix violations, by the chain max(g₁) ≤ min(g₂) ≤ max(g₂) ≤ …;
    * spec-pinned). Same null convention (null x or y rows ignored),
    * same tie rule (rows tied on x constrain nothing), and the same
    * minimality caveat as the rest of the approximate family: an
    * ε-holding OD is a profile signal, not a license to rewrite
    * queries.
    *
    * Scale shape: identical to the exact form — the pair collapses to
    * its distinct-x grouped-extrema frame (shuffle ≤ distinct x),
    * range-partitioned; the adjacent predecessor factors into a
    * within-partition lag plus a per-partition carry (each partition's
    * LAST group's extrema via max_by, lagged over the ≤P-row
    * partition-stats frame and broadcast back), so no task sees the
    * whole grouped frame and the one unpartitioned window runs over at
    * most `partitions` rows. Pairs run as concurrent jobs.
    *
    * Output: (on_column, ordered_column, n_groups, asc_violations,
    * desc_violations, asc_error, desc_error, monotone) per pair —
    * errors are violations over max(n_groups − 1, 1) as raw double
    * quotients, monotone ∈ asc | desc | both | none under epsilon.
    */
  def approximateOrderDependencies(df: DataFrame,
                                   pairs: Seq[(String, String)],
                                   epsilon: Double,
                                   partitions: Int = 0): DataFrame = {
    require(pairs.nonEmpty, "need at least one (on, ordered) pair")
    require(pairs.size <= MaxCandidates,
      s"${pairs.size} pairs > $MaxCandidates: bound the per-call fan-out")
    require(epsilon >= 0 && epsilon < 1,
      s"need 0 <= epsilon < 1, got $epsilon")
    pairs.foreach { case (x, y) =>
      require(x != y, s"on and ordered column are both '$x'")
      Seq(x, y).foreach(c => require(df.columns.contains(c),
        s"column '$c' not in frame"))
    }
    // same by-x batching as the exact form: one shared adjacent-carry
    // job per distinct on-column
    val p = partitionsOr(df.sparkSession, partitions)
    val measured = perOnColumn(pairs, 3)(
      adjacentOrderViolationAggMulti(df, _, _, p))
    val rows = pairs.zip(measured).map { case ((x, y), Seq(n, ascV, descV)) =>
      val den = math.max(n - 1, 1L).toDouble
      val (ascE, descE) = (ascV / den, descV / den)
      val label =
        if (ascE <= epsilon && descE <= epsilon) "both"
        else if (ascE <= epsilon) "asc"
        else if (descE <= epsilon) "desc"
        else "none"
      Row(x, y, n, ascV, descV, ascE, descE, label)
    }
    localFrame(df.sparkSession, rows,
      StructType(orderDependencySchema.fields.patch(5, Seq(
        StructField("asc_error", DoubleType, nullable = false),
        StructField("desc_error", DoubleType, nullable = false)), 0)))
  }

  /** One pair's ADJACENT-granularity violation counts: (n_groups,
    * asc_violations, desc_violations) over the grouped-extrema frame —
    * the [[approximateOrderDependencies]] plan. Exposed for the plan
    * spec (no Sort over raw rows; the unpartitioned window is the
    * ≤p-row partition-stats lag).
    */
  private[graft] def adjacentOrderViolationAgg(df: DataFrame, x: String,
                                               y: String, p: Int)
      : DataFrame =
    adjacentOrderViolationAggMulti(df, x, Seq(y), p)

  /** The multi-y batched form of [[adjacentOrderViolationAgg]] — the
    * [[adjacentGapViolationAggMulti]] shape with the monotonicity
    * predicates; output row = (__n0, __asc0, __desc0, __n1, ...) in ys
    * order.
    */
  private def adjacentOrderViolationAggMulti(df: DataFrame, x: String,
                                             ys: Seq[String], p: Int)
      : DataFrame = {
    val g = withAdjacentPredecessorsMulti(
      groupedExtremaMulti(df, x, ys, p), x, ys.size)
    val aggs = ys.indices.flatMap { i =>
      val exists = col(s"__mx$i").isNotNull
      Seq(
        coalesce(sum(when(exists, 1L)), lit(0L)).as(s"__n$i"),
        coalesce(sum(when(exists &&
          coalesce(col(s"__pmx$i"), col(s"__cmx$i")) > col(s"__mn$i"),
          1L)), lit(0L)).as(s"__asc$i"),
        coalesce(sum(when(exists &&
          coalesce(col(s"__pmn$i"), col(s"__cmn$i")) < col(s"__mx$i"),
          1L)), lit(0L)).as(s"__desc$i"))
    }
    g.agg(aggs.head, aggs.tail: _*)
  }

  /** SEQUENTIAL dependencies — the ordered-data profiling member after
    * order dependencies (Golab, Karloff, Korn, Srivastava, VLDB 2009:
    * "Sequential dependencies" X →_[g₁,g₂] Y — sorting by X, consecutive
    * Y values step by a gap inside the interval; the sequence-number /
    * sensor-cadence / billing-cycle constraint ODs cannot express). At
    * distinct-x GROUP granularity with the OD family's extrema
    * convention: the adjacent group pair (prev, next) SATISFIES the gap
    * iff EVERY cross pair of their y values does —
    * `next.min − prev.max ≥ g₁ AND next.max − prev.min ≤ g₂` (the two
    * extreme cross pairs bound all others) — and the APPROXIMATE form
    * reports the fraction of adjacent pairs violating, the
    * [[approximateOrderDependencies]] adjacent-granularity convention
    * (one outlier group dirties ~2 pairs, never the whole suffix).
    * `holds ⟺ error ≤ epsilon`; epsilon 0 is the exact verdict. Rows
    * with a null x or y are ignored; a pair with < 2 distinct x groups
    * reads zero violations over the floor-1 denominator (holds). Gap
    * arithmetic runs in DOUBLE over numeric y (require-gated): derive a
    * numeric column first for timestamp cadences (epoch seconds — the
    * frequency-inference adjacency turned into a constraint).
    *
    * Scale shape — identical to the OD family (shared
    * [[groupedExtremaMulti]]): raw rows collapse map-side to
    * distinct-x extrema, range-partition by x, adjacency via a lag
    * within each partition plus a broadcast ≤p-row partition carry; NO
    * raw-row sort anywhere. Pairs run as concurrent bounded jobs.
    *
    * Output: (on_column, ordered_column, min_gap, max_gap, n_groups,
    * violations, error, holds) — one row per requested pair, input
    * order.
    */
  def sequentialDependencies(df: DataFrame,
                             pairs: Seq[(String, String)],
                             minGap: Double, maxGap: Double,
                             epsilon: Double = 0.0,
                             partitions: Int = 0): DataFrame = {
    require(pairs.nonEmpty, "need at least one (on, ordered) pair")
    require(pairs.size <= MaxCandidates,
      s"${pairs.size} pairs > $MaxCandidates: bound the per-call fan-out")
    require(minGap <= maxGap, s"need minGap <= maxGap, got [$minGap, $maxGap]")
    require(epsilon >= 0 && epsilon < 1,
      s"need 0 <= epsilon < 1, got $epsilon")
    pairs.foreach { case (x, y) =>
      require(x != y, s"on and ordered column are both '$x'")
      Seq(x, y).foreach(c => require(df.columns.contains(c),
        s"column '$c' not in frame"))
      require(df.schema(df.schema.fieldIndex(y)).dataType
          .isInstanceOf[NumericType],
        s"ordered column '$y' must be numeric for gap arithmetic — " +
          "derive one (e.g. epoch seconds) first")
    }
    localFrame(df.sparkSession, sequentialDependencyRows(df, pairs, minGap,
      maxGap, epsilon, partitions), sequentialDependencySchema)
  }

  /** The driver-side verdict rows behind [[sequentialDependencies]] —
    * shared with [[discoverSequentialDeps]] so the sweep never
    * round-trips each chunk through an RDD only to collect it back.
    */
  private def sequentialDependencyRows(df: DataFrame,
                                       pairs: Seq[(String, String)],
                                       minGap: Double, maxGap: Double,
                                       epsilon: Double,
                                       partitions: Int): Seq[Row] = {
    // a 12-pair sweep over one table runs (#distinct x) grouped-extrema
    // pipelines, not 12
    val p = partitionsOr(df.sparkSession, partitions)
    val measured = perOnColumn(pairs, 2)(
      adjacentGapViolationAggMulti(df, _, _, minGap, maxGap, p))
    pairs.zip(measured).map { case ((x, y), Seq(n, viol)) =>
      val error = viol / math.max(n - 1, 1L).toDouble
      Row(x, y, minGap, maxGap, n, viol, error, error <= epsilon)
    }
  }

  private val sequentialDependencySchema = schema(
    "on_column" -> StringType, "ordered_column" -> StringType,
    "min_gap" -> DoubleType, "max_gap" -> DoubleType,
    "n_groups" -> LongType, "violations" -> LongType,
    "error" -> DoubleType, "holds" -> BooleanType)

  /** Schema-wide SEQUENTIAL-DEPENDENCY sweep — the
    * [[discoverOrderDependencies]] treatment for the Golab et al.
    * family, completing its operational driver: per table, candidate
    * pairs are every declared column `x` against every declared NUMERIC
    * column `y ≠ x` (gap arithmetic is defined on numeric y only — the
    * caller derives epoch seconds for timestamp cadences, exactly as in
    * per-call [[sequentialDependencies]]; x needs only group identity),
    * each checked against the same [minGap, maxGap] interval with
    * verdicts IDENTICAL to per-call [[sequentialDependencies]]
    * (spec-pinned). [[MaxCandidates]]-chunked per table so a wide table
    * is never one unbounded job fan-out; within a chunk pairs run as
    * concurrent bounded jobs over the shared grouped-extrema plan (raw
    * rows collapse map-side per pair — no raw-row sort, no whole-table
    * driver state).
    *
    * Output: (table, on_column, ordered_column, min_gap, max_gap,
    * n_groups, violations, error, holds), tables in the given order,
    * each table's pairs in declared-column canonical order.
    */
  def discoverSequentialDeps(tables: Seq[(String, DataFrame, Seq[String])],
                             minGap: Double, maxGap: Double,
                             epsilon: Double = 0.0,
                             partitions: Int = 0): DataFrame = {
    require(tables.nonEmpty, "need at least one table")
    require(tables.map(_._1).distinct.size == tables.size,
      "duplicate table name")
    require(minGap <= maxGap, s"need minGap <= maxGap, got [$minGap, $maxGap]")
    require(epsilon >= 0 && epsilon < 1,
      s"need 0 <= epsilon < 1, got $epsilon")
    val tablePairs = tables.map { case (t, df, cs) =>
      (t, df, seqDepCandidatePairs(t, df, cs))
    }
    val out = tablePairs.flatMap { case (t, df, pairs) =>
      pairs.grouped(MaxCandidates).flatMap { chunk =>
        sequentialDependencyRows(df, chunk, minGap, maxGap, epsilon,
          partitions).map(r => Row.fromSeq(t +: r.toSeq))
      }
    }
    localFrame(tables.head._2.sparkSession, out,
      StructType(StructField("table", StringType, nullable = false) +:
        sequentialDependencySchema.fields.toSeq))
  }

  /** One pair's adjacent-gap violation count: (n_groups, violations)
    * over the grouped-extrema frame — the [[sequentialDependencies]]
    * plan (the [[adjacentOrderViolationAgg]] carry shape with the gap
    * predicate in place of the monotonicity one). Exposed for the plan
    * spec.
    */
  private[graft] def adjacentGapViolationAgg(df: DataFrame, x: String,
                                             y: String, minGap: Double,
                                             maxGap: Double, p: Int)
      : DataFrame =
    adjacentGapViolationAggMulti(df, x, Seq(y), minGap, maxGap, p)

  /** The multi-y batched form of [[adjacentGapViolationAgg]] — one
    * shared collapse + carry + aggregation computes (n_groups,
    * violations) for EVERY y of one on-column in a single job: the
    * output row carries (__n0, __viol0, __n1, __viol1, ...) in ys
    * order. A group with a predecessor violates unless BOTH extreme
    * cross pairs satisfy the interval; the first group existing for a
    * given y (null predecessor extrema) contributes nothing, and groups
    * not existing for that y (null own extrema) count toward neither n
    * nor violations — the per-pair frame's semantics exactly.
    */
  private def adjacentGapViolationAggMulti(df: DataFrame, x: String,
                                           ys: Seq[String], minGap: Double,
                                           maxGap: Double, p: Int)
      : DataFrame = {
    val g = withAdjacentPredecessorsMulti(
      groupedExtremaMulti(df, x, ys, p), x, ys.size)
    val aggs = ys.indices.flatMap { i =>
      val exists = col(s"__mx$i").isNotNull
      val prevMx = coalesce(col(s"__pmx$i"), col(s"__cmx$i")).cast(DoubleType)
      val prevMn = coalesce(col(s"__pmn$i"), col(s"__cmn$i")).cast(DoubleType)
      val bad = exists && prevMx.isNotNull && !(
        col(s"__mn$i").cast(DoubleType) - prevMx >= lit(minGap) &&
          col(s"__mx$i").cast(DoubleType) - prevMn <= lit(maxGap))
      Seq(coalesce(sum(when(exists, 1L)), lit(0L)).as(s"__n$i"),
        coalesce(sum(when(bad, 1L)), lit(0L)).as(s"__viol$i"))
    }
    g.agg(aggs.head, aggs.tail: _*)
  }

  /** Gap-interval INFERENCE for sequential dependencies — the discovery
    * half of the Golab et al. problem ([[sequentialDependencies]]
    * checks a GIVEN interval; this finds one): per (x, y) pair, the
    * tightest [g₁, g₂] covering the central mass of the adjacent-gap
    * distribution — g₁ = the `trim` quantile of the LOWER gaps
    * (`next.min − prev.max`, the tightest cross pair) and g₂ = the
    * `1 − trim` quantile of the UPPER gaps (`next.max − prev.min`, the
    * widest), both EXACT with SQL `percentile` interpolation via the
    * [[graft.stats.Describe.groupedQuantiles]] collapse-then-window
    * walk. `trim = 0` infers the exact envelope (min lower gap, max
    * upper gap — holds by construction at ε = 0);  a small trim
    * discards outlier cadence breaks so the inferred interval feeds
    * [[sequentialDependencies]] as the dirty-data constraint (each
    * trimmed side can dirty at most a `trim` fraction of adjacent
    * pairs, so the checked error is ≤ 2·trim-ish — re-check, don't
    * assume). Pairs with no adjacent group pair read null gaps over
    * n_adjacent = 0.
    *
    * Scale shape: the shared grouped-extrema + adjacent-carry frame
    * (distinct-x scale, no raw-row sort), melted to (lower, upper) gap
    * rows, then the grouped quantile walk — per-pair state is the
    * DISTINCT gap values, never the groups. Pairs sharing an on-column
    * share ONE collapse + carry, and the whole call runs ONE walk
    * partitioned by (pair, side) — not one plan per pair.
    *
    * Output: (on_column, ordered_column, n_adjacent, gap_low,
    * gap_high), one row per requested pair, ordered by (on_column,
    * ordered_column).
    */
  def inferSequentialGaps(df: DataFrame,
                          pairs: Seq[(String, String)],
                          trim: Double = 0.0,
                          partitions: Int = 0): DataFrame = {
    require(pairs.nonEmpty, "need at least one (on, ordered) pair")
    require(pairs.size <= MaxCandidates,
      s"${pairs.size} pairs > $MaxCandidates: bound the per-call fan-out")
    require(trim >= 0 && trim < 0.5, s"need 0 <= trim < 0.5, got $trim")
    pairs.foreach { case (x, y) =>
      require(x != y, s"on and ordered column are both '$x'")
      Seq(x, y).foreach(c => require(df.columns.contains(c),
        s"column '$c' not in frame"))
      require(df.schema(df.schema.fieldIndex(y)).dataType
          .isInstanceOf[NumericType],
        s"ordered column '$y' must be numeric for gap arithmetic — " +
          "derive one (e.g. epoch seconds) first")
    }
    val spark = df.sparkSession
    val p = partitionsOr(spark, partitions)
    // the complement in DECIMAL, not binary doubles: 1 - 0.07 reads
    // 0.9299999999999999 in IEEE, which shifts an exact-rank hit into
    // an interpolation and breaks bit parity with a 0.93-written oracle
    val pHigh = (BigDecimal(1) - BigDecimal(trim.toString)).toDouble
    // ONE walk for the whole CALL (r16 optimization): pairs batched by
    // on-column share a collapse + carry, every pair's adjacent gaps
    // melt into one (pair, side, gap) frame, and a single grouped
    // quantile walk partitioned by (pair, side) resolves every bound —
    // 12 single-pair walks over events measured 10.5 s standalone where
    // this shape reads ~1.5 s, with bit-identical output (same gap
    // arithmetic, same walk, same interpolation)
    val melted = byOnColumn(pairs).map { case (x, iys) =>
      val g = withAdjacentPredecessorsMulti(
        groupedExtremaMulti(df, x, iys.map(_._2), p), x, iys.size)
      val units = iys.zipWithIndex.flatMap { case ((pairId, _), j) =>
        val pmx = coalesce(col(s"__pmx$j"), col(s"__cmx$j"))
        val pmn = coalesce(col(s"__pmn$j"), col(s"__cmn$j"))
        // a gap row exists iff the group exists for this y AND it has a
        // predecessor that does (the former per-pair where-clause)
        val keep = col(s"__mx$j").isNotNull && pmx.isNotNull
        Seq(
          struct(lit(pairId).as("pr"), lit("lo").as("s"),
            (col(s"__mn$j").cast(DoubleType) - pmx.cast(DoubleType))
              .as("g"), keep.as("keep")),
          struct(lit(pairId).as("pr"), lit("hi").as("s"),
            (col(s"__mx$j").cast(DoubleType) - pmn.cast(DoubleType))
              .as("g"), keep.as("keep")))
      }
      g.select(explode(array(units: _*)).as("__e"))
        .where(col("__e")("keep"))
        .select(col("__e")("pr").as("__pair"),
          col("__e")("s").as("__side"), col("__e")("g").as("__gap"))
    }.reduce(_ unionAll _)
    // the UNSORTED walk: the pivot below re-aggregates by pair, so the
    // walk's global (pair, side) order would be discarded at the next
    // exchange — and its range partitioner's sampling pass would re-run
    // the window stage (r17; see groupedQuantilesUnsorted)
    val q = graft.stats.Describe.groupedQuantilesUnsorted(melted,
      Seq("__pair", "__side"), "__gap", Seq(trim, pHigh))
    val Seq(pLoName, pHiName) = q.columns.drop(3).toSeq
    // pivot each pair's ≤2 walk rows into its output row; pairs whose
    // gap frame is EMPTY surface through the left join below (the
    // former global-agg empty arm, now per pair)
    val pivoted = q.groupBy(col("__pair"))
      .agg(max(when(col("__side") === "lo", col("n"))).as("__n"),
        max(when(col("__side") === "lo", col(pLoName))).as("__g1"),
        max(when(col("__side") === "hi", col(pHiName))).as("__g2"))
    val pairsLit = localFrame(spark,
      pairs.zipWithIndex.map { case ((x, y), i) => Row(i, x, y) },
      schema("__pair" -> IntegerType, "on_column" -> StringType,
        "ordered_column" -> StringType))
    pairsLit.join(pivoted, Seq("__pair"), "left")
      .select(col("on_column"), col("ordered_column"),
        coalesce(col("__n"), lit(0L)).as("n_adjacent"),
        col("__g1").as("gap_low"), col("__g2").as("gap_high"))
      .orderBy(col("on_column"), col("ordered_column"))
  }

  /** Schema-wide sequential-GAP-INFERENCE sweep — the discovery half's
    * operational driver, completing what [[discoverSequentialDeps]]
    * does for the check half: the same candidate generation rule
    * (every declared column × every declared NUMERIC column per
    * table, spec-pinned shared with the check sweep), each pair's
    * tightest trimmed interval via [[inferSequentialGaps]]'s exact
    * grouped quantile walk. Stays LAZY — per-table chunks are
    * [[inferSequentialGaps]] plans unioned under a table-label column,
    * so nothing collects until the caller acts (the inference walk has
    * no driver-side verdict arithmetic to force, unlike the check
    * sweep's concurrent head() jobs).
    *
    * Output: (table, on_column, ordered_column, n_adjacent, gap_low,
    * gap_high), ordered by (table-declaration order is NOT preserved —
    * rows order by table, on_column, ordered_column).
    */
  def discoverSequentialGaps(tables: Seq[(String, DataFrame, Seq[String])],
                             trim: Double = 0.0,
                             partitions: Int = 0): DataFrame = {
    require(tables.nonEmpty, "need at least one table")
    require(tables.map(_._1).distinct.size == tables.size,
      "duplicate table name")
    require(trim >= 0 && trim < 0.5, s"need 0 <= trim < 0.5, got $trim")
    val plans = tables.map { case (t, df, cs) =>
      val pairs = seqDepCandidatePairs(t, df, cs)
      pairs.grouped(MaxCandidates).map { chunk =>
        inferSequentialGaps(df, chunk, trim, partitions)
          .select(lit(t).as("table"), col("on_column"),
            col("ordered_column"), col("n_adjacent"), col("gap_low"),
            col("gap_high"))
      }.reduce(_ unionAll _)
    }
    plans.reduce(_ unionAll _)
      .orderBy(col("table"), col("on_column"), col("ordered_column"))
  }

  /** THE sequential-dependency sweep candidate-generation rule, shared
    * by [[discoverSequentialDeps]] and [[discoverSequentialGaps]] so
    * the check and discovery halves can never desynchronize on which
    * pairs a schema generates: every declared column × every declared
    * NUMERIC column, x ≠ y, with loud validation.
    */
  private def seqDepCandidatePairs(t: String, df: DataFrame,
                                   cs: Seq[String]): Seq[(String, String)] = {
    require(cs.size >= 2, s"table '$t': need at least two columns")
    require(cs.distinct.size == cs.size, s"table '$t': duplicate column")
    cs.foreach(c => require(df.columns.contains(c),
      s"column '$c' not in table '$t'"))
    val numeric = cs.filter(c => df.schema(df.schema.fieldIndex(c))
      .dataType.isInstanceOf[NumericType])
    val pairs = for (x <- cs; y <- numeric if x != y) yield (x, y)
    require(pairs.nonEmpty,
      s"table '$t': no numeric ordered-column candidate among " +
        s"declared columns ${cs.mkString(", ")}")
    pairs
  }

  /** The adjacent-predecessor machinery BOTH adjacent-granularity
    * measures share ([[adjacentOrderViolationAgg]] monotonicity,
    * [[adjacentGapViolationAgg]] gap intervals), MULTI-Y since the r16
    * optimization round: a sweep's pairs sharing an on-column ride ONE
    * collapse + ONE carry instead of one per pair (12 single-pair plans
    * over events measured 10.5 s standalone; the batched frame reads
    * seconds). Each distinct-x group is annotated, per y index i, with
    * the extrema of its nearest PRECEDING group that EXISTS for that y
    * (`__pmx<i>`/`__pmn<i>` — `last(..., ignoreNulls)` over the
    * x-ordered grow-only frame, identical to the former per-pair `lag`
    * because a pair's frame contained only its existing groups) plus
    * the cross-partition carry (`__cmx<i>`/`__cmn<i>` — the last
    * EXISTING group per partition via `max_by` keyed on x gated to
    * existing rows, then the previous present value over the ≤p-row
    * partition frame, broadcast back). Group existence for pair i is
    * `__mx<i>.isNotNull`: min/max ignore nulls, so a group whose every
    * y<i> is null carries null extrema — exactly the groups the
    * per-pair frame (filtered on y non-null) never had.
    */
  private def withAdjacentPredecessorsMulti(grouped: DataFrame, x: String,
                                            k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wp = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryAggs = (0 until k).flatMap { i =>
      // max_by ignores rows whose ordering key is null (spec-pinned), so
      // gating the key on existence picks the last EXISTING group
      val existsKey = when(col(s"__mx$i").isNotNull, col(x))
      Seq(max_by(col(s"__mx$i"), existsKey).as(s"__lmx$i"),
        max_by(col(s"__mn$i"), existsKey).as(s"__lmn$i"))
    }
    val carry = grouped.groupBy("__pid")
      .agg(carryAggs.head, carryAggs.tail: _*)
      .select(col("__pid") +: (0 until k).flatMap(i => Seq(
        last(col(s"__lmx$i"), ignoreNulls = true).over(wp).as(s"__cmx$i"),
        last(col(s"__lmn$i"), ignoreNulls = true).over(wp).as(s"__cmn$i")))
        : _*)
    val w = Window.partitionBy("__pid").orderBy(col(x))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withPrev = grouped.select(
      (grouped.columns.map(col).toSeq) ++ (0 until k).flatMap(i => Seq(
        last(col(s"__mx$i"), ignoreNulls = true).over(w).as(s"__pmx$i"),
        last(col(s"__mn$i"), ignoreNulls = true).over(w).as(s"__pmn$i")))
        : _*)
    withPrev.join(broadcast(carry), "__pid")
  }

  /** Multi-y grouped-extrema frame behind
    * [[withAdjacentPredecessorsMulti]]: one aggregation collapses raw
    * rows to distinct-x groups carrying (min y, max y) for EVERY
    * candidate y, range-partitioned by x with the materialized
    * partition id. Rows enter when x is non-null and AT LEAST ONE y is
    * (per-pair null gating then lives in the per-y extrema, see the
    * carry scaladoc).
    */
  private def groupedExtremaMulti(df: DataFrame, x: String,
                                  ys: Seq[String], p: Int): DataFrame = {
    val aggs = ys.zipWithIndex.flatMap { case (y, i) =>
      Seq(min(col(y)).as(s"__mn$i"), max(col(y)).as(s"__mx$i")) }
    df.where(col(x).isNotNull &&
        ys.map(col(_).isNotNull).reduce(_ || _))
      .groupBy(col(x))
      .agg(aggs.head, aggs.tail: _*)
      .repartitionByRange(p, col(x))
      .withColumn("__pid", spark_partition_id())
  }

  /** One pair's OD measure: (n_groups, asc_violations,
    * desc_violations) — the grouped-prefix-extrema plan the
    * [[orderDependencies]] scaladoc describes. Exposed for the plan
    * spec: no Sort over raw rows, the only unpartitioned window runs on
    * the ≤p-row partition-stats frame.
    */
  private[graft] def orderDependencyAgg(df: DataFrame, x: String,
                                        y: String, p: Int): DataFrame =
    orderDependencyAggMulti(df, x, Seq(y), p)

  /** The multi-y batched form of [[orderDependencyAgg]] (r16
    * optimization): one shared collapse + prefix-extrema pass computes
    * (n_groups, asc_violations, desc_violations) for EVERY y of one
    * on-column in a single job — the output row carries (__n0,
    * __asc0, __desc0, __n1, ...) in ys order. Prefix max/min windows
    * ignore nulls, so groups not existing for a given y (null extrema
    * on the shared frame) neither contribute to the running extrema nor
    * count toward n/violations — the per-pair frame's semantics
    * exactly.
    */
  private def orderDependencyAggMulti(df: DataFrame, x: String,
                                      ys: Seq[String], p: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grouped = groupedExtremaMulti(df, x, ys, p)
    // carry-ins: each partition's prefix extrema over EARLIER partitions
    // (range partition ids ascend with x); the window frame is ≤ p rows
    val wp = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryAggs = ys.indices.flatMap(i => Seq(
      max(col(s"__mx$i")).as(s"__px$i"),
      min(col(s"__mn$i")).as(s"__pn$i")))
    val carry = grouped.groupBy("__pid")
      .agg(carryAggs.head, carryAggs.tail: _*)
      .select(col("__pid") +: ys.indices.flatMap(i => Seq(
        max(col(s"__px$i")).over(wp).as(s"__cmax$i"),
        min(col(s"__pn$i")).over(wp).as(s"__cmin$i"))): _*)
    // within-partition prefix extrema: P concurrent windows keyed by the
    // materialized partition id
    val w = Window.partitionBy("__pid").orderBy(col(x))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ann = grouped.select(
      (grouped.columns.map(col).toSeq) ++ ys.indices.flatMap(i => Seq(
        max(col(s"__mx$i")).over(w).as(s"__wmax$i"),
        min(col(s"__mn$i")).over(w).as(s"__wmin$i"))): _*)
      .join(broadcast(carry), "__pid")
    val aggs = ys.indices.flatMap { i =>
      val exists = col(s"__mx$i").isNotNull
      Seq(
        coalesce(sum(when(exists, 1L)), lit(0L)).as(s"__n$i"),
        coalesce(sum(when(exists && (
          coalesce(col(s"__wmax$i") > col(s"__mn$i"), lit(false)) ||
            coalesce(col(s"__cmax$i") > col(s"__mn$i"), lit(false))),
          1L)), lit(0L)).as(s"__asc$i"),
        coalesce(sum(when(exists && (
          coalesce(col(s"__wmin$i") < col(s"__mx$i"), lit(false)) ||
            coalesce(col(s"__cmin$i") < col(s"__mx$i"), lit(false))),
          1L)), lit(0L)).as(s"__desc$i"))
    }
    ann.agg(aggs.head, aggs.tail: _*)
  }
}
