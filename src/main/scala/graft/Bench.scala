package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main (driver contract: print ONE JSON line with the total and
  * per-query seconds).
  *
  * Noise control — r5 vs r6 measured the SAME bits with per-query swings up
  * to 9.2×, so the harness, not the code, was the signal:
  *  - per-query warm-up run (untimed): pays the one-time Janino/codegen plan
  *    compile and session warm-up OUTSIDE the measurement;
  *  - then `RUNS` timed runs; reported value = best, and `spread` =
  *    worst/best of the timed runs so a reader can tell noise from
  *    regression (spread ~1 ⇒ the best is reproducible);
  *  - STABLE-WINDOW ESCALATION (r10, replacing r7's median-of-7): medians
  *    under escalation still report a LOADED value when the box degrades
  *    mid-suite — r9 shipped q136 at 11.4 s (runs 4.0→44.7) and q06 at
  *    8.8 s (3.6→23.8) while both queries' best runs matched their known
  *    stable levels. A query whose initial spread exceeds `SPREAD_LIMIT`
  *    now RE-RUNS until the last `STABLE_K` consecutive runs agree within
  *    `STABLE_BAND` AND that window's best is within `STABLE_BAND` of a
  *    robust floor — the SECOND-smallest run, not the absolute min, so a
  *    single anomalously fast outlier can't force every later window to
  *    fail (r10 ADVICE); a burst can make 3 consecutive SLOW runs agree —
  *    the floor clause rejects a stable-but-loaded window — then reports
  *    the MIN of that stable window. If no stable window appears within
  *    `MAX_RUNS` total runs, the query reports its global MIN and is
  *    flagged `polluted` in both the detail file and the stdout line —
  *    the artifact is self-describing about which values a load burst
  *    touched (r9 ADVICE: a consumer of the JSON alone must see it);
  *  - END-OF-SUITE RETRY (r11): after the last query, each still-polluted
  *    query gets one more stable-window attempt — mid-suite bursts have
  *    usually passed by then. A found window replaces the value and clears
  *    the flag; the first attempt's runs ship as `prior_runs` either way
  *    (r10: q16 shipped flagged at 1.96 s after a 12-run burst straddle);
  *  - PER-QUERY LOAD SENSING (r10): before each query's timed runs the
  *    harness records /proc/loadavg (1-min field) and a ~40 ms
  *    single-thread constant-work micro-probe. Both land in
  *    BENCH_DETAIL.json (`loadavg`, `micro`) so a polluted flag can be
  *    attributed to external load (loadavg ≫ active cores, micro ≫ its
  *    session-start reading) rather than query variance;
  *  - queries run in sorted order so warm-up attribution is stable
  *    round-over-round.
  *
  * Artifact shape — the driver keeps only a ~2000-char tail of stdout, and
  * 140+ full-name queries overflow it (r5/r6 recorded just 63 truncated
  * timings). The stdout line therefore uses the short `qNN` prefix as the
  * key and ADAPTIVE decimals (3 below 1 s, 2 below 10 s, 1 above — ~12
  * chars/query keeps 142 queries + calib under the tail), and the FULL
  * per-query detail (full names, every run, load signals) goes to
  * `BENCH_DETAIL.json` next to the repo (override: SPARK_GRAFT_BENCH_DETAIL).
  * The complete stdout line is ALSO written verbatim to `BENCH_LINE.json`
  * (override: SPARK_GRAFT_BENCH_LINE) so downstream tooling can read
  * structured fields even if the stdout tail truncates mid-JSON.
  * AT 196 QUERIES even the qNN-keyed map is ~4 KB, so no sizing of the
  * full line can fit the tail any more (r16 VERDICT: PERF totals have
  * been null since r10). The bench therefore ends stdout with a SECOND,
  * compact line — {metric, value, unit, action, n_queries, calib,
  * total_norm, polluted, n_failed, detail, sf}, ~350 chars, no per-query
  * map — so the tail always closes on one complete JSON object; per-query
  * seconds live in the full line (stdout + BENCH_LINE.json) and
  * BENCH_DETAIL.json.
  *
  * FAILURES: a query that throws in any run is reported as failed, not
  * timed — `"failed": true` and the exception class in the detail file,
  * left out of `total` and the per-query map, counted in `n_failed` on
  * both stdout lines. The process exits 1 after writing its artifacts
  * when any query failed.
  *
  * CROSS-SESSION calibration (r9): within-session spread is controlled by
  * the escalation above, but r7 vs r8 showed the whole SESSION can run
  * ~1.35× slow (identical bits, tight spreads both times — box load /
  * JIT-lottery), polluting round-over-round comparisons. The bench runs a
  * fixed constant-work probe (one codegen'd hash-reduce scan over 512M
  * longs on all cores + one single-thread CPU spin) FIRST and LAST, and
  * reports `calib`: {pre, post, ref, factor} on the stdout line, where
  * `factor` = mean(pre, post) / CALIB_REF and CALIB_REF is the probe's
  * pinned reading on an idle build box. Per-query normalized values
  * (`value / factor`) go to BENCH_DETAIL.json as `value_norm`. Cross-round
  * comparisons should use value_norm (or divide by factor); a round whose
  * pre/post disagree badly is itself suspect and says so in the artifact.
  *
  * READING THE FACTOR: `post` runs after the full suite has deep-JIT'd
  * the Spark scheduler paths and typically reads 10–20% below `pre`
  * (measured r9: pre 0.654, post 0.528 in a session whose CALIB_ONLY
  * readings were 0.67), while CalibRef is pinned in pre-like cold
  * sessions — so the mean carries a small downward bias and factor
  * deviations within ±10% of 1.0 should be read as unity. The signal
  * this exists for is the ≥1.2× whole-session skew r8 exhibited
  * (factor would read ~1.3), which clears the noise floor decisively.
  *
  * EXECUTION ACTION (r9): the timed action is
  * `df.queryExecution.toRdd.count()` — full computation of every output
  * column of the query AS DECLARED, rows materialized as InternalRows,
  * nothing driver-collected. The previous `df.count()` built a new
  * Aggregate(count) plan over the query, letting Catalyst PRUNE the
  * final projections and drop result sorts — projection-shaped queries
  * measured their scan, not their work (q135 c4_clean read 7.6× low,
  * q66 gopher_rules 6.1×; aggregation-shaped queries were unaffected).
  * The stdout line carries `"action":"toRdd"` so artifacts are
  * comparable only within the same action; r1–r8 artifacts were
  * count()-measured and UNDERSTATE projection-shaped queries.
  */
object Bench {
  /** Pinned idle-box reading of [[calibrationProbe]] (seconds). RE-PIN
    * CADENCE: each round, before the full bench, run two fresh
    * `SPARK_GRAFT_CALIB_ONLY=1` sessions on the idle box and update this
    * constant (and [[CalibPinnedDate]]) if they agree with each other but
    * not with the pin — factor drift must not silently accumulate
    * (round-9 finding: the post-suite probe reads deep-JIT-fast, so only
    * fresh-session CALIB_ONLY readings are pin-grade). Only the RATIO
    * across sessions matters. The pin is only meaningful at [[CalibCpus]]
    * cores: the probe's all-core scan scales with parallelism, so a
    * 4-core session would read ~4× high for reasons that are config, not
    * slowness. Sessions at any other core count ship factor = 1
    * (normalization off) and say so in the artifact rather than silently
    * conflating core count with session skew.
    */
  val CalibRef = 0.661

  /** Date [[CalibRef]] was last measured (two idle fresh-JVM CALIB_ONLY
    * sessions — r11 re-pin read 0.660 / 0.663, 0.5% apart, vs the r10 pin
    * 0.630; r10 had read 0.623 / 0.637 vs the r9 pin 0.609 — the box reads
    * a few percent slower each round, which is exactly the drift this
    * cadence exists to keep out of the factor); shipped in the artifact so
    * a reader can judge staleness.
    */
  val CalibPinnedDate = "2026-08-15"

  /** Core count [[CalibRef]] was pinned at. */
  val CalibCpus = 32

  /** Fixed constant-work probe: (a) one whole-stage-codegen scan that
    * hash-reduces 512M longs across all cores — exercises scheduling,
    * codegen and memory bandwidth; (b) one single-threaded multiply-add
    * spin of 2^28 iterations — exercises raw per-core clock/JIT state.
    * Work is constant by construction, so wall time moves only with the
    * session/box, which is exactly the nuisance factor to divide out.
    */
  def calibrationProbe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 512L << 20, 1L,
        spark.sparkContext.defaultParallelism)
      .select(bit_xor(xxhash64(col("id")))).collect()  // xor: no ANSI overflow
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < (1 << 28)) {
      x = x * 6364136223846793005L + 1442695040888963407L; i += 1
    }
    if (x == 42L) System.err.println("")  // keep the spin live (no DCE)
    (System.nanoTime() - t0) / 1e9
  }

  /** ~40 ms single-thread constant-work spin (2^25 multiply-adds) — the
    * per-query load sensor. Constant work, so its wall time tracks only
    * CPU contention at the instant a query is about to be timed.
    */
  def microProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < (1 << 25)) {
      x = x * 6364136223846793005L + 1442695040888963407L; i += 1
    }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** 1-minute field of /proc/loadavg (−1 when unreadable). */
  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "/root/repo/BENCH_DETAIL.json")
    val linePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_LINE",
      "/root/repo/BENCH_LINE.json")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // toRdd.count(): executes the query's OWN plan (every output column
      // computed, sorts retained) without collecting rows to the driver —
      // a count() on top would let Catalyst prune the final projections
      fn(spark, sfDir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    val spreadLimit = sys.env.getOrElse("SPARK_GRAFT_SPREAD_LIMIT", "1.5").toDouble
    val stableBand = sys.env.getOrElse("SPARK_GRAFT_STABLE_BAND", "1.3").toDouble
    val stableK = sys.env.getOrElse("SPARK_GRAFT_STABLE_K", "3").toInt
    val maxRuns = sys.env.getOrElse("SPARK_GRAFT_MAX_RUNS", "12").toInt
    // calibration: one untimed warm-up pays the probe's own codegen, then
    // best-of-3 timed — run before the suite and again after it
    def calib(): Double = {
      calibrationProbe(spark)
      Seq.fill(3)(calibrationProbe(spark)).min
    }
    val calibPre = calib()
    // probe-only mode: print the calibration reading and exit — used to
    // (re)pin CalibRef and to sanity-check a session before a full bench
    if (sys.env.get("SPARK_GRAFT_CALIB_ONLY").contains("1")) {
      println(s"""{"metric":"calib","value":$calibPre,"unit":"sec","ref":$CalibRef}""")
      spark.stop(); return
    }
    val microBase = { microProbe(); Seq.fill(3)(microProbe()).min }
    case class QRes(name: String, value: Double, spread: Double,
                    warm: Double, timed: Seq[Double], escalated: Boolean,
                    polluted: Boolean, loadavg: Double, micro: Double,
                    retried: Boolean = false, priorRuns: Seq[Double] = Nil,
                    failed: Option[String] = None)
    // stable window: last stableK runs agree within stableBand AND their
    // best is within stableBand of a ROBUST floor — the second-smallest
    // run, not the absolute min, so one anomalously fast outlier during a
    // burst cannot make the clause unsatisfiable and force a spurious
    // polluted flag (r10 ADVICE)
    def stableWindow(xs: Seq[Double]): Option[Seq[Double]] = {
      if (xs.size < stableK) None
      else {
        val w = xs.takeRight(stableK)
        val sorted = xs.sorted
        val floor = sorted(math.min(1, sorted.size - 1))
        val ok = w.max / math.max(w.min, 1e-9) <= stableBand &&
          w.min <= stableBand * floor
        if (ok) Some(w) else None
      }
    }
    // a query that throws in any run is FAILED: it records the exception
    // class, no timings, and stays out of the total
    def measure(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                doWarm: Boolean): QRes = {
      val la = loadAvg()
      val mp = { microProbe(); microProbe() }   // one warm, one recorded
      try {
        val warm = if (doWarm) time(fn) else -1.0 // untimed: codegen + warm-up
        var timed = Seq.fill(runs)(time(fn))
        val noisy = timed.max / math.max(timed.min, 1e-9) > spreadLimit
        var win = if (noisy) stableWindow(timed) else Some(timed)
        while (noisy && win.isEmpty && timed.size < maxRuns) {
          timed = timed :+ time(fn)
          win = stableWindow(timed)
        }
        val value = win.map(_.min).getOrElse(timed.min)
        QRes(name, value, timed.max / math.max(timed.min, 1e-9), warm, timed,
          noisy, noisy && win.isEmpty, la, mp)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        QRes(name, 0.0, 1.0, -1.0, Nil, escalated = false, polluted = false,
          la, mp, failed = Some(e.getClass.getName))
      }
    }
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) => measure(name, fn, doWarm = true)
    }
    // end-of-suite second chance (r10 VERDICT #2): a burst that hit a query
    // mid-suite has usually passed by now — each polluted query gets one
    // more stable-window attempt (no warm-up: JIT state persists). A found
    // window replaces the value and clears the flag; otherwise the query
    // stays flagged and reports the global min across BOTH attempts. The
    // first attempt's runs ship as `prior_runs` either way.
    val results = firstPass.map { r =>
      if (!r.polluted) r
      else {
        val again = measure(r.name, SparkEntry.queries(r.name), doWarm = false)
        // either way the shipped record describes ATTEMPT 2 (its runs,
        // spread, loadavg, micro) with attempt 1 preserved as prior_runs —
        // mixing fields across attempts would break the self-describing
        // artifact (a consumer's recomputed spread must match `spread`).
        // A clean attempt 2 reports its own stable-window min; only in the
        // still-polluted branch does `value` span both attempts (the
        // global min over runs ∪ prior_runs).
        if (!again.polluted)
          again.copy(warm = r.warm, retried = true, priorRuns = r.timed)
        else again.copy(value = math.min(r.value, again.value),
          warm = r.warm, retried = true, priorRuns = r.timed)
      }
    }
    val calibPost = calib()
    // the pin is only valid at CalibCpus cores — at any other parallelism
    // the probe reading moves for config reasons, so normalization is OFF
    // (factor 1) and the artifact says why
    val calibPinned =
      scala.util.Try(cpus.trim.toInt).toOption.contains(CalibCpus)
    val factor =
      if (calibPinned) math.max((calibPre + calibPost) / 2 / CalibRef, 1e-9)
      else 1.0
    def r3(d: Double) = math.rint(d * 1000) / 1000
    // adaptive precision for the stdout map: the resolution a reader needs
    // scales with the value, and the char budget is the driver's ~2000
    // stdout tail (3dp below 1 s, 2dp below 10 s, 1dp above)
    def rq(d: Double): String =
      if (d < 1.0) f"$d%.3f" else if (d < 10.0) f"$d%.2f" else f"$d%.1f"
    val (failed, ok) = results.partition(_.failed.isDefined)
    val qs = ok.map(r =>
      "\"" + r.name.takeWhile(_ != '_') + "\":" + rq(r.value)
    ).mkString("{", ",", "}")
    val total = r3(ok.map(_.value).sum)
    // cap at 4 names so a badly loaded session can't push the stdout line
    // past the driver's ~2000-char tail; the full set is in the detail file
    val polluted = results.filter(_.polluted)
    val pollutedList = (polluted.take(4)
      .map(r => "\"" + r.name.takeWhile(_ != '_') + "\"") ++
      (if (polluted.size > 4) Seq("\"+" + (polluted.size - 4) + "\"") else Nil))
      .mkString("[", ",", "]")
    val calibJson = s"""{"pre":${r3(calibPre)},"post":${r3(calibPost)},""" +
      s""""ref":$CalibRef,"ref_date":"$CalibPinnedDate",""" +
      s""""factor":${r3(factor)},"pinned":$calibPinned}"""
    val detail = results.map { r =>
      val timing = r.failed match {
        case Some(e) => s""""failed": true, "error": "$e", """
        case None =>
          s""""value": ${r3(r.value)}, "value_norm": ${r3(r.value / factor)}, """ +
            s""""spread": ${r3(r.spread)}, """ +
            s""""escalated": ${r.escalated}, "polluted": ${r.polluted}, """
      }
      s"""  "${r.name}": {$timing""" +
        s""""loadavg": ${r3(r.loadavg)}, "micro": ${r3(r.micro)}, """ +
        s""""warmup": ${r3(r.warm)}, """ +
        (if (r.retried)
           s""""retried": true, "prior_runs": [${r.priorRuns.map(r3).mkString(", ")}], """
         else "") +
        s""""runs": [${r.timed.map(r3).mkString(", ")}]}"""
    }.mkString(
      "{\n  \"__calib\": " + calibJson + ",\n" +
        s"""  "__micro_base": ${r3(microBase)},\n""" +
        s"""  "__cpus": "$cpus", "__pinned_cpus": $CalibCpus,\n""",
      ",\n", "\n}")
    try Files.writeString(Paths.get(detailPath), detail)
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    val line = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""action":"toRdd","calib":$calibJson,""" +
      s""""total_norm":${r3(total / factor)},""" +
      s""""polluted":$pollutedList,"n_failed":${failed.size},""" +
      s""""queries":$qs,"sf":"$sfDir"}"""
    try Files.writeString(Paths.get(linePath), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] line write failed: ${e.getMessage}") }
    println(line)
    // r17 measurement-contract fix: at 196 queries the full line above is
    // ~4 KB and overflows the driver's ~2000-char stdout tail — PERF has
    // had null totals since r10. The LAST stdout line is therefore a
    // compact summary (~350 chars, the full per-query map stays in the
    // line above and in BENCH_LINE.json / BENCH_DETAIL.json) so the tail
    // always ends with one complete, parseable JSON object.
    val compact = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""action":"toRdd","n_queries":${results.size},""" +
      s""""calib":$calibJson,"total_norm":${r3(total / factor)},""" +
      s""""polluted":$pollutedList,"n_failed":${failed.size},""" +
      s""""detail":"$detailPath","sf":"$sfDir"}"""
    println(compact)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
