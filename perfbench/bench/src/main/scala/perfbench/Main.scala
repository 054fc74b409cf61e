package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark process: set up, then passes of one workload.
  *
  * `--mode setup` stops once set-up is done and prints `PERFBENCH_READY
  * <epoch ns>`. `--mode run` goes on: the first pass, timed passes for
  * `--seconds` (at least `MinTimedPasses`), and with `--trace 1` one
  * traced pass; it prints
  * `PERFBENCH_RESULT <json>`. `--mode selftest` runs one pass, then feeds
  * every check a deliberately corrupted copy of its output and exits 1
  * unless each check accepts the real output and rejects every corruption.
  */
object Main {
  /** Task slots: fewer than the cores, leaving room for the driver. */
  val Slots = 2
  /** A fixed count: as a third pass is faster than a second, a count that
    * followed the machine's speed would move `pass_s` by itself. */
  val MinTimedPasses = 2

  final case class Pass(seconds: Double, attempted: Int, failed: Int,
                        checkFailed: Int, messages: Seq[String],
                        outputs: Seq[(String, Rows, Double)]) {
    def opSeconds: String = outputs.map(o => f"${o._1}=${o._3}%.3f").mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val status = try {
      val work = Paths.get(opts("work"))
      val spark = session(work)
      val w = Workload.open(opts("workload"), spark, Paths.get(opts("inputs")), work)
      val ready = epochNs()
      try opts.getOrElse("mode", "run") match {
        case "setup" => println(s"PERFBENCH_READY $ready"); 0
        case "run" => run(spark, w, ready, opts("seconds").toDouble, opts("trace") == "1"); 0
        case "selftest" => selftest(w)
        case other => sys.error(s"unknown mode '$other'")
      } finally spark.stop()
    } catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.exit(status)
  }

  def epochNs(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000000L + t.getNano
  }

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Slots.toLong)
      .config("spark.default.parallelism", Slots.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One pass: every call timed alone, then checked outside the timing. A
    * call that throws or fails its check counts as failed and its time is
    * left out of the pass's seconds.
    */
  def pass(w: Workload, trace: Option[Trace] = None): Pass = {
    val ops = w.ops()
    val outputs = mutable.ArrayBuffer.empty[(String, Rows, Double)]
    val messages = mutable.ArrayBuffer.empty[String]
    var failed = 0
    ops.foreach { op =>
      val t0 = System.nanoTime()
      try {
        val out = trace.fold(op.run())(_.layer(op.layer)(op.run()))
        outputs += ((op.name, out, (System.nanoTime() - t0) / 1e9))
      } catch { case NonFatal(e) =>
        failed += 1
        messages += s"${op.name} threw $e"
      }
    }
    var seconds = 0.0
    var checkFailed = 0
    outputs.foreach { case (name, out, s) =>
      val errs = w.check(name, out)
      if (errs.isEmpty) seconds += s
      else {
        checkFailed += 1
        messages ++= errs.take(5).map(m => s"$name: $m")
      }
    }
    Pass(seconds, ops.size, failed + checkFailed, checkFailed, messages.toSeq,
      outputs.toSeq)
  }

  def run(spark: SparkSession, w: Workload, ready: Long, seconds: Double,
          traced: Boolean): Unit = {
    val all = mutable.ArrayBuffer.empty[Pass]
    def go(): Pass = { val p = pass(w); all += p; p }
    val first = go()
    val timed = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (timed.size < MinTimedPasses || System.nanoTime() - t0 < seconds * 1e9) timed += go()
    val layers = if (!traced) Map.empty[String, Double] else {
      val t = new Trace(spark, Slots)
      t.measure { all += pass(w, Some(t)) }
    }
    println(s"first pass calls (s): ${first.opSeconds}")
    println(s"last timed pass calls (s): ${timed.last.opSeconds}")
    def nums(xs: Iterable[Double]) = xs.mkString("[", ",", "]")
    val json = Seq(
      s""""ready_ns":$ready""",
      s""""first_pass_s":${first.seconds}""",
      s""""pass_s":${nums(timed.map(_.seconds))}""",
      s""""attempted":${all.map(_.attempted).sum}""",
      s""""failed":${all.map(_.failed).sum}""",
      s""""check_failed":${all.map(_.checkFailed).sum}""",
      s""""messages":${all.flatMap(_.messages).distinct.take(20).map(quote).mkString("[", ",", "]")}""",
      s""""layers":${layers.toSeq.sorted.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")}""")
    println(s"PERFBENCH_RESULT ${json.mkString("{", ",", "}")}")
  }

  def selftest(w: Workload): Int = {
    val p = pass(w)
    var bad = 0
    def report(ok: Boolean, line: String): Unit = {
      if (!ok) bad += 1
      println(s"${if (ok) "ok  " else "FAIL"} $line")
    }
    p.messages.foreach(m => report(ok = false, s"real output: $m"))
    p.outputs.foreach { case (op, out, _) =>
      report(w.check(op, out).isEmpty, s"$op: real output accepted")
      val cs = w.corruptions(op)
      if (cs.isEmpty) report(ok = false, s"$op: no corruption defined")
      cs.foreach { case (name, corrupt) =>
        report(w.check(op, corrupt(out)).nonEmpty, s"$op: rejects $name")
      }
    }
    if (bad == 0) 0 else 1
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
