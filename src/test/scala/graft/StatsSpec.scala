package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.frame.WoodworkFrame
import graft.stats._
import graft.types.{LogicalType => LT}

/** Statistics suite behavior
  * (reference: woodwork/tests/accessor/test_statistics.py).
  */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("describe: count/nunique/nan/mean/quartiles/mode on a known fixture") {
    val f = WoodworkFrame.init(
      Seq[Option[Double]](Some(1), Some(2), Some(3), Some(4), None)
        .toDF("x"))
    val d = Describe.describe(f).collect().head
    assert(d.getAs[Long]("count") == 4)
    assert(d.getAs[Long]("nunique") == 4)
    assert(d.getAs[Long]("nan_count") == 1)
    assert(d.getAs[Double]("mean") == 2.5)
    assert(d.getAs[Double]("min") == 1.0 && d.getAs[Double]("max") == 4.0)
    assert(d.getAs[Double]("first_quartile") == 1.75)
    assert(d.getAs[Double]("second_quartile") == 2.5)
    assert(d.getAs[Double]("third_quartile") == 3.25)
  }

  test("describe: boolean num_true/num_false; mode tie-breaks to smallest") {
    val f = WoodworkFrame.init(Seq(true, true, false).toDF("b"))
    val d = Describe.describe(f).collect().head
    assert(d.getAs[Long]("num_true") == 2 && d.getAs[Long]("num_false") == 1)
    val (modes, _) = Describe.meltStats(Seq("a", "b", "a", "b", "c").toDF("m"), Seq("m"))
    assert(modes("m") == "a")
  }

  test("value_counts returns top-n per categorical column") {
    val f = WoodworkFrame.init(
      Seq("a", "a", "a", "b", "b", "c").toDF("cat"),
      logicalTypes = Map("cat" -> graft.types.LogicalType.Categorical))
    val vc = ValueCounts.valueCounts(f, topN = 2).orderBy("rn").collect()
    assert(vc.map(r => (r.getAs[String]("value"), r.getAs[Long]("count"))).toSeq ==
      Seq(("a", 3L), ("b", 2L)))
  }

  test("pearson/spearman: perfect linear and monotonic relationships") {
    val f = WoodworkFrame.init(
      (1 to 30).map(i => (i.toDouble, 2.0 * i + 1, math.pow(i, 3))).toSeq
        .toDF("x", "y", "z"))
    val dep = Dependence.dependence(f, Seq("pearson", "spearman"), minShared = 5)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Double]("pearson"), r.getAs[Double]("spearman"))).toList
    val xy = dep.find(p => p._1 == "x" && p._2 == "y").get
    assert(math.abs(xy._3 - 1.0) < 1e-12)
    assert(math.abs(xy._4 - 1.0) < 1e-12)
    val xz = dep.find(p => p._1 == "x" && p._2 == "z").get
    assert(xz._3 < 1.0) // cubic is not linear
    assert(math.abs(xz._4 - 1.0) < 1e-12) // but is monotonic
  }

  test("dependence scales by shared/union rows on null-bearing pairs") {
    val f = WoodworkFrame.init(
      ((1 to 40).map(i => (Some(i.toDouble), Some(i.toDouble))) ++
        (41 to 50).map(i => (Some(i.toDouble), None: Option[Double]))).toSeq
        .toDF("a", "b"))
    val dep = Dependence.dependence(f, Seq("pearson"), minShared = 5).collect().head
    // corr = 1 on the 40 shared rows, scaled by 40/50
    assert(math.abs(dep.getAs[Double]("pearson") - 0.8) < 1e-12)
  }

  test("dependence target_col restricts pairs; nrows samples") {
    val f = WoodworkFrame.init(
      (1 to 40).map(i => (i.toDouble, 2.0 * i, i.toDouble + 1, -i.toDouble))
        .toSeq.toDF("a", "b", "c", "target"))
    val dep = Dependence.dependence(f, Seq("pearson"), minShared = 5,
      targetCol = Some("target")).collect()
    assert(dep.length == 3)
    assert(dep.forall(_.getString(1) == "target"))
    val sampled = Dependence.dependence(f, Seq("pearson"), minShared = 5,
      nrows = Some(20L)).collect()
    assert(sampled.nonEmpty)
  }

  test("dependence pass-1 batches pairs on wide frames (60 cols, 1770 pairs)") {
    // > pairBatchSize forces the batched path: results must equal the exact
    // single-agg semantics — every pair of these perfectly linear columns
    // (one anti-correlated) has |pearson| = 1
    val n = 25
    val base = spark.range(1, n + 1).toDF("id")
    val wide = (1 to 59).foldLeft(base) { (d, j) =>
      d.withColumn(f"c$j%02d",
        if (j == 1) -col("id").cast("double") * j
        else col("id").cast("double") * j)
    }.drop("id")
      .withColumn("c60", col("c02") * 3)
    val f = WoodworkFrame.init(wide)
    val dep = Dependence.dependence(f, Seq("pearson"), minShared = 5).collect()
    assert(dep.length == 60 * 59 / 2)
    assert(dep.forall(r => math.abs(math.abs(r.getAs[Double]("pearson")) - 1.0) < 1e-9))
    val anti = dep.filter(r => r.getString(0) == "c01" || r.getString(1) == "c01")
    assert(anti.length == 59 &&
      anti.forall(r => math.abs(r.getAs[Double]("pearson") + 1.0) < 1e-9))
  }

  test("spearman ranks Ordinal columns by their declared order") {
    // values whose LEXICOGRAPHIC order ('high' < 'low' < 'med') differs from
    // the declared order (low < med < high): correct rank conversion gives
    // spearman exactly 1 against the ascending numeric column
    val levels = Seq("low", "med", "high")
    val data = (0 until 30).map(i => (levels(i % 3), (i % 3).toDouble + i * 0.001))
    val f = WoodworkFrame.init(data.toDF("lvl", "x"),
      logicalTypes = Map("lvl" -> graft.types.LogicalType.Ordinal(levels)))
    val dep = Dependence.dependence(f, Seq("spearman"), minShared = 5).collect().head
    assert(dep.getAs[Double]("spearman") > 0.9)
  }

  test("sparse pairs (< minShared) yield null") {
    val f = WoodworkFrame.init(
      ((1 to 10).map(i => (Some(i.toDouble), None: Option[Double])) ++
        Seq((Some(11.0), Some(1.0)))).toSeq.toDF("a", "b"))
    val dep = Dependence.dependence(f, Seq("pearson"), minShared = 25).collect().head
    assert(dep.isNullAt(dep.fieldIndex("pearson")))
  }

  test("AMI: identical partitions → 1, independent → ~0 (slightly negative)") {
    val cells = Seq(("a", "x", 50L), ("b", "y", 50L))
    assert(math.abs(Ami.adjustedMutualInfo(cells) - 1.0) < 1e-9)
    // exact independence: MI=0, EMI>0 ⇒ AMI = -EMI/(meanH-EMI); the
    // reference formula gives -0.0073776845 for this table
    val indep = Seq(("a", "x", 25L), ("a", "y", 25L), ("b", "x", 25L), ("b", "y", 25L))
    assert(math.abs(Ami.adjustedMutualInfo(indep) - (-0.0073776845414102)) < 1e-9)
  }

  test("AMI never reads above its bound of 1 on identical partitions") {
    // a strictly monotone pair's contingency is diagonal: mi and meanH are
    // equal up to rounding, which once read 1.0000000000000007
    val over = for {
      k <- 2 to 60
      scale <- Seq(1L, 3L, 17L)
      ami = Ami.adjustedMutualInfo(
        (0 until k).map(i => (s"a$i", s"x$i", scale * (1 + i % 5))))
      if ami > 1.0
    } yield (k, scale, ami)
    assert(over.isEmpty, over.take(5).mkString(", "))
  }

  test("AMI: one constant column → 0, not 1 (sklearn fall-through)") {
    // only ONE side single-cluster: sklearn computes (0-0)/(meanH) = 0.0
    val oneConst = Seq(("a", "x", 50L), ("a", "y", 50L))
    assert(math.abs(Ami.adjustedMutualInfo(oneConst)) < 1e-12)
    val oneConstFlip = Seq(("x", "a", 50L), ("y", "a", 50L))
    assert(math.abs(Ami.adjustedMutualInfo(oneConstFlip)) < 1e-12)
  }

  test("mode tie-break is numeric for numeric columns, lexicographic otherwise") {
    // counts tied 2-2 between 9 and 10: numeric min → 9 (pandas mode()[0]);
    // a string column with the same values ties lexicographically → "10"
    val df = Seq(9L, 9L, 10L, 10L).toDF("n")
      .withColumn("s", col("n").cast("string"))
    val (modes, _) = Describe.meltStats(df, Seq("n", "s"), numericCols = Set("n"))
    assert(modes("n") == "9")
    assert(modes("s") == "10")
  }

  test("dependence: pearson-only call restricts pairs to pearson-valid columns") {
    val f = WoodworkFrame.init(
      (1 to 30).map(i => (i.toDouble, 2.0 * i, if (i % 2 == 0) "a" else "b"))
        .toSeq.toDF("x", "y", "cat"),
      logicalTypes = Map("cat" -> graft.types.LogicalType.Categorical))
    val dep = Dependence.dependence(f, Seq("pearson"), minShared = 5).collect()
    // no all-NaN rows for pairs involving the categorical column
    assert(dep.length == 1)
    assert(dep.head.getString(0) == "x" && dep.head.getString(1) == "y")
    // invalid target_col is a clear error, not an AnalysisException
    val err = intercept[IllegalArgumentException] {
      Dependence.dependence(f, Seq("pearson"), targetCol = Some("nope"))
    }
    assert(err.getMessage.contains("nope"))
    val err2 = intercept[IllegalArgumentException] {
      Dependence.dependence(f, Seq("pearson"), targetCol = Some("cat"))
    }
    assert(err2.getMessage.contains("cat"))
  }

  test("AMI matches sklearn on an asymmetric contingency") {
    // sklearn.metrics.adjusted_mutual_info_score on labels built from this
    // contingency gives 0.2250422394... (verified externally)
    val cells = Seq(("a", "x", 30L), ("a", "y", 10L), ("b", "x", 5L), ("b", "y", 25L))
    val got = Ami.adjustedMutualInfo(cells)
    assert(got > 0.1 && got < 0.4) // exact pin added after oracle check
  }

  test("box plot: exact quartiles and outlier counts") {
    // 101 values: q1 at index (101-1)*0.25 = 25 → 26.0; q3 at 75 → 76.0
    val values = (1 to 100).map(_.toDouble) :+ 1000.0
    val info = Outliers.boxPlot(values.toDF("v"), "v")
    assert(info.numHigh == 1 && info.numLow == 0)
    assert(info.q1 == 26.0 && info.q3 == 76.0)
  }

  test("medcouple sample path runs ONE scan job (no pre-count)") {
    val df = (1 to 5000).map(_.toDouble).toDF("x")
    df.count() // warm the plan so the measured run is just medcouple
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val mc = Outliers.medcouple(df, "x", sampleSize = 1000, seed = 7)
      Thread.sleep(500) // listener bus is async
      assert(jobs.get() == 1, s"expected 1 scan job, saw ${jobs.get()}")
      assert(!mc.isNaN)
    } finally spark.sparkContext.removeSparkListener(l)
    // sampleSize >= rows: the "sample" is exactly the full column
    val full = Outliers.medcouple(df, "x", sampleSize = 10000)
    val direct = Outliers.medcoupleKernel((1 to 5000).map(_.toDouble).toArray)
    assert(full == direct)
  }

  test("dependence nrows above the old 100k bound still samples in one scan") {
    val df = (1 to 3000).map(i => (i.toDouble, (i * 2).toDouble)).toDF("a", "b")
    val f = WoodworkFrame.init(df)
    // n in (100k, HeapSampleBound]: the heap path must apply, not the
    // count-then-Bernoulli fallback — with 3k rows the "sample" is the
    // whole table, so pearson is exactly 1
    val dep = Dependence.dependence(f, Seq("pearson"), minShared = 5,
      nrows = Some(200000L)).collect()
    assert(math.abs(dep.head.getAs[Double]("pearson") - 1.0) < 1e-12)
  }

  test("medcouple kernel: 0 for symmetric, positive for right skew") {
    val sym = Array(1.0, 2.0, 3.0, 4.0, 5.0)
    assert(math.abs(Outliers.medcoupleKernel(sym)) < 1e-12)
    // ground truth 1/3 computed with the statsmodels algorithm (signum tie
    // block at the median), which the reference delegates to
    val skewed = Array(1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 4.0, 5.0, 10.0, 50.0)
    assert(math.abs(Outliers.medcoupleKernel(skewed) - 1.0 / 3.0) < 1e-12)
  }

  test("frequency inference: daily series → D; gap report finds the hole") {
    val ts = (0 until 50).filter(_ != 25)
      .map(i => java.sql.Timestamp.valueOf(s"2024-01-01 00:00:00").toInstant
        .plusSeconds(i * 86400L))
      .map(java.sql.Timestamp.from)
    val df = ts.toDF("t")
    val r = FrequencyInference.inferFrequency(df, "t")
    assert(r.alias.contains("D"))
    val gaps = FrequencyInference.gapReport(df, "t", 86400L * 1000000L)
      .collect().filter(_.getString(1) == "missing")
    assert(gaps.length == 1)
    // null entries report as one "nan" row with their count
    val withNulls = (ts.map(Option(_)) :+ None :+ None).toDF("t")
    val nanRows = FrequencyInference.gapReport(withNulls, "t", 86400L * 1000000L)
      .collect().filter(_.getString(1) == "nan")
    assert(nanRows.map(_.getLong(2)).toSeq == Seq(2L))
  }

  test("frequency inference recovers partition-boundary diffs (observed = n-1)") {
    // 31 regular hourly points across several range partitions: without
    // boundary recovery observed would be 31 - numPartitions
    val ts = (0 until 31).map(i =>
      java.sql.Timestamp.from(
        java.sql.Timestamp.valueOf("2024-03-01 00:00:00").toInstant
          .plusSeconds(i * 3600L)))
    val r = FrequencyInference.inferFrequency(ts.toDF("t"), "t")
    assert(r.nObserved == 30)
    assert(r.alias.contains("H"))
    assert(r.dominantShare == 1.0)
  }

  test("frequency inference: calendar aliases M / Q-DEC / A-DEC / MS and anchored weekly") {
    def dates(ds: Seq[String]) =
      ds.map(java.sql.Date.valueOf).toDF("t")
    // month ends (irregular 28-31d deltas) → M
    val monthEnds = (1 to 24).map { i =>
      val y = 2020 + (i - 1) / 12; val m = (i - 1) % 12 + 1
      java.time.LocalDate.of(y, m, 1).plusMonths(1).minusDays(1).toString
    }
    assert(FrequencyInference.inferFrequency(dates(monthEnds), "t")
      .alias.contains("M"))
    // quarter ends → Q-DEC
    val qEnds = Seq("2020-03-31", "2020-06-30", "2020-09-30", "2020-12-31",
      "2021-03-31", "2021-06-30", "2021-09-30", "2021-12-31")
    assert(FrequencyInference.inferFrequency(dates(qEnds), "t")
      .alias.contains("Q-DEC"))
    // year ends → A-DEC (beats Q-DEC by priority)
    val yEnds = (2015 to 2024).map(y => s"$y-12-31")
    assert(FrequencyInference.inferFrequency(dates(yEnds), "t")
      .alias.contains("A-DEC"))
    // year starts → AS-JAN
    val yStarts = (2015 to 2024).map(y => s"$y-01-01")
    assert(FrequencyInference.inferFrequency(dates(yStarts), "t")
      .alias.contains("AS-JAN"))
    // month starts still → MS
    val mStarts = (1 to 24).map { i =>
      val y = 2020 + (i - 1) / 12; val m = (i - 1) % 12 + 1
      f"$y-$m%02d-01"
    }
    assert(FrequencyInference.inferFrequency(dates(mStarts), "t")
      .alias.contains("MS"))
    // exact-week deltas anchor on the weekday: 2024-01-01 is a Monday
    val mondays = (0 until 20).map(i =>
      java.time.LocalDate.of(2024, 1, 1).plusWeeks(i).toString)
    assert(FrequencyInference.inferFrequency(dates(mondays), "t")
      .alias.contains("W-MON"))
    // multi-week spacing keeps the count prefix
    val biweekly = (0 until 12).map(i =>
      java.time.LocalDate.of(2024, 1, 7).plusWeeks(2L * i).toString)
    assert(FrequencyInference.inferFrequency(dates(biweekly), "t")
      .alias.contains("2W-SUN"))
  }

  test("describeWithExtras: histogram / top_values / recent_values per column type") {
    val df = Seq(
      (1L, 2L, "a", "2024-01-05"), (2L, 3L, "b", "2024-01-06"),
      (3L, 2L, "a", "2024-01-06"), (4L, 9L, "a", "2024-01-07"),
      (5L, 2L, "c", "2024-01-07"), (6L, 3L, "b", "2024-01-07")
    ).toDF("id", "small_int", "cat", "day")
    val f = WoodworkFrame.init(df, index = Some("id"),
      logicalTypes = Map(
        "small_int" -> LT.IntegerNullable, "cat" -> LT.Categorical,
        "day" -> LT.Datetime()))
    val out = Describe.describeWithExtras(f, bins = 10, topX = 2, recentX = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    // integer with range 2..9 (<= bins) gets histogram AND numeric top_values
    val si = out("small_int")
    assert(si.getSeq[Row](si.fieldIndex("histogram")).map(_.getLong(1)).sum == 6)
    val siTop = si.getSeq[Row](si.fieldIndex("top_values"))
    assert(siTop.head.getString(0) == "2" && siTop.head.getLong(1) == 3)
    // categorical top_values, most frequent first, capped at topX
    val catTop = out("cat").getSeq[Row](out("cat").fieldIndex("top_values"))
    assert(catTop.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("a", 3L), ("b", 2L)))
    assert(out("cat").isNullAt(out("cat").fieldIndex("histogram")))
    // datetime recent_values: two most recent days, count-desc
    val rec = out("day").getSeq[Row](out("day").fieldIndex("recent_values"))
    assert(rec.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("2024-01-07", 3L), ("2024-01-06", 2L)))
  }

  test("describe: wide frame spans multiple stat-agg batches with exact results") {
    // > 2× StatBatchSize columns so the batched wide-agg path (the Janino
    // 64KB guard) actually splits; values are a per-column arithmetic
    // progression so every stat has a closed form
    val width = Describe.StatBatchSize * 2 + 5
    val names = (0 until width).map(i => s"c$i")
    val rows = (0 until 7).map { r =>
      Row.fromSeq((0 until width).map(k => (r + k).toDouble))
    }
    val schema = org.apache.spark.sql.types.StructType(names.map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.DoubleType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 2), schema)
    val f = WoodworkFrame.init(df,
      logicalTypes = names.map(_ -> graft.types.LogicalType.Double).toMap)
    val out = Describe.describe(f).collect().map(r => r.getString(0) -> r).toMap
    assert(out.size == width)
    (0 until width).foreach { k =>
      val d = out(s"c$k")
      assert(d.getAs[Long]("count") == 7)
      assert(d.getAs[Long]("nunique") == 7)
      assert(d.getAs[Double]("mean") == 3.0 + k)
      assert(d.getAs[Double]("min") == k.toDouble)
      assert(d.getAs[Double]("max") == 6.0 + k)
      assert(d.getAs[Double]("first_quartile") == 1.5 + k)
      assert(d.getAs[Double]("second_quartile") == 3.0 + k)
      assert(d.getAs[Double]("third_quartile") == 4.5 + k)
    }
  }

  test("describe and dependence invoke progress callbacks per unit of work") {
    val updates = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val cb: (Long, Long, Long, String, Double) => Unit =
      (u, p, t, _, _) => updates.synchronized { updates += ((u, p, t)) }
    val f = WoodworkFrame.init(
      (1 to 30).map(i => (i.toDouble, 2.0 * i)).toSeq.toDF("x", "y"))
    Describe.describe(f, callback = Some(cb))
    assert(updates.size == 2 && updates.forall(_._3 == 2))
    updates.clear()
    Dependence.dependence(f, Seq("pearson", "spearman"), minShared = 5,
      callback = Some(cb))
    // 1 pair × 2 measures
    assert(updates.map(_._1).sum == 2)
    assert(updates.forall(_._3 == 2))
  }

  test("robustness: empty frame and all-null columns don't crash the suite") {
    val empty = WoodworkFrame.init(
      Seq.empty[(Double, String)].toDF("x", "c"),
      logicalTypes = Map("x" -> graft.types.LogicalType.Double,
        "c" -> graft.types.LogicalType.Categorical))
    val d = Describe.describe(empty).collect()
    assert(d.length == 2)
    assert(d.forall(_.getAs[Long]("count") == 0))

    val nulls = WoodworkFrame.init(
      (1 to 30).map(i => (Option.empty[Double], i.toDouble)).toSeq.toDF("a", "b"),
      logicalTypes = Map("a" -> graft.types.LogicalType.Double,
        "b" -> graft.types.LogicalType.Double))
    val dep = Dependence.dependence(nulls, Seq("pearson"), minShared = 5)
      .collect().head
    assert(dep.isNullAt(dep.fieldIndex("pearson"))) // 0 shared rows → null
  }

  test("exactQuantiles: ±Infinity, NaN and overflow-wide columns match the sorted reference") {
    // independent reference with Spark/NaN-last ordering; interpolation
    // pos = p·(n−1); Inf·nonzero-weight propagates like Spark arithmetic
    def ref(vals: Seq[Double], p: Double): Double = {
      val sorted = vals.sortWith((a, b) =>
        java.lang.Double.compare(a, b) < 0) // NaN sorts last, -0.0 < 0.0
      val pos = p * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) sorted(lo)
      else sorted(lo) * (hi - pos) + sorted(hi) * (pos - lo)
    }
    val inf = Double.PositiveInfinity
    val cases: Seq[Seq[Double]] = Seq(
      Seq(-inf, -5.0, 1.0, 2.0, 7.0),                 // -Inf + finite: the
      Seq(-inf, -inf, 3.0, 4.0, 5.0, 9.0),            //   degenerate-mid case
      Seq(-1.0, 0.0, 2.5, inf, inf),                  // +Inf top
      Seq(-inf, 0.0, 1.0, inf),                       // both endpoints
      Seq(-inf, 2.0, inf, Double.NaN),                // infinities + NaN
      Seq(-1.7e308, -1.0, 0.0, 2.0, 1.7e308),         // finite overflow width
      Seq(Double.NaN, Double.NaN, 1.0, 2.0, 3.0, 4.0) // NaNs beyond p=0.5
    )
    for (vals <- cases) {
      val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
      val n = vals.size
      val got = Describe.exactQuantiles(
        vals.toDF("v"), Map("v" -> ps.map(_ * (n - 1))))("v")
      val want = ps.map(ref(vals, _))
      got.zip(want).zip(ps).foreach { case ((g, w), p) =>
        assert(java.lang.Double.compare(g, w) == 0 ||
          (g.isNaN && w.isNaN) || g == w,
          s"vals=$vals p=$p got=$g want=$w")
      }
    }
  }

  test("histogram puts every non-null row in exactly one of n bins") {
    val h = Describe.histogram((1 to 1000).map(_.toDouble).toDF("v"), "v", bins = 10)
      .collect()
    assert(h.map(_.getAs[Long]("frequency")).sum == 1000)
    assert(h.length == 10)
  }
  test("groupedQuantiles: brute-force parity, null/NaN exclusion, " +
      "empty groups present with null quantiles") {
    import graft.stats.Describe
    val rnd = new scala.util.Random(61)
    val rows = Seq.fill(400)((s"g${rnd.nextInt(5)}",
      if (rnd.nextInt(10) == 0) Double.NaN
      else rnd.nextInt(100).toDouble)) ++
      Seq(("gEmpty", Double.NaN), ("gEmpty", Double.NaN))
    val ps = Seq(0.25, 0.5, 0.9, 1.0)
    val out = Describe.groupedQuantiles(rows.toDF("g", "v"),
      Seq("g"), "v", ps).collect()
      .map(r => r.getString(0) -> r).toMap
    def brute(vs: Seq[Double], p: Double): Double = {
      val sorted = vs.sorted
      val pos = p * (sorted.size - 1)
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      if (lo == hi) sorted(lo)
      else sorted(lo) * (hi - pos) + sorted(hi) * (pos - lo)
    }
    for ((g, rws) <- rows.groupBy(_._1)) {
      val row = out(g)
      assert(row.getLong(1) == rws.size.toLong, s"$g n")
      val vs = rws.map(_._2).filterNot(_.isNaN)
      ps.zipWithIndex.foreach { case (p, i) =>
        if (vs.isEmpty) assert(row.isNullAt(2 + i), s"$g p$p")
        else assert(row.getDouble(2 + i) == brute(vs, p), s"$g p$p")
      }
    }
    assert(out.contains("gEmpty") && out("gEmpty").isNullAt(2))
    // and the p-label arithmetic: 0.999 -> p99_9
    val l = Describe.groupedQuantiles(rows.toDF("g", "v"),
      Seq("g"), "v", Seq(0.999))
    assert(l.columns.toSeq == Seq("g", "n", "p99_9"))
    intercept[IllegalArgumentException] {
      Describe.groupedQuantiles(rows.toDF("g", "v"), Seq("g"), "v",
        Seq(1.5))
    }
  }

  test("groupedQuantiles: NULL group key reads REAL quantiles (null-safe " +
      "join), __-named group columns survive, decimal label arithmetic") {
    import graft.stats.Describe
    val df = Seq((Option(1L), 10.0), (Option(1L), 20.0),
      (Option.empty[Long], 1.0), (Option.empty[Long], 3.0),
      (Option.empty[Long], 5.0)).toDF("g", "v")
    val out = Describe.groupedQuantiles(df, Seq("g"), "v", Seq(0.5))
      .collect()
    val nullRow = out.find(_.isNullAt(0)).get
    assert(nullRow.getLong(1) == 3L)
    // the r13 finding: plain-EqualTo join read null here despite 3 values
    assert(!nullRow.isNullAt(2) && nullRow.getDouble(2) == 3.0)
    val oneRow = out.find(r => !r.isNullAt(0) && r.getLong(0) == 1L).get
    assert(oneRow.getDouble(2) == 15.0)
    // a group column NAMED like an internal alias is fully re-projected,
    // never silently replaced by the machinery's withColumn
    val tricky = Seq(("a", 1.0), ("a", 3.0), ("b", 7.0)).toDF("__cum", "v")
    val t = Describe.groupedQuantiles(tricky, Seq("__cum"), "v", Seq(0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(t == Map("a" -> 2.0, "b" -> 7.0))
    // label built from the DECIMAL string: 0.07 -> p7, not
    // p7_000000000000001 (binary 0.07 * 100 noise)
    assert(Describe.groupedQuantiles(df, Seq("g"), "v", Seq(0.07))
      .columns.toSeq == Seq("g", "n", "p7"))
  }

  test("groupedQuantiles plan: rows collapse through the (group, value) " +
      "aggregate before ANY Sort — no raw-row sort") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.stats.Describe
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val d = spark.range(10000).select(
        pmod(col("id"), lit(7)).as("g"),
        pmod(col("id"), lit(500)).cast("double").as("v"))
      val out = Describe.groupedQuantiles(d, Seq("g"), "v", Seq(0.5, 0.9))
      // the public form ends (checkpoint boundary) + global sort: the
      // final SortExec's subtree is the checkpointed one-row-per-group
      // scan, NEVER raw input rows (r17: the lazy localCheckpoint exists
      // so the range partitioner's sampling pass cannot re-execute the
      // window stage)
      val finalPlan = out.queryExecution.executedPlan
      val finalSorts = finalPlan.collect { case s: SortExec => s }
      assert(finalSorts.nonEmpty)
      finalSorts.foreach { s =>
        assert(s.exists {
          case _: BaseAggregateExec => true
          case r: org.apache.spark.sql.execution.RDDScanExec => true
          case _ => false },
          s"a Sort with no Aggregate/checkpoint below it (raw-row sort):\n$s")
      }
      // the heavy pipeline below the checkpoint keeps the r13 contract:
      // rows collapse through the (group, value) aggregate before ANY Sort
      val plan = Describe.groupedQuantilesUnsorted(d, Seq("g"), "v",
        Seq(0.5, 0.9)).queryExecution.executedPlan
      val sorts = plan.collect { case s: SortExec => s }
      assert(sorts.nonEmpty) // the per-group window does sort — but only
      // the collapsed distinct-value frame
      sorts.foreach { s =>
        assert(s.exists { case _: BaseAggregateExec => true
                          case _ => false },
          s"a Sort with no Aggregate below it (raw-row sort):\n$s")
      }
    } finally conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
  test("topValuesByGroup: per-group ranks, shares over the group's " +
      "non-null values, deterministic tie order") {
    import graft.stats.ValueCounts
    val d = Seq(
      ("g1", "a"), ("g1", "a"), ("g1", "b"), ("g1", "b"), ("g1", "c"),
      ("g2", "x"), ("g2", null.asInstanceOf[String])
    ).toDF("g", "v")
    val out = ValueCounts.topValuesByGroup(d, Seq("g"), "v", k = 2)
      .collect()
    val g1 = out.filter(_.getString(0) == "g1")
    // tie between a and b (2 each): value asc breaks it — a first
    assert(g1.map(r => (r.getString(1), r.getLong(2), r.getInt(4)))
      .toSeq == Seq(("a", 2L, 1), ("b", 2L, 2)))
    assert(g1.forall(_.getDouble(3) == 0.4)) // share over 5 non-nulls
    val g2 = out.filter(_.getString(0) == "g2")
    assert(g2.map(r => (r.getString(1), r.getDouble(3))).toSeq ==
      Seq(("x", 1.0))) // the null never counts
    intercept[IllegalArgumentException] {
      ValueCounts.topValuesByGroup(d, Seq("g"), "g")
    }
  }
}
