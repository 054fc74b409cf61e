package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.util.Concurrency.runConcurrently

/** The driver-side fan-out contract: ordered results, fail-fast with
  * sibling-job cancellation, and per-call threads that inherit the
  * caller's Spark local properties.
  */
class ConcurrencySpec extends SparkSpec {
  // the fan-out looks up the session when called, so create it first
  private lazy val sc = spark.sparkContext

  test("results come back in input order when units finish out of order") {
    val finished = new ConcurrentLinkedQueue[Int]()
    val items = Seq(4, 3, 2, 1)
    val out = runConcurrently(items) { i =>
      Thread.sleep(i * 150L)
      finished.add(i)
      s"unit-$i"
    }
    assert(out == items.map(i => s"unit-$i"))
    assert(finished.asScala.toSeq == items.reverse,
      "the units should have finished in reverse input order")
    assert(runConcurrently(Seq.empty[Int])(identity).isEmpty)
  }

  test("a failing unit rethrows and cancels its sibling Spark jobs") {
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      runConcurrently(Seq(0, 1)) {
        case 0 =>
          // fail only once the sibling's job is running
          val deadline = System.nanoTime() + 20000000000L
          while (sc.statusTracker.getActiveJobIds.isEmpty &&
              System.nanoTime() < deadline) Thread.sleep(20)
          throw new IllegalStateException("unit 0 failed")
        case _ =>
          sc.parallelize(1 to 4, 4).map { i => Thread.sleep(60000); i }
            .count()
      }
    }
    assert(e.getMessage == "unit 0 failed")
    // cancellation is asynchronous: the cancelled job leaves the tracker
    // within moments, far before its 60 s tasks could finish
    val deadline = System.nanoTime() + 20000000000L
    while (sc.statusTracker.getActiveJobIds.nonEmpty &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert((System.nanoTime() - t0) / 1e9 < 45.0)
  }

  test("a caller's job group is the group its units' jobs run under") {
    sc.setJobGroup("user-group", "caller group")
    try {
      assert(runConcurrently(1 to 3)(_ =>
        sc.getLocalProperty("spark.jobGroup.id")) == Seq.fill(3)("user-group"))
    } finally sc.clearJobGroup()
  }

  test("a failing unit cancels the running job of a nested call") {
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    val e = intercept[IllegalStateException] {
      runConcurrently(Seq(0, 1)) {
        case 0 =>
          val deadline = System.nanoTime() + 20000000000L
          while (sc.statusTracker.getActiveJobIds.isEmpty &&
              System.nanoTime() < deadline) Thread.sleep(20)
          throw new IllegalStateException("outer unit failed")
        case _ =>
          // the nested call runs on a thread this unit starts, which the
          // outer pool's interrupt never reaches: only a cancel keyed on
          // the outer call stops its job
          val t = new Thread(() =>
            try runConcurrently(Seq(0)) { _ =>
              sc.parallelize(1 to 4, 4).map { i => Thread.sleep(60000); i }
                .count()
            } catch { case _: Exception => () })
          t.start()
          t.join()
      }
    }
    assert(e.getMessage == "outer unit failed")
    val deadline = System.nanoTime() + 5000000000L
    while (sc.statusTracker.getActiveJobIds.nonEmpty &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
  }

  test("units that create the session themselves are still cancelled") {
    import org.apache.spark.sql.SparkSession
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      assert(sc.statusTracker.getActiveJobIds.isEmpty)
      val e = intercept[IllegalStateException] {
        runConcurrently(Seq(0, 1)) { i =>
          val s = SparkSession.builder().getOrCreate()
          if (i == 0) {
            val deadline = System.nanoTime() + 20000000000L
            while (s.sparkContext.statusTracker.getActiveJobIds.isEmpty &&
                System.nanoTime() < deadline) Thread.sleep(20)
            throw new IllegalStateException("unit 0 failed")
          }
          // the interrupt alone does not stop a running job; the cancel
          // by tag does, which needs the tag on this unit's job
          val t = new Thread(() =>
            try s.sparkContext.parallelize(1 to 4, 4)
              .map { x => Thread.sleep(60000); x }.count()
            catch { case _: Exception => () })
          t.start()
          t.join()
        }
      }
      assert(e.getMessage == "unit 0 failed")
      val deadline = System.nanoTime() + 5000000000L
      while (sc.statusTracker.getActiveJobIds.nonEmpty &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(sc.statusTracker.getActiveJobIds.isEmpty)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      default.foreach(SparkSession.setDefaultSession)
      active.foreach(SparkSession.setActiveSession)
    }
  }

  test("a local property set on the caller thread is visible inside units") {
    val key = "graft.spec.layer"
    sc.setLocalProperty(key, "caller")
    try {
      assert(runConcurrently(1 to 3)(_ => sc.getLocalProperty(key)) ==
        Seq("caller", "caller", "caller"))
    } finally sc.setLocalProperty(key, null)
  }
}
