package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.frame.WoodworkFrame
import graft.infer.TypeInference
import graft.ops.{Dedup, EventAnalytics, Pipeline, Sampling}
import graft.stats.{Dependence, FrequencyInference}
import graft.util.WorkingSet

/** Working-set lifecycle: every call that materializes frames for its own
  * use leaves `sc.getPersistentRDDs` as it found it. A result that is
  * itself a materialization (an eager local checkpoint) is the one
  * exception, and releasing it restores the starting set.
  *
  * Compared as id sets: the ContextCleaner may drop other suites'
  * leftovers meanwhile, so "no new persisted RDD" is the exact check.
  */
class WorkingSetSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `call`, checks it left nothing new persisted, returns its value. */
  private def leavesNothing[A](call: => A): A = {
    val before = persisted
    val out = call
    assert((persisted -- before).isEmpty)
    out
  }

  /** Runs `call` returning an eager result; checks that the result holds
    * the only new persisted RDD, and that releasing it leaves nothing.
    */
  private def onlyResult(call: => DataFrame): Unit = {
    val before = persisted
    val out = call
    assert((persisted -- before).size == 1)
    WorkingSet.release(out)
    assert((persisted -- before).isEmpty)
  }

  test("a scope whose body throws leaves nothing persisted") {
    val before = persisted
    val df = spark.range(100).toDF("x")
    intercept[IllegalStateException] {
      WorkingSet.scoped { ws =>
        ws.cache(df.where(col("x") > 3)).count()
        ws.checkpoint(df.select((col("x") * 2).as("y")))
        assert((persisted -- before).size == 2)
        throw new IllegalStateException("boom")
      }
    }
    assert((persisted -- before).isEmpty)
  }

  test("release frees a held frame mid-scope; escape hands one out") {
    val before = persisted
    val kept = WorkingSet.scoped { ws =>
      val a = ws.checkpoint(spark.range(10).toDF("x"))
      val b = ws.checkpoint(spark.range(20).toDF("x"))
      ws.release(a)
      assert((persisted -- before).size == 1)
      ws.escape(b)
    }
    assert((persisted -- before).size == 1)
    assert(kept.count() == 20)
    WorkingSet.release(kept)
    assert((persisted -- before).isEmpty)
  }

  test("an input the caller persisted stays persisted (cache and inferTypes)") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5))
      .toDF("id", "cat", "v").cache()
    df.count()
    val before = persisted
    try {
      WorkingSet.scoped(ws => assert(ws.cache(df) eq df))
      val types = TypeInference.inferTypes(df)
      assert(types.keySet == Set("id", "cat", "v"))
      TypeInference.collectStats(df, Seq("v"))
      assert(df.storageLevel != StorageLevel.NONE)
      assert(persisted == before)
    } finally df.unpersist(blocking = true)
  }

  test("dependence: rank tables on the range path and per-pair ranks " +
      "leave nothing persisted") {
    // > 64k distinct values sends both null-free columns down the range
    // path; the null-bearing column sends its pairs down per-pair ranks
    val n = 70000
    val df = spark.range(n).select(col("id").cast("double").as("a"),
      (col("id") * 3 % n).cast("double").as("b"),
      when(col("id") % 7 =!= 0, col("id") % 100).cast("double").as("c"))
    val frame = WoodworkFrame.init(df)
    val out = leavesNothing(Dependence.dependence(frame,
      Seq("spearman", "pearson")).collect())
    assert(out.length == 3)
  }

  test("inferFrequency and inferTypes leave nothing persisted") {
    val df = (0 until 50).map(i => Tuple1(new Timestamp(i * 3600000L)))
      .toDF("t")
    val r = leavesNothing(FrequencyInference.inferFrequency(df, "t"))
    assert(r.alias.contains("H"))
    leavesNothing(TypeInference.inferTypes(df.withColumn("s", lit("x"))))
  }

  test("funnelStepTiming and releaseFunnel leave nothing persisted") {
    def ts(s: Long) = new Timestamp(s * 1000L)
    val evs = Seq((1L, ts(0), "a"), (1L, ts(10), "b"),
      (2L, ts(0), "a"), (2L, ts(20), "b")).toDF("u", "t", "y")
    leavesNothing(EventAnalytics.funnelStepTiming(evs, "u", "t", "y",
      Seq("a", "b")).collect())
    val corpus = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog again"),
      (2L, "web", "the quick brown fox jumps over the lazy dog again"),
      (3L, "books", "an entirely different passage about query planners"))
      .toDF("id", "source", "text")
    val bench = Seq((9L, "an entirely different passage about query planners"))
      .toDF("bid", "btext")
    val stages = leavesNothing(Pipeline.releaseFunnel(corpus, "id", "text",
      "source", bench, "bid", "btext", minWords = 1L).collect())
    assert(stages.length == 6)
  }

  test("iloc, curriculumBins and ngramJaccardPairs leave only their result") {
    val sorted = WoodworkFrame.init(Seq(5, 6, 7).toDF("x").coalesce(1),
      alreadySorted = true)
    onlyResult(sorted.iloc(1).df)
    val scored = (1 to 20).map(i => (i.toLong, i * 0.5)).toDF("id", "score")
    onlyResult(Sampling.curriculumBins(scored, "id", "score", bins = 4))
    val docs = Seq((0L, "a b c d e f g"), (1L, "a b c d e f h"))
      .toDF("doc_id", "text")
    onlyResult(Dedup.ngramJaccardPairs(docs, "doc_id", "text"))
  }
}
