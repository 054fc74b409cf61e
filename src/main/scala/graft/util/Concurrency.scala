package graft.util

import org.apache.spark.{SparkContext, SparkEnv}

/** The one driver-side fan-out: run independent units (each typically
  * one or more eager Spark jobs) concurrently and return their results
  * in input order. Spark schedules concurrent jobs fine, so the latency
  * of k small jobs drops from their sum to about their max.
  *
  * Contract, per call:
  *   - a FRESH pool of at most 8 threads. Fresh threads inherit the
  *     caller's Spark local properties (scheduler pool, job
  *     descriptions, any per-call tags a tracer keys on), which a shared
  *     long-lived pool would not;
  *   - one job tag shared by every unit of the call. A tag, not a job
  *     group: the caller's group stays the group its units' jobs run
  *     under, and a nested call adds its tag to every enclosing call's;
  *   - on the first failure the jobs with the call's tag are cancelled,
  *     so sibling Spark jobs still running stop instead of burning
  *     executors, including jobs of nested calls; the pool is
  *     interrupted, and that failure is rethrown.
  *
  * Job tags are thread-local, so tagging happens inside each unit;
  * because pool threads are fresh per call, no tag leaks across calls.
  * The context is looked up inside each unit and again at cancel time,
  * not once per call, so units still carry the tag when no session
  * existed yet at the call (a unit may create it).
  */
object Concurrency {
  /** The running SparkContext, if any. Sessions may be cleared while the
    * context runs on, so a live `SparkEnv` is the test; `getOrCreate`
    * then returns the running context instead of creating one.
    */
  private def context: Option[SparkContext] =
    Option(SparkEnv.get).map(_ => SparkContext.getOrCreate())

  def runConcurrently[A, B](items: Seq[A])(work: A => B): Seq[B] = {
    if (items.isEmpty) return Nil
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(items.size, 8))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val tag = "graft-conc-" + java.lang.Long.toHexString(System.nanoTime())
    try Await.result(Future.sequence(items.map(i => Future {
      context.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
      work(i)
    })), Duration.Inf)
    catch { case e: Throwable =>
      context.foreach(_.cancelJobsWithTag(tag))
      pool.shutdownNow()
      throw e
    }
    finally pool.shutdown()
  }

  /** Two units whose results differ in type, as one [[runConcurrently]]
    * call.
    */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = runConcurrently(Seq[() => Any](() => a, () => b))(_())
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }
}
