package graft.util

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
  *   - one job group shared by every unit of the call;
  *   - on the first failure the group is cancelled, so sibling Spark
  *     jobs still running stop instead of burning executors, the pool is
  *     interrupted, and that failure is rethrown.
  *
  * `setJobGroup` is thread-local, so tagging happens inside each unit;
  * because pool threads are fresh per call, no group leaks across calls.
  */
object Concurrency {
  def runConcurrently[A, B](items: Seq[A])(work: A => B): Seq[B] = {
    if (items.isEmpty) return Nil
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(items.size, 8))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val group = "graft-conc-" + java.lang.Long.toHexString(System.nanoTime())
    try Await.result(Future.sequence(items.map(i => Future {
      sc.foreach(_.setJobGroup(group, "graft concurrent unit",
        interruptOnCancel = true))
      work(i)
    })), Duration.Inf)
    catch { case e: Throwable =>
      sc.foreach(_.cancelJobGroup(group))
      pool.shutdownNow()
      throw e
    }
    finally pool.shutdown()
  }
}
