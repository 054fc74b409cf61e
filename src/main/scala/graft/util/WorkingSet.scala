package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of the frames a call materializes for its own use: the
  * only place in `src/main` that persists or unpersists.
  *
  * {{{
  * WorkingSet.scoped { ws =>
  *   val prep = ws.cache(df.select(...))      // read by several jobs
  *   val edges = ws.checkpoint(pairs)          // eager localCheckpoint
  *   ...
  *   ws.release(edges)                         // superseded mid-call
  *   result          // driver values, or a frame that reads nothing held
  * }
  * }}}
  *
  * When the scope exits, on any path, it releases every frame it still
  * holds, newest first. Release blocks until the blocks are gone, for
  * cached and checkpointed frames alike, so a call's storage is free
  * before its caller's next job starts (a non-blocking release measured
  * slower on the `curate` benchmark workload).
  *
  * An input the caller already persisted is theirs: `cache` returns it
  * unchanged and the scope never releases it.
  *
  * Registration is thread-safe: units of a
  * [[Concurrency.runConcurrently]] fan-out may share one scope.
  */
final class WorkingSet private () {
  private var held: List[(DataFrame, () => Unit)] = Nil

  private def hold(df: DataFrame, free: () => Unit): DataFrame =
    synchronized { held ::= df -> free; df }

  /** Removes the held frames matching `p`; returns their release thunks,
    * newest first.
    */
  private def take(p: DataFrame => Boolean): List[() => Unit] =
    synchronized {
      val (mine, rest) = held.partition(e => p(e._1))
      held = rest
      mine.map(_._2)
    }

  /** `df` persisted (MEMORY_AND_DISK) until the scope releases it; `df`
    * itself, not held, when the caller already persisted its plan.
    */
  def cache(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else hold(df.cache(), () => df.unpersist(blocking = true))

  /** An eager local checkpoint of `df` (its lineage truncated), held
    * until the scope releases it.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = true)
    hold(cp, () => WorkingSet.release(cp))
  }

  /** Releases `df` now, a frame this scope holds and the call no longer
    * reads. A frame the scope does not hold is left alone.
    */
  def release(df: DataFrame): Unit = take(_ eq df).foreach(_())

  /** Stops holding `df` and returns it: `df` leaves the call as its
    * result, so the scope exit does not release it.
    */
  def escape(df: DataFrame): DataFrame = { take(_ eq df); df }

  private def close(): Unit = take(_ => true).foreach(_())
}

object WorkingSet {
  def scoped[A](body: WorkingSet => A): A = {
    val ws = new WorkingSet
    try body(ws) finally ws.close()
  }

  /** Drops the blocks of every local checkpoint `df`'s plan reads. A
    * checkpointed frame's plan is a `LogicalRDD` over the persisted RDD,
    * which otherwise outlives its last reader until the ContextCleaner
    * collects it.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = true)
      case _ =>
    }
}
