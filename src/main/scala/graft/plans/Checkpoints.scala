package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.GraftShims.{Checkpoint, Ride}

/** Tracks the measured-statistics checkpoints (see [[GraftShims.checkpoint]]) an
  * iterative algorithm creates, so superseded superstep states can be
  * unpersisted promptly and everything else released when the algorithm
  * finishes — the cache-discipline half of SURVEY.md §4(c).
  *
  * Usage: `checkpoint(df, rides*)` to materialize (the row count and the
  * rides come back with the frame), `release(df)` when a state is
  * superseded, `closeExcept(result)` at the end (the returned result's
  * blocks must outlive the arena).
  */
final class CheckpointArena {
  private val backing = new java.util.IdentityHashMap[DataFrame, RDD[_]]()

  def checkpoint(df: DataFrame, rides: Ride*): Checkpoint = {
    val ck = GraftShims.checkpoint(df, rides)
    backing.put(ck.df, ck.handle)
    ck
  }

  /** Whether `df` is a checkpoint this arena made and still holds. */
  def holds(df: DataFrame): Boolean = backing.containsKey(df)

  /** Unpersist the blocks behind a superseded state (no-op for unknown). */
  def release(df: DataFrame): Unit = {
    val rdd = backing.remove(df)
    if (rdd != null) rdd.unpersist(blocking = false)
  }

  /** Unpersist everything this arena still tracks except `keep`. */
  def closeExcept(keep: DataFrame*): Unit = {
    val keepSet = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())
    keep.foreach(keepSet.add)
    val it = backing.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (!keepSet.contains(e.getKey)) {
        e.getValue.unpersist(blocking = false)
        it.remove()
      }
    }
  }
}
