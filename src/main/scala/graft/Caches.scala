package graft

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Registry for persisted intermediates inside operators.
  *
  * Several operators persist a shared subtree (the LSH bucket relation,
  * a per-doc fingerprint set, an existing-dim snapshot) because the
  * returned plan consumes it from two or more branches. The operator
  * cannot unpersist before returning — the consumer has not executed
  * yet — so in a long-lived session those blocks would accumulate and
  * put every later query under GC/eviction pressure (measured: an
  * 18s wall-time on a ~1s query once the whole dedup family's caches
  * were resident, BENCH r2).
  *
  * The contract: operators persist through [[persistTracked]]; hosts
  * (Bench, Verify, the CLI, any long-lived session) call [[releaseAll]]
  * once the results of the previous operator have been materialized.
  * Unpersisting an already-unpersisted Dataset is a no-op, so iterative
  * operators may still unpersist superseded steps eagerly themselves.
  */
object Caches {
  private val tracked = mutable.ArrayBuffer.empty[Dataset[_]]
  private val releaseHooks = mutable.ArrayBuffer.empty[() => Unit]

  /** Register a callback to run at every [[releaseAll]] — for operator
    * objects holding per-JVM memos whose validity is tied to the same
    * "results of the previous operator are materialized" epoch as the
    * tracked caches: Dedup's doubled-corpus shift, and Graph's shared
    * edge relation (a [[persistTracked]] handle, so it must die with
    * its blocks). Hooks are permanent (registered once from an object
    * initializer). */
  def onRelease(hook: () => Unit): Unit = synchronized { releaseHooks += hook }

  /** Persist MEMORY_AND_DISK and remember the handle for [[releaseAll]]. */
  def persistTracked[T](ds: Dataset[T]): Dataset[T] = synchronized {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    tracked += ds
    ds
  }

  /** Unpersist every tracked handle, forget them, and fire the release
    * hooks. Non-blocking by default (a long-lived session doesn't want
    * to stall on block removal); benchmark hosts pass `blocking = true`
    * so each timed entry starts from a deterministic storage state —
    * lingering async-freed blocks otherwise make an entry's memory
    * pressure depend on which query ran before it. */
  def releaseAll(blocking: Boolean = false): Unit = synchronized {
    tracked.foreach { ds =>
      try ds.unpersist(blocking) catch { case _: Throwable => () }
    }
    tracked.clear()
    releaseHooks.foreach { h =>
      try h() catch { case _: Throwable => () }
    }
  }
}
