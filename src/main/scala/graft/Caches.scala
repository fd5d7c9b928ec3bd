package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Per-thread buffer of persisted intermediates inside operators.
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
  * The contract: operators persist through [[persistTracked]]; the
  * thread that ran a query calls [[releaseAll]] once its results are
  * materialized. The buffer is thread-local, so a release unpersists
  * only the calling thread's handles: two queries on one session, each
  * on its own thread, never release each other's blocks. Unpersisting
  * an already-unpersisted Dataset is a no-op, so iterative operators
  * may still unpersist superseded steps eagerly themselves.
  */
object Caches {
  private val tracked =
    ThreadLocal.withInitial[mutable.ArrayBuffer[Dataset[_]]](() => mutable.ArrayBuffer.empty)

  /** Persist MEMORY_AND_DISK and remember the handle for this thread's
    * [[releaseAll]]. */
  def persistTracked[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    tracked.get += ds
    ds
  }

  /** Unpersist every handle this thread tracked and forget them.
    * Non-blocking by default (a long-lived session doesn't want to
    * stall on block removal); benchmark hosts pass `blocking = true`
    * so each timed entry starts from a deterministic storage state —
    * lingering async-freed blocks otherwise make an entry's memory
    * pressure depend on which query ran before it. A fatal error (OOM,
    * interrupt) propagates; the handles stay tracked for a retry. */
  def releaseAll(blocking: Boolean = false): Unit = {
    val mine = tracked.get
    mine.foreach { ds =>
      try ds.unpersist(blocking) catch { case NonFatal(_) => () }
    }
    mine.clear()
  }
}
