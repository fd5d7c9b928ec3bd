package graft

import java.util.concurrent.{Callable, ExecutorService, Executors, Future}

import org.apache.spark.storage.StorageLevel

/** Lifecycle of operator-persisted intermediates: the per-thread buffer
  * that keeps one query's caches from bleeding into the next (the BENCH
  * r2 q18 regression class), and a release on one thread never touching
  * another thread's caches. */
class CachesSpec extends SparkSpec {

  /** Run `f` on `pool`'s thread; `get()` the result to wait for it. */
  private def on[T](pool: ExecutorService)(f: => T): Future[T] =
    pool.submit(new Callable[T] { def call(): T = f })

  private def withThreads[T](n: Int)(body: Seq[ExecutorService] => T): T = {
    val pools = Seq.fill(n)(Executors.newSingleThreadExecutor())
    try body(pools) finally pools.foreach(_.shutdown())
  }

  test("persistTracked caches; releaseAll unpersists every tracked handle") {
    withThreads(1) { case Seq(owner) =>
      val (a, b) = on(owner) {
        val a = Caches.persistTracked(spark.range(100).toDF("x"))
        val b = Caches.persistTracked(spark.range(50).toDF("y"))
        a.count(); b.count() // materialize
        (a, b)
      }.get()
      assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
      on(owner)(Caches.releaseAll()).get()
      assert(a.storageLevel == StorageLevel.NONE)
      assert(b.storageLevel == StorageLevel.NONE)
      // idempotent: a second release (and re-release of unpersisted
      // frames, as iterative ops do) is a no-op
      on(owner)(Caches.releaseAll()).get()
    }
  }

  test("operators leave no resident cache blocks behind a releaseAll") {
    withThreads(1) { case Seq(owner) =>
      on(owner) {
        graft.ops.Dedup.ngramJaccard(spark, sf0001).count()
        Caches.releaseAll()
      }.get()
    }
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty ||
      spark.sparkContext.getPersistentRDDs.values.forall(
        _.getStorageLevel == StorageLevel.NONE))
  }

  test("releaseAll unpersists only the calling thread's handles") {
    withThreads(2) { case Seq(a, b) =>
      val x = on(a) {
        val x = Caches.persistTracked(spark.range(70).toDF("x"))
        x.count()
        x
      }.get()
      on(b)(Caches.releaseAll()).get()
      assert(x.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "another thread's release unpersisted x")
      on(a)(Caches.releaseAll()).get()
      assert(x.storageLevel == StorageLevel.NONE)
    }
  }

  test("two queries on parallel threads of one session equal their serial runs") {
    val names = Seq("dedup_ngram_jaccard", "graph_modularity")
    def run(q: String): Seq[String] = {
      val rows = SparkEntry.queries(q)(spark, sf0001).collect().map(_.toString).sorted.toSeq
      Caches.releaseAll()
      rows
    }
    val serial = names.map(run)
    assert(serial.forall(_.nonEmpty))
    val parallel = withThreads(names.size) { pools =>
      names.zip(pools).map { case (q, p) => on(p)(run(q)) }.map(_.get())
    }
    assert(parallel == serial)
  }
}
