package graft

import org.apache.spark.sql.SparkSession

import graft.sources.LocalFiles

/** The tuned SparkSession the library is designed against — one place
  * for the conf story instead of copies in every main:
  *
  *  - shuffle partitions sized to the parallelism actually available
  *    (NOT the 200 default — on a real cluster pass executors×cores;
  *    at 100 TB raise it so post-shuffle partitions stay ≲ executor
  *    memory, then let AQE coalesce the small ones back down);
  *  - AQE on: runtime re-planning converts stats misses into coalesced
  *    partitions, demoted broadcasts, and split skew partitions
  *    (skewJoin handles the hot keys that salting targets statically);
  *  - the [[engineSettings]] every library session shares;
  *  - graft extensions installed (as-of strategy, native-hash kernel
  *    swap, the opt-in rewrites) with the top-k rewrite ON: rewriting
  *    `row_number().over(...) <= k` into the bounded-heap aggregate is
  *    bit-identical for total window orders (every library query's
  *    orders are total) and removes the full-candidate-set sort —
  *    the production mode, not an experiment. Callers who need the
  *    untouched window plan set spark.graft.topkRewrite.enabled=false
  *    on the built session.
  */
object GraftSession {

  /** The engine settings of every session the library builds: [[build]],
    * `Cli`'s session (the product `start-daemon` / `process-snapshots`
    * path), `ScaleData`'s and the test suite's all go through
    * [[configure]]. Each is a fixed constant, not an option. Measured
    * on perfbench (4 cores, 2 GB heap), stock Spark → these settings:
    *
    *  - `spark.sql.codegen.cache.maxEntries` = 1000 generated classes
    *    (Spark's default is 100). One SIRI micro-batch compiles ~145
    *    units, so with 100 every batch missed on all of them: 142–148
    *    Janino compiles per steady `siri_live` batch, and as many per
    *    `siri_backlog` drain. The SIRI working set, counted with a cache
    *    that never evicted: 225 units for a whole `siri_live` run, 348
    *    for `siri_backlog` drains plus the star reads, 388 for the daemon
    *    plus three corpus queries. A cached unit holds ~28–34 KB of heap,
    *    so 1000 caps the cache near 30 MB while those paths hold 6–13 MB.
    *    Steady batches and drains now compile 0 units. This is a STATIC
    *    conf: the first session built in a JVM fixes it, and a later
    *    builder's value is ignored.
    *  - the `file` scheme goes to [[graft.sources.LocalFiles]], Hadoop's
    *    local filesystem without the `chmod` it forks per created file
    *    and directory and the `readlink` it forks per `FileContext`
    *    rename: 682 `chmod` + 224 `readlink` → 0 per `siri_live` run,
    *    2,631 `chmod` → 0 per `siri_backlog` run. What still forks is
    *    Spark's clean-up `rm` (6–14 per run) and Hadoop's two start-up
    *    probes.
    *    Hadoop caches one FileSystem per scheme whatever its class, so a
    *    `file://` instance made before the first session (from a plain
    *    `Configuration`) would keep the stock class for the JVM's life.
    *  - the status store keeps the last 5 SQL executions, jobs and
    *    stages, not 1,000 each. With the UI off nothing reads that
    *    history (perfbench traces from listener events); it only held
    *    heap, and faster batches add it faster. Retained heap after a
    *    run, with the two settings above in place: `siri_live` 92.4 MB
    *    uncapped → 84.4 MB at 20; `siri_backlog` 83.4 MB at 20 → 81.9 MB
    *    at 5, where stock Spark, whose 100-unit code cache holds less,
    *    retains 82.3 MB.
    *  - UTC session timezone (every oracle comparison and timestamp
    *    literal in the library assumes it), and no web UI.
    */
  val engineSettings: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.ui.retainedExecutions" -> "5",
    "spark.ui.retainedJobs" -> "5",
    "spark.ui.retainedStages" -> "5",
    "spark.hadoop.fs.file.impl" -> classOf[LocalFiles.NoForkFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFiles.NoForkFs].getName,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** `builder` with [[engineSettings]]. */
  def configure(builder: SparkSession.Builder): SparkSession.Builder =
    builder.config(engineSettings)

  def build(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
            shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession = {
    val s = configure(SparkSession.builder())
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.graft.topkRewrite.enabled", "true")
      .getOrCreate()
    GraftExtensions.install(s)
    s
  }
}
