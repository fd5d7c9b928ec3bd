package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.etl.SiriSnapshotEtl
import graft.sources.{DimIndex, SnapshotStorage}

/** The reference's continuous daemon (process_new_snapshots +
  * start_process_new_snapshots_daemon, process_snapshot.py:485-547) as
  * Structured Streaming.
  *
  * The reference polls a directory every minute for new snapshot ids
  * and processes the backlog since the last loaded snapshot; Spark's
  * file/stream source does exactly that natively — checkpointed offsets
  * replace the "last loaded snapshot id" bookkeeping, foreachBatch
  * replaces the per-snapshot transaction, and a crashed run resumes
  * from the checkpoint (the reference's heartbeat/retry loop).
  */
object SnapshotStream {

  /** Continuous per-snapshot stats with a 2-minute watermark on
    * recorded_at_time — the streaming analogue of the siri_snapshot
    * status row (update_siri_snapshot_loaded). */
  def liveSnapshotStats(visits: DataFrame): DataFrame =
    visits
      .withWatermark("recorded_at_time", "2 minutes")
      .groupBy(window(col("recorded_at_time"), "1 minute"), col("snapshot_id"))
      .agg(
        sum(when(col("parse_ok"), 1L).otherwise(0L)).as("num_successful_parse_vehicle_locations"),
        sum(when(col("parse_ok"), 0L).otherwise(1L)).as("num_failed_parse_vehicle_locations"))

  /** The full daemon (start_process_new_snapshots_daemon): tail the raw
    * json-lines snapshot dir and load each micro-batch with [[start]]. */
  def daemon(spark: SparkSession, rawDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    start(SnapshotStorage.readRawStream(spark, rawDir), outDir, checkpointDir, trigger)

  /** The daemon over any stream of raw (snapshot_id, json) documents:
    * each micro-batch runs the batch ETL and writes the star with
    * [[SnapshotStorage.writeTables]] — the batch path's own code, so a
    * retried batch rewrites its snapshots, it never doubles them. The
    * query holds one [[graft.sources.DimIndex]] of the star and hands it
    * to every batch, so a steady batch reads no dimension back: only the
    * files another writer added. The checkpoint replaces the reference's
    * last-loaded-snapshot bookkeeping; the shutdown hook is its
    * GracefulKiller analogue: stop() interrupts the in-flight batch and
    * cancels its jobs, and the idempotent sinks + checkpoint replay make
    * the torn batch unobservable after restart (same end state as
    * finish-then-stop). */
  private[graft] def start(raw: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger): StreamingQuery = {
    // per-batch timed sections accumulate across the daemon's lifetime
    // (reference logs.py debug_time_stats: the per-snapshot stats dict)
    // and surface under GRAFT_DEBUG when a batch runs slow
    val stats = new graft.Logs.Stats
    val index = new DimIndex(raw.sparkSession, outDir)
    val q = raw
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.Logs.debugTimeStats("process-batch", stats,
            logIfMoreThanSeconds = Some(30.0), kv = Seq("batch_id" -> batchId.toString)) {
          SnapshotStorage.writeTables(SiriSnapshotEtl.run(batch), index)
        }
      }
      .start()
    sys.addShutdownHook { if (q.isActive) q.stop() }
    q
  }

  /** Streaming retry-dedup (the reference's idempotent reload in stream
    * form): a snapshot re-delivered within the watermark horizon must
    * not double-load its visits. dropDuplicatesWithinWatermark keys
    * state by (snapshot, journey, order) and — unlike plain
    * dropDuplicates — EVICTS state past the watermark, so state size is
    * bounded by the horizon, not by stream lifetime. */
  def dedupedVisits(visits: DataFrame): DataFrame =
    visits
      .withWatermark("recorded_at_time", "10 minutes")
      .dropDuplicatesWithinWatermark("snapshot_id", "journey_ref", "order")

  /** Watermarked stream-stream interval join: correlate two live
    * streams on a key where the right event happened within the
    * preceding `horizonMinutes` of the left event (e.g. match each
    * vehicle alert to that vehicle's location reports just before it).
    * Both sides carry watermarks so join state EVICTS once the
    * interval can no longer match — state size is bounded by horizon ×
    * arrival rate, never by stream lifetime. */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTime: String, rightTime: String,
      horizonMinutes: Int = 10): DataFrame =
    left.withWatermark(leftTime, s"$horizonMinutes minutes")
      .join(right.withWatermark(rightTime, s"$horizonMinutes minutes"),
        expr(s"""$leftKey = $rightKey AND
                 $rightTime >= $leftTime - INTERVAL $horizonMinutes MINUTES AND
                 $rightTime <= $leftTime"""))

  /** Watermarked sliding-window aggregation — the streaming sibling of
    * [[graft.etl.EventsEtl.slidingWindowStats]], completing the
    * reference daemon's minute-window semantics
    * (process_snapshot.py:485's per-minute snapshot loop) as a true
    * continuous query: 10-minute windows sliding every 5 over an event
    * stream, with `withWatermark` bounding both state size and result
    * finality. Append mode emits a window exactly once — when the
    * watermark passes its end — so the sink sees each (window,
    * event_type) count exactly once, and state for closed windows is
    * EVICTED (bounded by delay × window count, never stream lifetime).
    * Events arriving later than `delay` behind the observed max event
    * time are dropped, which is the contract the delay must be sized
    * for — see [[watermarkDelayFromProfile]]. */
  def watermarkedSlidingCounts(events: DataFrame, delay: String,
      windowLen: String = "10 minutes", slide: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))

  /** Choose the watermark delay from measured evidence instead of a
    * guess: [[graft.etl.EventsEtl.latenessProfile]] profiles the
    * observed arrival disorder per ingest day; this picks the smallest
    * whole-minute delay that covers the profile's worst observed
    * lateness, plus one minute of margin for tail drift. A pipeline
    * re-derives this per day, so the streaming query's drop contract
    * tracks what the feed actually does (the reference daemon's
    * implicit assumption — snapshots a minute apart, processed in
    * order — made explicit and measured). */
  def watermarkDelayFromProfile(profile: DataFrame): String = {
    val worst = profile.agg(max(col("max_late_s"))).head().getLong(0)
    val minutes = worst / 60 + 1
    s"$minutes minutes"
  }

  /** Production state-store configuration: RocksDB-backed state (the
    * HDFS-backed default keeps every key on-heap — a national fleet's
    * ride state at minute granularity OOMs executors), with changelog
    * checkpointing so a commit uploads the delta, not the full SST set,
    * and unload-on-commit so idle partitions release memory. Apply
    * BEFORE the first stream starts (providers are instantiated per
    * store at query start). */
  val rocksDbStateConfs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" -> "512",
  )
}
