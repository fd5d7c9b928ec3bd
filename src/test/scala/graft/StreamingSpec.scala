package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.etl.SiriSnapshotEtl
import graft.sources.SnapshotStorage
import graft.streaming.SnapshotStream

/** The continuous-daemon path: snapshots arrive as a stream, each
  * micro-batch runs the same ETL and star write as the batch path
  * (reference process_new_snapshots loop). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streamed snapshots produce the same tables as the batch path") {
    val docs = Seq(("2023/03/10/08/01", SiriFixtures.snapA), ("2023/03/10/08/02", SiriFixtures.snapB))
    val dir = Files.createTempDirectory("daemonvsbatch").toString
    // the daemon's requester lands json-lines docs (snapshot_id, json)
    docs.foreach(d => Seq(d).toDF("snapshot_id", "json").write.mode("append").json(s"$dir/raw"))
    SnapshotStream.daemon(spark, s"$dir/raw", s"$dir/daemon", s"$dir/ckpt",
      Trigger.AvailableNow()).awaitTermination(120000)
    SnapshotStorage.writeTables(SiriSnapshotEtl.run(docs.toDF("snapshot_id", "json")), s"$dir/batch")

    val tables = SiriSnapshotEtl.dims.map(_.table) ++
      Seq("siri_vehicle_locations", "siri_snapshots", "parse_errors")
    tables.foreach { t =>
      val daemon = spark.read.parquet(s"$dir/daemon/$t")
      val batch = spark.read.parquet(s"$dir/batch/$t")
      assert(daemon.schema == batch.schema, t)
      assert(daemon.count() > 0, t)
      assert(daemon.exceptAll(batch).isEmpty && batch.exceptAll(daemon).isEmpty, t)
    }
  }

  test("re-delivered snapshot dedups within the watermark on RocksDB state") {
    implicit val sqlCtx = spark.sqlContext
    SnapshotStream.rocksDbStateConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val stream = MemoryStream[(String, String)]
      // same snapshot delivered twice (the reference's retry loop)
      stream.addData(("2023/03/10/08/01", SiriFixtures.snapA))
      stream.addData(("2023/03/10/08/01", SiriFixtures.snapA))

      val deduped = SnapshotStream.dedupedVisits(
        SiriSnapshotEtl.parseVisits(stream.toDF().toDF("snapshot_id", "json")))
      val q = deduped.writeStream.format("memory")
        .queryName("dedup_out").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      // 4 distinct visits in snapA (3 ok + 1 parse-failure), not 8
      assert(spark.table("dedup_out").count() == 4)
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally SnapshotStream.rocksDbStateConfs.keys.foreach(spark.conf.unset)
  }

  test("heartbeat listener records per-batch progress while a query loads") {
    implicit val sqlCtx = spark.sqlContext
    val hb = new graft.streaming.Heartbeat
    spark.streams.addListener(hb)
    try {
      val stream = MemoryStream[(String, String)]
      stream.addData(("2023/03/10/08/01", SiriFixtures.snapA))
      val q = SiriSnapshotEtl.parseVisits(stream.toDF().toDF("snapshot_id", "json"))
        .writeStream.format("memory").queryName("hb_out").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      // listener delivery is async — wait for the beat to land
      val deadline = System.currentTimeMillis() + 30000
      while (hb.beats.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(hb.beats.nonEmpty)
      assert(hb.beats.exists(_.numInputRows > 0))
      assert(hb.alive(System.currentTimeMillis(), staleAfterMs = 60000))
    } finally spark.streams.removeListener(hb)
  }

  test("watermarked sliding window drops late-beyond-watermark rows and keeps within-delay rows") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2023-03-10 08:$m%02d:00")
    val events = MemoryStream[(Timestamp, String)]
    val counts = SnapshotStream.watermarkedSlidingCounts(
      events.toDF().toDF("ts", "event_type"), delay = "2 minutes")
    // live query with explicit batch boundaries: the watermark only
    // advances BETWEEN micro-batches, so each addData+processAll pair
    // below is one batch (AvailableNow would fold them into one and
    // nothing would ever be late)
    val q = counts.writeStream.format("memory").queryName("swin_out")
      .outputMode("append").start()
    // batch 1: in-order prefix; max event time 08:20 -> watermark
    // advances to 08:18 under the 2-minute delay
    events.addData((ts(0), "click"), (ts(1), "click"), (ts(20), "click"))
    q.processAllAvailable()
    // batch 2: 08:03 is beyond the watermark (its windows closed) ->
    // DROPPED; 08:19 is behind max-seen but within the delay -> LANDS
    events.addData((ts(3), "click"), (ts(19), "click"))
    q.processAllAvailable()
    // batches 3-4: push the watermark past every asserted window's end
    // so append mode emits them all
    events.addData((ts(40), "click"))
    q.processAllAvailable()
    events.addData((ts(41), "click"))
    q.processAllAvailable()
    q.stop()

    val byWindow = spark.table("swin_out").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(2)).toMap
    // [08:00,08:10): 08:00 + 08:01 counted, the too-late 08:03 dropped
    assert(byWindow(ts(0)) == 2L)
    // [08:15,08:25): the within-delay 08:19 landed alongside 08:20
    assert(byWindow(ts(15)) == 2L)
    // [08:10,08:20): 08:19 only (08:20 is outside a half-open window)
    assert(byWindow(ts(10)) == 1L)
    // every emitted window is final: emitted once, none re-emitted
    val emitted = spark.table("swin_out").collect().map(_.getTimestamp(0))
    assert(emitted.length == emitted.distinct.length)
    // state bounded: the final progress reports evicted (closed) windows
    assert(q.lastProgress.stateOperators.nonEmpty)
  }

  test("watermark delay derives from the measured lateness profile") {
    import spark.implicits._
    // the driver corpus is fully in-order: worst lateness 0 -> 1 minute
    val inOrder = graft.etl.EventsEtl.latenessProfile(spark, "/root/testdata/sf0.001")
    assert(SnapshotStream.watermarkDelayFromProfile(inOrder) == "1 minutes")
    // injected disorder: worst observed 90s late -> 2-minute delay
    val disordered = Seq(("a_ontime", 10L, 0L), ("c_5min", 2L, 90L))
      .toDF("bucket", "n_events", "max_late_s")
    assert(SnapshotStream.watermarkDelayFromProfile(disordered) == "2 minutes")
  }

  test("stream-stream interval join matches right events in the preceding horizon") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2023-03-10 08:$m%02d:00")
    val alerts = MemoryStream[(String, Timestamp)]
    val locs = MemoryStream[(String, Timestamp)]
    alerts.addData(("veh-1", ts(20)), ("veh-2", ts(20)))
    locs.addData(
      ("veh-1", ts(15)), // within 10m before the alert → match
      ("veh-1", ts(5)),  // too old → no match
      ("veh-2", ts(25))) // after the alert → no match
    val joined = SnapshotStream.streamIntervalJoin(
      alerts.toDF().toDF("a_veh", "a_ts"), locs.toDF().toDF("l_veh", "l_ts"),
      "a_veh", "l_veh", "a_ts", "l_ts")
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("ssjoin")
      .collect().map(r => (r.getString(0), r.getString(2), r.getTimestamp(3)))
    assert(rows.toSet == Set(("veh-1", "veh-1", ts(15))))
  }
}
