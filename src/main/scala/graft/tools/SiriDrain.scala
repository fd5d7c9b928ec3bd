package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{Brotli, SnapshotStorage}
import graft.streaming.SnapshotStream

/** Measured backlog drain for the SIRI snapshot daemon — the actual
  * reference parity path (process_snapshot.py:485's minute loop) over
  * the reference's ACTUAL landing format: a minute-partitioned tree of
  * brotli-compressed SIRI-SM documents, decoded in the mapper by the
  * pure-JVM RFC 7932 decoder and drained through the daemon's own
  * per-batch code ([[graft.streaming.SnapshotStream.start]]).
  *
  *   runMain graft.tools.SiriDrain <workDir> <minutes> <visitsPerSnapshot>
  *     [pt<seconds>:<maxFilesPerTrigger>]
  *
  * Generates the tree (deterministic synthetic SIRI-SM JSON in the
  * standard stop-monitoring shape — vehicles advance along stop
  * sequences minute over minute, so ride/dim structure is realistic),
  * then drains it with Trigger.AvailableNow (the daemon's exact plan,
  * bounded run) and prints ONE JSON line: snapshots/s, visits/s, wall,
  * batches, output fact rows, and heartbeat staleness from the
  * [[graft.streaming.Heartbeat]] listener.
  *
  * The optional 4th arg switches to the daemon's CONTINUOUS trigger —
  * e.g. `pt1:60` = ProcessingTime(1s) with 60 files per micro-batch —
  * measuring the same backlog through the steady-state micro-batch
  * cadence instead of one AvailableNow mega-batch (the stream is
  * stopped once every generated snapshot has been consumed; wall is
  * measured to the final non-empty batch's commit). */
object SiriDrain {

  /** One synthetic MonitoredStopVisit (SIRI-SM shape — field names are
    * the standard's, values deterministic in (minute, vehicle)). */
  private def visit(minute: Int, v: Int, recorded: String): String = {
    val line = 1 + v % 40
    val op = 1 + v % 20
    val journey = 100000 + v
    val stop = 30000 + (v * 7 + minute) % 5000
    val order = 1 + minute % 60
    val lon = 34.6 + (v % 1000) / 10000.0
    val lat = 31.7 + ((v * 13) % 1000) / 10000.0
    s"""{"RecordedAtTime":"$recorded","MonitoredVehicleJourney":{""" +
      s""""LineRef":"$line","OperatorRef":"$op",""" +
      s""""FramedVehicleJourneyRef":{"DataFrameRef":"2023-03-10","DatedVehicleJourneyRef":"$journey"},""" +
      s""""OriginAimedDepartureTime":"2023-03-10T07:45:00+02:00",""" +
      s""""VehicleRef":"veh-$v","Bearing":"90","Velocity":"42",""" +
      s""""VehicleLocation":{"Longitude":"$lon","Latitude":"$lat"},""" +
      s""""MonitoredCall":{"StopPointRef":"$stop","Order":"$order","DistanceFromStop":"1200"}}}"""
  }

  /** Roll the synthetic minute index into (day, hour, minute) so trees
    * of any length stay valid timestamps (day 10 + overflow). */
  private def dhm(minute: Int): (Int, Int, Int) =
    (10 + minute / 1440, (minute % 1440) / 60, minute % 60)

  /** The minute's full snapshot document. */
  private def snapshotJson(minute: Int, visitsPer: Int): String = {
    val (dd, hh, mm) = dhm(minute)
    val recorded = f"2023-03-$dd%02dT$hh%02d:$mm%02d:15+02:00"
    val visits = (0 until visitsPer).map(v => visit(minute, v, recorded))
    s"""{"Siri":{"ServiceDelivery":{"ResponseTimestamp":"$recorded","ProducerRef":"drain",""" +
      s""""StopMonitoringDelivery":[{"ResponseTimestamp":"$recorded","Status":"true",""" +
      s""""MonitoredStopVisit":[${visits.mkString(",")}]}]}}}"""
  }

  /** Write `minutes` consecutive `.br` minute files under root
    * (2023/03/10/HH/MM.br), returning total visit count. */
  def generateTree(root: String, minutes: Int, visitsPer: Int): Long = {
    (0 until minutes).foreach { m =>
      val (dd, hh, mm) = dhm(m)
      val p = Paths.get(f"$root/2023/03/$dd%02d/$hh%02d/$mm%02d.br")
      Files.createDirectories(p.getParent)
      Files.write(p, Brotli.compressUncompressed(
        snapshotJson(m, visitsPer).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }
    minutes.toLong * visitsPer
  }

  def main(args: Array[String]): Unit = {
    val workDir = if (args.length > 0) args(0) else
      Files.createTempDirectory("siridrain").toString
    val minutes = if (args.length > 1) args(1).toInt else 60
    val visitsPer = if (args.length > 2) args(2).toInt else 500
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.max(4, Runtime.getRuntime.availableProcessors()))
    val spark = graft.GraftSession.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")

    val landing = s"$workDir/landing"
    val out = s"$workDir/out"
    val ckpt = s"$workDir/ckpt"
    val nVisits = generateTree(landing, minutes, visitsPer)

    val hb = new graft.streaming.Heartbeat
    spark.streams.addListener(hb)

    // the daemon's own per-batch code over the .br tree source;
    // AvailableNow bounds the run at the generated backlog, the
    // pt<sec>:<files> form runs the daemon's ProcessingTime cadence
    val ptMode = args.lift(3).filter(_.startsWith("pt")).map { s =>
      val Array(sec, files) = s.drop(2).split(":")
      (sec.toInt, files.toInt)
    }
    val t0 = System.nanoTime()
    val q = SnapshotStream.start(
      SnapshotStorage.readRawBrotliStream(spark, landing, ptMode.map(_._2)), out, ckpt,
      ptMode.fold[Trigger](Trigger.AvailableNow()) {
        case (sec, _) => Trigger.ProcessingTime(s"$sec seconds") })
    val wall = ptMode match {
      case None =>
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      case Some(_) =>
        // a ProcessingTime stream never self-terminates: poll the
        // heartbeat log (every progress event, unbounded — NOT
        // recentProgress, which caps at 100 and would undercount a
        // long drain) until every generated snapshot is consumed,
        // then let the in-flight trigger finish before clocking.
        // Two poll exits besides completion: a DEAD query (break and
        // awaitTermination() so its exception surfaces instead of
        // spinning forever on a count that will never advance) and a
        // wall-clock ceiling (SIRI_DRAIN_TIMEOUT_SEC, default 2h) for
        // the hang-without-exception case.
        val deadline = t0 + sys.env.get("SIRI_DRAIN_TIMEOUT_SEC")
          .flatMap(_.toLongOption).getOrElse(7200L) * 1000000000L
        def overdue(): Boolean =
          if (System.nanoTime() <= deadline) false
          else {
            q.stop()
            sys.error(s"siri_drain pt-mode timed out: " +
              s"${hb.beats.map(_.numInputRows).sum}/$minutes snapshots " +
              s"consumed at the deadline")
          }
        while (q.isActive && !overdue() &&
            hb.beats.map(_.numInputRows).sum < minutes) Thread.sleep(200)
        if (!q.isActive) q.awaitTermination() // rethrows the stream's failure
        while (q.isActive && !overdue() &&
            q.status.isTriggerActive) Thread.sleep(100)
        val wallAtDone = (System.nanoTime() - t0) / 1e9
        q.stop(); q.awaitTermination()
        wallAtDone
    }

    val factRows = spark.read.parquet(s"$out/siri_vehicle_locations").count()
    val beats = hb.beats
    val staleMs = beats.sliding(2).collect { case Seq(a, b) =>
      java.time.Instant.parse(b.at).toEpochMilli -
        java.time.Instant.parse(a.at).toEpochMilli
    }.toSeq
    val triggerDesc = ptMode.fold("available_now") {
      case (sec, files) => s"processing_time_${sec}s_${files}f" }
    // per-micro-batch latency profile (pt mode): percentiles of batch
    // wall time over the NON-EMPTY batches (empty ticks are scheduler
    // no-ops) + how many overran the trigger interval — the daemon-
    // cadence health number: overruns mean the 1-minute cadence is
    // falling behind its input rate
    val latencyJson = ptMode.fold("") { case (sec, _) =>
      val ds = beats.filter(_.numInputRows > 0).map(_.durationMs).sorted
      if (ds.isEmpty) ""
      else {
        def pct(p: Double) = ds(math.min(ds.size - 1, (p * ds.size).toInt))
        val over = ds.count(_ > sec * 1000L)
        s""""batch_ms_p50":${pct(0.50)},"batch_ms_p95":${pct(0.95)},""" +
        s""""batch_ms_max":${ds.last},"trigger_overruns":$over,""" +
        s""""nonempty_batches":${ds.size},"""
      }
    }
    println(
      s"""{"metric":"siri_drain","trigger":"$triggerDesc",""" +
      s""""minutes":$minutes,"visits_per_snapshot":$visitsPer,""" +
      s""""visits_in":$nVisits,"fact_rows":$factRows,"wall_sec":${f"$wall%.3f"},""" +
      s""""snapshots_per_sec":${f"${minutes / wall}%.2f"},""" +
      s""""visits_per_sec":${f"${nVisits / wall}%.1f"},""" +
      s""""batches":${beats.size},""" + latencyJson +
      s""""max_beat_gap_ms":${if (staleMs.isEmpty) 0 else staleMs.max},""" +
      s""""alive":${hb.alive(System.currentTimeMillis(), 120000)}}""")
    spark.stop()
  }
}
