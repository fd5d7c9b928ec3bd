package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDateTime

import scala.collection.mutable

import graft.sources.Brotli

/** Seeded SIRI-SM snapshot generator: one document per minute, in the
  * standard stop-monitoring shape the ETL parses.
  *
  * Properties the workloads rely on (same seed, same documents):
  *  - a fleet of `visitsPerMinute` active rides, each reporting once a
  *    minute; a ride advances to its next stop with probability 0.3, so
  *    most visits re-hit an existing ride-stop key;
  *  - rides turn over: finished rides are replaced, and one extra ride
  *    is retired each minute. The first replacement each minute runs on
  *    a brand-new route and starts at a brand-new stop, so every
  *    dimension gets new keys in every snapshot;
  *  - one visit in 40 lacks a required field (rotating over five
  *    fields) and goes to the parse-error path;
  *  - every `.br` tree, and the daemon's seed backlog, holds one
  *    document that cannot be parsed at all.
  *
  * The generator keeps what a correct load must produce: per-snapshot
  * ok/failed counts and the distinct natural keys of each dimension.
  */
final class SiriGen(seed: Long, visitsPerMinute: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val base = LocalDateTime.of(2023, 3, 10, 5, 0)
  private val stopPool = 30000
  private val stopPoolSize = math.max(50, visitsPerMinute * 2)

  private final class Route(val op: Int, val line: Int, val stops: Array[Int])
  private final class Ride(val route: Route, val journey: Int, val vehicle: String,
      val scheduled: String, var pos: Int, val second: Int)

  private val routeList = mutable.ArrayBuffer.empty[Route]
  private var active = mutable.ArrayBuffer.empty[Ride]
  private var nextLine = 1
  private var nextStop = stopPool + stopPoolSize
  private var nextJourney = 100000
  private var minute = 0

  // what a correct load of every document generated so far must contain
  val routes = mutable.HashSet.empty[(Int, Int)]
  val stops = mutable.HashSet.empty[Int]
  val rides = mutable.HashSet.empty[(Int, Int, Int, String)]
  val rideStops = mutable.HashSet.empty[(Int, Int, Int, String, Int, Int)]
  /** snapshot id → (visits that parse, visits that fail) */
  val snapshots = mutable.LinkedHashMap.empty[String, (Long, Long)]
  val errorSnapshots = mutable.LinkedHashSet.empty[String]

  def okVisits: Long = snapshots.valuesIterator.map(_._1).sum
  def failedVisits: Long = snapshots.valuesIterator.map(_._2).sum

  private def newRoute(): Route = {
    val n = 12 + rnd.nextInt(19)
    val r = new Route(1 + nextLine % 20, nextLine,
      Array.fill(n)(stopPool + rnd.nextInt(stopPoolSize)))
    nextLine += 1
    routeList += r
    r
  }

  private def ts(m: Int, second: Int): String = {
    val t = base.plusMinutes(m.toLong).plusSeconds(second.toLong)
    f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02dT" +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d+02:00"
  }

  private def snapshotId(m: Int): String = {
    val t = base.plusMinutes(m.toLong)
    f"${t.getYear}%04d/${t.getMonthValue}%02d/${t.getDayOfMonth}%02d/${t.getHour}%02d/${t.getMinute}%02d"
  }

  private def startRide(route: Route, pos: Int): Ride = {
    val r = new Ride(route, nextJourney, s"veh-${rnd.nextInt(visitsPerMinute * 2)}",
      ts(minute - pos * 2, 0), pos, rnd.nextInt(60))
    nextJourney += 1
    r
  }

  (0 until math.max(4, visitsPerMinute / 8)).foreach(_ => newRoute())
  while (active.size < visitsPerMinute) {
    val route = routeList(rnd.nextInt(routeList.size))
    active += startRide(route, rnd.nextInt(route.stops.length / 2))
  }

  /** Advance the fleet one minute and return (snapshot id, document). */
  def nextSnapshot(unparseable: Boolean = false): (String, String) = {
    // movement and turnover
    active.foreach(r => if (rnd.nextInt(10) < 3) r.pos += 1)
    active = active.filter(r => r.pos < r.route.stops.length)
    if (active.nonEmpty) active.remove(rnd.nextInt(active.size))
    val fresh = newRoute()
    val freshPos = rnd.nextInt(fresh.stops.length)
    fresh.stops(freshPos) = nextStop
    nextStop += 1
    val first = startRide(fresh, freshPos)
    active += first
    while (active.size < visitsPerMinute) {
      val route = routeList(rnd.nextInt(routeList.size))
      active += startRide(route, rnd.nextInt(route.stops.length / 2))
    }

    val id = snapshotId(minute)
    val now = ts(minute, 0)
    val sb = new java.lang.StringBuilder(visitsPerMinute * 460)
    sb.append("""{"Siri":{"ServiceDelivery":{"ResponseTimestamp":"""")
      .append(now).append("""","ProducerRef":"perfbench","StopMonitoringDelivery":[{"ResponseTimestamp":"""")
      .append(now).append("""","Status":"true","MonitoredStopVisit":[""")
    var ok = 0L
    var failed = 0L
    if (unparseable) {
      // cut off after the first field: from_json cannot parse it
      sb.setLength(0)
      sb.append("""{"Siri":{"ServiceDelivery":{"ResponseTimestamp":"""").append(now).append("\",")
      failed = 1
      errorSnapshots += id
    } else {
      var i = 0
      active.foreach { r =>
        // the new-route ride always parses, so every dim grows each minute
        val missing = if ((r ne first) && rnd.nextInt(40) == 0) rnd.nextInt(5) else -1
        if (i > 0) sb.append(',')
        appendVisit(sb, r, missing)
        if (missing < 0) {
          ok += 1
          val op = r.route.op; val line = r.route.line
          val stop = r.route.stops(r.pos); val order = r.pos + 1
          routes += ((op, line))
          stops += stop
          rides += ((op, line, r.journey, r.vehicle))
          rideStops += ((op, line, r.journey, r.vehicle, stop, order))
        } else failed += 1
        i += 1
      }
      sb.append("]}]}}}")
    }
    snapshots(id) = (ok, failed)
    minute += 1
    (id, sb.toString)
  }

  /** One MonitoredStopVisit; `missing` in 0..4 drops one required field. */
  private def appendVisit(sb: java.lang.StringBuilder, r: Ride, missing: Int): Unit = {
    val stop = r.route.stops(r.pos)
    val lon = f"${34.6 + rnd.nextInt(1000000) / 1e7}%.7f"
    val lat = f"${31.7 + rnd.nextInt(1000000) / 1e7}%.7f"
    sb.append('{')
    if (missing != 0) sb.append(""""RecordedAtTime":"""").append(ts(minute, r.second)).append("\",")
    sb.append(""""MonitoredVehicleJourney":{""")
    if (missing != 1) sb.append(""""LineRef":"""").append(r.route.line).append("\",")
    sb.append(""""OperatorRef":"""").append(r.route.op).append("\",")
      .append(""""FramedVehicleJourneyRef":{"DataFrameRef":"2023-03-10","DatedVehicleJourneyRef":"""")
      .append(r.journey).append("\"},")
    if (missing != 2) sb.append(""""OriginAimedDepartureTime":"""").append(r.scheduled).append("\",")
    sb.append(""""VehicleRef":"""").append(r.vehicle).append("\",")
      .append(""""Bearing":"""").append(rnd.nextInt(360)).append("\",")
      .append(""""Velocity":"""").append(rnd.nextInt(80)).append("\",")
      .append(""""VehicleLocation":{""")
    if (missing != 3) sb.append(""""Longitude":"""").append(lon).append("\",")
    sb.append(""""Latitude":"""").append(lat).append("\"},")
      .append(""""MonitoredCall":{"StopPointRef":"""").append(stop).append('"')
    if (missing != 4) sb.append(""","Order":"""").append(r.pos + 1).append('"')
    sb.append(""","DistanceFromStop":"""").append(rnd.nextInt(20000)).append("\"}}}")
  }

  /** Which of the next `minutes` documents is the unparseable one. */
  def badMinute(minutes: Int): Int = rnd.nextInt(minutes)

  /** Write the next `minutes` snapshots as a `YYYY/MM/DD/HH/MM.br` tree
    * (stored brotli blocks) under `root`; one minute, drawn from the
    * seed, is the unparseable document. Returns the ids written. */
  def writeBrTree(root: Path, minutes: Int): Seq[String] = {
    val bad = badMinute(minutes)
    (0 until minutes).map { i =>
      val (id, doc) = nextSnapshot(unparseable = i == bad)
      val p = root.resolve(s"$id.br")
      Files.createDirectories(p.getParent)
      Files.write(p, Brotli.compressUncompressed(doc.getBytes(UTF_8)))
      id
    }
  }

  /** Land the next snapshot as one json-lines file in `landing`: written
    * under `staging` first, then renamed, so the daemon never lists a
    * half-written file. */
  def landJsonLines(staging: Path, landing: Path, seq: Int, unparseable: Boolean = false): String = {
    val (id, doc) = nextSnapshot(unparseable)
    val name = f"$seq%06d.json"
    val tmp = staging.resolve(name)
    Files.write(tmp, (s"""{"snapshot_id":"$id","json":"${SiriGen.escape(doc)}"}""" + "\n")
      .getBytes(UTF_8))
    Files.move(tmp, landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    id
  }
}

object SiriGen {
  /** JSON string escaping for the generated documents (they hold no
    * control characters, only quotes). */
  def escape(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
}
