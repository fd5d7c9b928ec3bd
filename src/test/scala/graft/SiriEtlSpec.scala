package graft

import org.apache.spark.sql.DataFrame
import graft.etl.SiriSnapshotEtl

/** Synthetic SIRI-SM fixtures (standard SIRI stop-monitoring document
  * shape; values are our own). One visit is deliberately unparseable
  * (no VehicleLocation) to exercise the parse-errors path. */
object SiriFixtures {
  def visit(line: Int, operator: Int, journey: String, vehicle: String,
      stop: Int, order: Int, lon: Double, lat: Double,
      recorded: String = "2023-03-10T08:01:15+02:00",
      departed: String = "2023-03-10T07:45:00+02:00",
      valid: Boolean = true): String = {
    val loc = if (valid) s""""VehicleLocation": {"Longitude": "$lon", "Latitude": "$lat"},""" else ""
    s"""{
      "RecordedAtTime": "$recorded",
      "MonitoredVehicleJourney": {
        "LineRef": "$line", "OperatorRef": "$operator",
        "FramedVehicleJourneyRef": {"DataFrameRef": "2023-03-10", "DatedVehicleJourneyRef": "$journey"},
        "OriginAimedDepartureTime": "$departed",
        "VehicleRef": "$vehicle", "Bearing": "90", "Velocity": "42",
        $loc
        "MonitoredCall": {"StopPointRef": "$stop", "Order": "$order", "DistanceFromStop": "1200"}
      }
    }"""
  }

  def snapshot(visits: Seq[String]): String =
    s"""{"Siri": {"ServiceDelivery": {
        "ResponseTimestamp": "2023-03-10T08:01:45+02:00", "ProducerRef": "test",
        "StopMonitoringDelivery": [
          {"ResponseTimestamp": "2023-03-10T08:01:45+02:00", "Status": "true",
           "MonitoredStopVisit": [${visits.mkString(",")}]}]}}}"""

  val snapA: String = snapshot(Seq(
    visit(1, 25, "100001", "veh-1", 32043, 13, 34.749191, 31.874036),
    visit(3, 25, "100002", "veh-2", 37471, 1, 34.731296, 31.890804),
    visit(1, 25, "100001", "veh-1", 32521, 14, 34.734901, 31.897741),
    visit(7, 18, "100003", "veh-3", 17016, 23, 34.1, 31.2, valid = false)))

  // same ride keys as A (one minute later) + one brand-new route
  val snapB: String = snapshot(Seq(
    visit(1, 25, "100001", "veh-1", 32043, 13, 34.7495, 31.8745,
      recorded = "2023-03-10T08:02:15+02:00"),
    visit(9, 30, "200001", "veh-9", 55555, 2, 35.0, 32.0,
      recorded = "2023-03-10T08:02:20+02:00")))
}

class SiriEtlSpec extends SparkSpec {
  import spark.implicits._

  private def raw(rows: (String, String)*): DataFrame =
    rows.toSeq.toDF("snapshot_id", "json")

  test("parse extracts typed fields and composes journey_ref (reference parse_monitored_stop_visit)") {
    val visits = SiriSnapshotEtl.parseVisits(raw("2023/03/10/08/01" -> SiriFixtures.snapA))
    assert(visits.count() == 4)
    val ok = visits.filter($"parse_ok").collect()
    assert(ok.length == 3)
    val first = ok.minBy(_.getAs[Int]("order"))
    assert(first.getAs[String]("journey_ref") == "2023-03-10-100002")
    val v = visits.filter($"order" === 13).head()
    assert(v.getAs[Long]("line_ref") == 1L)
    assert(v.getAs[Long]("operator_ref") == 25L)
    assert(v.getAs[String]("vehicle_ref") == "veh-1")
    assert(v.getAs[Int]("bearing") == 90 && v.getAs[Int]("velocity") == 42)
    assert(v.getAs[Int]("distance_from_journey_start") == 1200)
    // +02:00 → UTC: 08:01:15+02:00 == 06:01:15Z
    assert(v.getAs[java.sql.Timestamp]("recorded_at_time").toInstant.toString == "2023-03-10T06:01:15Z")
  }

  test("invalid visit goes to parse errors, not the fact table (save_parse_errors)") {
    val result = SiriSnapshotEtl.run(raw("2023/03/10/08/01" -> SiriFixtures.snapA))
    assert(result.parseErrors.count() == 1)
    assert(result.vehicleLocations.count() == 3)
    val stats = result.snapshotStats.head()
    assert(stats.getAs[Long]("num_successful_parse_vehicle_locations") == 3)
    assert(stats.getAs[Long]("num_failed_parse_vehicle_locations") == 1)
    assert(stats.getAs[String]("etl_status") == "loaded")
  }

  test("visit missing one journey ref component is a parse error, not a half-keyed load") {
    // reference concatenates with '+' so a missing ref raises and the
    // visit diverts to parse errors (process_snapshot.py:220)
    val noDatedRef = SiriFixtures.snapshot(Seq(
      SiriFixtures.visit(1, 25, "100001", "veh-1", 32043, 13, 34.749, 31.874)
        .replace(""""DatedVehicleJourneyRef": "100001"""", """"Ignored": "x""""),
      SiriFixtures.visit(3, 25, "100002", "veh-2", 37471, 1, 34.731, 31.890)))
    val visits = SiriSnapshotEtl.parseVisits(raw("2023/03/10/08/01" -> noDatedRef))
    assert(visits.count() == 2)
    assert(visits.filter($"parse_ok").count() == 1)
    val bad = visits.filter(!$"parse_ok").head()
    assert(bad.isNullAt(bad.fieldIndex("journey_ref")))
  }

  test("dimensions dedup on natural keys with stable hash surrogates (ObjectsMaker)") {
    val result = SiriSnapshotEtl.run(raw("2023/03/10/08/01" -> SiriFixtures.snapA))
    assert(result.routes.count() == 2)   // (25,1), (25,3); invalid visit's route excluded
    assert(result.stops.count() == 3)
    assert(result.rides.count() == 2)    // veh-1 ride seen twice → one ride
    assert(result.rideStops.count() == 3)
    // surrogate ids are deterministic → rerunning yields identical ids
    val again = SiriSnapshotEtl.run(raw("2023/03/10/08/01" -> SiriFixtures.snapA))
    assert(result.rides.select("siri_ride_id").collect().toSet ==
      again.rides.select("siri_ride_id").collect().toSet)
  }

  test("get-or-create across batches: only new keys are created") {
    import graft.sources.SnapshotStorage
    val star = java.nio.file.Files.createTempDirectory("getorcreate").toString
    def table(name: String) = spark.read.parquet(s"$star/$name")
    SnapshotStorage.writeTables(SiriSnapshotEtl.run(raw("2023/03/10/08/01" -> SiriFixtures.snapA)), star)
    val routesA = table("siri_routes").select("operator_ref", "line_ref").as[(Long, Long)].collect().toSet
    SnapshotStorage.writeTables(SiriSnapshotEtl.run(raw("2023/03/10/08/02" -> SiriFixtures.snapB)), star)
    val routesAB = table("siri_routes").select("operator_ref", "line_ref").as[(Long, Long)].collect().toSet
    assert(routesAB -- routesA == Set((30L, 9L))) // only (30,9) is new
    assert(table("siri_rides").count() == 3) // veh-1's ride already existed
    SiriSnapshotEtl.dims.foreach { d =>
      val t = table(d.table)
      assert(t.select(d.storedKey.map(t.col): _*).distinct().count() == t.count(), d.table)
    }
  }

  test("num_added_* counts the keys a batch created in the star (ObjectsMaker)") {
    import org.apache.spark.sql.functions.sum
    import graft.sources.SnapshotStorage
    val star = java.nio.file.Files.createTempDirectory("added").toString
    def table(name: String) = spark.read.parquet(s"$star/$name")
    def load(id: String, doc: String): Unit =
      SnapshotStorage.writeTables(SiriSnapshotEtl.run(raw(id -> doc)), star)
    def added(id: String) = {
      val row = table("siri_snapshots").filter($"snapshot_id" === id).head()
      SiriSnapshotEtl.dims.map(d => row.getAs[Long](s"num_added_${d.table}"))
    }
    load("2023/03/10/08/01", SiriFixtures.snapA)
    val rows = SiriSnapshotEtl.dims.map(d => table(d.table).count())
    assert(added("2023/03/10/08/01") == rows)
    // a second batch of stored keys adds no dimension row and reports none
    load("2023/03/10/08/02", SiriFixtures.snapA)
    assert(SiriSnapshotEtl.dims.map(d => table(d.table).count()) == rows)
    assert(added("2023/03/10/08/02") == Seq(0L, 0L, 0L, 0L))
    // over a multi-batch load with no reloads, each dimension's counts sum
    // to its rows
    load("2023/03/10/08/03", SiriFixtures.snapB)
    load("2023/03/10/08/04", SiriFixtures.snapA)
    val sums = table("siri_snapshots").agg(sum("num_added_siri_routes"), sum("num_added_siri_stops"),
      sum("num_added_siri_rides"), sum("num_added_siri_ride_stops")).head()
    SiriSnapshotEtl.dims.zipWithIndex.foreach { case (d, i) =>
      assert(sums.getLong(i) == table(d.table).count(), d.table)
    }
    assert(added("2023/03/10/08/03") == Seq(1L, 1L, 1L, 1L))
  }

  test("a repeated SIRI batch compiles nothing: the plans of a batch fit the codegen cache") {
    import graft.sources.SnapshotStorage
    import org.apache.spark.metrics.source.CodegenMetrics
    val star = java.nio.file.Files.createTempDirectory("codegen").toString
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // same-shape one-snapshot batches, as the daemon appends them; the
    // first creates the star. Each also carries one new route key, as a
    // daemon batch carries new keys, so a plan that spliced a batch's keys
    // in as literals would compile afresh every batch. With Spark's
    // 100-entry cache every batch recompiled 100+ units. A repeated batch
    // can still compile a few new units now and then (a loaded test run
    // once gave 0, 0, 8; perfbench sees it on a few batches too), so one
    // repeated batch, not every one, must compile nothing.
    val runs = (11 to 14).map { minute =>
      val doc = SiriFixtures.snapA.replace("\"MonitoredStopVisit\": [",
        "\"MonitoredStopVisit\": [" +
          SiriFixtures.visit(100 + minute, 25, "300001", "veh-7", 32043, 1, 34.7, 31.8) + ",")
      val before = compiles
      SnapshotStorage.writeTables(SiriSnapshotEtl.run(raw(s"2023/03/10/08/$minute" -> doc)), star)
      compiles - before
    }
    assert(runs.tail.min == 0, s"units compiled per batch: ${runs.mkString(", ")}")
    assert(spark.read.parquet(s"$star/siri_vehicle_locations").count() == 16)
    assert(spark.read.parquet(s"$star/siri_routes").count() == 6)
  }

  test("ride keeps scheduled_start_time of first sighting") {
    val mixed = raw("2023/03/10/08/01" -> SiriFixtures.snapA, "2023/03/10/08/02" -> SiriFixtures.snapB)
    val rides = SiriSnapshotEtl.rides(SiriSnapshotEtl.parseVisits(mixed))
    val ride1 = rides.filter($"journey_ref" === "2023-03-10-100001").head()
    assert(ride1.getAs[java.sql.Timestamp]("scheduled_start_time").toInstant.toString ==
      "2023-03-10T05:45:00Z")
  }

  test("a stored ride keeps the scheduled_start_time of its earliest recorded visit") {
    import graft.sources.SnapshotStorage
    val star = java.nio.file.Files.createTempDirectory("firstride").toString
    def ride(recorded: String, departed: String, stop: Int, order: Int) =
      SiriFixtures.visit(1, 25, "100001", "veh-1", stop, order, 34.7, 31.8,
        recorded = recorded, departed = departed)
    def stored = spark.read.parquet(s"$star/siri_rides").select("scheduled_start_time")
      .as[java.sql.Timestamp].collect().map(_.toInstant.toString).toSeq
    // the earlier recorded visit comes second and has the later departure
    SnapshotStorage.writeTables(SiriSnapshotEtl.run(raw("2023/03/10/08/01" -> SiriFixtures.snapshot(Seq(
      ride("2023-03-10T08:01:30+02:00", "2023-03-10T07:40:00+02:00", 32043, 13),
      ride("2023-03-10T08:01:10+02:00", "2023-03-10T07:50:00+02:00", 32521, 14))))), star)
    assert(stored == Seq("2023-03-10T05:50:00Z"))
    // a later batch with a third value leaves the stored row as it is
    SnapshotStorage.writeTables(SiriSnapshotEtl.run(raw("2023/03/10/08/02" -> SiriFixtures.snapshot(Seq(
      ride("2023-03-10T08:00:00+02:00", "2023-03-10T07:30:00+02:00", 32043, 13))))), star)
    assert(stored == Seq("2023-03-10T05:50:00Z"))
  }

  test("stored status rows equal snapshotStats of the keys the batch created") {
    import org.apache.spark.sql.functions.col
    import graft.sources.SnapshotStorage
    val star = java.nio.file.Files.createTempDirectory("statusparity").toString
    SnapshotStorage.writeTables(SiriSnapshotEtl.run(raw("2023/03/10/08/01" -> SiriFixtures.snapA)), star)
    val storedIds = SiriSnapshotEtl.dims.map(d =>
      spark.read.parquet(s"$star/${d.table}").select($"${d.id}".as("id"))).reduce(_ union _)
    val batch = Seq("2023/03/10/08/02" -> SiriFixtures.snapB, "2023/03/10/08/03" -> "{ not json",
      "2023/03/10/08/04" -> SiriFixtures.snapshot(Nil), "2023/03/10/08/05" -> SiriFixtures.snapA)
    val r = SiriSnapshotEtl.run(raw(batch: _*))
    // the keys the star lacked, each with the first snapshot that saw it
    val added = SiriSnapshotEtl.keys(r.visits).filter(col("dim").isNotNull)
      .join(storedIds, Seq("id"), "left_anti")
    val expected = SiriSnapshotEtl.snapshotStats(r.visits, added).collect().toSet
    SnapshotStorage.writeTables(r, star)
    val stored = spark.read.parquet(s"$star/siri_snapshots")
      .filter($"snapshot_id" =!= "2023/03/10/08/01")
      .select(expected.head.schema.fieldNames.map(col): _*).collect().toSet
    assert(stored == expected)
    // the empty delivery has no row; the malformed document is an error
    assert(expected.map(_.getAs[String]("snapshot_id")) ==
      Set("2023/03/10/08/02", "2023/03/10/08/03", "2023/03/10/08/05"))
    assert(expected.exists(x => x.getAs[String]("etl_status") == "error"))
    assert(expected.exists(x => x.getAs[Long]("num_added_siri_routes") == 1L))
  }

  test("validate: star-schema reassembly reproduces the parse exactly (validate_snapshots)") {
    val r = SiriSnapshotEtl.run(raw("2023/03/10/08/01" -> SiriFixtures.snapA,
      "2023/03/10/08/02" -> SiriFixtures.snapB))
    val mismatches = SiriSnapshotEtl.validateFields(r.visits, r.vehicleLocations,
      r.rideStops, r.rides, r.stops)
    assert(mismatches.count() == 0)
  }

  test("field-level validation pinpoints the corrupted field, clean data reports none") {
    val r = SiriSnapshotEtl.run(raw("2023/03/10/08/01" -> SiriFixtures.snapA))
    assert(SiriSnapshotEtl.validateFields(r.visits, r.vehicleLocations,
      r.rideStops, r.rides, r.stops).count() == 0)
    // corrupt one ride's journey_ref in the "db" side
    val corruptedRides = r.rides.withColumn("journey_ref",
      org.apache.spark.sql.functions.when($"journey_ref" === "2023-03-10-100002",
        "CORRUPT").otherwise($"journey_ref"))
    val report = SiriSnapshotEtl.validateFields(r.visits, r.vehicleLocations,
      r.rideStops, corruptedRides, r.stops).collect()
    assert(report.length == 1)
    assert(report.head.getAs[String]("field") == "journey_ref")
    assert(report.head.getAs[String]("expected") == "2023-03-10-100002")
    assert(report.head.getAs[String]("actual") == "CORRUPT")
  }

  test("snapshot stats attribute dim creation to the first snapshot that saw the key") {
    val r = SiriSnapshotEtl.run(raw("2023/03/10/08/01" -> SiriFixtures.snapA,
      "2023/03/10/08/02" -> SiriFixtures.snapB))
    val bySnap = r.snapshotStats.collect().map(x =>
      x.getAs[String]("snapshot_id") -> x.getAs[Long]("num_added_siri_routes")).toMap
    assert(bySnap("2023/03/10/08/01") == 2)
    assert(bySnap("2023/03/10/08/02") == 1) // only the new (30,9) route
  }
}

class SiriAnalyticsSpec extends SparkSpec {
  import spark.implicits._
  import graft.etl.SiriSnapshotEtl
  import graft.operators.SiriAnalytics

  private lazy val result = SiriSnapshotEtl.run(Seq(
    ("2023/03/10/08/01", SiriFixtures.snapA),
    ("2023/03/10/08/02", SiriFixtures.snapB)).toDF("snapshot_id", "json"))

  test("ride summaries roll up locations per ride with observed duration") {
    val rs = SiriAnalytics.rideSummaries(result).collect()
      .map(r => r.getAs[Long]("siri_ride_id") -> r).toMap
    assert(rs.size == 3) // ride(1,25,veh-1), ride(3,25,veh-2), ride(9,30,veh-9)
    val multi = rs.values.filter(_.getAs[Long]("n_locations") > 1)
    assert(multi.size == 1) // veh-1's ride reports in both snapshots
    assert(multi.head.getAs[Long]("observed_secs") == 60L)
    assert(multi.head.getAs[Int]("max_velocity") == 42)
  }

  test("active vehicles per route per minute counts distinct vehicles") {
    val av = SiriAnalytics.activeVehiclesPerRoute(result)
    assert(av.agg(org.apache.spark.sql.functions.sum("n_reports")).head().getLong(0) == 5L)
    assert(av.filter($"n_vehicles" < 1).count() == 0)
  }

  test("headways: first arrival per (route, stop) has no gap; gaps are non-negative") {
    val h = SiriAnalytics.stopHeadways(result).collect()
    assert(h.nonEmpty)
    val byGroup = h.groupBy(r =>
      (r.getAs[Long]("siri_route_id"), r.getAs[Long]("siri_stop_id")))
    byGroup.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[java.sql.Timestamp]("arrived_at").getTime)
      assert(sorted.head.isNullAt(sorted.head.fieldIndex("headway_secs")))
      sorted.tail.foreach { r =>
        assert(r.getAs[Long]("headway_secs") >= 0L)
      }
    }
  }

  test("stop progression orders stops within a ride") {
    val sp = SiriAnalytics.stopProgression(result).collect()
    // 4 distinct ride-stops: snapB's order-13 visit repeats snapA's
    assert(sp.length == 4)
    val veh1 = sp.filter(_.getAs[Long]("secs_since_prev_stop") != null)
    // veh-1 reported at order 13 (08:01) then order 14 is a different
    // stop in snapB? no — snapB repeats order 13; progression rows with
    // a prev stop exist only where a ride has 2+ distinct orders
    assert(sp.count(r => !r.isNullAt(r.fieldIndex("prev_order"))) ==
      sp.count(r => !r.isNullAt(r.fieldIndex("secs_since_prev_stop"))))
  }
}
