package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The reference pipeline (open_bus_siri_etl.process_snapshot) as a
  * declarative Spark job over batches of raw SIRI-SM JSON snapshots.
  *
  * Reference semantics preserved:
  *  - parse_monitored_stop_visit (process_snapshot.py:214): typed
  *    coercion, journey_ref = DataFrameRef||'-'||DatedVehicleJourneyRef,
  *    defaults (vehicle_ref '', bearing/velocity/distance -1), any
  *    missing required field ⇒ the visit is diverted to a parse-errors
  *    output (save_monitored_stop_visit_parse_error,
  *    process_snapshot.py:46) and counted per snapshot.
  *  - ObjectsMaker get-or-create (process_snapshot.py:51): four
  *    dimensions keyed by natural keys; first sighting creates the row,
  *    later sightings reuse it. Here: each dimension is declared once
  *    ([[Dim]]); one aggregate over a batch ([[keys]]) gives its
  *    distinct keys, surrogate = xxhash64(natural key) so ids need no
  *    global coordination at 100 TB (SURVEY.md §5), and
  *    [[graft.sources.SnapshotStorage.writeTables]] appends only the keys
  *    its [[graft.sources.DimIndex]] lacks, built from the collected rows.
  *  - snapshot lifecycle stats (update_siri_snapshot_loaded,
  *    process_snapshot.py:302): per-snapshot success/fail counts and
  *    per-dimension added counts.
  *  - idempotent reload (process_snapshot.py:269): facts of a reloaded
  *    snapshot are replaced, dims only ever grow.
  *
  * Scale design: one scan parses everything (from_json + two explodes,
  * all map-side); one aggregate (partial-agg, one shuffle) yields every
  * dimension's keys and every snapshot's parse counts; facts are keyed
  * by hashing, with no join; every "first sighting" is a `min` aggregate
  * per key, never a window. Facts partition by snapshot
  * (date, minute) for single-partition reload.
  */
object SiriSnapshotEtl {

  private val TsFmt = "yyyy-MM-dd'T'HH:mm:ssXXX"

  /** Raw snapshots (snapshot_id, json) → one row per MonitoredStopVisit
    * with typed fields + `parse_ok`. Pure projection. */
  def parseVisits(raw: DataFrame): DataFrame = {
    val mvj = col("visit.MonitoredVehicleJourney")
    raw
      .select(col("snapshot_id"), from_json(col("json"), SiriSchema.root).as("doc"))
      // explode_outer + the filter below: a malformed document (doc or
      // delivery null after from_json) must surface as ONE failed visit
      // so the snapshot gets an error-status row (the reference marks
      // the whole snapshot failed, process_snapshot.py:289) — a plain
      // explode would silently drop it. A well-formed delivery with an
      // empty visit list stays invisible (zero visits, zero failures).
      .select(col("snapshot_id"), col("doc"),
        explode_outer(col("doc.Siri.ServiceDelivery.StopMonitoringDelivery")).as("smd"))
      .select(col("snapshot_id"), col("doc"), col("smd"),
        explode_outer(col("smd.MonitoredStopVisit")).as("visit"))
      .filter(col("visit").isNotNull || col("doc.Siri.ServiceDelivery").isNull ||
        col("smd").isNull)
      .select(
        col("snapshot_id"),
        to_timestamp(col("visit.RecordedAtTime"), TsFmt).as("recorded_at_time"),
        mvj.getField("LineRef").cast("long").as("line_ref"),
        mvj.getField("OperatorRef").cast("long").as("operator_ref"),
        // null-propagating concat (NOT concat_ws, which skips nulls): the
        // reference's '+' concatenation raises when either ref is missing
        // and the visit goes to parse errors (process_snapshot.py:220) —
        // a half-keyed journey_ref must never load.
        concat(
          mvj.getField("FramedVehicleJourneyRef").getField("DataFrameRef"),
          lit("-"),
          mvj.getField("FramedVehicleJourneyRef").getField("DatedVehicleJourneyRef"))
          .as("journey_ref"),
        to_timestamp(mvj.getField("OriginAimedDepartureTime"), TsFmt).as("scheduled_start_time"),
        coalesce(mvj.getField("VehicleRef"), lit("")).as("vehicle_ref"),
        mvj.getField("MonitoredCall").getField("Order").cast("int").as("order"),
        mvj.getField("MonitoredCall").getField("StopPointRef").cast("long").as("stop_point_ref"),
        mvj.getField("VehicleLocation").getField("Longitude").cast("double").as("lon"),
        mvj.getField("VehicleLocation").getField("Latitude").cast("double").as("lat"),
        coalesce(mvj.getField("Bearing").cast("int"), lit(-1)).as("bearing"),
        coalesce(mvj.getField("Velocity").cast("int"), lit(-1)).as("velocity"),
        coalesce(mvj.getField("MonitoredCall").getField("DistanceFromStop").cast("int"), lit(-1))
          .as("distance_from_journey_start"))
      .withColumn("parse_ok",
        col("recorded_at_time").isNotNull && col("line_ref").isNotNull &&
          col("operator_ref").isNotNull && col("journey_ref").isNotNull &&
          col("scheduled_start_time").isNotNull && col("order").isNotNull &&
          col("stop_point_ref").isNotNull && col("lon").isNotNull && col("lat").isNotNull)
  }

  /** The parse-errors sink: visits that failed coercion, kept with their
    * snapshot for the backup-cleanup task (reference keeps jsonlines per
    * snapshot_id). */
  def parseErrors(visits: DataFrame): DataFrame =
    visits.filter(!col("parse_ok"))

  private def okVisits(visits: DataFrame): DataFrame =
    visits.filter(col("parse_ok"))

  // ---- the four dimensions, each declared once ----

  /** One SIRI dimension: its table, its natural key (visit columns), its
    * surrogate — xxhash64 of a tag and the key, through the surrogates of
    * the dimensions it references — and those references, whose
    * surrogates its rows carry. `stored` renames key columns in the
    * dimension's own table. */
  private[graft] final case class Dim(table: String, key: Seq[String], id: String,
      surrogate: Column, refs: Seq[Dim] = Nil, stored: Map[String, String] = Map.empty) {
    /** The surrogates a row of this table carries: its references', then its own. */
    def ids: Seq[Dim] = (refs.flatMap(_.ids) :+ this).distinct
    def storedKey: Seq[String] = key.map(k => stored.getOrElse(k, k))
  }

  private val Route = Dim("siri_routes", Seq("operator_ref", "line_ref"), "siri_route_id",
    xxhash64(lit("route"), col("operator_ref"), col("line_ref")))
  private val Stop = Dim("siri_stops", Seq("stop_point_ref"), "siri_stop_id",
    xxhash64(lit("stop"), col("stop_point_ref")), stored = Map("stop_point_ref" -> "code"))
  private val Ride = Dim("siri_rides", Route.key ++ Seq("journey_ref", "vehicle_ref"),
    "siri_ride_id", xxhash64(lit("ride"), Route.surrogate, col("journey_ref"), col("vehicle_ref")),
    refs = Seq(Route))
  private val RideStop = Dim("siri_ride_stops", Ride.key ++ Stop.key :+ "order",
    "siri_ride_stop_id", xxhash64(lit("ride_stop"), Ride.surrogate, Stop.surrogate, col("order")),
    refs = Seq(Ride, Stop))
  /** In `EtlResult` order. */
  private[graft] val dims: Seq[Dim] = Seq(Route, Stop, Ride, RideStop)

  /** The schema of `d`'s rows of [[keys]], whose `schema` it is: `d`'s key
    * columns as nullable as in `visits` (the keys pass nulls them only in
    * the other dimensions' rows), so its stored rows keep their types. */
  private[graft] def keysSchema(d: Dim, schema: StructType, visits: StructType): StructType =
    StructType(schema.map(f => if (d.key.contains(f.name)) f.copy(nullable = visits(f.name).nullable) else f))

  /** A dimension's table from keys-pass rows ([[keys]]): stored key, a
    * ride's `scheduled_start_time` from its first sighting, then the
    * surrogates. */
  private[graft] def dimTable(keys: DataFrame, d: Dim): DataFrame = {
    val attrs = if (d eq Ride) Seq(col("first.scheduled_start_time").as("scheduled_start_time")) else Nil
    keys.filter(col("dim") === d.table)
      .select(d.key.zip(d.storedKey).map { case (k, s) => col(k).as(s) } ++ attrs ++
        d.ids.map(r => r.surrogate.as(r.id)): _*)
  }

  /** siri_route(operator_ref, line_ref). */
  def routes(visits: DataFrame): DataFrame = dimTable(keys(visits), Route)

  /** siri_stop(code). */
  def stops(visits: DataFrame): DataFrame = dimTable(keys(visits), Stop)

  /** siri_ride(route, journey_ref, vehicle_ref) + scheduled_start_time
    * of the FIRST sighting (reference creates once and never updates —
    * ObjectsMaker caches the created row): the least
    * (recorded_at_time, scheduled_start_time) per key. */
  def rides(visits: DataFrame): DataFrame = dimTable(keys(visits), Ride)

  /** siri_ride_stop(ride, stop, order). */
  def rideStops(visits: DataFrame): DataFrame = dimTable(keys(visits), RideStop)

  /** siri_vehicle_location facts: every successfully parsed visit, keyed
    * by its ride-stop surrogate. Pure projection — the surrogate is a
    * hash of natural keys already on the row, so NO join is needed to
    * key facts (the reference needs four DB round-trips here). */
  def vehicleLocations(visits: DataFrame): DataFrame =
    okVisits(visits)
      .select(col("snapshot_id"), RideStop.surrogate.as(RideStop.id), col("recorded_at_time"),
        col("lon"), col("lat"), col("bearing"), col("velocity"),
        col("distance_from_journey_start"))

  /** The keys pass: one aggregate over the parsed visits that yields
    * everything a batch's write needs.
    *  - One row per distinct key of each dimension: `dim` (its table),
    *    `id` (its surrogate), `snapshot_id` (the least snapshot that saw
    *    it), its key columns, the other dimensions' key columns null, and
    *    for a ride `first`, its least (recorded_at_time,
    *    scheduled_start_time).
    *  - One row per snapshot, `dim` null: `snapshot_id` and the counts of
    *    its visits parsed and failed, in [[Backfill]]'s column names.
    */
  private[graft] def keys(visits: DataFrame): DataFrame = {
    val keyColumns = dims.flatMap(_.key).distinct
    val first = Seq("recorded_at_time", "scheduled_start_time")
    val types = Seq("dim" -> StringType, "id" -> LongType, "counted" -> StringType) ++
      keyColumns.map(k => k -> visits.schema(k).dataType) ++
      Seq("first" -> StructType(first.map(visits.schema(_))),
        Backfill.Parsed -> LongType, Backfill.Failed -> LongType)
    // every entry has every field, typed, so the array's structs agree
    def entry(set: (String, Column)*): Column = {
      val given = set.toMap
      struct(types.map { case (f, t) => given.getOrElse(f, lit(null).cast(t)).as(f) }: _*)
    }
    // a snapshot's counts group on its id; a key's on the key alone
    val counts = entry("counted" -> col("snapshot_id"),
      Backfill.Parsed -> when(col("parse_ok"), 1L).otherwise(0L),
      Backfill.Failed -> when(col("parse_ok"), 0L).otherwise(1L))
    val sightings = dims.map(d => entry(Seq("dim" -> lit(d.table), "id" -> d.surrogate) ++
      d.key.map(k => k -> col(k)) ++
      (if (d eq Ride) Seq("first" -> struct(first.map(col): _*)) else Nil): _*))
    visits
      .select(col("snapshot_id"), col("parse_ok"), explode(array(counts +: sightings: _*)).as("e"))
      .filter(col("e.dim").isNull || col("parse_ok"))
      .groupBy((Seq("dim", "id", "counted") ++ keyColumns).map(f => col(s"e.$f").as(f)): _*)
      .agg(min(col("snapshot_id")).as("snapshot_id"), min(col("e.first")).as("first"),
        sum(col(s"e.${Backfill.Parsed}")).as(Backfill.Parsed),
        sum(col(s"e.${Backfill.Failed}")).as(Backfill.Failed))
      .drop("counted")
  }

  /** Per-snapshot lifecycle stats: the siri_snapshot status row the
    * reference maintains (parse counts, added-per-dim counts, `loaded`
    * or `error`), in [[Backfill]]'s status-row shape.
    *
    * `num_added_<table>` counts the rows of `added` — (dim, id,
    * snapshot_id) as [[keys]] yields them — per snapshot.
    * [[graft.sources.SnapshotStorage.writeTables]] counts the keys the
    * batch created in the star, so a snapshot counts the dimension rows it
    * added, as the reference's ObjectsMaker does: a batch of stored keys
    * reports 0, and over a load with no reloads each dimension's counts
    * sum to its rows. */
  def snapshotStats(visits: DataFrame, added: DataFrame): DataFrame =
    stats(keys(visits), added)

  /** [[snapshotStats]] with every key of the batch added: the counts of
    * the batch written into an empty star. */
  def snapshotStats(visits: DataFrame): DataFrame = allAdded(keys(visits))

  private def allAdded(keys: DataFrame): DataFrame = stats(keys, keys.filter(col("dim").isNotNull))

  /** [[snapshotStats]] from the batch's [[keys]]. */
  private def stats(keys: DataFrame, added: DataFrame): DataFrame = {
    val perSnapshot = keys.filter(col("dim").isNull)
      .select(col("snapshot_id"), col(Backfill.Parsed), col(Backfill.Failed))
    val counts = dims.map(d => sum(when(col("dim") === d.table, 1L).otherwise(0L)).as(Backfill.added(d)))
    val perDim = added.groupBy(col("snapshot_id")).agg(counts.head, counts.tail: _*)
    Backfill.loadedOrError(perSnapshot.join(perDim, Seq("snapshot_id"), "left").na.fill(0L))
  }

  /** [[snapshotStats]] of collected [[keys]] rows: `counts`, the rows of
    * per-snapshot parse counts, and `added`, the rows of the keys the
    * batch created in the star. A local relation of rows built here: no
    * Spark job runs for it. */
  private[graft] def snapshotStats(spark: SparkSession, counts: Seq[Row], added: Seq[Row]): DataFrame = {
    val perDim = added.groupMapReduce(k => (k.getAs[String]("snapshot_id"), k.getAs[String]("dim")))(_ => 1L)(_ + _)
    val rows = counts.map { c =>
      val id = c.getAs[String]("snapshot_id")
      Row.fromSeq(Seq(id, c.getAs[Long](Backfill.Parsed), c.getAs[Long](Backfill.Failed)) ++
        dims.map(d => perDim.getOrElse((id, d.table), 0L)))
    }
    val columns = Seq(Backfill.Parsed, Backfill.Failed) ++ dims.map(Backfill.added)
    Backfill.loadedOrError(spark.createDataFrame(rows.asJava,
      StructType(StructField("snapshot_id", StringType) +: columns.map(StructField(_, LongType, nullable = false)))))
  }

  /** Reconciliation (validate_snapshots.py): join the star back together
    * and compare it against a fresh parse. Like validate_snapshots.py:100
    * it emits one row per mismatching FIELD, keyed by the
    * vehicle-location natural key, with expected vs actual: both
    * derivations join on the location key, then each compared field
    * contributes its own mismatch row. Rows present on only one side
    * report field 'presence'. Empty result ⇒ valid. */
  def validateFields(visits: DataFrame, facts: DataFrame, rideStopDim: DataFrame,
      rideDim: DataFrame, stopDim: DataFrame): DataFrame = {
    val locKey = Seq("snapshot_id", "recorded_at_time", "lon", "lat",
      "bearing", "velocity", "distance_from_journey_start")
    val fields = Seq("journey_ref", "vehicle_ref", "scheduled_start_time", "code", "order")
    def sided(df: DataFrame, side: String): DataFrame =
      fields.foldLeft(df)((d, f) => d.withColumnRenamed(f, s"${side}_$f"))
        .withColumn(s"${side}_present", lit(true))
    val reassembled = sided(facts
      .join(broadcast(rideStopDim.select(col("siri_ride_stop_id"), col("siri_ride_id"),
        col("siri_stop_id"), col("order"))), Seq("siri_ride_stop_id"))
      .join(broadcast(rideDim.select(col("siri_ride_id"), col("journey_ref"),
        col("vehicle_ref"), col("scheduled_start_time"))), Seq("siri_ride_id"))
      .join(broadcast(stopDim.select(col("siri_stop_id"), col("code"))), Seq("siri_stop_id"))
      .select((locKey ++ fields).map(col): _*), "db")
    val expected = sided(visits.filter(col("parse_ok"))
      .withColumnRenamed("stop_point_ref", "code")
      .select((locKey ++ fields).map(col): _*), "parse")
    val joined = expected.join(reassembled, locKey, "full_outer")
    val presence = joined
      .filter(col("parse_present").isNull || col("db_present").isNull)
      .select(locKey.map(col) :+ lit("presence").as("field") :+
        when(col("parse_present").isNotNull, lit("parsed row")).otherwise(lit("")).as("expected") :+
        when(col("db_present").isNotNull, lit("db row")).otherwise(lit("")).as("actual"): _*)
    val fieldMismatches = fields.map { f =>
      joined
        .filter(col("parse_present").isNotNull && col("db_present").isNotNull &&
          !(col(s"parse_$f") <=> col(s"db_$f")))
        .select(locKey.map(col) :+ lit(f).as("field") :+
          col(s"parse_$f").cast("string").as("expected") :+
          col(s"db_$f").cast("string").as("actual"): _*)
    }
    fieldMismatches.foldLeft(presence)(_ unionByName _)
  }

  /** Whole-batch ETL result. */
  case class EtlResult(visits: DataFrame, routes: DataFrame, stops: DataFrame,
      rides: DataFrame, rideStops: DataFrame, vehicleLocations: DataFrame,
      snapshotStats: DataFrame, parseErrors: DataFrame)

  /** Run the full pipeline over raw (snapshot_id, json) rows. */
  def run(raw: DataFrame): EtlResult = {
    val visits = parseVisits(raw)
    // one keys plan under all four dimensions and the stats: each is analysed once
    val k = keys(visits)
    EtlResult(visits, dimTable(k, Route), dimTable(k, Stop), dimTable(k, Ride),
      dimTable(k, RideStop), vehicleLocations(visits), allAdded(k), parseErrors(visits))
  }
}
