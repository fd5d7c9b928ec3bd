package graft.etl

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The siri_snapshot lifecycle (update_pending_snapshots.py,
  * parallel_process_old_missing_snapshots.py), owned here. A status row
  * is snapshot_id, the visits parsed and failed, the keys each dimension
  * added, etl_status (`pending`, `loaded` or `error`) and error; a
  * pending row has null counts and error. One rule: a snapshot needs
  * loading unless its status is `loaded` — untracked, pending and
  * errored snapshots alike.
  *
  * Spark-first: the expected id series comes from `sequence` (no
  * driver loop over minutes — the reference iterates one minute at a
  * time, update_pending_snapshots.py:94), the set difference is a
  * left_anti join, and "parallel workers" is just partitioning — the
  * batch ETL already distributes, so the whole backfill is ONE job
  * regardless of how many snapshots are behind.
  */
object Backfill {

  private val SnapshotIdFmt = "yyyy/MM/dd/HH/mm"

  private[etl] val Parsed = "num_successful_parse_vehicle_locations"
  private[etl] val Failed = "num_failed_parse_vehicle_locations"
  private[etl] def added(d: SiriSnapshotEtl.Dim): String = s"num_added_${d.table}"

  /** A status row, column by column; `count` gives each count's value. */
  private def statusRow(count: String => Column, status: Column, error: Column): Seq[Column] =
    col("snapshot_id") +: (Seq(Parsed, Failed) ++ SiriSnapshotEtl.dims.map(added))
      .map(c => count(c).cast("long").as(c)) :+ status.as("etl_status") :+ error.as("error")

  /** Per-snapshot counts → status rows (process_snapshot.py:289,302):
    * a snapshot with nothing but failures (e.g. an unparseable
    * document) is `error` with a reason; a loaded one carries error=''
    * even when some visits failed to parse. */
  private[etl] def loadedOrError(counts: DataFrame): DataFrame = {
    val loaded = col(Parsed) > 0 || col(Failed) === 0
    counts.select(statusRow(col, when(loaded, lit("loaded")).otherwise(lit("error")),
      when(loaded, lit("")).otherwise(lit("no parseable visits"))): _*)
  }

  private def pendingRows(ids: DataFrame): DataFrame =
    ids.select(statusRow(_ => lit(null), lit("pending"), lit(null).cast("string")): _*)

  /** The status table at `path`, empty while nothing is stored there. */
  private[graft] def readStatus(spark: SparkSession, path: String): DataFrame =
    try spark.read.parquet(path)
    catch { case _: AnalysisException =>
      pendingRows(spark.emptyDataFrame.select(lit("").as("snapshot_id"))) }

  /** The rows of `snapshots` whose snapshot is not `loaded`. */
  private[graft] def needsLoading(snapshots: DataFrame, statusTable: DataFrame): DataFrame =
    snapshots.join(statusTable.filter(col("etl_status") === "loaded").select("snapshot_id"),
      Seq("snapshot_id"), "left_anti")

  /** Every expected snapshot id in [from, to], one per minute —
    * generated distributed, not on the driver. */
  def expectedSnapshotIds(spark: SparkSession, fromId: String, toId: String): DataFrame = {
    import spark.implicits._
    Seq((fromId, toId)).toDF("from_id", "to_id")
      .select(
        to_timestamp(col("from_id"), SnapshotIdFmt).as("mn"),
        to_timestamp(col("to_id"), SnapshotIdFmt).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"), expr("interval 1 minute"))).as("minute"))
      .select(date_format(col("minute"), SnapshotIdFmt).as("snapshot_id"))
  }

  /** update_pending_snapshots: expected ids not yet present in the
    * status table become `pending` status rows (idempotent — ids
    * already tracked are untouched). `statusTable` needs snapshot_id. */
  def pendingSnapshots(spark: SparkSession, fromId: String, toId: String,
      statusTable: DataFrame): DataFrame =
    pendingRows(expectedSnapshotIds(spark, fromId, toId)
      .join(statusTable.select("snapshot_id"), Seq("snapshot_id"), "left_anti"))

  /** process_old_missing_snapshots: run the batch ETL over the
    * snapshots of [from, to] that need loading. `raw` carries
    * (snapshot_id, json) for whatever snapshot payloads exist. */
  def processBacklog(spark: SparkSession, fromId: String, toId: String,
      statusTable: DataFrame, raw: DataFrame): SiriSnapshotEtl.EtlResult =
    SiriSnapshotEtl.run(raw.join(
      broadcast(needsLoading(expectedSnapshotIds(spark, fromId, toId), statusTable)),
      Seq("snapshot_id")))
}
