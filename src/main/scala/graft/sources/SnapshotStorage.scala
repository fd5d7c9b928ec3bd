package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.SiriSnapshotEtl

/** Storage contract for raw snapshots and the materialized star schema
  * — the reference's open_bus_siri_requester.storage layout
  * (`<root>/YYYY/MM/DD/HH/MM` one document per minute) and its Postgres
  * tables, re-expressed as files Spark reads natively.
  *
  * Raw reads are distributed (`input_file_name`-derived ids — no
  * driver-side directory walking, unlike the reference's per-minute
  * loop); the same glob serves batch (`read`) and the daemon
  * (`readStream` + checkpoint). Facts, parse errors and status rows
  * are (date, minute)-partitioned, so reloading one snapshot rewrites
  * one leaf of each.
  */
object SnapshotStorage {

  private val idFromPath = raw"(\d{4}/\d{2}/\d{2}/\d{2}/\d{2})\.(json|br)"

  /** The files `pattern` matches, globbed once here. Spark reads them as
    * plain paths: handed the glob itself, it globs again and first probes
    * the glob string for a streaming-sink metadata directory, which logs
    * a `FileNotFoundException` WARN with its stack trace on every read. */
  private def matching(spark: SparkSession, pattern: String): Seq[String] = {
    val p = new Path(pattern)
    Option(p.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(p))
      .fold(Seq.empty[String])(_.toSeq.map(_.getPath.toString))
  }

  /** Batch read of every raw snapshot under `rootDir` — both plain
    * `.json` minutes and the reference's actual landing format, one
    * brotli-compressed document per minute (`MM.br` —
    * local_development_helpers.py:14; process_snapshot.py:324-342 pipes
    * downloads through `brotli -d`). `.br` files are read as binary and
    * decoded IN THE MAPPER by [[Brotli.decompress]] (pure JVM, RFC
    * 7932), so decompression scales with executors, not the driver. */
  def readRaw(spark: SparkSession, rootDir: String): DataFrame = {
    val jsonFiles = matching(spark, s"$rootDir/*/*/*/*/*.json")
    val brFiles = matching(spark, s"$rootDir/*/*/*/*/*.br")
    val jsonPart =
      if (jsonFiles.nonEmpty)
        Some(spark.read.option("wholetext", "true").text(jsonFiles: _*)
          .select(
            regexp_extract(input_file_name(), idFromPath, 1).as("snapshot_id"),
            col("value").as("json")))
      else None
    val brPart =
      if (brFiles.nonEmpty) Some(decodeBrotli(spark.read.format("binaryFile").load(brFiles: _*)))
      else None
    (jsonPart, brPart) match {
      case (None, None) =>
        import spark.implicits._
        Seq.empty[(String, String)].toDF("snapshot_id", "json")
      case (Some(j), None) => j
      case (None, Some(b)) => b
      case (Some(j), Some(b)) =>
        // A minute present in BOTH formats (mixed trees accumulate —
        // copyRange preserves extensions) must not yield duplicate
        // snapshot_id rows downstream. Documented precedence: `.json`
        // wins (it needs no decode, so it is the cheaper and the more
        // inspectable copy); `.br` fills only the minutes json lacks.
        j.unionByName(b.join(j.select(col("snapshot_id")),
          Seq("snapshot_id"), "left_anti"))
    }
  }

  /** Streaming read of the same layout (json-lines documents carrying
    * snapshot_id + json, as the daemon's requester writes them). */
  def readRawStream(spark: SparkSession, rootDir: String): DataFrame =
    spark.readStream.schema("snapshot_id STRING, json STRING").json(rootDir)

  /** Streaming read of the reference's ACTUAL landing tree — one
    * brotli document per minute (`YYYY/MM/DD/HH/MM.br`) — so the
    * daemon can tail the archive format directly: the binaryFile
    * source checkpoints file offsets (replacing the reference's
    * last-loaded-snapshot bookkeeping) and [[Brotli.decompress]] runs
    * in the mapper, scaling decode with executors exactly like the
    * batch path. */
  def readRawBrotliStream(spark: SparkSession, rootDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    decodeBrotli(reader.load(s"$rootDir/*/*/*/*/*.br"))
  }

  /** binaryFile rows → (snapshot_id, json), decoded in the mapper. */
  private def decodeBrotli(files: DataFrame): DataFrame = {
    import files.sparkSession.implicits._
    val idRe = idFromPath.r
    files.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (p, bytes) =>
        val id = idRe.findFirstMatchIn(p).map(_.group(1)).getOrElse(p)
        // name the offending file: a corrupt landing doc must fail the
        // task with its path, not an anonymous decoder error
        val decoded =
          try Brotli.decompress(bytes)
          catch { case e: java.io.IOException =>
            throw new java.io.IOException(s"$p: ${e.getMessage}", e)
          }
        (id, new String(decoded, java.nio.charset.StandardCharsets.UTF_8))
      }
      .toDF("snapshot_id", "json")
  }

  /** One lock per dimension table, so writers in one JVM append to
    * it one at a time: concurrent appends to one directory share its
    * `_temporary` dir, which the first job to commit deletes under the
    * others, and two racing get-or-creates would both append a key. */
  private val dimLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Dimension write: append-only. Only keys not already on disk are
    * appended (left_anti), so dims monotonically grow and a backlog
    * rerun never loses previously-created rows — the reference's
    * get-or-create contract (ObjectsMaker, process_snapshot.py:51). */
  private def appendNewDimKeys(dim: DataFrame, path: String, keys: Seq[String]): Unit = {
    val spark = dim.sparkSession
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    dimLocks.computeIfAbsent(fs.makeQualified(p).toString, _ => new AnyRef).synchronized {
      val fresh =
        if (fs.exists(p))
          dim.join(spark.read.parquet(path).select(keys.map(col): _*), keys, "left_anti")
        else dim
      fresh.write.mode(SaveMode.Append).parquet(path)
    }
  }

  /** `2021/07/05/12/34` → (`2021-07-05`, `1234`): date partition for
    * scan pruning, minute partition so one snapshot = one leaf dir. */
  private[graft] def withSnapshotPartitions(df: DataFrame): DataFrame =
    df.withColumn("snapshot_date",
        translate(substring(col("snapshot_id"), 1, 10), "/", "-"))
      .withColumn("snapshot_minute",
        translate(substring(col("snapshot_id"), 12, 5), "/", ""))

  /** Overwrite the snapshot partitions of `df`, dynamically: the
    * write replaces exactly the (date, minute) leaves it produces rows
    * for and nothing else (a static overwrite would wipe every
    * previously loaded partition). A dynamic overwrite leaves alone a
    * leaf it produces no rows for, so the leaves of `emptied` — this
    * batch's snapshots that now have no rows here — are deleted after
    * it. The mode is this write's option, never the session's conf,
    * which a concurrent writer on the same session would see. */
  private def overwriteSnapshots(df: DataFrame, path: String, emptied: Seq[Row]): Unit = {
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .partitionBy("snapshot_date", "snapshot_minute")
      .parquet(path)
    val table = new Path(path)
    val fs = table.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    emptied.foreach(s => fs.delete(new Path(table,
      s"snapshot_date=${s.getAs[String]("snapshot_date")}/" +
        s"snapshot_minute=${s.getAs[String]("snapshot_minute")}"), true))
  }

  /** Write an ETL result as the star schema — idempotently.
    *
    * Facts / parse errors / stats partition by (snapshot_date,
    * snapshot_minute), and each batch overwrites exactly its own
    * snapshots' leaves ([[overwriteSnapshots]]): reprocessing a
    * snapshot leaves only its new rows in every table, and no other
    * snapshot's. Dims append unseen keys only. The status rows go
    * last ([[graft.etl.Backfill]]'s status rows, replacing a pending
    * one), so a snapshot reads `loaded` — the one status that keeps it
    * from being loaded again — only once its rows are in. */
  def writeTables(r: SiriSnapshotEtl.EtlResult, outDir: String): Unit = {
    val spark = r.routes.sparkSession
    // every output table derives from the SAME parsed-visits relation,
    // and each write below is its own Spark action — uncached, the ~8
    // actions would each re-read AND re-decode/re-parse the raw
    // snapshot source (measured: the .br drain spends most of its wall
    // re-decoding brotli per table). Pin visits for the duration of
    // the writes; MEMORY_AND_DISK because a backlog drain's mega-batch
    // may exceed executor memory — a spilled cache still beats eight
    // decodes. Unpersisted in finally: the daemon calls this per
    // micro-batch and must not accumulate cache blocks.
    r.visits.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-stage timed sections on the batch path (reference logs.py
    // debug_time around each process_snapshot phase) — each section
    // wraps the Spark ACTION that materializes that table
    import graft.Logs.debugTime
    try {
      debugTime("write-dims", "outDir" -> outDir) {
        SiriSnapshotEtl.dims.zip(Seq(r.routes, r.stops, r.rides, r.rideStops)).foreach {
          case (d, dim) => appendNewDimKeys(dim, s"$outDir/${d.table}", d.storedKey)
        }
      }
      // one status row per snapshot of the batch: it says which
      // snapshots now have no facts or no parse errors
      val stats = withSnapshotPartitions(r.snapshotStats)
      val status = stats.collect().toSeq
      // facts: zstd (scan-bound table, best ratio at similar decode
      // speed), rows sorted by recorded time in each file so time-range
      // scans prune on page min/max instead of reading whole row groups
      debugTime("write-vehicle-locations", "outDir" -> outDir) {
        overwriteSnapshots(withSnapshotPartitions(r.vehicleLocations)
          .sortWithinPartitions(col("snapshot_date"), col("snapshot_minute"),
            col("recorded_at_time")),
          s"$outDir/siri_vehicle_locations",
          status.filter(_.getAs[Long]("num_successful_parse_vehicle_locations") == 0))
      }
      debugTime("write-stats-and-errors", "outDir" -> outDir) {
        overwriteSnapshots(withSnapshotPartitions(r.parseErrors), s"$outDir/parse_errors",
          status.filter(_.getAs[Long]("num_failed_parse_vehicle_locations") == 0))
        overwriteSnapshots(spark.createDataFrame(status.asJava, stats.schema),
          s"$outDir/siri_snapshots", Nil)
      }
    } finally r.visits.unpersist()
  }

  /** Copy raw snapshots from one storage root into another — the
    * reference's `download-latest-snapshots` / `download-snapshot`
    * surface (cli.py:18–29, backed by the requester's remote storage)
    * as a storage adapter: both roots are Hadoop-filesystem URIs, so
    * the same command serves local dirs, HDFS, or any object store the
    * classpath mounts. Range is the reference's lexicographic
    * `<fromId> <toId>` between over `YYYY/MM/DD/HH/MM` ids (they sort
    * chronologically). Already-present destination files are skipped
    * (idempotent re-runs) unless `force`.
    *
    * This is driver-side FILE orchestration, not data processing — the
    * per-minute document copy loop mirrors the reference requester; the
    * distributed engine only ever reads the destination dir. */
  def copySnapshots(spark: SparkSession, srcRoot: String, dstRoot: String,
      fromId: Option[String] = None, toId: Option[String] = None,
      force: Boolean = false): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcFs = new Path(srcRoot).getFileSystem(conf)
    val dstFs = new Path(dstRoot).getFileSystem(conf)
    val globs = Seq(s"$srcRoot/*/*/*/*/*.json", s"$srcRoot/*/*/*/*/*.br")
      .map(new Path(_))
    val idRe = idFromPath.r
    val found = globs.flatMap(g => Option(srcFs.globStatus(g)).getOrElse(Array.empty))
    var copied = 0L
    found.foreach { st =>
      idRe.findFirstMatchIn(st.getPath.toString).foreach { mtc =>
        val id = mtc.group(1); val ext = mtc.group(2)
        val inRange = fromId.forall(id >= _) && toId.forall(id <= _)
        if (inRange) {
          val dst = new Path(s"$dstRoot/$id.$ext")
          if (force || !dstFs.exists(dst)) {
            dstFs.mkdirs(dst.getParent)
            org.apache.hadoop.fs.FileUtil.copy(
              srcFs, st.getPath, dstFs, dst, false, true, conf)
            copied += 1
          }
        }
      }
    }
    copied
  }
}
