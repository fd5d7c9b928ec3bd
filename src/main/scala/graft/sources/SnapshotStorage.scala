package graft.sources

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Try}

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

  /** Run `writes` together, one thread each, and return their results
    * once every one has ended. The threads are created here, by the
    * caller, so they inherit its Spark local properties: the job group
    * and SQL execution id that `StreamingQuery.stop()` cancels by. A
    * failed write does not cut the wait short, so no sibling is still
    * writing when the first failure is rethrown; neither does an
    * interrupt of the caller, which is restored after. None or one write
    * runs on the caller's own thread. */
  private def together[T](writes: Seq[() => T]): Seq[T] =
    if (writes.size <= 1) writes.map(_())
    else {
      val pool = Executors.newFixedThreadPool(writes.size)
      try {
        val pending = writes.map(w => pool.submit(new Callable[T] { def call(): T = w() }))
        var interrupted = false
        val ended = pending.map { f =>
          var r: Option[Try[T]] = None
          while (r.isEmpty)
            try r = Some(Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
            catch { case _: InterruptedException => interrupted = true }
          r.get
        }
        if (interrupted) Thread.currentThread().interrupt()
        ended.map(_.get)
      } finally pool.shutdown()
    }

  /** Write an ETL result as the star schema — idempotently — building a
    * fresh [[DimIndex]] of the star: one scan of each dimension's ids. */
  def writeTables(r: SiriSnapshotEtl.EtlResult, outDir: String): Unit =
    writeTables(r, new DimIndex(r.visits.sparkSession, outDir))

  /** Write an ETL result into the star of `index`, whose dimension keys
    * it reuses and extends.
    *
    * One aggregate over the visits, the keys pass
    * ([[SiriSnapshotEtl.keys]], collected), gives every dimension key of
    * the batch with its key columns, and every snapshot's parse counts;
    * it is the batch's only shuffle. Each dimension with a key `index`
    * lacks appends the rows of the keys not stored ([[DimIndex.append]]),
    * a local relation of the collected rows. The status rows are one too,
    * built from the counts and the keys created, so no Spark job runs for
    * them. Facts / parse errors / stats partition by
    * (snapshot_date, snapshot_minute), and each batch overwrites exactly
    * its own snapshots' leaves ([[overwriteSnapshots]]): reprocessing a
    * snapshot leaves only its new rows in every table, and no other
    * snapshot's.
    *
    * The writes run in three phases, the writes of a phase together: the
    * dimension appends, then facts with parse errors, then the status
    * rows ([[graft.etl.Backfill]]'s status rows, replacing a pending
    * one). So dims are in before any fact that references them, and a
    * snapshot reads `loaded` — the one status that keeps it from being
    * loaded again — only once its rows are in. */
  private[graft] def writeTables(r: SiriSnapshotEtl.EtlResult, index: DimIndex): Unit = {
    val spark = r.visits.sparkSession
    val outDir = index.outDir
    // the facts and parse errors derive from the SAME parsed-visits
    // relation as the keys pass, and each is its own Spark action —
    // uncached, the actions would each re-read AND re-decode/re-parse the
    // raw snapshot source (measured: the .br drain spends most of its
    // wall re-decoding brotli per table). Pin visits for the duration of
    // the writes; MEMORY_AND_DISK because a backlog drain's mega-batch
    // may exceed executor memory — a spilled cache still beats three
    // decodes. Unpersisted in finally, after every write has ended: the
    // daemon calls this per micro-batch and must not accumulate cache
    // blocks.
    r.visits.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-stage timed sections on the batch path (reference logs.py
    // debug_time around each process_snapshot phase)
    import graft.Logs.debugTime
    try {
      val keys = SiriSnapshotEtl.keys(r.visits)
      // a row with no dim holds one snapshot's parse counts
      def dim(k: Row) = k.getAs[String]("dim")
      val (counts, sighted) = keys.collect().toSeq.partition(dim(_) == null)
      val byDim = sighted.groupBy(dim).withDefaultValue(Nil)
      val created = debugTime("write-dims", "outDir" -> outDir) {
        together(SiriSnapshotEtl.dims.filter(d => index.lacksAny(d, byDim(d.table))).map { d =>
          () => d.table -> index.append(d, byDim(d.table),
            SiriSnapshotEtl.keysSchema(d, keys.schema, r.visits.schema))
        })
      }.toMap.withDefaultValue(Array.emptyLongArray)
      // one status row per snapshot of the batch, counting the keys it
      // created in the star: it says which snapshots now have no facts or
      // no parse errors
      val added = sighted.filter(k =>
        java.util.Arrays.binarySearch(created(dim(k)), k.getAs[Long]("id")) >= 0)
      val stats = withSnapshotPartitions(SiriSnapshotEtl.snapshotStats(spark, counts, added))
      val status = stats.collect().toSeq
      together(Seq(
        // facts: zstd (scan-bound table, best ratio at similar decode
        // speed), rows sorted by recorded time in each file so
        // time-range scans prune on page min/max instead of reading
        // whole row groups
        () => debugTime("write-vehicle-locations", "outDir" -> outDir) {
          overwriteSnapshots(withSnapshotPartitions(r.vehicleLocations)
            .sortWithinPartitions(col("snapshot_date"), col("snapshot_minute"),
              col("recorded_at_time")),
            s"$outDir/siri_vehicle_locations",
            status.filter(_.getAs[Long]("num_successful_parse_vehicle_locations") == 0))
        },
        () => debugTime("write-parse-errors", "outDir" -> outDir) {
          overwriteSnapshots(withSnapshotPartitions(r.parseErrors), s"$outDir/parse_errors",
            status.filter(_.getAs[Long]("num_failed_parse_vehicle_locations") == 0))
        }))
      debugTime("write-stats", "outDir" -> outDir) {
        overwriteSnapshots(stats, s"$outDir/siri_snapshots", Nil)
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
