package graft

import graft.etl.Backfill
import graft.streaming.RideState

class BackfillSpec extends SparkSpec {
  import spark.implicits._

  test("expected snapshot ids: one per minute, inclusive bounds, reference id format") {
    val ids = Backfill.expectedSnapshotIds(spark, "2023/03/10/08/00", "2023/03/10/08/05")
      .as[String].collect()
    assert(ids.length == 6)
    assert(ids.head == "2023/03/10/08/00" && ids.last == "2023/03/10/08/05")
  }

  test("pending = expected minus tracked; errored snapshots re-enter the backlog") {
    val status = Seq(
      ("2023/03/10/08/00", "loaded"),
      ("2023/03/10/08/01", "error"),
      ("2023/03/10/08/03", "loaded")).toDF("snapshot_id", "etl_status")
    val pending = Backfill.pendingSnapshots(spark, "2023/03/10/08/00", "2023/03/10/08/04", status)
      .select("snapshot_id").as[String].collect().sorted
    assert(pending.toSeq == Seq("2023/03/10/08/02", "2023/03/10/08/04"))

    val raw = Seq(
      ("2023/03/10/08/01", SiriFixtures.snapA), // errored → reprocessed
      ("2023/03/10/08/02", SiriFixtures.snapB), // missing → processed
      ("2023/03/10/08/03", SiriFixtures.snapA)  // loaded → skipped
    ).toDF("snapshot_id", "json")
    val result = Backfill.processBacklog(spark, "2023/03/10/08/00", "2023/03/10/08/04", status, raw)
    val processed = result.snapshotStats.select("snapshot_id").as[String].collect().sorted
    assert(processed.toSeq == Seq("2023/03/10/08/01", "2023/03/10/08/02"))
  }
}

class RideStateSpec extends SparkSpec {
  import org.apache.spark.api.java.Optional
  import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

  test("state fold accumulates visits across batches (updateRide)") {
    val s1 = TestGroupState.create[RideState.RideProgress](
      optionalState = Optional.empty(), timeoutConf = GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = Optional.empty(), hasTimedOut = false)
    val out1 = RideState.updateRide("ride-1",
      Iterator(RideState.VisitEvent("ride-1", 1000L, 34.7, 31.8, 10, 100)), s1).toSeq
    assert(out1.head.nVisits == 1 && out1.head.maxDistance == 100)
    assert(s1.exists)

    val s2 = TestGroupState.create[RideState.RideProgress](
      optionalState = Optional.of(out1.head), timeoutConf = GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 2000L, eventTimeWatermarkMs = Optional.empty(), hasTimedOut = false)
    val out2 = RideState.updateRide("ride-1",
      Iterator(
        RideState.VisitEvent("ride-1", 3000L, 34.9, 31.95, 20, 700),
        RideState.VisitEvent("ride-1", 2000L, 34.8, 31.9, 30, 900)), s2).toSeq
    assert(out2.head.nVisits == 3)
    assert(out2.head.maxDistance == 900 && out2.head.maxVelocity == 30)
    assert(out2.head.lastLon == 34.9 && out2.head.lastMs == 3000L) // sorted by time
    assert(out2.head.firstMs == 1000L)
  }

  test("ride tracking end-to-end: state accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val stream = MemoryStream[RideState.VisitEvent]
    stream.addData(RideState.VisitEvent("ride-1", 1000L, 34.7, 31.8, 10, 100))
    stream.addData(
      RideState.VisitEvent("ride-1", 2000L, 34.8, 31.9, 30, 900),
      RideState.VisitEvent("ride-2", 1500L, 35.0, 32.0, 20, 50))
    val q = RideState.track(stream.toDS())
      .writeStream.format("memory").queryName("ride_track").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    if (q.isActive) q.stop()
    val rows = spark.table("ride_track").as[RideState.RideProgress].collect()
    // the latest emitted progress per ride carries the accumulated state
    val last1 = rows.filter(_.rideKey == "ride-1").maxBy(_.nVisits)
    assert(last1.nVisits == 2 && last1.maxDistance == 900 && last1.maxVelocity == 30)
    assert(rows.exists(r => r.rideKey == "ride-2" && r.nVisits == 1))
  }

  test("timed-out ride is emitted closed and state removed") {
    val prior = RideState.RideProgress("ride-9", 4, 100L, 900L, 35.0, 32.0, 1200, 60, closed = false)
    val s = TestGroupState.create[RideState.RideProgress](
      optionalState = Optional.of(prior), timeoutConf = GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 10000L, eventTimeWatermarkMs = Optional.empty(), hasTimedOut = true)
    val out = RideState.updateRide("ride-9", Iterator.empty, s).toSeq
    assert(out.head.closed && out.head.nVisits == 4)
    assert(s.isRemoved)
  }
}

class SnapshotStorageSpec extends SparkSpec {
  import spark.implicits._
  import graft.sources.SnapshotStorage

  private def load(star: String, docs: (String, String)*): Unit =
    SnapshotStorage.writeTables(graft.etl.SiriSnapshotEtl.run(docs.toDF("snapshot_id", "json")), star)

  private def rowsPerSnapshot(star: String, table: String): Map[String, Long] =
    spark.read.parquet(s"$star/$table").groupBy("snapshot_id").count()
      .as[(String, Long)].collect().toMap

  test("reload leaves exactly the snapshot's new rows, also where it now has none") {
    val star = java.nio.file.Files.createTempDirectory("reload").toFile.getAbsolutePath
    val (x, y) = ("2023/03/10/08/01", "2023/03/10/08/02")
    load(star, x -> "{ not json", y -> SiriFixtures.snapA)
    assert(rowsPerSnapshot(star, "parse_errors") == Map(x -> 1L, y -> 1L))

    // the fresh status replaces the stale one, and the stale parse error goes
    load(star, x -> SiriFixtures.snapB)
    val status = spark.read.parquet(s"$star/siri_snapshots")
      .filter($"snapshot_id" === x).select("etl_status").as[String].collect()
    assert(status.toSeq == Seq("loaded"))
    assert(rowsPerSnapshot(star, "parse_errors") == Map(y -> 1L))
    assert(rowsPerSnapshot(star, "siri_vehicle_locations") == Map(x -> 2L, y -> 3L))

    // and back: the facts it loaded go
    load(star, x -> "{ not json")
    assert(rowsPerSnapshot(star, "siri_vehicle_locations") == Map(y -> 3L))
    assert(rowsPerSnapshot(star, "parse_errors") == Map(x -> 1L, y -> 1L))
    assert(rowsPerSnapshot(star, "siri_snapshots") == Map(x -> 1L, y -> 1L))
  }

  test("fact files carry no parquet bloom filter") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val star = java.nio.file.Files.createTempDirectory("nobloom").toFile.getAbsolutePath
    load(star, "2023/03/10/08/01" -> SiriFixtures.snapA, "2023/03/10/08/02" -> SiriFixtures.snapB)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = spark.read.parquet(s"$star/siri_vehicle_locations").inputFiles.toSeq
    val chunks = files.flatMap { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      finally reader.close()
    }
    assert(chunks.nonEmpty)
    val filtered = chunks.filter(_.getBloomFilterOffset >= 0).map(_.getPath.toDotString)
    assert(filtered.isEmpty, s"bloom filters on: ${filtered.distinct}")
  }

  test("writeTables leaves the session's partitionOverwriteMode unset") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    load(java.nio.file.Files.createTempDirectory("conf").toFile.getAbsolutePath,
      "2023/03/10/08/01" -> SiriFixtures.snapA)
    // getAll holds only what was set: getOption would report the default
    assert(spark.conf.getAll.get(key).isEmpty)
  }

  test("concurrent writeTables into one star keep every snapshot's facts") {
    val star = java.nio.file.Files.createTempDirectory("concurrent").toFile.getAbsolutePath
    load(star, "2023/03/10/07/59" -> SiriFixtures.snapA)
    val workers = Seq(Seq("08/01", "08/03", "08/05"), Seq("08/02", "08/04", "08/06")).map { mins =>
      scala.concurrent.Future(mins.foreach(m => load(star, s"2023/03/10/$m" -> SiriFixtures.snapA)))(
        scala.concurrent.ExecutionContext.global)
    }
    workers.foreach(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    val facts = rowsPerSnapshot(star, "siri_vehicle_locations")
    assert(facts == Seq("07/59", "08/01", "08/02", "08/03", "08/04", "08/05", "08/06")
      .map(m => s"2023/03/10/$m" -> 3L).toMap)
  }

  private def dimFiles(star: String): Map[String, Set[String]] =
    graft.etl.SiriSnapshotEtl.dims.map { d =>
      d.table -> new java.io.File(s"$star/${d.table}").list().toSet
    }.toMap

  /** The SQL executions `body` runs, once each has ended. */
  private def executions(body: => Unit): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.ListenerBusAccess.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** The table directories the executions `qes` wrote to. */
  private def written(qes: Seq[org.apache.spark.sql.execution.QueryExecution]): Seq[String] = {
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    qes.flatMap(_.executedPlan.collect {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) => c.outputPath.getName
    })
  }

  test("reloading an already-loaded snapshot adds no file to any dimension directory") {
    val star = java.nio.file.Files.createTempDirectory("reloaddims").toFile.getAbsolutePath
    load(star, "2023/03/10/08/01" -> SiriFixtures.snapA, "2023/03/10/08/02" -> SiriFixtures.snapB)
    val before = dimFiles(star)
    val reload = written(executions(load(star, "2023/03/10/08/02" -> SiriFixtures.snapB)))
    assert(dimFiles(star) == before)
    // and runs no dimension write job
    assert(reload.toSet == Set("siri_vehicle_locations", "parse_errors", "siri_snapshots"), reload)
  }

  test("a writeTables batch shuffles in one SQL execution, the keys pass") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val star = java.nio.file.Files.createTempDirectory("oneshuffle").toFile.getAbsolutePath
    val qes = executions(load(star, "2023/03/10/08/01" -> SiriFixtures.snapA,
      "2023/03/10/08/02" -> "{ not json"))
    // AQE's final plans, query stages included
    val plans = new AdaptiveSparkPlanHelper {}
    val shuffling = qes.filter(qe => plans.find(qe.executedPlan)(_.isInstanceOf[ShuffleExchangeLike]).isDefined)
    assert(shuffling.size == 1,
      s"${shuffling.size} executions shuffle:\n${shuffling.map(_.executedPlan.treeString).mkString("\n")}")
    assert(written(qes).toSet == (graft.etl.SiriSnapshotEtl.dims.map(_.table) ++
      Seq("siri_vehicle_locations", "parse_errors", "siri_snapshots")).toSet)
    // each dimension append writes one file
    dimFiles(star).foreach { case (t, files) => assert(files.count(_.endsWith(".parquet")) == 1, t) }
  }

  test("a daemon batch after another writer's append stores each key once") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.SnapshotStream
    val dir = java.nio.file.Files.createTempDirectory("otherwriter").toFile.getAbsolutePath
    def land(id: String, doc: String): Unit =
      Seq((id, doc)).toDF("snapshot_id", "json").write.mode("append").json(s"$dir/raw")
    land("2023/03/10/08/01", SiriFixtures.snapA)
    val q = SnapshotStream.daemon(spark, s"$dir/raw", s"$dir/star", s"$dir/ckpt",
      Trigger.ProcessingTime(0L))
    try {
      q.processAllAvailable()
      // a writer outside the daemon's index appends snapB's new keys
      load(s"$dir/star", "2023/03/10/08/02" -> SiriFixtures.snapB)
      // and the daemon's next batch carries them again
      land("2023/03/10/08/03", SiriFixtures.snapB)
      q.processAllAvailable()
    } finally { q.stop(); q.awaitTermination(60000) }
    graft.etl.SiriSnapshotEtl.dims.foreach { d =>
      val t = spark.read.parquet(s"$dir/star/${d.table}")
      assert(t.select(d.storedKey.map(t.col): _*).distinct().count() == t.count(), d.table)
    }
    assert(spark.read.parquet(s"$dir/star/siri_routes").count() == 3)
    assert(rowsPerSnapshot(s"$dir/star", "siri_vehicle_locations") == Map(
      "2023/03/10/08/01" -> 3L, "2023/03/10/08/02" -> 2L, "2023/03/10/08/03" -> 2L))
  }

  test("a failed write leaves no job of writeTables running") {
    val star = java.nio.file.Files.createTempDirectory("failedwrite").toFile.getAbsolutePath
    // a plain file where the first dimension's directory goes: its append
    // fails while the other three run
    java.nio.file.Files.writeString(java.nio.file.Paths.get(star, "siri_routes"), "not a table")
    intercept[Exception](load(star, "2023/03/10/08/01" -> SiriFixtures.snapA))
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
  }

  test("every job writeTables starts runs in the caller's job group") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val star = java.nio.file.Files.createTempDirectory("jobgroup").toFile.getAbsolutePath
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // StreamingQuery.stop() cancels a batch's jobs by this group
      sc.setJobGroup("g", "writeTables")
      try {
        load(star, "2023/03/10/08/01" -> SiriFixtures.snapA)
        load(star, "2023/03/10/08/02" -> SiriFixtures.snapB)
      } finally sc.clearJobGroup()
      org.apache.spark.ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(groups.size > 10 && groups.asScala.forall(_ == "g"), groups)
  }

  test("writeTables is idempotent per snapshot: a backlog rerun never loses other partitions") {
    import graft.etl.SiriSnapshotEtl
    val outDir = java.nio.file.Files.createTempDirectory("star").toFile.getAbsolutePath
    // full load: two snapshots
    SnapshotStorage.writeTables(SiriSnapshotEtl.run(Seq(
      ("2023/03/10/08/01", SiriFixtures.snapA),
      ("2023/03/10/08/02", SiriFixtures.snapB)).toDF("snapshot_id", "json")), outDir)
    val facts0 = spark.read.parquet(s"$outDir/siri_vehicle_locations")
    assert(facts0.count() == 5)
    val routes0 = spark.read.parquet(s"$outDir/siri_routes").count()

    // backlog rerun touching ONLY snapshot 08/02
    SnapshotStorage.writeTables(SiriSnapshotEtl.run(Seq(
      ("2023/03/10/08/02", SiriFixtures.snapB)).toDF("snapshot_id", "json")), outDir)
    val facts1 = spark.read.parquet(s"$outDir/siri_vehicle_locations")
    // 08/01's three facts survive; 08/02's two are replaced, not doubled
    assert(facts1.count() == 5)
    assert(facts1.filter($"snapshot_id" === "2023/03/10/08/01").count() == 3)
    // dims keep every key ever seen, and gained no duplicates
    assert(spark.read.parquet(s"$outDir/siri_routes").count() == routes0)
    val stats = spark.read.parquet(s"$outDir/siri_snapshots")
    assert(stats.select("snapshot_id").distinct().count() == 2)
    assert(stats.count() == 2)
  }
}

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("compaction bin-packs many small files, preserving rows") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toFile.getAbsolutePath + "/facts"
    val df = Tables.events(spark, sf0001)
      .withColumn("d", org.apache.spark.sql.functions.to_date($"ts"))
    // simulate daemon appends: many tiny files
    df.repartition(40).write.partitionBy("d").parquet(dir)
    val rows = spark.read.parquet(dir).count()
    val (before, after) = graft.sources.Maintenance.compact(spark, dir, "d", targetFileMB = 256)
    assert(before > after, s"$before -> $after")
    assert(spark.read.parquet(dir + "_compacted").count() == rows)
  }

  test("retention drops only partitions older than the cutoff, no data rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("expire").toFile.getAbsolutePath + "/facts"
    val df = Tables.events(spark, sf0001)
      .withColumn("d", org.apache.spark.sql.functions.date_format($"ts", "yyyy-MM-dd"))
    df.write.partitionBy("d").parquet(dir)
    // partition-value inference reads d back as DATE; compare as ISO strings
    val dates = spark.read.parquet(dir).select($"d".cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(dates.length >= 3, s"need multiple dates, got ${dates.toSeq}")
    val cutoff = dates(1) // keep from the second date onward
    val expectedKeptRows = df.filter($"d" >= cutoff).count()
    val (dropped, kept) = graft.sources.Maintenance.expirePartitions(spark, dir, "d", cutoff)
    assert(dropped == 1 && kept == dates.length - 1)
    assert(spark.read.parquet(dir).count() == expectedKeptRows)
    assert(spark.read.parquet(dir).select($"d").distinct().count() == dates.length - 1)
  }

  test("a partition larger than the target splits into multiple files, not one giant file") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("compactbig").toFile.getAbsolutePath + "/facts"
    // one big date (~3 MB of incompressible hex) + one tiny date
    spark.range(30000)
      .select(
        when($"id" < 29900, lit("2023-03-10")).otherwise(lit("2023-03-11")).as("d"),
        concat(md5($"id".cast("string")), md5(($"id" + 1).cast("string")),
          md5(($"id" + 2).cast("string")), md5(($"id" + 3).cast("string"))).as("payload"))
      .repartition(8).write.partitionBy("d").parquet(dir)
    val rows = spark.read.parquet(dir).count()
    val (_, after) = graft.sources.Maintenance.compact(spark, dir, "d", targetFileMB = 1)
    def filesIn(p: String): Long =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesIn(s"${dir}_compacted/d=2023-03-10") >= 2,
      s"big partition should bin-pack to >=2 files, got $after total")
    assert(filesIn(s"${dir}_compacted/d=2023-03-11") == 1)
    assert(spark.read.parquet(dir + "_compacted").count() == rows)
  }
}
