package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end command surface: raw snapshot files on disk → star
  * schema, mirroring the reference cli.py workflows. */
class CliSpec extends SparkSpec {

  private def writeRaw(root: String, id: String, json: String): Unit = {
    val p = Paths.get(s"$root/$id.json")
    Files.createDirectories(p.getParent)
    Files.write(p, json.getBytes("UTF-8"))
  }

  test("process-snapshot loads once, skips when loaded, reprocesses under --force-reload") {
    val root = Files.createTempDirectory("cliraw").toString
    val out = Files.createTempDirectory("cliout").toString
    writeRaw(root, "2023/03/10/08/01", SiriFixtures.snapA)
    writeRaw(root, "2023/03/10/08/02", SiriFixtures.snapB)

    Cli.main(Array("process-snapshot", "2023/03/10/08/01", root, out))
    assert(spark.read.parquet(s"$out/siri_vehicle_locations").count() == 3)

    // snapshot 08/02 not yet processed; 08/01 skips (already loaded)
    Cli.main(Array("process-snapshot", "2023/03/10/08/01", root, out))
    assert(spark.read.parquet(s"$out/siri_vehicle_locations").count() == 3)

    Cli.main(Array("process-snapshot", "2023/03/10/08/02", root, out))
    assert(spark.read.parquet(s"$out/siri_vehicle_locations").count() == 5)

    // force reload is idempotent: same partitions rewritten, no doubling
    Cli.main(Array("process-snapshot", "2023/03/10/08/01", root, out, "--force-reload"))
    assert(spark.read.parquet(s"$out/siri_vehicle_locations").count() == 5)
    assert(spark.read.parquet(s"$out/siri_routes")
      .select("operator_ref", "line_ref").distinct().count() ==
      spark.read.parquet(s"$out/siri_routes").count())
  }

  test("process-snapshots range + --only-missing skips loaded ids (DAG semantics)") {
    val root = Files.createTempDirectory("cliraw2").toString
    val out = Files.createTempDirectory("cliout2").toString
    writeRaw(root, "2023/03/10/08/01", SiriFixtures.snapA)
    writeRaw(root, "2023/03/10/08/02", SiriFixtures.snapB)
    writeRaw(root, "2023/03/10/08/03", SiriFixtures.snapA)
    // load only 08/01..08/02
    Cli.main(Array("process-snapshots", root, out, "2023/03/10/08/01", "2023/03/10/08/02"))
    assert(spark.read.parquet(s"$out/siri_snapshots")
      .select("snapshot_id").distinct().count() == 2)
    // full-range only-missing run picks up exactly the remaining 08/03
    Cli.main(Array("process-snapshots", root, out, "--only-missing"))
    val stats = spark.read.parquet(s"$out/siri_snapshots")
    assert(stats.select("snapshot_id").distinct().count() == 3)
    assert(stats.count() == 3) // no snapshot written twice
  }

  test("copy-snapshots pulls an id range from a source root, idempotently") {
    val src = Files.createTempDirectory("copysrc").toString
    val dst = Files.createTempDirectory("copydst").toString
    writeRaw(src, "2023/03/10/08/01", SiriFixtures.snapA)
    writeRaw(src, "2023/03/10/08/02", SiriFixtures.snapB)
    writeRaw(src, "2023/03/10/08/03", SiriFixtures.snapA)
    // range copy: lexicographic between over snapshot ids
    Cli.main(Array("copy-snapshots", src, dst, "2023/03/10/08/01", "2023/03/10/08/02"))
    assert(Files.exists(Paths.get(s"$dst/2023/03/10/08/01.json")))
    assert(Files.exists(Paths.get(s"$dst/2023/03/10/08/02.json")))
    assert(!Files.exists(Paths.get(s"$dst/2023/03/10/08/03.json")))
    // no-range copy picks up the remainder; existing files are skipped
    val n = graft.sources.SnapshotStorage.copySnapshots(spark, src, dst)
    assert(n == 1)
    // --force recopies everything
    assert(graft.sources.SnapshotStorage.copySnapshots(
      spark, src, dst, force = true) == 3)
    // and the copied dir is processable as a raw root
    val raw = graft.sources.SnapshotStorage.readRaw(spark, dst)
    assert(raw.count() == 3)
  }

  test("validate-snapshots writes a field-level csv report") {
    val root = Files.createTempDirectory("cliraw3").toString
    val out = Files.createTempDirectory("cliout3").toString
    val csv = Files.createTempDirectory("clicsv").toString + "/report"
    writeRaw(root, "2023/03/10/08/01", SiriFixtures.snapA)
    Cli.main(Array("process-snapshots", root, out))
    Cli.main(Array("validate-snapshots", root, out, "--csv", csv))
    val report = spark.read.option("header", "true").csv(csv)
    assert(report.count() == 0) // clean pipeline → empty report, header-only csv
    assert(report.columns.contains("field") && report.columns.contains("expected"))
  }

  test("validate-snapshots reports a field corrupted in the stored star") {
    import spark.implicits._
    val root = Files.createTempDirectory("cliraw4").toString
    val out = Files.createTempDirectory("cliout4").toString
    val csv = Files.createTempDirectory("clicsv4").toString + "/report"
    writeRaw(root, "2023/03/10/08/01", SiriFixtures.snapA)
    writeRaw(root, "2023/03/10/08/02", SiriFixtures.snapB)
    Cli.main(Array("process-snapshots", root, out))
    // overwrite one stored ride's scheduled_start_time; veh-2's ride has
    // one visit, in 08/01
    val rides = spark.read.parquet(s"$out/siri_rides")
    val corrupted = rides.withColumn("scheduled_start_time",
      when($"journey_ref" === "2023-03-10-100002", to_timestamp(lit("2001-01-01 00:00:00")))
        .otherwise($"scheduled_start_time"))
    val rows = corrupted.collect().toSeq
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), rides.schema)
      .write.mode("overwrite").parquet(s"$out/siri_rides")
    Cli.main(Array("validate-snapshots", root, out, "2023/03/10/08/01", "2023/03/10/08/02",
      "--csv", csv))
    val report = spark.read.option("header", "true").csv(csv).collect()
    assert(report.map(r => (r.getAs[String]("snapshot_id"), r.getAs[String]("field"),
      r.getAs[String]("actual"))).toSeq ==
      Seq(("2023/03/10/08/01", "scheduled_start_time", "2001-01-01 00:00:00")))
  }

  test("daemon: streamed raw dir materializes the star schema and resumes from checkpoint") {
    import spark.implicits._
    val root = Files.createTempDirectory("daemonraw").toString
    val out = Files.createTempDirectory("daemonout").toString
    val ckpt = Files.createTempDirectory("daemonckpt").toString
    // the daemon's requester writes json-lines docs (snapshot_id, json)
    Seq(("2023/03/10/08/01", SiriFixtures.snapA))
      .toDF("snapshot_id", "json").write.mode("append").json(root)

    val q1 = graft.streaming.SnapshotStream.daemon(
      spark, root, out, ckpt, Trigger.AvailableNow())
    q1.awaitTermination(120000)
    assert(spark.read.parquet(s"$out/siri_vehicle_locations").count() == 3)

    Seq(("2023/03/10/08/02", SiriFixtures.snapB))
      .toDF("snapshot_id", "json").write.mode("append").json(root)
    val q2 = graft.streaming.SnapshotStream.daemon(
      spark, root, out, ckpt, Trigger.AvailableNow())
    q2.awaitTermination(120000)
    // checkpoint resume: only the new snapshot processed; both present
    assert(spark.read.parquet(s"$out/siri_vehicle_locations").count() == 5)
    assert(spark.read.parquet(s"$out/siri_snapshots")
      .select("snapshot_id").distinct().count() == 2)
  }

  test("snapshot with zero parseable visits gets error status and a reason") {
    import spark.implicits._
    val r = graft.etl.SiriSnapshotEtl.run(Seq(
      ("2023/03/10/09/00", "{ not json"),
      ("2023/03/10/09/01", SiriFixtures.snapA)).toDF("snapshot_id", "json"))
    val st = r.snapshotStats.collect()
      .map(x => x.getAs[String]("snapshot_id") ->
        (x.getAs[String]("etl_status"), x.getAs[String]("error"))).toMap
    assert(st("2023/03/10/09/00") == ("error", "no parseable visits"))
    assert(st("2023/03/10/09/01") == ("loaded", ""))
  }

  test("build-corpus command runs the curation pipeline end to end") {
    val in = Files.createTempDirectory("cli-corpus-in").toString
    val out = Files.createTempDirectory("cli-corpus-out").toString
    Files.write(Paths.get(s"$in/dump.jsonl"),
      ("""{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog and the story continues in a long narrative of plain english prose that clears the quality gate with room to spare because it keeps using common stopwords and ordinary words", "lang": "en", "source": "web"}""" + "\n" +
       """{"doc_id": 2, "text": "zz", "lang": "en", "source": "web"}""" + "\n" +
       "broken json line\n").getBytes("UTF-8"))
    Cli.main(Array("build-corpus", s"$in/dump.jsonl", out, "0.1", "en"))
    // sharded corpus at the out root; quarantine under _quarantine
    val docs = spark.read.parquet(out)
    assert(docs.count() >= 1, "the good doc must survive the gates")
    assert(docs.filter(col("doc_id") === 2).count() == 0, "low-quality doc must drop")
    assert(spark.read.parquet(s"$out/_quarantine").count() == 1)
  }

  test("resolveRange: reference date defaults (cli.py FROM_DATE/TO_DATE optionality)") {
    val today = java.time.LocalDate.of(2023, 3, 10)
    // zero-arg: today 00:00 .. today 23:59
    assert(Cli.resolveRange(Nil, None, today) ==
      ("2023/03/10/00/00", "2023/03/10/23/59"))
    // --num-days 3: from backs off three days, to stays today
    assert(Cli.resolveRange(Nil, Some(3), today) ==
      ("2023/03/07/00/00", "2023/03/10/23/59"))
    // one date arg: explicit from-date, to defaults to today
    assert(Cli.resolveRange(List("2023-03-01"), None, today) ==
      ("2023/03/01/00/00", "2023/03/10/23/59"))
    // two date args expand to whole days
    assert(Cli.resolveRange(List("2023-03-01", "2023-03-02"), None, today) ==
      ("2023/03/01/00/00", "2023/03/02/23/59"))
    // minute-exact snapshot ids pass through untouched (back-compat)
    assert(Cli.resolveRange(List("2023/03/01/08/15", "2023/03/01/09/00"), None, today) ==
      ("2023/03/01/08/15", "2023/03/01/09/00"))
  }

  /** Runs `body` with the raw root and the star at the Config defaults
    * the zero-path backfill commands resolve. */
  private def withRoots[T](raw: String, star: String)(body: => T): T = {
    val prev = Config.overrides
    Config.overrides = prev ++ Map("GRAFT_RAW_ROOTPATH" -> raw, "GRAFT_ETL_ROOTPATH" -> star)
    try body finally Config.overrides = prev
  }

  test("update-pending-snapshots then process-old-missing-snapshots loads every pending snapshot") {
    import spark.implicits._
    val root = Files.createTempDirectory("pendraw").toString
    val star = Files.createTempDirectory("pendstar").toString
    val ids = Seq("00", "01", "02").map(m => s"2023/03/10/08/$m")
    ids.zip(Seq(SiriFixtures.snapA, SiriFixtures.snapB, SiriFixtures.snapA))
      .foreach { case (id, doc) => writeRaw(root, id, doc) }
    Cli.main(Array("process-snapshots", root, star, ids(1), ids(1)))
    withRoots(root, star) {
      Cli.main(Array("update-pending-snapshots", ids(0), ids(2)))
      Cli.main(Array("process-old-missing-snapshots", ids(0), ids(2)))
    }
    val status = spark.read.parquet(s"$star/siri_snapshots")
      .select("snapshot_id", "etl_status").as[(String, String)].collect().sorted
    assert(status.toSeq == ids.map(_ -> "loaded"))
    val facts = spark.read.parquet(s"$star/siri_vehicle_locations")
      .groupBy("snapshot_id").count().as[(String, Long)].collect().toMap
    // 08/01 was loaded before the backfill: its facts are not doubled
    assert(facts == Map(ids(0) -> 3L, ids(1) -> 2L, ids(2) -> 3L))
  }

  test("pending rows keep every column of the star's status table readable") {
    import spark.implicits._
    val root = Files.createTempDirectory("pendraw2").toString
    val star = Files.createTempDirectory("pendstar2").toString
    val loaded = "2023/03/10/08/05"
    writeRaw(root, loaded, SiriFixtures.snapA)
    Cli.main(Array("process-snapshots", root, star))
    def row() = spark.read.parquet(s"$star/siri_snapshots")
      .filter($"snapshot_id" === loaded).collect().toSeq
    val before = row()
    // the pending leaves 08/00..08/04 sort before the loaded 08/05
    withRoots(root, star)(Cli.main(Array("update-pending-snapshots", "2023/03/10/08/00", loaded)))
    val status = spark.read.parquet(s"$star/siri_snapshots")
    val pending = status.filter($"etl_status" === "pending")
      .select("num_successful_parse_vehicle_locations", "num_failed_parse_vehicle_locations",
        "error").collect()
    assert(pending.length == 5 && pending.forall(r => (0 until 3).forall(r.isNullAt)))
    assert(row() == before)
  }

  test("update-pending-snapshots accepts date args + explicit status path") {
    val statusDir = Files.createTempDirectory("clistatus").toString + "/status"
    import spark.implicits._
    Seq(("2023/03/10/00/00", "loaded"), ("2023/03/10/00/01", "loaded"))
      .toDF("snapshot_id", "etl_status")
      .write.parquet(statusDir)
    Cli.main(Array("update-pending-snapshots", "2023-03-10", "2023-03-10", statusDir))
    val status = spark.read.parquet(statusDir)
    // the whole day is 1440 minutes; 2 were already tracked
    assert(status.filter(col("etl_status") === "pending").count() == 1438)
    assert(status.count() == 1440)
  }
}
