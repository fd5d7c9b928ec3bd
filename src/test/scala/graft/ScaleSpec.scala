package graft

import org.apache.spark.sql.functions._
import graft.operators.Scale
import graft.streaming.SnapshotStream

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed join co-locates: no shuffle exchange in the plan") {
    val o = Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice")
    val l = Tables.lineitem(spark, sf0001)
      .groupBy($"l_orderkey".as("o_orderkey")).agg(sum($"l_quantity").as("qty"))
    Seq("t_orders_b", "t_lines_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      org.apache.commons.io.FileUtils.deleteQuietly(loc)
    }
    Scale.writeBucketed(o, "t_orders_b", "o_orderkey", 8)
    Scale.writeBucketed(l, "t_lines_b", "o_orderkey", 8)
    // disable broadcast so the planner actually uses the bucket layout
    // (at real scale both sides are too big to broadcast anyway)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Scale.bucketedJoin(spark, "t_orders_b", "t_lines_b", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"), s"expected no shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
      val expected = o.join(l, "o_orderkey").count()
      assert(joined.count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("SIRI fact-to-fact bucketed join (vehicle_locations x ride_stops) plans zero exchanges") {
    import spark.implicits._
    val r = graft.etl.SiriSnapshotEtl.run(Seq(
      ("2023/03/10/08/01", SiriFixtures.snapA),
      ("2023/03/10/08/02", SiriFixtures.snapB)).toDF("snapshot_id", "json"))
    val vloc = r.vehicleLocations
    val rstops = r.rideStops.select($"siri_ride_stop_id", $"siri_ride_id", $"siri_stop_id")
    Seq("t_vloc_b", "t_rstops_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      org.apache.commons.io.FileUtils.deleteQuietly(loc)
    }
    Scale.writeBucketed(vloc, "t_vloc_b", "siri_ride_stop_id", 8)
    Scale.writeBucketed(rstops, "t_rstops_b", "siri_ride_stop_id", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Scale.bucketedJoin(spark, "t_vloc_b", "t_rstops_b", "siri_ride_stop_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"), s"expected no shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
      assert(joined.count() == vloc.join(rstops, "siri_ride_stop_id").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed join partition at runtime") {
    val tuned = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one key carries half the fact rows with a fat INCOMPRESSIBLE
      // payload (skew detection reads post-compression shuffle sizes,
      // so a repeat('x') payload would deflate below the threshold)
      val big = spark.range(200000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 0L ELSE id % 997 END AS k",
        """concat(md5(CAST(id AS STRING)), md5(CAST(id + 1000000 AS STRING)),
                  md5(CAST(id + 2000000 AS STRING)), md5(CAST(id + 3000000 AS STRING))) AS payload""")
      val dim = spark.range(997).selectExpr("id AS k", "id * 2 AS attr")
      val joined = big.join(dim, "k")
      // collect() executes THIS Dataset's QueryExecution — count() would
      // build a fresh one and leave `joined`'s plan unexecuted
      // (isFinalPlan=false, no AQE rewrite to observe)
      assert(joined.collect().length == 200000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.toLowerCase.contains("skew"),
        s"AQE did not split the skewed partition:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed get-or-create: the anti-join against the dim co-locates (no exchange)") {
    // SURVEY section-5 claim: dim side pre-bucketed by natural key, so the
    // upsert's left_anti needs no shuffle on either side
    val dim = Tables.orders(spark, sf0001).select($"o_orderkey", $"o_custkey")
    val batch = Tables.orders(spark, sf0001)
      .select(($"o_orderkey" + 1).as("o_orderkey"), $"o_custkey")
    Seq("t_dim_b", "t_batch_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      org.apache.commons.io.FileUtils.deleteQuietly(loc)
    }
    Scale.writeBucketed(dim, "t_dim_b", "o_orderkey", 8)
    Scale.writeBucketed(batch, "t_batch_b", "o_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fresh = spark.table("t_batch_b")
        .join(spark.table("t_dim_b").select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      val plan = fresh.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"), s"anti-join shuffled:\n$plan")
      val expected = batch.join(dim.select("o_orderkey"), Seq("o_orderkey"), "left_anti").count()
      assert(fresh.count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("written star schema prunes partitions on snapshot filters (scan-level)") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("prune").toString
    val r = graft.etl.SiriSnapshotEtl.run(Seq(
      ("2023/03/10/08/01", SiriFixtures.snapA),
      ("2023/03/10/08/02", SiriFixtures.snapB)).toDF("snapshot_id", "json"))
    graft.sources.SnapshotStorage.writeTables(r, out)
    val facts = spark.read.parquet(s"$out/siri_vehicle_locations")
    val one = facts.filter($"snapshot_minute" === "0801")
    // the filter must become a PartitionFilter (directory pruning at
    // planning time), NOT a data filter evaluated over every row group
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(snapshot_minute"),
      s"minute filter not pushed to partition pruning:\n$scan")
    assert(one.count() == 3) // snapA rows only — 08/02's leaf never read
  }

  test("salted join equals plain join and spreads the hot key") {
    val big = Tables.lineitem(spark, sf0001).select($"l_orderkey".as("k"), $"l_quantity")
    val small = Tables.orders(spark, sf0001)
      .select($"o_orderkey".as("k"), $"o_orderpriority").limit(200)
    val plain = big.join(small, "k")
    val salted = Scale.saltedJoin(big, small, "k", salts = 4)
    assert(salted.count() == plain.count())
    val a = salted.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = plain.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("salted join tolerates map-typed columns on the big side") {
    val big = Tables.lineitem(spark, sf0001)
      .select($"l_orderkey".as("k"), $"l_quantity",
        map(lit("a"), $"l_quantity").as("m"))
    val small = Tables.orders(spark, sf0001)
      .select($"o_orderkey".as("k"), $"o_orderpriority").limit(50)
    // xxhash64 over a map column fails analysis; the salt must skip it
    val salted = Scale.saltedJoin(big, small, "k", salts = 4)
    assert(salted.count() == big.join(small, "k").count())
  }

  test("hot-key detection finds the heavy hitters") {
    val hot = Scale.hotKeys(Tables.lineitem(spark, sf0001), "l_orderkey", minCount = 5L)
    val manual = Tables.lineitem(spark, sf0001)
      .groupBy("l_orderkey").count().filter($"count" >= 5).count()
    assert(hot.count() == manual)
  }

  test("watermarked windowed stats stream (liveSnapshotStats) aggregates per minute") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val stream = MemoryStream[(String, String)]
    stream.addData(("2023/03/10/08/01", SiriFixtures.snapA))
    val visits = graft.etl.SiriSnapshotEtl.parseVisits(stream.toDF().toDF("snapshot_id", "json"))
    val q = SnapshotStream.liveSnapshotStats(visits)
      .writeStream.format("memory").queryName("live_stats")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("live_stats").collect()
      assert(rows.nonEmpty)
      val r = rows.head
      assert(r.getAs[Long]("num_successful_parse_vehicle_locations") == 3)
      // the invalid visit has no recorded_at_time → excluded from the
      // event-time window; parse errors are tracked on the batch path
    } finally q.stop()
  }
}

class BloomAndMagicSpec extends SparkSpec {
  import spark.implicits._

  test("bloom pruning keeps every real match, drops most non-matches") {
    val facts = Tables.lineitem(spark, sf0001).select($"l_orderkey", $"l_quantity")
    val keys = Tables.orders(spark, sf0001)
      .select($"o_orderkey".as("l_orderkey")).limit(50)
    val pruned = graft.operators.Scale.bloomPrune(facts, keys, "l_orderkey",
      expectedItems = Some(1000L), fpp = 0.01)
    val exactAfterPrune = pruned.join(keys, "l_orderkey").count()
    val exactDirect = facts.join(keys, "l_orderkey").count()
    assert(exactAfterPrune == exactDirect)     // no true match lost
    assert(pruned.count() < facts.count() / 2) // and pruning actually pruned
    // the probe is the codegen'd native expression, not a Scala UDF
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_probe"), s"expected native bloom probe:\n$plan")
    // auto-sized variant (expectedItems from keys.count()) prunes too
    val autoPruned = graft.operators.Scale.bloomPrune(facts, keys, "l_orderkey")
    assert(autoPruned.join(keys, "l_orderkey").count() == exactDirect)
  }

  test("runtime bloom-filter join: optimizer injects might_contain from the selective side") {
    val tuned = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // defaults gate on 10GB application-side scans; drop to 0 so the
      // sf0.001 fixture qualifies and the injection itself is testable
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val facts = Tables.lineitem(spark, sf0001).select($"l_orderkey", $"l_quantity")
      val sel = Tables.orders(spark, sf0001)
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey".as("l_orderkey"))
      val joined = facts.join(sel, "l_orderkey")
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"runtime bloom filter not injected:\n$optimized")
      // and the filtered join still returns exactly the exact-join rows
      val expected = facts.join(sel.hint("broadcast"), "l_orderkey").count()
      assert(joined.count() == expected)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("zOrderBy keeps every file narrow in BOTH dimensions (data skipping)") {
    val li = Tables.lineitem(spark, sf0001).select($"l_partkey", $"l_suppkey")
    // per-partition extent of the SECOND key — the dimension a plain
    // sort on the first key cannot help: min/max footer stats prune a
    // file on suppkey only if its suppkey range is narrow
    def avgSuppRange(df: org.apache.spark.sql.DataFrame): Double =
      df.withColumn("pid", spark_partition_id())
        .groupBy($"pid")
        .agg((max($"l_suppkey") - min($"l_suppkey")).cast("double").as("rb"))
        .agg(avg($"rb")).head().getDouble(0)
    val zed = avgSuppRange(Scale.zOrderBy(li, "l_partkey", "l_suppkey", 16))
    val oneDim = avgSuppRange(
      li.repartitionByRange(16, $"l_partkey").sortWithinPartitions($"l_partkey"))
    assert(zed < oneDim * 0.7,
      s"z-order suppkey extent $zed should beat the 1-d sort's $oneDim")
    // and the layout is a pure reordering — no rows gained or lost
    assert(Scale.zOrderBy(li, "l_partkey", "l_suppkey", 16).count() == li.count())
  }

  test("magic-byte sniffing dispatches real container headers") {
    val df = Seq(
      ("89504E470D0A1A0A", "png"),
      ("FFD8FFE000104A46", "jpeg"),
      ("474946383961AABB", "gif"),
      ("52494646AAAAAAAA", "riff"),
      ("664C614300000022", "flac"),
      ("0001020304050607", "unknown")).toDF("header_hex", "expected")
    val got = df.withColumn("detected",
        graft.ops.Multimodal.detectType($"header_hex"))
      .filter($"detected" =!= $"expected")
    assert(got.count() == 0)
  }
}
