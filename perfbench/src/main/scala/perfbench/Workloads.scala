package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.{Caches, SparkEntry}
import graft.etl.SiriSnapshotEtl
import graft.etl.SiriSnapshotEtl.EtlResult
import graft.operators.SiriAnalytics
import graft.sources.SnapshotStorage
import graft.streaming.SnapshotStream

/** The benchmark's workloads. Each one builds its inputs from the seed,
  * sets up (generation, seeding, warm-up), times operations until
  * `--seconds` of operation time is spent, then checks the program's
  * outputs. Set-up time is the JVM's uptime when timing begins. */
object Workloads {
  val tables = Seq("siri_routes", "siri_stops", "siri_rides", "siri_ride_stops",
    "siri_vehicle_locations", "siri_snapshots", "parse_errors")
  private val dimKeys = Seq(
    "siri_routes" -> Seq("operator_ref", "line_ref"),
    "siri_stops" -> Seq("code"),
    "siri_rides" -> Seq("operator_ref", "line_ref", "journey_ref", "vehicle_ref"),
    "siri_ride_stops" -> Seq("operator_ref", "line_ref", "journey_ref", "vehicle_ref",
      "stop_point_ref", "order"))

  /** Registry queries of the read side, one per family whose `graft.ops`
    * code and `graft.functions` kernels the SIRI path leaves idle: dedup,
    * the text pipeline, and a relational basket query. */
  val corpusQueries = Seq("dedup_lsh_eval", "pipeline_corpus_filter", "q_basket_lift")
  private val starQueries = Seq("ride_summaries", "active_vehicles", "stop_headways",
    "stop_progression", "validate_fields")

  val all: Map[String, Ctx => Outcome] = Map("siri_backlog" -> backlog, "siri_live" -> live)

  /** Visits in one minute snapshot, as in the reference measurements
    * (`SiriDrain`'s default and the drains sized for this benchmark). */
  val Visits = 500
  /** Minutes in one timed `siri_backlog` drain: enough that the fixed
    * cost of a drain (about 5 s, the wall of a 2-minute drain) is under
    * half of it, and no more, to keep a run near a minute. */
  val DrainMinutes = 120
  /** Timed drains at least, whatever `--seconds` says. */
  val MinDrains = 2
  /** Repetitions of the standalone layer spans in a traced run. */
  val LayerReps = 2
  /** Minutes in each of the two set-up drains (seed, then warm-up): they
    * make the star and warm the JIT, and are short to keep a run near a
    * minute. */
  val SetupMinutes = 10
  /** Snapshots the daemon catches up on when it starts in `siri_live`. */
  val SeedMinutes = 3
  /** Untimed snapshots after the seed: the first batches are slow. */
  val WarmSnapshots = 5
  /** Timed snapshots at least, whatever `--seconds` says. */
  val MinSnapshots = 3

  /** Output checks and operation failures, counted together. */
  final class Tally {
    var attempted = 0
    var failed = 0
    def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] CHECK FAILED $name $detail") }
      ok
    }
    /** Run one timed operation; a throw counts as a failed operation. */
    def op(name: String)(body: => Unit): Boolean =
      check(name, try { body; true } catch {
        case e: Throwable => e.printStackTrace(); false
      })
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; seconds(t0) }

  /** Set-up ends here: the JVM's uptime, so JVM start, session build,
    * generation, seeding and warm-up all count. */
  private def setupDone(): Double = {
    val s = Main.uptime()
    println(f"[perfbench] set-up: $s%.3f s")
    s
  }

  /** The catch-up path: raw tree → ETL → star, appending to `star`. */
  private def drain(ctx: Ctx, group: String, tree: Path, star: Path): Unit = {
    val tr = ctx.tracer
    tr.span(group, "drain") {
      val raw = tr.span(group, "sources.readRaw")(SnapshotStorage.readRaw(ctx.spark, tree.toString))
      val r = tr.span(group, "etl.run")(SiriSnapshotEtl.run(raw))
      tr.span(group, "sources.writeTables")(SnapshotStorage.writeTables(r, star.toString))
    }
  }

  /** The star holds exactly what the generated documents imply. */
  private def checkStar(ctx: Ctx, tally: Tally, star: Path, gen: SiriGen): Unit = {
    def t(name: String) = ctx.spark.read.parquet(star.resolve(name).toString)
    val facts = t("siri_vehicle_locations").count()
    tally.check("fact rows = valid visits", facts == gen.okVisits, s"$facts != ${gen.okVisits}")
    val errors = t("parse_errors").count()
    tally.check("parse_errors rows = injected failures", errors == gen.failedVisits,
      s"$errors != ${gen.failedVisits}")
    val snaps = t("siri_snapshots").select("snapshot_id", "num_successful_parse_vehicle_locations",
      "num_failed_parse_vehicle_locations", "etl_status").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)), r.getString(3))).toSeq
    tally.check("one siri_snapshots row per snapshot", snaps.size == gen.snapshots.size &&
      snaps.map(_._1).toSet == gen.snapshots.keySet, s"${snaps.size} != ${gen.snapshots.size}")
    val wrong = snaps.filter { case (id, (counts, status)) =>
      !gen.snapshots.get(id).contains(counts) ||
        status != (if (gen.errorSnapshots(id)) "error" else "loaded")
    }
    tally.check("snapshot counts and status", wrong.isEmpty, wrong.take(3).mkString(" "))
    val expected = Map("siri_routes" -> gen.routes.size, "siri_stops" -> gen.stops.size,
      "siri_rides" -> gen.rides.size, "siri_ride_stops" -> gen.rideStops.size)
    dimKeys.foreach { case (name, keys) =>
      val row = t(name).agg(count(lit(1)), countDistinct(struct(keys.map(col): _*))).head()
      val (n, distinct) = (row.getLong(0), row.getLong(1))
      tally.check(s"$name keys = generated keys", n == expected(name) && distinct == n,
        s"rows $n distinct $distinct expected ${expected(name)}")
    }
  }

  private def parquetFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  private def storedBytes(star: Path): Long = parquetFiles(star).map(Files.size).sum

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Standalone noop-sink spans over one raw tree, `LayerReps` times:
    * read, parse, and the ETL's dimension, fact and stats builders over
    * persisted visits. */
  private def layerSpans(ctx: Ctx, tree: Path): Map[String, Double] = {
    val tr = ctx.tracer
    val spark = ctx.spark
    var okRatio = 0.0
    (1 to LayerReps).foreach { i =>
      val g = s"layers$i"
      tr.span(g, "sources.read")(noop(SnapshotStorage.readRaw(spark, tree.toString)))
      tr.span(g, "etl.parse")(noop(SiriSnapshotEtl.parseVisits(
        SnapshotStorage.readRaw(spark, tree.toString))))
      val v = SiriSnapshotEtl.parseVisits(SnapshotStorage.readRaw(spark, tree.toString)).persist()
      try {
        val total = v.count()
        okRatio = v.filter(col("parse_ok")).count().toDouble / math.max(1L, total)
        tr.span(g, "etl.dims") {
          noop(SiriSnapshotEtl.routes(v)); noop(SiriSnapshotEtl.stops(v))
          noop(SiriSnapshotEtl.rides(v)); noop(SiriSnapshotEtl.rideStops(v))
        }
        tr.span(g, "etl.facts")(noop(SiriSnapshotEtl.vehicleLocations(v)))
        tr.span(g, "etl.stats") {
          noop(SiriSnapshotEtl.snapshotStats(v)); noop(SiriSnapshotEtl.parseErrors(v))
        }
      } finally v.unpersist(blocking = true)
    }
    Map("etl.parse_ok_ratio" -> okRatio)
  }

  /** Per-layer numbers from the finished trace. `opName` is the span
    * that times one operation; spans of timed operations have groups
    * `op1`, `op2`, ... */
  private def layerMetrics(ctx: Ctx, opName: String, extra: Map[String, Double]): Map[String, Double] = {
    ctx.tracing.settle()
    val spans = ctx.tracing.finished()
    val timed = spans.filter(s => s.group.startsWith("op"))
    def med(name: String) = Main.median(spans.filter(_.name == name).map(_.seconds))
    def medAttr(name: String, attr: String) =
      Main.median(spans.filter(_.name == name).map(_.attrs.getOrElse(attr, 0.0)))
    val groups = timed.map(_.group).distinct
    val writes = timed.filter(s => s.name.startsWith("action.") &&
      tables.contains(s.name.stripPrefix("action.")))
    def perGroup(f: Seq[Span] => Double): Seq[Double] =
      groups.map(g => f(writes.filter(_.group == g)))
    val ops = timed.filter(_.name == opName)
    def perOp(attr: String) =
      if (ops.isEmpty) 0.0 else ops.map(_.attrs.getOrElse(attr, 0.0)).sum / ops.size
    val m = mutable.LinkedHashMap[String, Double](
      "sources.read_s" -> med("sources.read"),
      "sources.read_bytes" -> medAttr("sources.read", "spark.input_bytes"),
      "etl.parse_s" -> med("etl.parse"),
      "etl.dims_s" -> med("etl.dims"),
      "etl.facts_s" -> med("etl.facts"),
      "etl.stats_s" -> med("etl.stats"),
      "sources.write_s" -> Main.median(perGroup(_.map(_.seconds).sum)),
      "sources.write_actions" -> Main.median(perGroup(_.size.toDouble)),
      "sources.files_written" -> Main.median(perGroup(_.map(_.attrs("files")).sum)),
      "sources.bytes_written" -> Main.median(perGroup(_.map(_.attrs("bytes")).sum)),
      "spark.task_cpu_s" -> perOp("spark.task_cpu_s"),
      "spark.gc_s" -> perOp("spark.gc_s"),
      "spark.shuffle_write_bytes" -> perOp("spark.shuffle_write_bytes"),
      "spark.spill_bytes" -> perOp("spark.spill_bytes"),
      "spark.tasks" -> perOp("spark.tasks"),
      "spark.task_skew" -> Main.median(ops.map(_.attrs.getOrElse("spark.task_skew", 1.0))),
      "traced.op_s_p50" -> Main.median(ops.map(_.seconds)))
    tables.foreach { t =>
      m(s"sources.write.${t}_s") =
        Main.median(perGroup(_.filter(_.name == s"action.$t").map(_.seconds).sum))
    }
    (m ++ extra).toMap
  }

  // ---------------------------------------------------------------- siri_backlog

  /** Catch-up drains of `DrainMinutes`-minute `.br` trees into one star. */
  def backlog(ctx: Ctx): Outcome = {
    val tally = new Tally
    val dir = ctx.dir("backlog")
    val gen = new SiriGen(ctx.seed, Visits)
    val star = dir.resolve("star")
    val trees = mutable.ArrayBuffer.empty[Path]
    var lastIds = Seq.empty[String]
    def nextTree(minutes: Int = DrainMinutes): Path = {
      val tree = dir.resolve(s"tree-${trees.size}")
      lastIds = gen.writeBrTree(tree, minutes)
      trees += tree
      tree
    }
    // set-up: a seed drain makes the star; one more untimed drain,
    // because the JIT is still warming after the first
    tally.op("seed drain")(drain(ctx, "setup", nextTree(SetupMinutes), star))
    ctx.note("seed drain done")
    tally.op("warm-up drain")(drain(ctx, "warm", nextTree(SetupMinutes), star))
    val setupS = setupDone()
    val times = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    while ((times.sum < ctx.seconds || times.size < MinDrains) && !ctx.overBudget) {
      val k = times.size + 1
      val tree = nextTree()
      System.gc()
      var t = 0.0
      val cpu0 = Main.processCpuS()
      tally.op(s"drain $k") { t = timed(drain(ctx, s"op$k", tree, star)) }
      cpus += Main.processCpuS() - cpu0
      times += t
    }
    val retained = ctx.retainedHeapMb()
    ctx.note(f"timed phase done, $retained%.1f MB retained; checking outputs")
    checkStar(ctx, tally, star, gen)
    ctx.note("checks done")
    val visits = gen.okVisits + gen.failedVisits
    println(f"[perfbench] siri_backlog: ${times.size} drains of $DrainMinutes x $Visits visits, " +
      f"p50 ${Main.median(times)}%.3f s (${times.map(t => f"$t%.2f").mkString(" ")}), " +
      f"${times.size * DrainMinutes * Visits / times.sum}%.0f visits/s, " +
      f"process CPU ${cpus.map(t => f"$t%.2f").mkString(" ")} s")
    val perLayer =
      if (!ctx.tracer.enabled) Map.empty[String, Double]
      else {
        val layers = layerSpans(ctx, trees.last)
        layerMetrics(ctx, "drain", layers ++ starReads(ctx, tally, star, trees.last, lastIds))
      }
    Outcome(tally.attempted, tally.failed, Seq(
      ("setup_s", setupS, "s"),
      ("op_s_p50", Main.median(times.toSeq), "s"),
      ("stored_bytes_per_visit", storedBytes(star).toDouble / visits, "B"),
      ("retained_heap_mb", retained, "MB")), perLayer)
  }

  // ---------------------------------------------------------------- siri_live

  /** Micro-batches that consumed input, with the time each was seen. */
  private final class Commits(tracer: Tracer) extends StreamingQueryListener {
    val queue = new LinkedBlockingQueue[(StreamingQueryProgress, Long)]()
    @volatile var group = "setup"
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val g = group
        queue.put((p, System.nanoTime()))
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        tracer.record(g, "streaming.batch", start,
          start + p.durationMs.get("triggerExecution").toDouble)
      }
    }
  }

  /** The daemon over a seeded star, fed by a closed loop of one client:
    * land one json-lines snapshot, wait for the micro-batch that
    * consumed it to commit, land the next. */
  def live(ctx: Ctx): Outcome = {
    val tally = new Tally
    val commits = new Commits(ctx.tracer)
    ctx.spark.streams.addListener(commits)

    val dir = ctx.dir("live")
    val gen = new SiriGen(ctx.seed, Visits)
    val star = dir.resolve("star")
    Seq("staging", "landing").foreach(d => Files.createDirectories(dir.resolve(d)))
    var landed = 0

    /** Land the next snapshot; the latency to its batch's progress event. */
    def landAndWait(): (Double, StreamingQueryProgress) = {
      commits.queue.clear()
      val t0 = System.nanoTime()
      landed += 1
      gen.landJsonLines(dir.resolve("staging"), dir.resolve("landing"), landed)
      val (p, at) = nextCommit()
      if (p.numInputRows != 1) sys.error(s"batch consumed ${p.numInputRows} snapshots")
      ((at - t0) / 1e9, p)
    }

    def nextCommit(): (StreamingQueryProgress, Long) =
      Option(commits.queue.poll(60, TimeUnit.SECONDS))
        .getOrElse(sys.error("no micro-batch committed within 60 s"))

    // set-up: a seed backlog lands before the daemon starts, and the
    // daemon catches up on it (the star it then serves)
    val bad = gen.badMinute(SeedMinutes)
    (1 to SeedMinutes).foreach(i =>
      gen.landJsonLines(dir.resolve("staging"), dir.resolve("landing"), i, unparseable = i - 1 == bad))
    landed = SeedMinutes
    commits.group = "setup"
    val query = SnapshotStream.daemon(ctx.spark, dir.resolve("landing").toString,
      star.toString, dir.resolve("ckpt").toString, Trigger.ProcessingTime(0L))
    var healthy = tally.op("seed backlog") {
      var caughtUp = 0L
      while (caughtUp < SeedMinutes) caughtUp += nextCommit()._1.numInputRows
    }
    commits.group = "warm"
    healthy = healthy && tally.op("warm-up snapshots")((1 to WarmSnapshots).foreach(_ => landAndWait()))
    val setupS = setupDone()
    val latencies = mutable.ArrayBuffer.empty[Double]
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val cpus = mutable.ArrayBuffer.empty[Double]
    while (healthy && (latencies.sum < ctx.seconds || latencies.size < MinSnapshots) && !ctx.overBudget) {
      commits.group = s"op${latencies.size + 1}"
      System.gc()
      // a snapshot that never commits leaves the daemon in an unknown state
      val cpu0 = Main.processCpuS()
      healthy = tally.op(s"snapshot ${latencies.size + 1}") {
        val (lat, p) = landAndWait()
        latencies += lat
        progress += p
      }
      cpus += Main.processCpuS() - cpu0
    }
    // measured while the daemon still runs, so its state counts
    val retained = ctx.retainedHeapMb()
    query.stop()
    query.awaitTermination()
    ctx.note(f"timed phase done, $retained%.1f MB retained; checking outputs")
    checkStar(ctx, tally, star, gen)
    ctx.note("checks done")
    println(f"[perfbench] siri_live: ${latencies.size} snapshots, latency p50 " +
      f"${Main.median(latencies.toSeq)}%.3f s (${latencies.map(t => f"$t%.2f").mkString(" ")}), " +
      f"process CPU ${cpus.map(t => f"$t%.2f").mkString(" ")} s")
    val perLayer =
      if (!ctx.tracer.enabled) Map.empty[String, Double]
      else {
        def dur(p: StreamingQueryProgress, k: String) =
          Option(p.durationMs.get(k)).map(_.toDouble / 1e3).getOrElse(0.0)
        def p50(f: StreamingQueryProgress => Double) = Main.median(progress.map(f).toSeq)
        val extra = Map(
          "streaming.batch_s_p50" -> p50(dur(_, "triggerExecution")),
          "streaming.add_batch_s_p50" -> p50(dur(_, "addBatch")),
          "streaming.latest_offset_s_p50" -> p50(dur(_, "latestOffset")),
          "streaming.commit_s_p50" -> p50(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
          "streaming.trigger_wait_s_p50" -> Main.median(latencies.zip(progress).map {
            case (l, p) => l - dur(p, "triggerExecution") }.toSeq),
          "streaming.dim_files" -> dimKeys.map(d => parquetFiles(star.resolve(d._1)).size).sum.toDouble,
          // the traced run's own landing-to-commit latency, as op_s_p50 measures it
          "traced.op_s_p50" -> Main.median(latencies))
        layerMetrics(ctx, "streaming.batch", extra ++ corpusReads(ctx, tally))
      }
    ctx.spark.streams.removeListener(commits)
    Outcome(tally.attempted, tally.failed, Seq(
      ("setup_s", setupS, "s"),
      ("op_s_p50", Main.median(latencies.toSeq), "s"),
      ("stored_bytes_per_visit",
        storedBytes(star).toDouble / (gen.okVisits + gen.failedVisits), "B"),
      ("retained_heap_mb", retained, "MB")), perLayer)
  }

  // ---------------------------------------------------------------- read side

  private def release(spark: org.apache.spark.sql.SparkSession): Unit = {
    Caches.releaseAll(blocking = true)
    spark.catalog.clearCache()
  }

  /** Read side of the traced `siri_backlog` run, over the star its
    * drains wrote: the four `SiriAnalytics` queries over the whole star,
    * and `validateFields`, which re-parses the last drain's tree and
    * reconciles it against that drain's snapshots in the star (the whole
    * star would double the traced run's wall). One untimed pass of the
    * four queries warms up, then one traced pass runs all five in a
    * seed-permuted order. */
  private def starReads(ctx: Ctx, tally: Tally, star: Path, tree: Path,
      treeIds: Seq[String]): Map[String, Double] = {
    val tr = ctx.tracer
    val spark = ctx.spark
    def t(name: String) = spark.read.parquet(star.resolve(name).toString)
    val r = EtlResult(SiriSnapshotEtl.parseVisits(SnapshotStorage.readRaw(spark, tree.toString)),
      t("siri_routes"), t("siri_stops"), t("siri_rides"), t("siri_ride_stops"),
      t("siri_vehicle_locations"), t("siri_snapshots"), t("parse_errors"))

    def runOne(group: String, q: String): Unit = q match {
      case "ride_summaries" =>
        tr.span(group, "operators.ride_summaries")(SiriAnalytics.rideSummaries(r).count())
      case "active_vehicles" =>
        tr.span(group, "operators.active_vehicles")(SiriAnalytics.activeVehiclesPerRoute(r).count())
      case "stop_headways" =>
        tr.span(group, "operators.stop_headways")(SiriAnalytics.stopHeadways(r).count())
      case "stop_progression" =>
        tr.span(group, "operators.stop_progression")(SiriAnalytics.stopProgression(r).count())
      case "validate_fields" =>
        val facts = r.vehicleLocations.filter(col("snapshot_id").isin(treeIds: _*))
        val n = tr.span(group, "etl.validate_fields")(SiriSnapshotEtl.validateFields(
          r.visits, facts, r.rideStops, r.rides, r.stops).count())
        tally.check("validateFields returns no rows", n == 0, s"$n mismatches")
    }

    val analytics = starQueries.filter(_ != "validate_fields")
    analytics.foreach(q => tally.op(s"warm $q")(runOne("warm", q)))
    tr.span("read", "pass") {
      ctx.rnd.shuffle(starQueries).foreach { q => System.gc(); tally.op(s"read $q")(runOne("read", q)) }
    }
    ctx.tracing.settle()
    val spans = ctx.tracing.finished().filter(_.group == "read")
    val scans = spans.filter(s => s.name.startsWith("action.") && s.parent != 0)
    (analytics.map("operators." + _) :+ "etl.validate_fields").map { n =>
      s"${n}_s" -> Main.median(spans.filter(_.name == n).map(_.seconds))
    }.toMap ++ Map(
      "read.pass_s" -> Main.median(spans.filter(_.name == "pass").map(_.seconds)),
      "sources.scan_bytes" -> scans.map(_.attrs.getOrElse("scan_bytes", 0.0)).sum,
      "sources.scan_files" -> scans.map(_.attrs.getOrElse("scan_files", 0.0)).sum)
  }

  /** Corpus side of the traced `siri_live` run: registry queries over the
    * corpus tables, each as `SparkEntry.queries(name)(spark, dir).count()`.
    * An untimed pass measures each result against its pin, then one traced
    * pass runs them in a seed-permuted order. Cache release is timed inside
    * each query's span, so moving it into a query scope later keeps the
    * comparison like for like. */
  private def corpusReads(ctx: Ctx, tally: Tally): Map[String, Double] = {
    val tr = ctx.tracer
    val spark = ctx.spark
    val expected = CorpusPins.load(ctx.corpusDir)
    corpusQueries.foreach { q =>
      tally.op(s"pin $q") {
        val got = CorpusPins.measure(SparkEntry.queries(q)(spark, ctx.corpusDir))
        release(spark)
        tally.check(s"$q result", expected.get(q).contains(got), s"got $got, pinned ${expected.get(q)}")
      }
    }
    tr.span("corpus", "pass") {
      ctx.rnd.shuffle(corpusQueries).foreach { q =>
        System.gc()
        tally.op(s"corpus $q") {
          val n = tr.span("corpus", s"ops.$q") {
            val n = SparkEntry.queries(q)(spark, ctx.corpusDir).count()
            tr.span("corpus", "ops.cache_release")(release(spark))
            n
          }
          tally.check(s"$q row count", expected.get(q).exists(_.rows == n),
            s"$n, pinned ${expected.get(q)}")
        }
      }
    }
    ctx.tracing.settle()
    val spans = ctx.tracing.finished().filter(_.group == "corpus")
    def total(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    corpusQueries.map(q => s"ops.${q}_s" -> total(s"ops.$q")).toMap ++ Map(
      "ops.pass_s" -> total("pass"),
      "ops.cache_release_s" -> total("ops.cache_release"))
  }
}
