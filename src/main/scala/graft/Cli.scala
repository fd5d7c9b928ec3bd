package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Backfill, SiriSnapshotEtl}
import graft.sources.SnapshotStorage
import graft.sources.SnapshotStorage.{readRaw, writeTables}

/** Command-line surface mirroring the reference's cli.py commands, each
  * dispatching to the library jobs:
  *
  *   process-snapshots <rawDir> <outDir>           (process_snapshot)
  *   update-pending-snapshots [<from> [<to>]] [--num-days N] [<statusParquet>]
  *   process-old-missing-snapshots [<from> [<to>]] [--num-days N]
  *     [<statusParquet> <rawDir> <outDir>]
  *   validate-snapshots <rawDir>                   (validate_snapshots)
  *
  * <from>/<to> are snapshot ids (yyyy/MM/dd/HH/mm) or dates
  * (yyyy-MM-dd); both are OPTIONAL on the backfill commands and
  * default to today / today−num-days (reference cli.py FROM_DATE/
  * TO_DATE via common.py parse_date_str).
  *
  * Commands that skip loaded snapshots use [[graft.etl.Backfill]]'s
  * rule (a snapshot needs loading unless its status is `loaded`), and
  * `update-pending-snapshots` writes its status rows.
  *
  * Raw snapshots are JSON files named by snapshot id (the reference's
  * storage layout, one document per minute); <rawDir>/YYYY/MM/DD/HH/MM.json.
  */
object Cli {
  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(4, Runtime.getRuntime.availableProcessors()).toString)
    GraftSession.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
  }

  private val SnapshotIdArg = """\d{4}/\d{2}/\d{2}/\d{2}/\d{2}""".r
  private val DateArg = """\d{4}-\d{2}-\d{2}""".r
  private val NumDaysOpt = "--num-days"

  /** Reference date-default ergonomics (cli.py:49-52 FROM_DATE/TO_DATE
    * `required=False`, resolved by common.py:14 parse_date_str): both
    * range arguments are optional — an absent FROM defaults to today
    * (UTC, the session timezone) or today−N under `--num-days N`, an
    * absent TO defaults to today — so the daily-cron deployment can
    * invoke the backfill commands with no range at all. Args are
    * classified by shape: `yyyy/MM/dd/HH/mm` is a minute-exact
    * snapshot id (passed through), `yyyy-MM-dd` is a date (expanded to
    * the day's first/last minute), anything else is not a range arg.
    * Returns the (fromId, toId) minute range. */
  private[graft] def resolveRange(rangeArgs: List[String],
      numDays: Option[Int],
      today: java.time.LocalDate =
        java.time.LocalDate.now(java.time.ZoneOffset.UTC)): (String, String) = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy/MM/dd")
    def lo(d: java.time.LocalDate) = s"${d.format(fmt)}/00/00"
    def hi(d: java.time.LocalDate) = s"${d.format(fmt)}/23/59"
    // --num-days only resolves an ABSENT from; combined with an explicit
    // from it would be dead input — surface that instead of dropping it
    if (numDays.isDefined && rangeArgs.nonEmpty)
      System.err.println(
        s"warning: $NumDaysOpt ignored — explicit range '${rangeArgs.head}' wins")
    val from = rangeArgs.headOption match {
      case Some(id @ SnapshotIdArg()) => id
      case Some(DateArg()) => lo(java.time.LocalDate.parse(rangeArgs.head))
      case _ => lo(numDays.fold(today)(n => today.minusDays(n.toLong)))
    }
    val to = rangeArgs.drop(1).headOption match {
      case Some(id @ SnapshotIdArg()) => id
      case Some(DateArg()) => hi(java.time.LocalDate.parse(rangeArgs(1)))
      case _ => hi(today)
    }
    (from, to)
  }

  /** Splits an argument list into (range args, --num-days value,
    * remaining positional args) — range args are the ≤2 leading
    * snapshot-id/date-shaped tokens, so path arguments after them
    * keep their positions. */
  private def splitRangeArgs(
      args: List[String]): (List[String], Option[Int], List[String]) = {
    val (ndPairs, rest0) = args.indexOf(NumDaysOpt) match {
      case -1 => (None, args)
      case i if i + 1 < args.length =>
        args(i + 1).toIntOption match {
          case Some(n) => (Some(n), args.patch(i, Nil, 2))
          case None =>
            System.err.println(
              s"$NumDaysOpt needs an integer value, got '${args(i + 1)}'")
            sys.exit(2)
        }
      case _ =>
        System.err.println(s"$NumDaysOpt needs a value"); sys.exit(2)
    }
    def isRange(a: String) = a match {
      case SnapshotIdArg() | DateArg() => true
      case _ => false
    }
    val range = rest0.take(2).takeWhile(isRange)
    (range, ndPairs, rest0.drop(range.length))
  }

  /** An optional `<fromId> <toId>` pair: none or both. Anything else
    * exits 2 — a typo'd range must NOT silently process everything. */
  private def optionalRange(args: List[String]): Option[(String, String)] = args match {
    case from :: to :: Nil => Some((from, to))
    case Nil => None
    case other =>
      System.err.println(s"expected [<fromId> <toId>], got: $other"); sys.exit(2)
  }

  private def inRangeOf(args: List[String]): Column =
    optionalRange(args).fold(lit(true))(r => col("snapshot_id").between(r._1, r._2))

  def main(args: Array[String]): Unit = {
    // stop only a session we created — embedding callers (tests, other
    // jobs) keep theirs alive across commands
    val preexisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    args.toList match {
      // zero-arg variants resolve every path from Config (env-driven,
      // reference config.py semantics) — the daemon/DAG deployment
      // needs no per-command path wiring
      case "process-snapshots" :: Nil =>
        writeTables(SiriSnapshotEtl.run(readRaw(spark, Config.rawRoot)), Config.etlRoot)
      case "start-daemon" :: Nil =>
        graft.streaming.SnapshotStream
          .daemon(spark, Config.rawRoot, Config.etlRoot, Config.checkpointRoot)
          .awaitTermination()
      case "copy-snapshots" :: Nil =>
        Config.snapshotSourceRoot match {
          case Some(src) =>
            val n = SnapshotStorage.copySnapshots(spark, src, Config.rawRoot)
            println(s"copied $n snapshots")
          case None =>
            System.err.println(
              "copy-snapshots with no args needs GRAFT_SNAPSHOT_SOURCE_ROOTPATH")
            sys.exit(2)
        }
      // process-snapshots <rawDir> <outDir> [<fromId> <toId>] [--only-missing]
      // (siri-etl-process-snapshots DAG: range-bounded, only_missing
      // skips snapshots already loaded — snapshot ids sort
      // chronologically so the range is a lexicographic between)
      case "process-snapshots" :: rawDir :: outDir :: rest
          if rest.forall(a => a == "--only-missing" || !a.startsWith("--")) =>
        val inRange =
          readRaw(spark, rawDir).filter(inRangeOf(rest.filterNot(_ == "--only-missing")))
        val raw =
          if (rest.contains("--only-missing"))
            Backfill.needsLoading(inRange, Backfill.readStatus(spark, s"$outDir/siri_snapshots"))
          else inRange
        writeTables(SiriSnapshotEtl.run(raw), outDir)
      case "process-snapshot" :: snapshotId :: rawDir :: outDir :: rest
          if rest.isEmpty || rest == List("--force-reload") =>
        // reference process_snapshot (process_snapshot.py:398): skip a
        // snapshot already loaded unless --force-reload; reprocessing is
        // idempotent (facts dynamic-overwrite their own partition)
        val alreadyLoaded = rest.isEmpty && Backfill.needsLoading(
          spark.range(1).select(lit(snapshotId).as("snapshot_id")),
          Backfill.readStatus(spark, s"$outDir/siri_snapshots")).isEmpty
        if (alreadyLoaded) println(s"snapshot $snapshotId already loaded, skipping")
        else writeTables(SiriSnapshotEtl.run(
          readRaw(spark, rawDir).filter(col("snapshot_id") === snapshotId)), outDir)
      // copy-snapshots <srcRoot> <dstRoot> [<fromId> <toId>] [--force]
      // (download-latest-snapshots / download-snapshot parity: pull a
      // snapshot-id range from a source storage root into the raw dir;
      // idempotent unless --force re-copies existing files)
      case "copy-snapshots" :: srcRoot :: dstRoot :: rest
          if rest.forall(a => a == "--force" || !a.startsWith("--")) =>
        val range = optionalRange(rest.filterNot(_ == "--force"))
        val n = SnapshotStorage.copySnapshots(spark, srcRoot, dstRoot,
          range.map(_._1), range.map(_._2), force = rest.contains("--force"))
        println(s"copied $n snapshots")
      case "start-daemon" :: rawDir :: outDir :: checkpointDir :: Nil =>
        // start_process_new_snapshots_daemon: minute-granular tail of the
        // raw dir; ctrl-C / SIGTERM stops gracefully (shutdown hook)
        val q = graft.streaming.SnapshotStream.daemon(spark, rawDir, outDir, checkpointDir)
        q.awaitTermination()
      // status table defaults to <etlRoot>/siri_snapshots (the star
      // schema's own lifecycle table) when not given explicitly — the
      // dags.yaml deployment passes only the range; the range itself is
      // optional (resolveRange date defaults, reference cli.py:49-52)
      case "update-pending-snapshots" :: rawArgs
          if { val (_, _, rest) = splitRangeArgs(rawArgs); rest.length <= 1 } =>
        val (rangeArgs, numDays, rest) = splitRangeArgs(rawArgs)
        val (from, to) = resolveRange(rangeArgs, numDays)
        val statusParquet = rest.headOption.getOrElse(s"${Config.etlRoot}/siri_snapshots")
        val pending = Backfill.pendingSnapshots(spark, from, to,
          Backfill.readStatus(spark, statusParquet))
        rest.headOption match {
          case Some(_) => // explicit flat status table: plain append
            pending.write.mode("append").parquet(statusParquet)
          case None =>
            // the star's siri_snapshots: pending rows go in the (date,
            // minute) leaves that their snapshots' loads replace
            SnapshotStorage.withSnapshotPartitions(pending)
              .write.mode("append")
              .partitionBy("snapshot_date", "snapshot_minute")
              .parquet(statusParquet)
        }
      case "process-old-missing-snapshots" :: rawArgs
          if { val (_, _, rest) = splitRangeArgs(rawArgs)
               rest.isEmpty || rest.length == 3 } =>
        val (rangeArgs, numDays, rest) = splitRangeArgs(rawArgs)
        val (from, to) = resolveRange(rangeArgs, numDays)
        val (statusParquet, rawDir, outDir) = rest match {
          case s :: r :: o :: Nil => (s, r, o)
          case _ => (s"${Config.etlRoot}/siri_snapshots", Config.rawRoot, Config.etlRoot)
        }
        writeTables(Backfill.processBacklog(spark, from, to,
          Backfill.readStatus(spark, statusParquet), readRaw(spark, rawDir)), outDir)
      // validate-snapshots <rawDir> [<fromId> <toId>] [--csv <path>]
      // (siri-etl-validate-snapshots DAG: range-bounded field-level
      // mismatch report, one row per mismatching field, CSV out)
      case "validate-snapshots" :: rawDir :: rest =>
        val csvOut = rest.dropWhile(_ != "--csv").drop(1).headOption
        val r = SiriSnapshotEtl.run(
          readRaw(spark, rawDir).filter(inRangeOf(rest.takeWhile(_ != "--csv"))))
        val bad = SiriSnapshotEtl.validateFields(r.visits, r.vehicleLocations,
          r.rideStops, r.rides, r.stops)
        val n = bad.count()
        println(s"validation mismatches: $n")
        csvOut.foreach(p =>
          bad.coalesce(1).write.mode("overwrite").option("header", "true").csv(p))
        if (n > 0 && csvOut.isEmpty) bad.show(50, truncate = false)
      // build-corpus <inJsonl> <outDir> [minQuality] [keepLang]
      // (the curation pipeline as one batch command: parse/quarantine →
      // quality+lang gate → exact dedup → token budget → sharded write)
      case "build-corpus" :: inJsonl :: outDir :: rest if rest.length <= 2 =>
        val minQ = rest.headOption.map(_.toDouble).getOrElse(0.3)
        val lang = rest.drop(1).headOption.getOrElse("en")
        val (kept, quarantined) =
          graft.ops.Pipeline.buildCorpus(spark, inJsonl, outDir,
            minQuality = minQ, keepLang = lang)
        println(s"corpus docs kept: $kept, quarantined lines: $quarantined")
      // ingest-corpus <landingDir> <outDir> <ckptDir> — the streaming
      // form: checkpointed JSONL tail with cross-batch dedup +
      // quarantine; AvailableNow (drains the backlog, then exits)
      case "ingest-corpus" :: inDir :: outDir :: ckptDir :: Nil =>
        val (good, quarantine) =
          graft.streaming.CorpusStream.ingest(spark, inDir, outDir, ckptDir)
        good.awaitTermination(); quarantine.awaitTermination()
      // corpus-daemon <landingDir> <outDir> <ckptDir> — continuous
      // corpus tail (60s trigger) with the graceful-stop hook; runs
      // until SIGTERM — an interrupted batch replays from the
      // checkpoint on restart, so no torn output is observable
      case "corpus-daemon" :: inDir :: outDir :: ckptDir :: Nil =>
        val (good, quarantine) =
          graft.streaming.CorpusStream.daemon(spark, inDir, outDir, ckptDir)
        good.awaitTermination(); quarantine.awaitTermination()
      case other =>
        System.err.println(s"unknown command: ${other.mkString(" ")}")
        System.err.println("commands: process-snapshots | process-snapshot | " +
          "copy-snapshots | start-daemon | update-pending-snapshots | " +
          "process-old-missing-snapshots | validate-snapshots | " +
          "build-corpus | ingest-corpus | corpus-daemon")
    }
    if (!preexisting) spark.stop()
  }
}
