package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Driver-run benchmark: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * - A warmup action runs first so JVM/codegen/classloading cost isn't
  *   attributed to whichever query happens to run first; queries then
  *   run in sorted-name order for stable cross-round comparison.
  * - Every operator's tracked caches are released after its timing so
  *   one query's persisted intermediates can't put the next under GC
  *   pressure (measured: 18s on a ~1s query with the dedup family's
  *   blocks resident — BENCH r2 q18 regression).
  * - Query failures are recorded EXPLICITLY (an "errors" map + nonzero
  *   exit), never as a plausible-looking wall time.
  * - Each query's reported time is best-of-2 in-process passes
  *   (median-of-3 for >= 3s heavies) so a one-off environment spike
  *   cannot become the gating number; raw pass times are persisted in
  *   the bench files as "passes".
  * - Results append to bench/history.jsonl and overwrite
  *   bench/latest_<sf>.json; regressions >1.5× vs the previous run are
  *   reported on stderr so a slow round is loud, not archaeological.
  *
  * `--list` prints the registry (sorted, one key per line) and exits.
  * Environment:
  *  - SPARK_GRAFT_SF_DIR: the table directory (default: the sf0.1
  *    test tables);
  *  - SPARK_GRAFT_CPUS: local[N] parallelism and shuffle partitions
  *    (default max(4, available processors));
  *  - SPARK_GRAFT_BENCH_ONLY=a,b: time only these queries; such a
  *    subset run never advances the baseline files;
  *  - SPARK_GRAFT_BENCH_PASSES=1: one pass per query instead of
  *    best-of-2 / median-of-3;
  *  - SPARK_GRAFT_BENCH_CHILD (any value): write no bench/ files and no
  *    regression report — for runs whose caller owns the artifacts
  *    (tools/seg_gate.sh, one fresh JVM per family);
  *  - SPARK_GRAFT_BENCH_OUT=<path>: also write the full, uncapped JSON
  *    line to this file.
  */
object Bench {
  private def onlySet: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  private def isChild: Boolean = sys.env.contains("SPARK_GRAFT_BENCH_CHILD")

  def main(args: Array[String]): Unit = {
    // --list: dump the registry (sorted, one key per line) and exit —
    // no Spark session. tools/seg_gate.sh derives its family partition
    // from THIS, not from a bench artifact, so a newly registered query
    // can never be silently excluded from the gate (ADVICE r14 item 3).
    if (args.contains("--list")) {
      SparkEntry.queries.keySet.toSeq.sorted.foreach(println)
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.max(4, Runtime.getRuntime.availableProcessors()))
    // production optimizer mode: the gating numbers must measure the
    // plans the library actually ships
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")

    // Warm the JVM: touch every table + exercise codegen/agg/join paths
    // on the smallest SF so timings below measure the queries, not
    // first-use initialization.
    try {
      SparkEntry.entry(spark).count()
      SparkEntry.queries.get("q1_pricing_summary")
        .foreach(f => f(spark, "/root/testdata/sf0.001").count())
      SparkEntry.queries.get("etl_parse_props")
        .foreach(f => f(spark, "/root/testdata/sf0.001").count())
    } catch { case _: Throwable => () }
    Caches.releaseAll()
    spark.catalog.clearCache()

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => onlySet.forall(_(n)) }
    // Self-defending timing: each query runs MULTIPLE in-process passes
    // and the reported number is best-of-2 (median-of-3 for queries whose
    // first pass is >= 3s). One environment spike — page-cache eviction,
    // a background GC storm, CPU contention from the driver — then moves
    // a single pass, not the gating artifact (r4–r6 each showed 2–5×
    // one-off spikes on the driver-gated run that builder-local reruns
    // couldn't reproduce). All pass times are persisted alongside the
    // adjudicated value so the spread itself is auditable.
    // SPARK_GRAFT_BENCH_PASSES=1 restores single-pass (used by
    // tools/seg_gate.sh, where the fresh JVM is the defense).
    val singlePass = sys.env.get("SPARK_GRAFT_BENCH_PASSES").contains("1")
    val heavyCutoff = 3.0
    val passesMap = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val results = ordered.map { case (name, fn) =>
      // one timed pass; cache release + GC after timing so a heavy
      // query's garbage can't bleed into its successors (r2 q18 18s,
      // r4 dedup family, r5 corpus_filter after the 22s triangle join —
      // all cache/GC bleed, not plan changes)
      def onePass(): (Double, Boolean) = {
        // name-first progress line: when a query kills the JVM outright
        // (executor OOM -> SparkUncaughtExceptionHandler exit), the
        // error path below never runs and the log otherwise carries no
        // clue WHICH query died (cost a 28-minute sf10 run in r11)
        System.err.println(s"[bench] running $name")
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
            errors(name) = msg
            System.err.println(s"[bench] FAILED $name: $msg")
            false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // blocking release: the next entry must start with the blocks
        // GONE, not queued for async removal — otherwise its memory
        // pressure depends on which query ran before it
        Caches.releaseAll(blocking = true)
        spark.catalog.clearCache()
        System.gc()
        (dt, ok)
      }
      val (p1, ok1) = onePass()
      if (!ok1 || singlePass) {
        passesMap(name) = Seq(p1)
        name -> p1
      } else {
        val wanted = if (p1 >= heavyCutoff) 2 else 1
        val more = Iterator.continually(onePass()).take(wanted)
          .takeWhile(_._2).map(_._1).toSeq
        val all = p1 +: more
        val adjudicated =
          if (p1 >= heavyCutoff && all.size == 3) all.sorted.apply(1)
          else all.min
        passesMap(name) = all
        if (all.size > 1 && all.max > adjudicated * 1.5)
          System.err.println(f"[bench] $name pass spread ${all.map(t => f"$t%.2f").mkString("/")}s -> adjudicated $adjudicated%.2fs")
        name -> adjudicated
      }
    }

    spark.stop()
    emit(results, errors.toSeq, sfDir, passesMap.toSeq)
  }

  /** Render the one-line JSON, persist bench files + the regression
    * report (skipped in child JVMs), print the budget-capped stdout
    * line, and exit nonzero on any failure. */
  private def emit(results: Seq[(String, Double)],
                   errorsSeq: Seq[(String, String)], sfDir: String,
                   passes: Seq[(String, Seq[Double])]): Unit = {
    val errors = scala.collection.mutable.LinkedHashMap(errorsSeq: _*)
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    // millisecond precision keeps the line SHORT: the driver captures a
    // bounded output tail (last 2000 chars), and the full per-query map
    // no longer fits in it — every prior round's artifact came back
    // `parsed: null` because the line's head was cut off. The FULL map
    // is persisted to bench/latest_<sf>.json below; stdout carries the
    // slowest queries, capped so the whole line survives the tail.
    def ms(v: Double): String = f"$v%.3f"
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // errLen/errCap bound the error payload too: a run with several
    // failures must still fit the stdout budget at k=1 (full error
    // detail always lands in bench/latest_<sf>.json via the defaults)
    def render(entries: Seq[(String, Double)], omitted: Int,
               errLen: Int = Int.MaxValue, errCap: Int = Int.MaxValue): String = {
      val qs = entries.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
      val errJson =
        if (errors.isEmpty) ""
        else {
          val shown = errors.take(errCap)
          val extra =
            if (errors.size > shown.size) s""","errors_omitted":${errors.size - shown.size}"""
            else ""
          ""","errors":""" + shown.map { case (k, v) => s"${jstr(k)}:${jstr(v.take(errLen))}" }
            .mkString("{", ",", "}") + s""","n_failed":${errors.size}""" + extra
        }
      val omitJson =
        if (omitted == 0) ""
        else s""","queries_total":${results.size},"queries_omitted":$omitted"""
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs$errJson$omitJson,"sf":"$sfDir"}"""
    }
    // Full detail for the repo bench files: the per-query map PLUS every
    // raw pass time behind each adjudicated value ("queries" carries
    // best-of-2/median-of-3; "passes" shows the spread that produced it)
    val passesJson =
      if (passes.isEmpty || passes.forall(_._2.size <= 1)) ""
      else ""","passes":""" + passes.sortBy(_._1).map { case (k, vs) =>
        "\"" + k + "\":" + vs.map(ms).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val full = render(results, 0)
    val line =
      if (passesJson.isEmpty) full
      else full.patch(full.lastIndexOf("}"), passesJson + "}", 1)
    val stdoutLine = {
      val budget = 1700 // ≤ tail(2000) − sbt's trailing "[success] …" line
      if (line.length <= budget) line
      else {
        val bySlow = results.sortBy(-_._2)
        // keep the slowest-k subset that still renders under budget
        var k = bySlow.length
        while (k > 1 && render(bySlow.take(k), results.size - k, 80, 4).length > budget) k -= 1
        render(bySlow.take(k), results.size - k, 80, 4)
      }
    }

    // Regression report vs the previous persisted run AT THE SAME SF
    // (same machine, successive rounds): anything >1.5× slower and
    // >0.5s absolute. A shared baseline would diff across scale
    // factors and flag nonsense. Child JVMs (SPARK_GRAFT_BENCH_CHILD)
    // skip all file bookkeeping — their caller persists the merged run.
    //
    // A run with ANY failed query never advances latest_<sf>.json or
    // history.jsonl: fail-fast timings (~0.06s analysis errors) would
    // poison the baseline and every later trend comparison (this
    // happened in r7 — 35 DATATYPE_MISMATCH failures made a 175s
    // "baseline" that no healthy run can be compared against). Failed
    // runs persist to bench/failed_<sf>.json for diagnosis instead.
    if (!isChild) try {
      val sfName = Paths.get(sfDir).getFileName.toString
      val latest = Paths.get("bench", s"latest_$sfName.json")
      if (errors.nonEmpty) {
        Files.createDirectories(Paths.get("bench"))
        Files.writeString(Paths.get("bench", s"failed_$sfName.json"), line + "\n")
        System.err.println(s"[bench] ${errors.size} queries FAILED — baseline " +
          s"latest_$sfName.json/history.jsonl NOT advanced (full detail in bench/failed_$sfName.json)")
      }
      if (Files.exists(latest)) {
        val prevTxt = Files.readString(latest)
        val pair = """"([A-Za-z0-9_]+)":([0-9.Ee+-]+)""".r
        val inQueries = prevTxt.indexOf("\"queries\":")
        val prev: Map[String, Double] =
          if (inQueries < 0) Map.empty
          else pair.findAllMatchIn(prevTxt.substring(inQueries))
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        val regressions = results.filter { case (k, v) =>
          prev.get(k).exists(p => v > p * 1.5 && v - p > 0.5)
        }
        regressions.foreach { case (k, v) =>
          System.err.println(f"[bench] REGRESSION $k: ${prev(k)}%.2fs -> $v%.2fs")
        }
        if (regressions.isEmpty)
          System.err.println(s"[bench] no >1.5x regressions vs previous run (${prev.size} queries compared)")
      }
      // subset runs (SPARK_GRAFT_BENCH_ONLY) never advance the
      // baseline either: a 6-query run overwriting the 165-query
      // latest_<sf>.json would make every later full-run comparison
      // silently partial
      if (errors.isEmpty && onlySet.isEmpty) {
        Files.createDirectories(Paths.get("bench"))
        Files.writeString(latest, line + "\n")
        Files.writeString(Paths.get("bench", "history.jsonl"), line + "\n",
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] history bookkeeping failed: ${e.getMessage}")
    }

    // SPARK_GRAFT_BENCH_OUT: write the FULL line (uncapped) to a file —
    // how tools/seg_gate.sh's per-family runs hand their complete
    // per-query map back (the stdout line is budget-capped).
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      try Files.writeString(Paths.get(p), line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] BENCH_OUT write failed: ${e.getMessage}")
      }
    }

    println(stdoutLine)
    if (errors.nonEmpty) sys.exit(3)
  }
}
