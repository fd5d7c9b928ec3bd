package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** What one workload run produced. `endToEnd` values carry their unit;
  * `perLayer` values are read from the trace (absent ⇒ the layer did no
  * work in this workload and reports 0). */
final case class Outcome(attempted: Int, failed: Int,
    endToEnd: Seq[(String, Double, String)], perLayer: Map[String, Double])

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Double, val tracing: Tracing, val corpusDir: String) {
  def tracer: Tracer = tracing.tracer
  val rnd = new Random(seed)
  private val started = System.nanoTime()
  /** Hard ceiling on a run's wall time, whatever `--seconds` says. */
  def overBudget: Boolean = (System.nanoTime() - started) / 1e9 > 140
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
  /** Heap the run still holds after its timed phase: a full collection,
    * a pause for Spark's asynchronous clean-up (unpersisted blocks,
    * broadcasts whose references died), then another. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    used / 1048576.0
  }
  /** Progress line on stderr, stamped with seconds since JVM start. */
  def note(msg: String): Unit = System.err.println(f"[perfbench] ${Main.uptime()}%7.2f s  $msg")
}

/** Runs one workload and prints its result as the last stdout line:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <scratch dir> --corpus <parquet dir> --trace-out <file>
  */
object Main {
  /** Per-layer metrics and their units; every traced run reports all of
    * them, with 0 for a layer its workload does not exercise. */
  val perLayerUnits: Seq[(String, String)] = {
    val writes = Workloads.tables.map(t => s"sources.write.${t}_s" -> "s")
    Seq(
      "sources.read_s" -> "s", "sources.read_bytes" -> "B",
      "etl.parse_s" -> "s", "etl.parse_ok_ratio" -> "fraction",
      "etl.dims_s" -> "s", "etl.facts_s" -> "s", "etl.stats_s" -> "s",
      "sources.write_s" -> "s", "sources.write_actions" -> "count",
      "sources.files_written" -> "count", "sources.bytes_written" -> "B") ++ writes ++ Seq(
      "streaming.batch_s_p50" -> "s", "streaming.add_batch_s_p50" -> "s",
      "streaming.latest_offset_s_p50" -> "s", "streaming.commit_s_p50" -> "s",
      "streaming.trigger_wait_s_p50" -> "s", "streaming.dim_files" -> "count",
      "operators.ride_summaries_s" -> "s", "operators.active_vehicles_s" -> "s",
      "operators.stop_headways_s" -> "s", "operators.stop_progression_s" -> "s",
      "etl.validate_fields_s" -> "s", "read.pass_s" -> "s", "sources.scan_bytes" -> "B",
      "sources.scan_files" -> "count") ++
      Workloads.corpusQueries.map(q => s"ops.${q}_s" -> "s") ++ Seq(
      "ops.pass_s" -> "s", "ops.cache_release_s" -> "s",
      "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.tasks" -> "count", "spark.task_skew" -> "ratio",
      "traced.op_s_p50" -> "s")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val run = Workloads.all.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.all.keys.mkString(", ")}"))
    val traced = opt("trace") == "1"
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = graft.GraftSession.build(master = s"local[$cores]", shufflePartitions = cores,
      appName = "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val tracing = new Tracing(spark, new Tracer(traced))
    val ctx = new Ctx(spark, Paths.get(opt("work")), opt("seed").toLong,
      opt("seconds").toDouble, tracing, opt("corpus"))

    ctx.note("session ready")
    val out = try run(ctx) catch {
      case e: Throwable =>
        e.printStackTrace()
        Outcome(1, 1, Nil, Map.empty)
    }
    val rssMb = peakRssMb()
    val metrics =
      if (!traced) out.endToEnd :+ (("peak_rss_mb", rssMb, "MB"))
      else perLayerUnits.map { case (n, u) => (n, out.perLayer.getOrElse(n, 0.0), u) }
    if (traced) {
      val spans = tracing.finished()
      TraceReport.write(Paths.get(opt("trace-out")), workload, spans, out.perLayer)
      TraceReport.print(workload, spans, metrics)
    }
    spark.stop()
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""PERFBENCH_RESULT {"correct": ${out.failed == 0 && out.attempted > 0}, """ +
      s""""attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": {${body.mkString(", ")}}}""")
  }

  def uptime(): Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** CPU seconds this process has used, all threads. */
  def processCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Resident-set high-water mark of this process, from the kernel. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toVector.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** The trace's outputs: every span as JSON, and a per-layer table. */
object TraceReport {
  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def write(path: Path, workload: String, spans: Seq[Span], perLayer: Map[String, Double]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startMs).map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${Main.fmt(v)}" }
      s"""{"id": ${s.id}, "parent": ${s.parent}, "group": ${q(s.group)}, "name": ${q(s.name)}, """ +
        s""""start_ms": ${Main.fmt(s.startMs)}, "end_ms": ${Main.fmt(s.endMs)}, "attrs": {${attrs.mkString(", ")}}}"""
    }
    val layers = perLayer.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${Main.fmt(v)}" }
    Files.writeString(path, s"""{"workload": ${q(workload)}, "per_layer": {${layers.mkString(", ")}},\n""" +
      s""""spans": [\n${lines.mkString(",\n")}\n]}\n""")
  }

  /** Span names aggregated (count, total and median seconds, engine
    * counters summed), then the per-layer metrics. */
  def print(workload: String, spans: Seq[Span], metrics: Seq[(String, Double, String)]): Unit = {
    println(s"# per-layer table: $workload")
    println(f"${"span"}%-44s ${"n"}%5s ${"total_s"}%9s ${"p50_s"}%8s ${"cpu_s"}%8s ${"gc_s"}%7s ${"tasks"}%7s ${"shuffle_B"}%11s ${"spill_B"}%9s")
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      def sum(k: String) = ss.map(_.attrs.getOrElse(k, 0.0)).sum
      println(f"$name%-44s ${ss.size}%5d ${ss.map(_.seconds).sum}%9.3f ${Main.median(ss.map(_.seconds))}%8.3f " +
        f"${sum("spark.task_cpu_s")}%8.3f ${sum("spark.gc_s")}%7.3f ${sum("spark.tasks")}%7.0f " +
        f"${sum("spark.shuffle_write_bytes")}%11.0f ${sum("spark.spill_bytes")}%9.0f")
    }
    metrics.foreach { case (n, v, u) => println(f"  $n%-40s ${Main.fmt(v)}%16s $u") }
  }
}
