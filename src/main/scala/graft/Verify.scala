package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — the optional name filter
    // is a local-iteration convenience; the driver passes two args
    val sfDir = args(0); val outDir = args(1)
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // same optimizer mode as Bench: the correctness gate must exercise
    // the plans the library ships (the top-k rewrite included), not a
    // de-optimized variant
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    // SPARK_GRAFT_STRICT_CODEGEN=1: the codegen-honesty sweep (VERDICT
    // r14 item 1) — a failed expression compile THROWS instead of
    // silently interpreting (the r13 CodeRoute failure mode), so a
    // Verify pass under this env proves every query's custom Catalyst
    // expressions actually compile. CodegenFullSurfaceSpec runs the
    // same sweep in sbt test; this env makes it available as a
    // standalone gate log at any SF.
    if (sys.env.get("SPARK_GRAFT_STRICT_CODEGEN").contains("1")) {
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      System.err.println("[verify] STRICT CODEGEN: factoryMode=CODEGEN_ONLY, fallback=false")
    }
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures are recorded EXPLICITLY: a query that throws gets an
    // entry in outDir/errors.json and a loud stderr line, and the run
    // exits nonzero. In r7 35 queries failed analysis and were simply
    // absent from CORRECTNESS_r07.json — the artifact read all-green
    // while a third of the ETL suite was broken. Never again silent.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        failures(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
      }
      // each query's tracked caches are dead weight for the next one
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // errors.json always written (empty object when clean) so the
    // driver/judge can distinguish "no failures" from "nobody looked";
    // the summary line names the coverage so a shrunk report is visible.
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    val ran = SparkEntry.queries.count { case (n, _) => only.isEmpty || only(n) }
    System.err.println(s"[verify] ${ran - failures.size}/$ran queries dumped, ${failures.size} failed")
    spark.stop()
    if (failures.nonEmpty) sys.exit(3)
  }
}
