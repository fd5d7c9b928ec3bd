package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Measured backlog drain for the corpus streaming daemon (VERDICT r8
  * item 7: the batch surface has a 10× scale point, the streaming path
  * didn't). Converts a testdata documents table into a JSONL landing
  * backlog, drains it through [[graft.streaming.CorpusStream.ingest]]
  * (AvailableNow — the daemon's exact plan, bounded run), and reports
  * docs/s plus the dedup state-store size per micro-batch (which the
  * watermark horizon bounds, not stream lifetime).
  *
  *   runMain graft.tools.StreamDrain <sfDir> <workDir> [landingFiles]
  *
  * Prints ONE JSON line: rows in/out, wall seconds, docs/s, max state
  * rows, and per-batch state-rows so horizon-boundedness is auditable.
  */
object StreamDrain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val workDir = if (args.length > 1) args(1) else
      Files.createTempDirectory("streamdrain").toString
    val nFiles = if (args.length > 2) args(2).toInt else 32
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.max(4, Runtime.getRuntime.availableProcessors()))
    val spark = graft.GraftSession.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")

    val landing = s"$workDir/landing"
    val out = s"$workDir/out"
    val ckpt = s"$workDir/ckpt"
    // backlog: the documents table as JSONL landing files (the corpus
    // daemon's input format), split so the file source has real
    // per-batch parallelism
    val docs = graft.Tables.documents(spark, sfDir)
    val nDocs = docs.count()
    docs.select(to_json(struct(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))).as("value"))
      .repartition(nFiles)
      .write.mode("overwrite").text(landing)

    val t0 = System.nanoTime()
    val (good, quarantine) = graft.streaming.CorpusStream.ingest(
      spark, landing, out, ckpt)
    good.awaitTermination()
    quarantine.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9

    val outRows = spark.read.parquet(s"$out/docs").count()
    // state-store size per batch from the good query's progress log
    val stateRows = good.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsTotal)
    val batches = good.recentProgress.length
    println(
      s"""{"metric":"stream_drain","sf":"$sfDir","rows_in":$nDocs,""" +
      s""""rows_out":$outRows,"wall_sec":${f"$wall%.3f"},""" +
      s""""docs_per_sec":${f"${nDocs / wall}%.1f"},"batches":$batches,""" +
      s""""state_rows_max":${if (stateRows.isEmpty) 0 else stateRows.max},""" +
      s""""state_rows":[${stateRows.mkString(",")}]}""")
    spark.stop()
  }
}
