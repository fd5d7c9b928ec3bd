package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Brotli, SnapshotStorage}

/** RFC 7932 decoder conformance: every fixture was produced by the
  * reference C encoder (via brotlicffi) at a spread of qualities,
  * window sizes and payload shapes — dictionary-transform-heavy short
  * English, UTF-8 multibyte, incompressible binary, long backward
  * references, SIRI-shaped JSON (the actual landing payload), empty
  * and 1-byte streams. Byte-exact decode of each is the gate. */
class BrotliSpec extends AnyFunSuite {

  private def fixture(name: String): (Array[Byte], Array[Byte]) = {
    def load(ext: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/graft/brotli/$name.$ext")
      assert(in != null, s"missing fixture $name.$ext")
      try in.readAllBytes() finally in.close()
    }
    (load("br"), load("raw"))
  }

  private val fixtures = Seq(
    "siri_json_q5", "siri_json_q11", "english_q11", "english_q1",
    "random_q5", "random_q11", "repetitive_q9", "hebrew_q11", "big_q5",
    "empty_q11", "one_q11", "mixed_q0", "mixed_q2", "mixed_q4",
    "mixed_q6", "mixed_q8", "mixed_q10", "win10_q9", "win24_q9")

  fixtures.foreach { name =>
    test(s"decodes reference-encoder fixture $name byte-exactly") {
      val (br, raw) = fixture(name)
      val out = Brotli.decompress(br)
      assert(out.length == raw.length,
        s"$name: length ${out.length} != ${raw.length}")
      assert(java.util.Arrays.equals(out, raw), s"$name: content mismatch")
    }
  }

  test("uncompressed-meta-block writer round-trips through the decoder") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 1, 63, 64, 65, 65535, 65536, 1 << 20, (1 << 24) + 17)) {
      val data = new Array[Byte](n)
      rnd.nextBytes(data)
      val enc = Brotli.compressUncompressed(data)
      assert(java.util.Arrays.equals(Brotli.decompress(enc), data), s"n=$n")
    }
  }

  test("our uncompressed framing is read by the reference decoder's own fixtures' inverse") {
    // cross-check: a stream our writer produced for the SIRI fixture's
    // raw bytes decodes to those bytes (framing-only, no entropy)
    val (_, raw) = fixture("siri_json_q5")
    assert(java.util.Arrays.equals(
      Brotli.decompress(Brotli.compressUncompressed(raw)), raw))
  }

  test("corrupt input fails loudly, not with garbage output") {
    val (br, _) = fixture("siri_json_q5")
    val truncated = java.util.Arrays.copyOf(br, br.length / 2)
    intercept[java.io.IOException](Brotli.decompress(truncated))
    val flipped = br.clone()
    flipped(flipped.length / 3) = (flipped(flipped.length / 3) ^ 0x5a).toByte
    // a bit flip must either throw or produce different bytes — never
    // silently return the original content
    val (_, raw) = fixture("siri_json_q5")
    try assert(!java.util.Arrays.equals(Brotli.decompress(flipped), raw))
    catch { case _: java.io.IOException => () }
  }
}

/** End-to-end: a `.br` landing dir (the reference's real archive
  * format) flows through readRaw → the full SIRI ETL, mixed with plain
  * `.json` minutes in the same tree. */
class BrotliIngestSpec extends SparkSpec {

  private def writeBr(root: String, id: String, json: String): Unit = {
    val p = Paths.get(s"$root/$id.br")
    Files.createDirectories(p.getParent)
    Files.write(p, Brotli.compressUncompressed(
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  private def writeJson(root: String, id: String, json: String): Unit = {
    val p = Paths.get(s"$root/$id.json")
    Files.createDirectories(p.getParent)
    Files.write(p, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  test("readRaw ingests .br minutes, mixed trees, and empty roots") {
    val root = Files.createTempDirectory("brraw").toString
    writeBr(root, "2023/03/10/08/01", SiriFixtures.snapA)
    writeJson(root, "2023/03/10/08/02", SiriFixtures.snapB)
    val raw = SnapshotStorage.readRaw(spark, root)
    assert(raw.columns.toSeq == Seq("snapshot_id", "json"))
    val byId = raw.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byId.keySet == Set("2023/03/10/08/01", "2023/03/10/08/02"))
    assert(byId("2023/03/10/08/01") == SiriFixtures.snapA)
    // full ETL over the mixed tree: both snapshots parse
    val result = graft.etl.SiriSnapshotEtl.run(raw)
    assert(result.visits.count() == 6)
    assert(result.visits.filter(org.apache.spark.sql.functions.col("parse_ok")).count() == 5)
    // an empty root yields an empty, correctly-shaped frame (no throw)
    val empty = Files.createTempDirectory("brempty").toString
    val e = SnapshotStorage.readRaw(spark, empty)
    assert(e.columns.toSeq == Seq("snapshot_id", "json") && e.count() == 0)
  }

  test("readRaw on a .br tree logs no metadata-directory WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val root = Files.createTempDirectory("brwarn").toString
    writeBr(root, "2023/03/10/08/01", SiriFixtures.snapA)
    writeBr(root, "2023/03/10/08/02", SiriFixtures.snapB)
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("brwarn", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = warnings.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    // the suite logs at ERROR; capture WARN for the read only
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootLogger = ctx.getConfiguration.getRootLogger
    val level = rootLogger.getLevel
    rootLogger.addAppender(capture, Level.WARN, null)
    rootLogger.setLevel(Level.WARN)
    ctx.updateLoggers()
    try assert(SnapshotStorage.readRaw(spark, root).count() == 2)
    finally {
      rootLogger.removeAppender("brwarn")
      rootLogger.setLevel(level)
      ctx.updateLoggers()
      capture.stop()
    }
    val probe = warnings.toArray.map(_.toString).filter(_.contains("Assume no metadata directory"))
    assert(probe.isEmpty, probe.mkString("\n"))
  }

  test("a minute present as BOTH .json and .br yields ONE row — .json wins") {
    val root = Files.createTempDirectory("brdup").toString
    // same minute in both formats, with DIFFERENT payloads so the
    // precedence (json over br) is observable, plus one br-only minute
    writeBr(root, "2023/03/10/08/01", SiriFixtures.snapB)
    writeJson(root, "2023/03/10/08/01", SiriFixtures.snapA)
    writeBr(root, "2023/03/10/08/02", SiriFixtures.snapB)
    val byId = SnapshotStorage.readRaw(spark, root)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byId.keySet == Set("2023/03/10/08/01", "2023/03/10/08/02"))
    assert(byId("2023/03/10/08/01") == SiriFixtures.snapA) // .json copy
    assert(byId("2023/03/10/08/02") == SiriFixtures.snapB)
  }

  test("a corrupt .br landing file fails the read WITH its path in the error") {
    val root = Files.createTempDirectory("brbad").toString
    val p = Paths.get(s"$root/2023/03/10/08/07.br")
    Files.createDirectories(p.getParent)
    Files.write(p, Array[Byte](0x1b, 0x7f, -1, -1, 0x42, 0x42, 0x42))
    val e = intercept[org.apache.spark.SparkException] {
      SnapshotStorage.readRaw(spark, root).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val all = msgs(e).mkString("\n")
    assert(all.contains("2023/03/10/08/07.br"), s"path missing from: $all")
    assert(all.contains("brotli"), s"decoder context missing from: $all")
  }

  test("copySnapshots copies .br minutes preserving extension and range") {
    val src = Files.createTempDirectory("brsrc").toString
    val dst = Files.createTempDirectory("brdst").toString
    writeBr(src, "2023/03/10/08/01", SiriFixtures.snapA)
    writeJson(src, "2023/03/10/08/02", SiriFixtures.snapB)
    writeBr(src, "2023/03/10/08/03", SiriFixtures.snapB)
    assert(SnapshotStorage.copySnapshots(spark, src, dst,
      fromId = Some("2023/03/10/08/01"), toId = Some("2023/03/10/08/02")) == 2)
    assert(Files.exists(Paths.get(s"$dst/2023/03/10/08/01.br")))
    assert(Files.exists(Paths.get(s"$dst/2023/03/10/08/02.json")))
    assert(!Files.exists(Paths.get(s"$dst/2023/03/10/08/03.br")))
    // the copied tree is directly processable
    assert(SnapshotStorage.readRaw(spark, dst).count() == 2)
  }
}
