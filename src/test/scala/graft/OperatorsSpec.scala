package graft

import org.apache.spark.sql.functions._
import graft.etl.EventsEtl
import graft.ops.{Dedup, Multimodal, Similarity}

class EventsEtlSpec extends SparkSpec {
  import spark.implicits._

  test("retryDedup is idempotent: doubled input collapses to original counts") {
    val orig = Tables.events(spark, sf0001).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dedup = EventsEtl.retryDedup(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dedup == orig)
  }

  test("hashed surrogate keys are collision-free on the dim") {
    val dim = EventsEtl.dimSurrogateHashed(spark, sf0001)
    assert(dim.select("surrogate_id").distinct().count() == dim.count())
  }

  test("sessionize: session bounds ordered and events conserved") {
    val sess = EventsEtl.sessionize(spark, sf0001)
    val total = sess.agg(sum("n_events")).head().getLong(0)
    assert(total == Tables.events(spark, sf0001).count())
    assert(sess.filter($"end_sec" < $"start_sec").count() == 0)
  }

  test("sliding windows: every event lands in exactly two windows") {
    val ev = Tables.events(spark, sf0001).count()
    val win = graft.etl.EventsEtl.slidingWindowStats(spark, sf0001)
    assert(win.agg(org.apache.spark.sql.functions.sum("n_events")).head().getLong(0) == 2 * ev)
  }

  test("scd2: versions chain (valid_to = next valid_from), one current row per user") {
    import org.apache.spark.sql.functions._
    val h = graft.etl.EventsEtl.scd2History(spark, sf0001)
    val users = h.select("user_id").distinct().count()
    assert(h.filter(col("is_current")).count() == users)
    // non-current rows close exactly at the next version's start
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("valid_from_sec"))
    val bad = h.withColumn("next_from", lead(col("valid_from_sec"), 1).over(w))
      .filter(!col("is_current") && col("valid_to_sec") =!= col("next_from"))
    assert(bad.count() == 0)
  }

  test("missing minutes + observed minutes = full span") {
    val missing = EventsEtl.missingMinutes(spark, sf0001).count()
    val ev = Tables.events(spark, sf0001)
    val observed = ev.select(date_trunc("minute", $"ts")).distinct().count()
    val bounds = ev.agg(min(unix_timestamp(date_trunc("minute", $"ts"))),
      max(unix_timestamp(date_trunc("minute", $"ts")))).head()
    val span = (bounds.getLong(1) - bounds.getLong(0)) / 60 + 1
    assert(missing + observed == span)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps the minimum doc_id and counts both copies") {
    val r = Dedup.exact(spark, sf0001)
    assert(r.filter($"n_copies" =!= 2).count() == 0) // every doc was doubled
    assert(r.filter($"keep_doc_id" >= 100000).count() == 0)
  }

  test("doubled-corpus shift re-derives when the same path grows (stale memo = id collisions)") {
    // the r12 shift-memo hazard: one JVM, one path, corpus overwritten
    // with larger ids — a remembered smaller shift would collide copy
    // ids with real ids downstream. The probe reads the corpus as it
    // is now, so the overwrite must produce a fresh shift.
    val dir = java.nio.file.Files.createTempDirectory("shiftmemo").toString
    try {
      Seq((0L, "alpha"), (50L, "beta")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val small = Dedup.doubleShift(
        Tables.documents(spark, dir).select($"doc_id", $"text"))
      assert(small == 100000L)
      Seq((0L, "alpha"), (150000L, "gamma")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val grown = Dedup.doubleShift(
        Tables.documents(spark, dir).select($"doc_id", $"text"))
      assert(grown == 200000L, "stale memoized shift survived an overwrite")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("minhash LSH candidates are a superset of high-jaccard pairs") {
    val jac = Dedup.ngramJaccard(spark, sf0001)
      .filter($"jaccard" >= 0.95)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashLsh(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.subsetOf(cand), s"missed: ${jac.diff(cand)}")
  }

  test("components: endpoints of every pair share a component; id is the min member") {
    val comp = Dedup.components(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.minhashLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(comp(a) == comp(b), s"$a,$b split") }
    comp.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c, s"component $c id is not its min member")
    }
  }

  test("star contraction matches min-label components on the LSH graph") {
    val byLabel = Dedup.componentsMinLabel(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byStar = Dedup.componentsStar(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byStar == byLabel)
  }

  test("hybrid components: driver union-find matches the distributed paths") {
    val byHybrid = Dedup.components(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byLabel = Dedup.componentsMinLabel(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byHybrid == byLabel)
    // gate at 0 edges forces the distributed star fallback — same labels
    val pairs = Dedup.minhashLsh(spark, sf0001)
      .selectExpr("doc_a AS u", "doc_b AS v")
    val forced = Dedup.connectedComponents(pairs, driverMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(forced == byLabel)
  }

  test("hybrid components handles an empty pair graph") {
    val empty = spark.range(0).selectExpr("id AS u", "id AS v")
    assert(Dedup.connectedComponents(empty.toDF()).count() == 0)
  }

  test("star contraction handles an empty pair graph (no rounds, no crash)") {
    val empty = spark.range(0).selectExpr("id AS u", "id AS v")
    val (labels, rounds) = Dedup.connectedComponentsStar(empty.toDF())
    assert(labels.count() == 0)
    assert(rounds <= 1)
  }

  test("star contraction labels a deep chain in logarithmic rounds") {
    // a 256-node path graph: min-label propagation needs 255 rounds
    // (O(diameter)); large-star/small-star must land in O(log²n)
    val chain = spark.range(255).selectExpr("id AS u", "id + 1 AS v")
    val (labels, rounds) = Dedup.connectedComponentsStar(chain.toDF())
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 256)
    assert(got.values.forall(_ == 0L), s"non-root labels: ${got.filter(_._2 != 0L).take(5)}")
    assert(rounds <= 20, s"took $rounds rounds — not the contraction bound")
    // and a forest of two chains keeps the components separate
    val two = spark.range(99).selectExpr(
      "CASE WHEN id < 49 THEN id ELSE id + 1 END AS u",
      "CASE WHEN id < 49 THEN id + 1 ELSE id + 2 END AS v")
    val (l2, _) = Dedup.connectedComponentsStar(two.toDF())
    val m2 = l2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 49L).forall(m2(_) == 0L) && (50L to 100L).forall(m2(_) == 50L))
  }

  test("simhash hamming is symmetric-free (a<b) and within radius") {
    val r = Dedup.simhash(spark, sf0001)
    assert(r.filter($"doc_a" >= $"doc_b").count() == 0)
    assert(r.filter($"hamming" > 2).count() == 0)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("Lloyd iterations: the k-means objective is non-increasing") {
    val (assigned, totals) = Similarity.kmeansIterations(spark, sf0001, 3)
    assert(assigned.count() == Tables.embeddings(spark, sf0001).count())
    assert(totals.length == 3)
    totals.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * 1.000001, s"objective rose across iterations: $totals")
    case _ => ()
    }
  }

  test("brute-force ANN: 5 neighbors per probe, cosine within [-1,1], descending") {
    val r = Similarity.annBruteforce(spark, sf0001).collect()
    val byProbe = r.groupBy(_.getAs[Long]("probe_id"))
    assert(byProbe.forall(_._2.length == 5))
    assert(r.forall(x => math.abs(x.getAs[Double]("cosine")) <= 1.000001))
    byProbe.values.foreach { rows =>
      val cos = rows.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF top-k search: 5 per probe, candidates only from the routed cells") {
    // NOTE: recall vs brute force is inherently low on this synthetic
    // corpus — vectors are near-orthogonal so label-cells don't
    // correlate with cosine neighborhoods; the invariants here are the
    // operator's structure, the oracle pins the exact values
    val ivf = Similarity.annIvfTopk(spark, sf0001).collect()
    val perProbe = ivf.groupBy(_.getLong(0)).map(_._2.length)
    assert(perProbe.nonEmpty && perProbe.forall(_ == 5))
    // cells come from the TRAINED index (refined assignment), not the
    // seed label — candidates must come from the probe's 2 routed cells
    val cellOf = Similarity.trainedIndex(spark, sf0001)._2
      .selectExpr("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cellsPerProbe = ivf.groupBy(_.getLong(0))
      .view.mapValues(_.map(r => cellOf(r.getLong(1))).toSet).toMap
    assert(cellsPerProbe.values.forall(_.size <= 2))
    // ranking is dense, descending, deterministic
    ivf.groupBy(_.getLong(0)).values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to 5L))
      val cosines = sorted.map(_.getDouble(2)).toSeq
      assert(cosines == cosines.sorted.reverse)
    }
  }

  test("scalar quantization: codes within [0,255], extremes map to the rails") {
    val q = Similarity.quantize(spark, sf0001)
    assert(q.filter($"q" < 0 || $"q" > 255).count() == 0)
    val perPos = q.groupBy($"pos")
      .agg(min($"q").as("mn"), max($"q").as("mx"))
    assert(perPos.filter($"mn" =!= 0L).count() == 0)   // min value → code 0
    assert(perPos.filter($"mx" =!= 255L).count() == 0) // max value → code 255
  }

  test("IVF assignment: every vector lands in exactly one cell") {
    val r = Similarity.annIvf(spark, sf0001)
    assert(r.count() == Tables.embeddings(spark, sf0001).count())
    assert(r.select("vec_id").distinct().count() == r.count())
  }
}

class TfidfSpec extends SparkSpec {
  import spark.implicits._

  test("tfidf: exactly top-3 per doc, scores non-increasing, rare terms outrank common") {
    val r = graft.ops.TextAnalysis.tfidf(spark, sf0001)
    val perDoc = r.groupBy($"doc_id").count()
    assert(perDoc.filter($"count" > 3).count() == 0)
    val disordered = r.withColumn("prev",
        org.apache.spark.sql.functions.lag($"score", 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"doc_id").orderBy($"rk")))
      .filter($"prev".isNotNull && $"score" > $"prev")
    assert(disordered.count() == 0)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("decode pipeline: deterministic features, invariant to batch size") {
    val media = Multimodal.mediaFromDocuments(spark, sf0001)
    val f1 = Multimodal.decodePipeline(media, batchSize = 1).collect()
      .map(f => f.doc_id -> f).toMap
    val f64 = Multimodal.decodePipeline(media, batchSize = 64).collect()
      .map(f => f.doc_id -> f).toMap
    assert(f1.keySet == f64.keySet)
    f1.foreach { case (id, f) =>
      assert(f64(id).feature0 == f.feature0 && f64(id).n_bytes == f.n_bytes)
    }
    assert(f1.values.forall(f => f.feature0 >= 0.0 && f.feature0 <= 1.0))
    assert(f1.values.forall(_.decode_status == "stubbed-no-codec"))
  }

  test("binary features agree with payload byte lengths") {
    val bf = graft.ops.Multimodal.binaryFeatures(spark, sf0001)
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", length(encode($"text", "UTF-8")).cast("long").as("n"))
    val joined = bf.join(docs, "doc_id").filter($"n_bytes" =!= $"n")
    assert(joined.count() == 0)
  }

  test("frame sample keeps every 2nd frame, frames reassemble from the source") {
    val fs = Multimodal.frameSample(spark, sf0001)
    // indices are even and bounded by the doc's frame count
    assert(fs.filter($"frame_idx" % 2 =!= 0).count() == 0)
    val bad = fs.join(Tables.documents(spark, sf0001), "doc_id")
      .filter($"frame_md5" =!= md5(expr("substr(text, frame_idx * 64 + 1, 64)")))
    assert(bad.count() == 0)
    assert(fs.count() > 0)
  }

  test("resize pipeline shrinks payloads by the factor, invariant to batch size") {
    val media = Multimodal.mediaFromDocuments(spark, sf0001)
    val r1 = Multimodal.resizePipeline(media, factor = 4, batchSize = 1).collect()
      .map(r => r.doc_id -> r).toMap
    val r64 = Multimodal.resizePipeline(media, factor = 4, batchSize = 64).collect()
      .map(r => r.doc_id -> r).toMap
    assert(r1.keySet == r64.keySet)
    r1.values.foreach { r =>
      assert(r.resized_bytes == (r.orig_bytes + 3) / 4)
      assert(java.util.Arrays.equals(r64(r.doc_id).resized, r.resized))
    }
  }

  test("resize pipeline REALLY resizes image payloads: dims shrink by factor, pixels are box means") {
    val ids = Seq(1L, 24L, 77L)
    val media = ids.map { id =>
      Multimodal.MediaRecord(id, "image",
        Multimodal.PHash.encodePng(Multimodal.PHash.pixelGrid(id)))
    }.toDS()
    val out = Multimodal.resizePipeline(media, factor = 4).collect()
      .map(r => r.doc_id -> r).toMap
    ids.foreach { id =>
      val r = out(id)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.resized))
      assert(img != null && img.getWidth == 8 && img.getHeight == 8,
        s"doc $id: expected a real 8x8 PNG")
      val px = Multimodal.PHash.pixelGrid(id)
      val raster = img.getRaster
      for (y <- 0 until 8; x <- 0 until 8) {
        val mean = (for (dy <- 0 until 4; dx <- 0 until 4)
          yield px((y * 4 + dy) * 32 + (x * 4 + dx))).sum / 16
        assert(raster.getSample(x, y, 0) == mean, s"pixel ($x,$y) of doc $id")
      }
    }
  }
}
