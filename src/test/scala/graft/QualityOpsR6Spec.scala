package graft

import org.apache.spark.sql.functions._

import graft.ops.{Pipeline, Similarity}

/** Round-6 additions: the Matryoshka coarse→exact rerank funnel and
  * the deterministic epoch shuffle. Each is checked against an
  * independent in-memory recomputation, not just for shape. */
class QualityOpsR6Spec extends SparkSpec {

  private def cos(a: Array[Double], b: Array[Double], dims: Int): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    for (i <- 0 until dims) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i) }
    d / math.sqrt(na * nb)
  }

  test("annMatryoshkaRerank: candidates are the prefix top-20, scores are exact full-dim") {
    val out = Similarity.annMatryoshkaRerank(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("coarse_rk"), r.getAs[Long]("rk")))
    assert(out.nonEmpty, "empty rerank output")
    val e = Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val probes = e.keys.filter(_ < 25)
    // stage-1 truth: top-20 by 16-dim prefix cosine (rounded like the op)
    val coarse = probes.map { p =>
      p -> e.keys.filter(_ != p).toSeq
        .sortBy(w => (-BigDecimal(cos(e(p), e(w), 16)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble, w)).take(20).toSet
    }.toMap
    out.foreach { case (p, v, c, crk, rk) =>
      assert(coarse(p).contains(v), s"probe $p kept $v, not a prefix top-20 candidate")
      assert(crk >= 1 && crk <= 20 && rk >= 1 && rk <= 5)
      val exact = BigDecimal(cos(e(p), e(v), e(p).length))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(c - exact) < 1e-9,
        s"probe $p -> $v: reported $c, exact full-dim $exact")
    }
    // per probe: exactly 5 rows, rk dense, cosine non-increasing in rk
    out.groupBy(_._1).values.foreach { rows =>
      assert(rows.length == 5)
      val byRk = rows.sortBy(_._5)
      assert(byRk.map(_._5).toSeq == (1L to 5L))
      byRk.sliding(2).foreach { case Array(a, b) =>
        assert(a._3 >= b._3, "rerank order must be cosine-descending")
      }
    }
  }

  test("epochShuffle: per-epoch permutation, hash-derived shards, dense per-shard positions") {
    val out = Pipeline.epochShuffle(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("shard"),
        r.getAs[Long]("pos"), r.getAs[Long]("doc_id")))
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(out.length == 2 * nDocs, "each doc must appear once per epoch")
    (0L to 1L).foreach { ep =>
      val rows = out.filter(_._1 == ep)
      assert(rows.map(_._4).distinct.length == nDocs, s"epoch $ep is not a permutation")
      // shard matches an independent md5-nibble recomputation
      rows.foreach { case (_, sh, _, id) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"ep$ep:$id".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        assert(sh == "0123456789abcdef".indexOf(hex.charAt(0)) % 8,
          s"doc $id epoch $ep: shard $sh disagrees with md5 nibble")
      }
      // dense positions per shard
      rows.groupBy(_._2).values.foreach { srows =>
        assert(srows.map(_._3).sorted.toSeq == (1L to srows.length))
      }
    }
    // the two epochs must order docs differently (different hash keys)
    val ord0 = out.filter(_._1 == 0L).sortBy(r => (r._2, r._3)).map(_._4).toSeq
    val ord1 = out.filter(_._1 == 1L).sortBy(r => (r._2, r._3)).map(_._4).toSeq
    assert(ord0 != ord1, "epochs produced identical orders")
  }

  test("bfsLevels agrees with an in-memory BFS over the same edges") {
    val out = graft.ops.Graph.bfsLevels(spark, sf0001).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("level")).toMap
    val pairs = graft.ops.Graph.coOccurrenceEdges(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    val seed = adj.keys.min
    var level = Map(seed -> 0L)
    var frontier = Set(seed)
    for (h <- 1 to 3) {
      val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- level.keySet
      level = level ++ next.map(_ -> h.toLong)
      frontier = next
    }
    assert(out == level, s"BFS levels diverge: spark=${out.size} rows, truth=${level.size}")
    assert(out.values.count(_ == 1L) > 0, "hop 1 must reach someone on the full graph")
  }

  test("ngramNovelty: the first doc is fully novel and ratios check out against recomputation") {
    val out = graft.ops.TextAnalysis.ngramNovelty(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_novel"), r.getAs[Double]("novelty")))
    assert(out.nonEmpty)
    val firstDoc = out.minBy(_._1)
    assert(firstDoc._2 == firstDoc._3,
      "the minimum doc_id must have novelty 1 — every gram is first seen there")
    // independent recomputation
    val grams = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
          .sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet)
      .toMap
    val firstSeen = grams.toSeq.flatMap { case (d, gs) => gs.map(_ -> d) }
      .groupBy(_._1).map { case (g, ds) => g -> ds.map(_._2).min }
    out.foreach { case (d, n, novel, ratio) =>
      assert(n == grams(d).size, s"doc $d: distinct gram count mismatch")
      val expNovel = grams(d).count(g => firstSeen(g) == d)
      assert(novel == expNovel, s"doc $d: novel count $novel != $expNovel")
      assert(math.abs(ratio - novel.toDouble / n) < 1e-6)
    }
  }

  test("latenessProfile buckets partition the events and match a per-user recomputation") {
    val out = graft.etl.EventsEtl.latenessProfile(spark, sf0001).collect()
      .map(r => (r.getAs[String]("bucket"), r.getAs[Long]("n_events"), r.getAs[Long]("max_late_s")))
    val total = Tables.events(spark, sf0001).count()
    assert(out.map(_._2).sum == total, "bucket counts must partition all events")
    // recompute lateness in memory
    val ev = Tables.events(spark, sf0001)
      .selectExpr("user_id", "event_id", "unix_timestamp(ts) as sec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lates = ev.groupBy(_._1).values.flatMap { rows =>
      val sorted = rows.sortBy(_._2)
      sorted.zipWithIndex.map { case ((_, _, sec), i) =>
        if (i == 0) 0L else math.max(sorted.take(i).map(_._3).max - sec, 0L)
      }
    }.toSeq
    def bucket(l: Long) = if (l == 0) "a_ontime" else if (l <= 60) "b_1min"
      else if (l <= 300) "c_5min" else if (l <= 3600) "d_1hr" else "e_over_1hr"
    val truth = lates.groupBy(bucket).map { case (b, ls) => (b, ls.size.toLong, ls.max) }
    assert(out.toSet == truth.toSet, s"profile mismatch:\n spark=${out.toSeq}\n truth=${truth.toSeq}")
  }

  test("annGraphSearch trajectory matches an in-memory greedy walk") {
    val out = Similarity.annGraphSearch(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("hop"),
        r.getAs[Long]("node_id"), r.getAs[Double]("cosine")))
    val rows = Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "cast(label as long) as label",
        "cast(embedding as array<double>) as v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val vec = rows.map(r => r._1 -> r._3).toMap
    def c(a: Long, b: Long) = BigDecimal(cos(vec(a), vec(b), vec(a).length))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // within-label top-3 neighbor lists, ties toward the smaller id
    val graph = rows.map { case (id, lbl, _) =>
      id -> rows.filter(r => r._2 == lbl && r._1 != id).map(_._1)
        .sortBy(n => (-c(id, n), n)).take(3).toSeq
    }.toMap
    val lbl = rows.map(r => r._1 -> r._2).toMap
    val truth = rows.map(_._1).filter(_ < 25).flatMap { p =>
      val entry = rows.filter(r => r._2 == lbl(p) && r._1 != p).map(_._1).min
      var curN = entry
      (p, 0L, entry, c(p, entry)) +: (1 to 3).map { h =>
        val cands = graph(curN).filterNot(_ == p)
        val best = cands.minBy(n => (-c(p, n), n))
        curN = best
        (p, h.toLong, best, c(p, best))
      }
    }.toSet
    assert(out.toSet == truth, s"walks diverge: spark=${out.length}, truth=${truth.size}")
    // the walk is useful: some probe's best hop beats its entry cosine
    assert(out.groupBy(_._1).values.exists { t =>
      val byHop = t.sortBy(_._2).map(_._4)
      byHop.tail.max > byHop.head
    }, "no walk ever improved on its entry point — search is vacuous on this data")
  }

  test("phashDedup equals a direct DCT recomputation — the PNG decode round-trip is lossless") {
    import graft.ops.Multimodal.PHash
    val out = graft.ops.Multimodal.phashDedup(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("hamming"))).toSet
    val ids = Tables.documents(spark, sf0001)
      .select(col("doc_id")).collect().map(_.getLong(0))
    // truth path skips the codec entirely: formula pixels -> DCT hash.
    // Agreement proves the Spark side's encode->PNG->decode round-trip
    // returned the exact pixels it was given.
    val fps = ids.map(d => d -> PHash.dctHash60(PHash.pixelGrid(d)))
    val truth = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      hm = java.lang.Long.bitCount(fa ^ fb).toLong if hm <= 2
    } yield (a, b, hm)).toSet
    assert(truth.nonEmpty, "no hamming<=2 pairs at sf0.001 — fixture classes are broken")
    assert(out == truth, s"phash pairs diverge: spark=${out.size}, truth=${truth.size}")
  }

  test("pHash fingerprints survive re-encoding (PNG<->BMP) and move when pixels move") {
    import graft.ops.Multimodal.PHash
    for (id <- Seq(0L, 7L, 23L, 100L, 299L)) {
      val px = PHash.pixelGrid(id)
      val viaPng = PHash.dctHash60(PHash.decodeGray(PHash.encodePng(px)))
      val viaBmp = PHash.dctHash60(PHash.decodeGray(PHash.encodeBmp(px)))
      assert(viaPng == viaBmp, s"doc $id: re-encoding changed the fingerprint")
      // a real pixel change (brighten an 8x8 block hard) must move it
      val perturbed = px.clone()
      for (y <- 0 until 8; x <- 0 until 8)
        perturbed(y * PHash.N + x) = math.min(perturbed(y * PHash.N + x) + 120, 255)
      val moved = PHash.dctHash60(PHash.decodeGray(PHash.encodePng(perturbed)))
      assert(moved != viaPng, s"doc $id: fingerprint blind to an 8x8 +120 pixel change")
      // ...while the fixture's own tiny 2x2 delta stays hamming-close:
      // same family (doc_id/12), different per-doc delta
      val sib = id - (id % 12) + ((id % 12 + 1) % 12)
      val sibling = PHash.dctHash60(PHash.pixelGrid(sib))
      assert(java.lang.Long.bitCount(viaPng ^ sibling) <= 2,
        s"doc $id vs $sib: same-family near-dup drifted beyond hamming 2")
    }
  }

  test("phashDedup bucket cap: capped pairs are a subset, cap 1 kills all candidates") {
    val uncapped = graft.ops.Multimodal.phashDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.nonEmpty, "no pairs at sf0.001 — cap test is vacuous")
    val capped = graft.ops.Multimodal.phashDedup(spark, sf0001, maxBucket = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped), "capping must only remove pairs, never invent them")
    val killed = graft.ops.Multimodal.phashDedup(spark, sf0001, maxBucket = 1).count()
    assert(killed == 0, "a singleton-bucket cap can never produce a candidate pair")
  }

  test("rollingActives matches an in-memory window recomputation and dominates DAU") {
    val out = graft.etl.EventsEtl.rollingActives(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("dau"), r.getAs[Long]("actives_7d")))
    assert(out.nonEmpty)
    val ud = Tables.events(spark, sf0001)
      .selectExpr("user_id", "unix_timestamp(ts) div 86400 as day").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val days = ud.map(_._2).distinct.sorted
    val truth = days.map { d =>
      (d, ud.filter(_._2 == d).map(_._1).distinct.length.toLong,
        ud.filter(u => u._2 >= d - 6 && u._2 <= d).map(_._1).distinct.length.toLong)
    }.toSet
    assert(out.toSet == truth, s"rolling actives diverge: ${out.length} vs ${truth.size} days")
    out.foreach { case (d, dau, a7) =>
      assert(a7 >= dau, s"day $d: 7-day actives $a7 below same-day DAU $dau")
    }
  }

  test("ivfBalance stats are internally consistent with the trained assignment") {
    val r = Similarity.ivfBalance(spark, sf0001).collect()
    assert(r.length == 1)
    val row = r.head
    val (n, mn, mx, mean, imb) = (row.getAs[Long]("n_cells"), row.getAs[Long]("min_sz"),
      row.getAs[Long]("max_sz"), row.getAs[Double]("mean_sz"), row.getAs[Double]("imbalance"))
    val total = Tables.embeddings(spark, sf0001).count()
    assert(n > 0 && mn >= 1 && mx >= mn, s"degenerate stats: $row")
    assert(math.abs(mean * n - total) < 1e-3,
      s"mean_sz * n_cells = ${mean * n} must equal the vector count $total")
    assert(math.abs(imb - mx / mean) < 1e-5, "imbalance must be max/mean")
  }

  test("cusumShift: running sum telescopes to ~0, exactly one peak, matches recomputation") {
    val out = graft.etl.EventsEtl.cusumShift(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("n"),
        r.getAs[Double]("cusum"), r.getAs[Boolean]("is_peak")))
      .sortBy(_._1)
    assert(out.nonEmpty)
    assert(out.count(_._4) == 1, "exactly one peak day must be flagged")
    val mu = out.map(_._2).sum.toDouble / out.length
    var run = 0.0
    out.foreach { case (d, n, c, _) =>
      run += n - mu
      assert(math.abs(c - run) < 1e-4, s"day $d: cusum $c != recomputed $run")
    }
    assert(math.abs(out.last._3) < 1e-3, "full-range CUSUM must telescope to ~0")
    val peak = out.filter(_._4).head
    assert(math.abs(peak._3) == out.map(c => math.abs(c._3)).max,
      "the flagged day must carry the max |cusum|")
  }

  test("sourceDivergence: JS in [0, ln 2] and matches an in-memory recomputation") {
    val out = graft.ops.TextAnalysis.sourceDivergence(spark, sf0001).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Double]("js"))).toMap
    assert(out.nonEmpty)
    val toks = Tables.documents(spark, sf0001)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
        .map(w => (r.getString(0), w)))
    val bySrc = toks.groupBy(_._1).map { case (s, ws) =>
      s -> ws.groupBy(_._2).map { case (w, xs) => w -> xs.length.toLong }
    }
    val corpus = toks.groupBy(_._2).map { case (w, xs) => w -> xs.length.toLong }
    val nc = corpus.values.sum.toDouble
    out.foreach { case (src, js) =>
      assert(js >= 0 && js <= math.log(2) + 1e-9, s"$src: JS $js outside [0, ln2]")
      val cnts = bySrc(src); val ns = cnts.values.sum.toDouble
      var acc = 0.0; var qSeen = 0.0
      cnts.foreach { case (w, cnt) =>
        val p = cnt / ns; val q = corpus(w) / nc; val m = (p + q) / 2
        acc += p * math.log(p / m) + q * math.log(q / m); qSeen += q
      }
      val expected = (acc + (1.0 - qSeen) * math.log(2)) / 2
      assert(math.abs(js - expected) < 1e-5, s"$src: js $js != $expected")
    }
  }

  test("tokenizerFertility: fertility >= alpha-word baseline and matches recomputation") {
    val out = graft.ops.Pipeline.tokenizerFertility(spark, sf0001).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_words"), r.getAs[Long]("n_bpeish"), r.getAs[Double]("fertility")))
    assert(out.nonEmpty)
    val docs = Tables.documents(spark, sf0001)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    out.foreach { case (lang, nd, nw, nb, f) =>
      val mine = docs.filter(_._1 == lang)
      assert(mine.length.toLong == nd)
      val w = mine.map(_._2.split("\\s+").count(_.nonEmpty).toLong).sum
      val b = mine.map(t => "[a-z]+|[0-9]+|[^a-z0-9\\s]".r.findAllIn(t._2).length.toLong).sum
      assert(w == nw && b == nb, s"$lang: counts ($nw,$nb) != recomputed ($w,$b)")
      assert(math.abs(f - b.toDouble / w) < 1e-6)
      assert(f >= 1.0, s"$lang: BPE-ish split can only refine whitespace words, f=$f")
    }
  }

  test("interleaveSources: uniform per-source spacing and mixture-preserving prefixes") {
    val out = graft.ops.Pipeline.interleaveSources(spark, sf0001).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("pos_in_source"), r.getAs[Double]("ikey")))
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(out.length.toLong == nDocs, "every doc must appear exactly once")
    out.groupBy(_._1).foreach { case (src, rows) =>
      val n = rows.length
      assert(rows.map(_._3).sorted.toSeq == (1L to n), s"$src: ranks not dense")
      rows.sortBy(_._3).zipWithIndex.foreach { case ((_, _, p, k), i) =>
        assert(math.abs(k - (p - 0.5) / n) < 1e-8, s"$src pos $p: bad ikey $k")
        assert(p == i + 1)
      }
    }
    // mixture preservation: in the first half of the ikey order, each
    // source contributes half its docs (+/-1 by the uniform spacing)
    val ordered = out.sortBy(r => (r._4, r._1, r._2))
    val half = ordered.take(ordered.length / 2)
    out.groupBy(_._1).foreach { case (src, rows) =>
      val expect = rows.length / 2.0
      val got = half.count(_._1 == src)
      assert(math.abs(got - expect) <= 1.0,
        s"$src: first-half share $got vs expected $expect — interleave not proportional")
    }
  }

  test("latenessProfile detects injected disorder (the clean corpus reads all on-time)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_late").toString
    try {
      // one user, arrival order 1..5, event times (nanos) with two late
      // arrivals: event 3 is 90s behind the watermark (b_2min bucket
      // boundary -> c_5min at 90s), event 5 is 10s behind (b_1min)
      val sec = 1_000_000_000L // ns per second
      Seq(
        (1L, 10L, 1000L * sec), // hwm -
        (1L, 20L, 2000L * sec), // on time
        (1L, 30L, 1910L * sec), // 90s late -> c_5min
        (1L, 40L, 3000L * sec), // on time
        (1L, 50L, 2990L * sec)  // 10s late -> b_1min
      ).toDF("user_id", "event_id", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = graft.etl.EventsEtl.latenessProfile(spark, dir).collect()
        .map(r => (r.getAs[String]("bucket"), r.getAs[Long]("n_events"), r.getAs[Long]("max_late_s")))
        .toSet
      assert(out == Set(("a_ontime", 3L, 0L), ("b_1min", 1L, 10L), ("c_5min", 1L, 90L)),
        s"unexpected profile: $out")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      Caches.releaseAll(); spark.catalog.clearCache()
    }
  }
}
