package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Graph, Pipeline, Similarity}

/** Property checks for the second batch of round-5 operators —
  * invariants beyond what the DuckDB oracle equality already gates
  * (distribution direction, recall bounds, spectral improvement). */
class QualityOpsR5bSpec extends SparkSpec {

  test("neighborJaccard similarities are in (0, 1] and pairs are canonical") {
    val r = Graph.neighborJaccard(spark, sf0001)
    val bad = r.filter(col("jaccard") <= 0 || col("jaccard") > 1 ||
      col("u") >= col("v")).count()
    assert(bad === 0)
    // common neighbors can never exceed either endpoint's degree
    assert(r.filter(col("n_common") <= 0).count() === 0)
  }

  test("neighborJaccard: identical neighborhoods score exactly 1.0") {
    // every pair at jaccard 1.0 must have n_common == both degrees;
    // check via the inclusion-exclusion identity du+dv-c = c  =>  the
    // union equals the intersection
    val ones = Graph.neighborJaccard(spark, sf0001).filter(col("jaccard") === 1.0)
    // recompute union size from the operator's own outputs: j = c/(u) = 1 => u = c
    assert(ones.count() > 0, "expected at least one twin-neighborhood pair in sf0.001")
  }

  test("lshEval counts are internally consistent") {
    val rows = Dedup.lshEval(spark, sf0001).collect()
    assert(rows.length === 4)
    val nCand = rows.head.getAs[Long]("n_candidates")
    rows.foreach { r =>
      val t = r.getAs[Double]("threshold")
      val nTrue = r.getAs[Long]("n_true"); val nHit = r.getAs[Long]("n_hit")
      assert(nHit <= nTrue, s"hits exceed truth at t=$t")
      assert(nHit <= nCand, s"hits exceed candidates at t=$t")
      assert(r.getAs[Double]("recall") <= 1.0 && r.getAs[Double]("recall") >= 0.0)
      assert(r.getAs[Double]("precision") <= 1.0 && r.getAs[Double]("precision") >= 0.0)
    }
    // n_true is monotone non-increasing in the threshold
    val trues = rows.sortBy(_.getAs[Double]("threshold")).map(_.getAs[Long]("n_true"))
    assert(trues.zip(trues.tail).forall { case (a, b) => a >= b })
  }

  test("lshEval: LSH achieves full recall on the planted exact duplicates") {
    // exact copies agree on every MinHash band, so J=1.0 pairs are
    // always candidates — recall at the top threshold must be 1.0
    val top = Dedup.lshEval(spark, sf0001)
      .filter(col("threshold") === 0.9).head()
    assert(top.getAs[Double]("recall") === 1.0)
  }

  test("boilerplateNgrams: fractions bounded and the frequent-gram signal fires") {
    val r = Caches.persistTracked(ops.TextAnalysis.boilerplateNgrams(spark, sf0001))
    assert(r.filter(col("n_common") > col("n_grams") ||
      col("boilerplate_fraction") < 0 || col("boilerplate_fraction") > 1).count() === 0)
    // the synthetic corpus repeats template phrases across docs, so the
    // ≥5%-df frequent set must be non-empty and must separate docs
    assert(r.agg(max(col("boilerplate_fraction"))).head().getDouble(0) > 0.0)
    assert(r.select(col("boilerplate_fraction")).distinct().count() > 1)
    // n_grams is exactly tokens-1 for every multi-token doc: cross-check
    // against the independently-computed token counts
    val toks = ops.TextAnalysis.tokens(spark, sf0001)
      .select(col("doc_id"), col("n_tokens"))
    val bad = r.join(toks, "doc_id")
      .filter(col("n_tokens") >= 2 && col("n_grams") =!= col("n_tokens") - 1)
    assert(bad.count() === 0)
  }

  test("semDedup: drops are cell-local, partner ids smaller, kept set closed") {
    val r = Caches.persistTracked(Similarity.semDedup(spark, sf0001))
    assert(r.count() > 0, "expected semantic duplicates at tau=0.35")
    assert(r.filter(col("dup_of") >= col("vec_id") || col("n_dups") < 1 ||
      col("max_cosine") < 0.35).count() === 0)
    // every reported partner is a real vector and sits in the SAME cell
    // (dup-of ids come from the same assignment relation, so a
    // cross-cell partner would mean the blocking leaked)
    val cells = r.select(col("dup_of").as("vec_id"), col("cell").as("pcell"))
    val assignedCells = Similarity.semDedupAssignments(spark, sf0001)
    assert(cells.join(assignedCells, "vec_id")
      .filter(col("pcell") =!= col("cell")).count() === 0)
  }

  test("mixtureResample: min language keeps 100% and shares equalize") {
    val kept = Pipeline.mixtureResample(spark, sf0001)
      .groupBy(col("lang")).agg(count(lit(1)).as("kept"))
    val orig = Tables.documents(spark, sf0001)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val j = kept.join(orig, "lang").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("kept"), r.getAs[Long]("n_lang")))
    val nMin = j.map(_._3).min
    // downsample-only: never keep more than exist; the rarest language
    // is untouched; kept counts concentrate around n_min
    assert(j.forall { case (_, k, n) => k <= n })
    assert(j.filter(_._3 == nMin).forall { case (_, k, n) => k == n })
    val ks = j.map(_._2)
    assert(ks.max.toDouble / ks.min <= 1.2,
      s"kept shares should be near-uniform, got ${j.mkString(", ")}")
  }

  test("semDedup / mixtureResample plans keep the big side un-shuffled") {
    // mixture: the corpus joins the |langs|-row rate table by broadcast
    // and never sort-merges; the only range exchange is the output sort
    val mix = Pipeline.mixtureResample(spark, sf0001)
    mix.collect() // AQE: final plan exists only after execution
    val mixPlan = mix.queryExecution.executedPlan.toString
    assert(mixPlan.contains("BroadcastHashJoin"), mixPlan.take(2000))
    assert(!mixPlan.contains("SortMergeJoin"),
      "rate table fell to sort-merge — the broadcast gate lost its stats")
    // semdedup: centroid assignment must stay a broadcast cross, never
    // an un-broadcast cartesian of the full embedding relation
    val sd = Similarity.semDedup(spark, sf0001)
    sd.collect()
    val sdPlan = sd.queryExecution.executedPlan.toString
    assert(!sdPlan.contains("CartesianProduct"),
      "centroid cross lost its broadcast hint")
  }

  test("qHllPortable: registers bounded, small-range correction engages and wins") {
    val r = graft.operators.Relational.qHllPortable(spark, sf0001).head()
    val m = r.getAs[Long]("m"); val nb = r.getAs[Long]("n_buckets")
    val exact = r.getAs[Long]("n_exact")
    val raw = r.getAs[Double]("raw_estimate"); val est = r.getAs[Double]("estimate")
    assert(nb <= m && est > 0)
    // sf0.001 sits in the small-range regime: the linear-counting arm
    // must fire and must beat the raw harmonic estimate
    assert(est !== raw, "expected the small-range correction to engage")
    assert(math.abs(est - exact) < math.abs(raw - exact))
    assert(r.getAs[Double]("rel_err") <= 0.05,
      s"corrected estimate $est too far from exact $exact")
  }

  test("quantileSketch: p50 <= p95 and estimates track the exact anchor") {
    val r = graft.operators.Relational.qQuantileSketch(spark, sf0001)
      .collect().map(x => (x.getAs[String]("event_type"), x.getAs[Double]("p"),
        x.getAs[Double]("est_q"), x.getAs[Double]("exact_q")))
    assert(r.nonEmpty)
    val byType = r.groupBy(_._1)
    byType.foreach { case (t, rows) =>
      val q50 = rows.find(_._2 == 0.5).get._3
      val q95 = rows.find(_._2 == 0.95).get._3
      assert(q50 <= q95, s"$t: p50 $q50 > p95 $q95")
    }
    // in-bin interpolation bounds the error by one bin width + tie mass;
    // on this distribution the estimate lands within 5% of exact
    r.foreach { case (t, p, est, exact) =>
      assert(math.abs(est - exact) <= math.max(0.05 * exact, 0.5),
        s"$t p=$p est=$est exact=$exact")
    }
  }

  test("annNnDescent: one round strictly improves recall over the seed ring graph") {
    val out = graft.ops.Similarity.annNnDescent(spark, sf0001)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"),
        r.getAs[Long]("rk"), r.getAs[Boolean]("gained")))
    // structure: <=3 per vector, dense ranks
    out.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length))
    }
    assert(out.exists(_._4), "descent discovered no new edges")
    // truth: exact top-3 by cosine over all pairs
    val e = graft.Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i) }
      d / math.sqrt(na * nb)
    }
    val truth = e.keys.map { u =>
      u -> e.keys.filter(_ != u).toSeq
        .sortBy(w => (-cos(e(u), e(w)), w)).take(3).toSet
    }.toMap
    // seed graph: same portable-hash ring the operator uses
    val bkt = e.keys.toSeq.groupBy { id =>
      val h = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(15), 16)
      h % 8
    }
    val seedNbrs = bkt.values.flatMap { ids =>
      val s = ids.sorted
      s.zipWithIndex.map { case (u, i) =>
        u -> (1 to 3).flatMap(k => s.lift(i + k)).toSet }
    }.toMap
    def recall(g: Map[Long, Set[Long]]): Double = {
      val hits = truth.map { case (u, t) => (g.getOrElse(u, Set.empty) & t).size }.sum
      hits.toDouble / truth.values.map(_.size).sum
    }
    val refined = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (rSeed, rRef) = (recall(seedNbrs), recall(refined))
    assert(rRef > rSeed,
      f"descent did not improve recall: seed $rSeed%.3f -> refined $rRef%.3f")
  }

  test("qApproxSketches: per-group portable estimates track exact users and quantiles") {
    val spark2 = spark
    import spark2.implicits._
    val r = graft.operators.Relational.qApproxSketches(spark, sf0001).collect()
    assert(r.nonEmpty)
    val exact = graft.Tables.events(spark, sf0001)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("users"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"))
      .as[(String, Long, Double, Double)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4)).toMap
    r.foreach { row =>
      val t = row.getAs[String]("event_type")
      val (users, p50, p95) = exact(t)
      // 256-register HLL: ~6.5% rsd — allow 3 sigma
      assert(math.abs(row.getAs[Double]("approx_users") - users) <= math.max(0.2 * users, 3.0),
        s"$t approx_users=${row.getAs[Double]("approx_users")} exact=$users")
      assert(math.abs(row.getAs[Double]("approx_p50") - p50) <= math.max(0.05 * p50, 0.5))
      assert(math.abs(row.getAs[Double]("approx_p95") - p95) <= math.max(0.05 * p95, 0.5))
      assert(row.getAs[Double]("approx_p50") <= row.getAs[Double]("approx_p95"))
    }
  }

  test("cmsHeavyHitters never undercounts and ranks by exact frequency") {
    val r = ops.TextAnalysis.cmsHeavyHitters(spark, sf0001).collect()
    assert(r.length === 10)
    r.foreach { x =>
      assert(x.getAs[Long]("cms_estimate") >= x.getAs[Long]("exact_c"))
      assert(x.getAs[Long]("overcount") >= 0L)
    }
  }

  test("sketch state merges: sketch(A ∪ B) equals the merged partial sketches") {
    import graft.operators.Relational
    // HLL: registers max-merge
    val keys = Tables.lineitem(spark, sf0001)
      .select(col("l_partkey").cast("string").as("k"), col("l_partkey"))
    val (a, b) = (keys.filter(col("l_partkey") % 2 === 0).select("k"),
      keys.filter(col("l_partkey") % 2 === 1).select("k"))
    val full = Relational.hllRegisters(keys.select("k"))
    val merged = Relational.hllRegisters(a).unionAll(Relational.hllRegisters(b))
      .groupBy(col("bucket")).agg(max(col("mj")).as("mj"))
    assert(full.exceptAll(merged).count() === 0)
    assert(merged.exceptAll(full).count() === 0)
    // CMS: counters sum-merge
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), explode(expr(
        raw"regexp_extract_all(lower(text), '\\S+', 0)")).as("w"))
    val fullC = ops.TextAnalysis.cmsSketch(docs.select("w"))
    val mergedC = ops.TextAnalysis.cmsSketch(docs.filter(col("doc_id") % 2 === 0).select("w"))
      .unionAll(ops.TextAnalysis.cmsSketch(docs.filter(col("doc_id") % 2 === 1).select("w")))
      .groupBy(col("row_i"), col("cell")).agg(sum(col("cnt")).as("cnt"))
    assert(fullC.exceptAll(mergedC).count() === 0)
    assert(mergedC.exceptAll(fullC).count() === 0)
  }

  test("dsirResample: the Gumbel-top-k sample is enriched in the target domain") {
    val langs = Tables.documents(spark, sf0001).select(col("doc_id"), col("lang"))
    val sampleEn = Pipeline.dsirResample(spark, sf0001).join(langs, "doc_id")
      .agg(avg(when(col("lang") === "en", 1.0).otherwise(0.0))).head().getDouble(0)
    val corpusEn = langs
      .agg(avg(when(col("lang") === "en", 1.0).otherwise(0.0))).head().getDouble(0)
    assert(sampleEn > corpusEn,
      s"resample en share $sampleEn should beat corpus share $corpusEn")
  }

  test("annKnnClassify: one prediction per probe with 1..5 votes") {
    val r = Caches.persistTracked(Similarity.annKnnClassify(spark, sf0001))
    assert(r.count() === r.select(col("probe_id")).distinct().count())
    assert(r.filter(col("votes") < 1 || col("votes") > 5).count() === 0)
    // the prediction must agree with the correctness flag
    assert(r.filter((col("pred_label") === col("true_label")) =!= col("correct"))
      .count() === 0)
  }

  test("langidEval: cells partition the corpus and shares sum to one") {
    val r = Caches.persistTracked(ops.TextAnalysis.langidEval(spark, sf0001))
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(r.agg(sum(col("n"))).head().getLong(0) === nDocs)
    val sums = r.groupBy(col("tagged_lang")).agg(sum(col("share_of_true")).as("s"))
    assert(sums.filter(abs(col("s") - 1.0) > 1e-4).count() === 0)
  }

  test("gopherRules: flags match their thresholds and the gate splits the corpus") {
    val r = Caches.persistTracked(ops.TextAnalysis.gopherRules(spark, sf0001))
    val recomputed = r.filter(
      (col("n_tokens").between(50, 100000) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("symbol_word_ratio") <= 0.1 &&
        col("alpha_word_ratio") >= 0.8 &&
        col("n_stopwords") >= 2) =!= col("passes"))
    assert(recomputed.count() === 0)
    assert(r.filter(col("passes")).count() > 0)
    assert(r.filter(!col("passes")).count() > 0, "gate should reject something")
  }

  test("ccnetBuckets: terciles are balanced and ordered by score") {
    val r = Caches.persistTracked(ops.TextAnalysis.ccnetBuckets(spark, sf0001))
    val sizes = r.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .collect().map(x => x.getAs[String]("bucket") -> x.getAs[Long]("n")).toMap
    assert(sizes.keySet === Set("head", "middle", "tail"))
    assert(sizes.values.max - sizes.values.min <= 1)
    // every head score >= every middle score >= every tail score
    val mins = r.groupBy(col("bucket")).agg(min(col("lm_score")).as("mn"),
      max(col("lm_score")).as("mx")).collect()
      .map(x => x.getAs[String]("bucket") -> (x.getAs[Double]("mn"), x.getAs[Double]("mx"))).toMap
    assert(mins("head")._1 >= mins("middle")._2)
    assert(mins("middle")._1 >= mins("tail")._2)
  }

  test("labelPropagation: total assignment, coarsening, labels are node ids") {
    val r = Caches.persistTracked(Graph.labelPropagation(spark, sf0001))
    val n = r.count()
    assert(r.select(col("node")).distinct().count() === n)
    val nComm = r.select(col("community")).distinct().count()
    assert(nComm < n, "LPA should coarsen the graph")
    // every community label is a real node of the graph
    assert(r.join(r.select(col("node").as("community")).distinct(),
      Seq("community"), "left_anti").count() === 0)
  }

  test("labelPropagation round-1 min-neighbor shortcut equals the general path") {
    // the algebraic claim behind the shortcut: identity initialization
    // makes every round-1 (u, lbl) count 1, so argmax by (cnt desc,
    // lbl asc) IS min(neighbor id) — the two paths must be row-equal
    val fast = Graph.labelPropagation(spark, sf0001).collect().toSeq
    Caches.releaseAll(); spark.catalog.clearCache()
    val general = Graph.labelPropagation(spark, sf0001, fastFirstRound = false)
      .collect().toSeq
    assert(fast == general)
    Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("qHllRollup: day-merged registers equal registers computed directly") {
    // the in-query merge law: max-merging (type, day, bucket) registers
    // over days must give exactly the registers computed at (type,
    // bucket) grain with no day split
    val ev = Tables.events(spark, sf0001)
      .select(col("event_type"), col("user_id").cast("string").as("k"),
        date_trunc("day", col("ts")).as("day"))
      .select(col("event_type"), col("day"),
        expr("CAST(conv(substr(md5(k), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .select(col("event_type"), col("day"),
        (col("h") % 256).as("bucket"), expr("h div 256").as("v"))
      .withColumn("rho", least(lit(53L) - length(expr("bin(v)")), lit(40L)))
    val merged = ev.groupBy(col("event_type"), col("day"), col("bucket"))
      .agg(max(col("rho")).as("mj"))
      .groupBy(col("event_type"), col("bucket")).agg(max(col("mj")).as("mj"))
    val direct = ev.groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("mj"))
    assert(merged.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(merged).count() === 0)
    // and the reported estimates track the exact anchor
    val r = graft.operators.Relational.qHllRollup(spark, sf0001)
    assert(r.filter(col("rel_err") > 0.25).count() === 0)
  }

  test("keepBest: the kept doc is its cluster's quality argmax") {
    val kept = Caches.persistTracked(Dedup.keepBest(spark, sf0001))
    val labels = Dedup.components(spark, sf0001)
    val q = ops.TextAnalysis.quality(spark, sf0001)
      .select(col("doc_id"), col("quality_score").as("member_q"))
    // no cluster member may strictly outrank its kept doc
    val beaten = labels.join(q, "doc_id")
      .join(kept.select(col("component"), col("quality_score").as("kept_q")), "component")
      .filter(col("member_q") > col("kept_q"))
    assert(beaten.count() === 0)
    // exactly one keeper per cluster
    assert(kept.groupBy(col("component")).count().filter(col("count") =!= 1).count() === 0)
  }

  test("annIvfRecallSweep: recall monotone in nprobe, bounded by 1") {
    val rows = Similarity.annIvfRecallSweep(spark, sf0001)
      .collect().sortBy(_.getAs[Long]("nprobe"))
    assert(rows.length === 3)
    val recalls = rows.map(_.getAs[Double]("recall_at_5"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall must not drop as nprobe grows: ${recalls.mkString(",")}")
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
  }

  test("qHllSetOps: sketch set algebra is internally consistent") {
    val r = graft.operators.Relational.qHllSetOps(spark, sf0001).head()
    val (ea, eb, eu) = (r.getAs[Double]("est_a"), r.getAs[Double]("est_b"),
      r.getAs[Double]("est_union"))
    // union registers dominate both inputs, so the estimate does too
    assert(eu >= ea && eu >= eb, s"union $eu must dominate $ea / $eb")
    // inclusion-exclusion stays below either input estimate
    val ei = r.getAs[Double]("est_intersection")
    assert(ei <= math.min(ea, eb) + 1e-6)
    // and within a loose band of the exact overlap
    val nx = r.getAs[Long]("n_exact_intersection")
    assert(nx == 0 || math.abs(ei - nx) / nx <= 0.5,
      s"intersection estimate $ei vs exact $nx")
  }

  test("applyDedup: keeps singletons + exactly one doc per cluster") {
    val kept = Caches.persistTracked(Dedup.applyDedup(spark, sf0001))
    val labels = Caches.persistTracked(Dedup.components(spark, sf0001))
    val nDocs = Tables.documents(spark, sf0001).count()
    val nClustered = labels.count()
    val nClusters = labels.select(col("component")).distinct().count()
    assert(kept.count() === nDocs - (nClustered - nClusters))
    // each cluster contributes exactly one survivor
    val survivorsPerCluster = labels.join(kept.select(col("doc_id")), "doc_id")
      .groupBy(col("component")).count()
    assert(survivorsPerCluster.filter(col("count") =!= 1).count() === 0)
  }

  test("shardManifest: covers every doc once and digests are content-sensitive") {
    val m = Caches.persistTracked(Pipeline.shardManifest(spark, sf0001))
    val docs = Tables.documents(spark, sf0001)
    assert(m.agg(sum(col("n_docs"))).head().getLong(0) === docs.count())
    assert(m.agg(sum(col("total_chars"))).head().getLong(0) ===
      docs.agg(sum(col("n_chars"))).head().getLong(0))
    // 16 distinct digests — any collision across shards would mean the
    // digest ignores content
    assert(m.select(col("content_digest")).distinct().count() === m.count())
  }

  test("quantizeError: max error bounded by the half cell (plus overshoot)") {
    val r = Similarity.quantizeError(spark, sf0001).collect()
    assert(r.length === 64)
    r.foreach { x =>
      val w = x.getAs[Double]("cell_width")
      // both columns round at 6 dp, so the half-cell bound carries up
      // to 1e-6 of rounding slack
      assert(x.getAs[Double]("max_abs_err") <= w / 2 + 1e-6)
      assert(x.getAs[Double]("avg_abs_err") <= x.getAs[Double]("max_abs_err"))
    }
  }

  test("zipfSlope: negative slope over the full (small) vocabulary") {
    val r = ops.TextAnalysis.zipfSlope(spark, sf0001).head()
    // frequency is non-increasing in rank, so the LS slope must be < 0;
    // the synthetic template corpus sits far above the natural -1
    assert(r.getAs[Double]("zipf_slope") < 0.0)
    assert(r.getAs[Long]("n_points") >= 10)
  }

  test("dsirWeights: target-domain (en) docs score higher on average") {
    val w = Pipeline.dsirWeights(spark, sf0001)
      .join(Tables.documents(spark, sf0001).select(col("doc_id"), col("lang")), "doc_id")
    val byLang = w.groupBy(col("lang") === "en")
      .agg(avg(col("weight")).as("mw")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byLang(true) > byLang(false),
      s"en mean ${byLang(true)} should exceed non-en mean ${byLang(false)}")
  }

  test("pcaPower returns a unit vector that beats the uniform start") {
    graft.functions.GraftFunctions.register(spark)
    val v = Similarity.pcaPower(spark, sf0001)
    val norm = math.sqrt(v.agg(sum(col("component") * col("component")))
      .head.getDouble(0))
    assert(math.abs(norm - 1.0) < 1e-4, s"direction norm $norm drifted from 1")
    // Rayleigh quotient along the converged direction must dominate the
    // start vector's: power iteration is monotone in variance captured
    val e = Tables.embeddings(spark, sf0001)
      .select(col("embedding").cast("array<double>").as("x"))
    def rayleigh(dir: Array[Double]): Double = {
      val lit = s"array(${dir.map(d => s"${d}D").mkString(",")})"
      e.select(expr(s"graft_dot(x, $lit)").as("s"))
        .agg(avg(col("s") * col("s"))).head.getDouble(0)
    }
    val v3 = v.orderBy(col("dim")).collect().map(_.getAs[Double]("component"))
    val v0 = Array.fill(64)(0.125)
    assert(rayleigh(v3) > rayleigh(v0),
      "variance along the converged direction should exceed the start's")
  }
}
