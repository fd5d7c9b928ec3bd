package graft

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Round-7 additions: beam-frontier graph ANN with the trained-IVF
  * entry layer. Checked for dominance over the greedy walk (the
  * property that justifies the beam's existence), not just shape. */
class QualityOpsR7Spec extends SparkSpec {

  test("annGraphBeam recall@5 dominates the greedy walk's on the same probes") {
    val beamOut = Similarity.annGraphBeam(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("node_id"),
        r.getAs[Boolean]("hit")))
    assert(beamOut.nonEmpty, "empty beam output")
    val probes = beamOut.map(_._1).distinct
    // exact truth per probe from brute force over the same vectors
    val e = Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i) }
      d / math.sqrt(na * nb)
    }
    val truth = probes.map { p =>
      p -> e.keys.filter(_ != p).toSeq
        .sortBy(w => (-BigDecimal(cos(e(p), e(w))).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble, w)).take(5).toSet
    }.toMap
    // the query's own hit flags must agree with independent truth
    beamOut.foreach { case (p, v, hit) =>
      assert(hit == truth(p).contains(v),
        s"probe $p node $v: query says hit=$hit, independent truth disagrees")
    }
    val beamRecall = beamOut.count(_._3).toDouble / (probes.size * 5)
    // greedy walk's recall@5: distinct nodes its trajectory visited
    // that are in the exact top-5 (its visited set is at most 4 nodes)
    val greedy = Similarity.annGraphSearch(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("node_id")))
      .distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val greedyRecall = probes.map(p =>
      greedy.getOrElse(p, Set.empty[Long]).count(truth(p).contains).toDouble / 5
    ).sum / probes.size
    info(f"beam recall@5 = $beamRecall%.3f, greedy recall@5 = $greedyRecall%.3f")
    assert(beamRecall >= greedyRecall,
      f"beam ($beamRecall%.3f) must dominate greedy ($greedyRecall%.3f)")
    assert(beamRecall > 0.0, "beam found nothing — search is vacuous on this data")
  }

  test("sampled lshEval report stays within tolerance of the full report at sf0.1") {
    val sf01 = "/root/testdata/sf0.1"
    def report(sampleMod: Long): Map[Double, (Double, Double)] =
      graft.ops.Dedup.lshEval(spark, sf01, sampleMod).collect()
        .map(r => r.getAs[Double]("threshold") ->
          (r.getAs[Double]("precision"), r.getAs[Double]("recall"))).toMap
    val full = report(1)
    Caches.releaseAll(); spark.catalog.clearCache()
    val sampled = report(4)
    assert(full.keySet == sampled.keySet, "threshold rows differ")
    // the sample is 1/4 of the docs -> ~1/16 of the pairs; the
    // precision/recall ESTIMATES must still track the full report
    // closely enough to drive the same go/no-go decision
    full.foreach { case (t, (fp, fr)) =>
      val (sp, sr) = sampled(t)
      assert(math.abs(sp - fp) <= 0.1,
        f"t=$t%.1f: sampled precision $sp%.3f vs full $fp%.3f drifts > 0.1")
      assert(math.abs(sr - fr) <= 0.1,
        f"t=$t%.1f: sampled recall $sr%.3f vs full $fr%.3f drifts > 0.1")
    }
  }

  test("annGraphBeam output shape: exactly top-5 per probe, ranks dense, cosines sorted") {
    val out = Similarity.annGraphBeam(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("node_id"), r.getAs[Double]("cosine")))
    out.groupBy(_._1).foreach { case (p, rows) =>
      val byRk = rows.sortBy(_._2)
      assert(byRk.map(_._2).toSeq == (1L to byRk.size).toSeq, s"probe $p ranks not dense")
      assert(byRk.size <= 5, s"probe $p returned ${byRk.size} rows")
      assert(byRk.map(_._4).toSeq == byRk.map(_._4).sorted(Ordering[Double].reverse).toSeq,
        s"probe $p cosines not descending")
      assert(rows.map(_._3).distinct.size == rows.size, s"probe $p duplicate nodes")
    }
  }
}
