package graft

import org.apache.spark.sql.functions._

/** Round-8 sixth batch: inter-arrival profile, new-vs-returning,
  * discount elasticity, dedup threshold sweep, filtered ANN, ABTT. */
class QualityOpsR8fSpec extends SparkSpec {

  test("interArrival: matches in-memory per-user gap recompute") {
    val Array(row) = graft.etl.EventsEtl.interArrival(spark, sf0001).collect()
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        unix_timestamp(col("ts")).as("sec"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val gaps = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val s = rows.sortBy(r => (r._2, r._4)).map(_._3)
      s.zip(s.tail).map { case (a, b) => (b - a).toDouble }
    }.sorted
    assert(row.getLong(0) == gaps.length)
    assert(math.abs(row.getDouble(1) - gaps.sum / gaps.length) < 1e-4, "mean gap")
    def q(p: Double): Double = {
      val h = (gaps.length - 1) * p
      val lo = h.toInt
      if (lo + 1 < gaps.length) gaps(lo) + (h - lo) * (gaps(lo + 1) - gaps(lo)) else gaps(lo)
    }
    assert(math.abs(row.getDouble(2) - q(0.5)) < 1e-4, "p50")
    assert(math.abs(row.getDouble(3) - q(0.95)) < 1e-4, "p95")
    assert(row.getLong(4) == gaps.max.toLong)
  }

  test("qNewVsReturning: day-0 is all-new; splits sum to DAU; totals match user count") {
    val out = graft.operators.Relational.qNewVsReturning(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(out.nonEmpty)
    val first = out.head
    assert(first._2 == first._3 && first._4 == 0, "first day has only new users")
    out.foreach { case (_, dau, nw, ret, frac) =>
      assert(nw + ret == dau)
      assert(math.abs(frac - nw.toDouble / dau) < 1e-5)
    }
    val nUsers = Tables.events(spark, sf0001)
      .select(col("user_id")).distinct().count()
    assert(out.map(_._3).sum == nUsers, "each user is new exactly once")
  }

  test("qDiscountQuantityCorr: matches in-memory Pearson per brand") {
    val out = graft.operators.Relational.qDiscountQuantityCorr(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    val joined = Tables.lineitem(spark, sf0001)
      .join(Tables.part(spark, sf0001), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("l_discount"), col("l_quantity")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val expect = joined.groupBy(_._1).map { case (b, rows) =>
      val xs = rows.map(_._2); val ys = rows.map(_._3); val n = xs.length
      val mx = xs.sum / n; val my = ys.sum / n
      val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val sx = math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum)
      val sy = math.sqrt(ys.map(y => (y - my) * (y - my)).sum)
      b -> (n.toLong, cov / (sx * sy))
    }
    out.foreach { case (b, n, c) =>
      val (en, ec) = expect(b)
      assert(n == en)
      assert(math.abs(c - ec) < 1e-4, s"brand $b corr $c vs $ec")
      assert(c.abs <= 1.0 + 1e-9)
    }
  }

  test("thresholdSweep: monotone in threshold; 0.8 point agrees with dedup_ngram_jaccard") {
    val out = graft.ops.Dedup.thresholdSweep(spark, sf0001).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.map(_._1).sameElements(Array(0.5, 0.6, 0.7, 0.8, 0.9)))
    // tightening the threshold can only shrink pairs/drops and grow keeps
    out.zip(out.tail).foreach { case (lo, hi) =>
      assert(hi._2 <= lo._2 && hi._3 <= lo._3 && hi._4 >= lo._4,
        s"sweep not monotone between ${lo._1} and ${hi._1}")
    }
    // the 0.8 operating point must agree with the production op
    val p08 = graft.ops.Dedup.ngramJaccard(spark, sf0001)
    val nPairs08 = p08.count()
    val nDropped08 = p08.select(col("doc_b")).distinct().count()
    val at08 = out.find(_._1 == 0.8).get
    assert(at08._2 == nPairs08, s"pairs at 0.8: ${at08._2} vs $nPairs08")
    assert(at08._3 == nDropped08)
  }

  test("annFilteredTopk: results share the probe's label and match a filtered brute force") {
    val out = graft.ops.Similarity.annFilteredTopk(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(out.nonEmpty)
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byProbe = out.groupBy(_._1)
    byProbe.foreach { case (pid, rows) =>
      val (_, plabel, pv) = vecs.find(_._1 == pid).get
      assert(rows.forall(_._2 == plabel), "every hit shares the probe's label")
      // expected top-k among same-label candidates
      val expect = vecs.filter(v => v._1 != pid && v._2 == plabel)
        .map(v => (v._1, BigDecimal(cos(pv, v._3)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .sortBy(t => (-t._2, t._1)).take(5).map(_._1)
      assert(rows.sortBy(_._5).map(_._3).sameElements(expect), s"probe $pid top-k")
    }
  }

  test("abtt: matches an in-memory replay of the mean/top-PC removal chain") {
    val out = graft.ops.Similarity.abtt(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq("a_raw", "b_abtt"))
    assert(out(0)._2 == out(1)._2, "same vector count")
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vs = Tables.embeddings(spark, sf0001)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val n = vs.length; val dims = 64
    def pairMean(xs: Array[Array[Double]]): Double = {
      // sum-identity, like the op — O(n·d) not O(n²·d)
      val units = xs.map { v =>
        val nm = math.sqrt(v.map(x => x * x).sum); v.map(x => r6(x / nm)) }
      val sums = (0 until dims).map(d => units.map(_(d)).sum)
      val s2 = sums.map(s => s * s).sum
      val ssq = units.map(u => u.map(x => x * x).sum).sum
      (s2 - ssq) / (n.toDouble * (n - 1))
    }
    assert(math.abs(out(0)._3 - pairMean(vs)) < 1e-5, "raw anisotropy")
    // replay: rounded mean subtract, 3 power rounds, projection removal
    val mu = (0 until dims).map(d => r6(vs.map(_(d)).sum / n)).toArray
    val c = vs.map(v => v.indices.map(i => r6(v(i) - mu(i))).toArray)
    var dir = Array.fill(dims)(0.125)
    for (_ <- 1 to 3) {
      val ss = c.map(v => v.zip(dir).map { case (x, u) => x * u }.sum)
      val u = (0 until dims).map(d => r6(c.indices.map(i => c(i)(d) * ss(i)).sum)).toArray
      val nm = math.sqrt(u.map(x => x * x).sum)
      dir = u.map(x => r6(x / nm))
    }
    val w = c.map { v =>
      val s = v.zip(dir).map { case (x, u) => x * u }.sum
      v.indices.map(i => r6(v(i) - s * dir(i))).toArray
    }
    assert(math.abs(out(1)._3 - pairMean(w)) < 1e-5,
      s"abtt anisotropy ${out(1)._3} vs replay ${pairMean(w)}")
    // the corrected space carries no component along the removed direction
    val resid = w.map(v => math.abs(v.zip(dir).map { case (x, u) => x * u }.sum)).max
    assert(resid < 1e-3, s"projection not removed: max residual $resid")
  }
}
