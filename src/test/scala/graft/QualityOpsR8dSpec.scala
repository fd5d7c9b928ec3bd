package graft

import org.apache.spark.sql.functions._

/** Round-8 fourth batch: seasonal profile, EWMA smoother, skyline,
  * Gini, Markov transitions, Welch t-test, temperature mix. */
class QualityOpsR8dSpec extends SparkSpec {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("seasonalProfile: cells cover observed (dow,hour), shares sum to 1, one peak") {
    val out = graft.etl.EventsEtl.seasonalProfile(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(out.nonEmpty)
    out.foreach { case (dow, hour, _, _, _, _) =>
      assert(dow >= 0 && dow <= 6 && hour >= 0 && hour <= 23)
    }
    assert(math.abs(out.map(_._5).sum - 1.0) < 1e-4, "shares must sum to 1")
    assert(out.count(_._6) == 1, "exactly one peak cell")
    val peak = out.filter(_._6).head
    assert(out.forall(c => c._3 <= peak._3), "peak carries the max count")
    // in-memory recompute of the (dow, hour) histogram
    val secs = Tables.events(spark, sf0001)
      .select(unix_timestamp(col("ts")).as("s")).collect().map(_.getLong(0))
    val expect = secs.groupBy(s => ((s / 86400 + 4) % 7, (s / 3600) % 24))
      .map { case (k, vs) => k -> vs.length.toLong }
    assert(out.map(c => (c._1, c._2) -> c._3).toMap == expect, "cell histogram mismatch")
  }

  test("ewmaDaily: matches the in-memory recursive EWMA within the lookback depth") {
    val out = graft.etl.EventsEtl.ewmaDaily(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(out.nonEmpty)
    // recursive recompute: s_1 = c_1, s_d = 0.25 c_d + 0.75 s_{d-1};
    // the operator truncates at depth 60 — at sf0.001 the day count is
    // far below that, so the closed form must equal the pure recursion
    assert(out.length < 60, "spec assumes the series fits inside the lookback")
    var s = out.head._2.toDouble
    assert(r6(s) == out.head._3, "first day: ewma == count")
    out.tail.foreach { case (d, n, e) =>
      s = 0.25 * n + 0.75 * s
      assert(math.abs(e - r6(s)) < 1e-6, s"day $d: ewma $e vs recursive ${r6(s)}")
    }
  }

  test("qSkylinePareto: survivors are exactly the non-dominated parts") {
    val out = graft.operators.Relational.qSkylinePareto(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val parts = Tables.part(spark, sf0001)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2).toLong))
    def dominated(r: (Long, Double, Long)) = parts.exists(s =>
      s._1 != r._1 && s._2 <= r._2 && s._3 >= r._3 && (s._2 < r._2 || s._3 > r._3))
    val expect = parts.filterNot(dominated)
      .map(p => (p._1, BigDecimal(p._2).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble, p._3)).toSet
    assert(out.toSet == expect,
      s"skyline mismatch: ${(out.toSet -- expect).take(3)} vs ${(expect -- out.toSet).take(3)}")
    assert(out.nonEmpty && out.length < parts.length)
  }

  test("qGiniSpend: matches the quadratic mean-absolute-difference definition") {
    val Array(row) = graft.operators.Relational.qGiniSpend(spark, sf0001).collect()
    val (n, tot, gini) = (row.getLong(0), row.getDouble(1), row.getDouble(2))
    val spend = Tables.orders(spark, sf0001)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("s"))
      .collect().map(_.getDouble(1))
    assert(n == spend.length)
    assert(math.abs(tot - spend.sum) < 0.5)
    // G = sum_ij |x_i - x_j| / (2 n^2 mu) — the definition the rank
    // formula is algebraically equal to (up to the n vs n-1 variant;
    // rank formula uses n, so mean-abs-diff over n^2 pairs)
    val mu = spend.sum / n
    val mad = (for (a <- spend; b <- spend) yield math.abs(a - b)).sum / (n.toDouble * n)
    assert(math.abs(gini - mad / (2 * mu)) < 1e-4,
      s"gini $gini vs pairwise ${mad / (2 * mu)}")
    assert(gini > 0 && gini < 1)
  }

  test("qMarkovTransitions: counts match in-memory sequence walk; rows sum to 1 per from") {
    val out = graft.operators.Relational.qMarkovTransitions(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expect = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val seq = rows.sortBy(r => (r._2, r._3)).map(_._4)
      seq.zip(seq.tail)
    }.groupBy(identity).map { case (k, vs) => k -> vs.length.toLong }
    assert(out.map(t => (t._1, t._2) -> t._3).toMap == expect, "transition counts mismatch")
    out.groupBy(_._1).foreach { case (from, rows) =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4, s"row $from must sum to 1")
    }
  }

  test("qWelchTtest: moments match in-memory recomputation; df between min-1 and sum-2") {
    val Array(row) = graft.operators.Relational.qWelchTtest(spark, sf0001).collect()
    val (na, ma, va) = (row.getLong(0), row.getDouble(1), row.getDouble(2))
    val (nb, mb, vb) = (row.getLong(3), row.getDouble(4), row.getDouble(5))
    val (t, df) = (row.getDouble(6), row.getDouble(7))
    val vals = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value")).collect()
      .map(r => (r.getLong(0) % 2, BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
    def arm(k: Long) = vals.filter(_._1 == k).map(_._2)
    val (a, b) = (arm(0), arm(1))
    assert(na == a.length && nb == b.length)
    def meanVar(xs: Array[Double]) = {
      val m = xs.sum / xs.length
      (m, xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1))
    }
    val ((ema, eva), (emb, evb)) = (meanVar(a), meanVar(b))
    assert(math.abs(ma - ema) < 1e-4 && math.abs(va - eva) < 1e-3)
    assert(math.abs(mb - emb) < 1e-4 && math.abs(vb - evb) < 1e-3)
    val se2 = eva / na + evb / nb
    assert(math.abs(t - (ema - emb) / math.sqrt(se2)) < 1e-3)
    assert(df > math.min(na, nb) - 1 && df < na + nb - 2,
      s"Welch df $df must land between the min-arm and pooled bounds")
  }

  test("temperatureMix: shares sum to 1; alpha<1 flattens toward uniform") {
    val out = graft.ops.Pipeline.temperatureMix(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(out.length >= 2)
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-4, "raw shares sum to 1")
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-4, "temp shares sum to 1")
    val total = out.map(_._2).sum
    out.foreach { case (lang, n, raw, temp, factor) =>
      assert(math.abs(raw - n.toDouble / total) < 1e-4)
      // temperature scaling flattens: rare langs upsampled, common downsampled
      val uniform = 1.0 / out.length
      if (raw < uniform) assert(factor > 1.0, s"$lang rare but factor $factor <= 1")
      if (raw > uniform) assert(factor < 1.0, s"$lang common but factor $factor >= 1")
      assert(math.abs(temp / raw - factor) < 1e-3)
    }
    // in-memory recompute of the temp shares
    val wts = out.map(c => math.pow(c._2.toDouble, 0.3))
    val wtot = wts.sum
    out.zip(wts).foreach { case ((lang, _, _, temp, _), w) =>
      assert(math.abs(temp - w / wtot) < 1e-4, s"$lang temp share")
    }
  }
}
