package graft

import org.apache.spark.sql.functions._

/** Round-8 ninth batch: percentile bands, priority trend, region
  * top parts, conversion latency, data card, k-NN purity. */
class QualityOpsR8iSpec extends SparkSpec {

  test("qPercentileBands: bands are ordered and match in-memory quantiles") {
    val out = graft.operators.Relational.qPercentileBands(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(out.nonEmpty)
    out.foreach { case (_, n, p25, p50, p75, p90) =>
      assert(n > 0); assert(p25 <= p50 && p50 <= p75 && p75 <= p90)
    }
    // recompute one segment
    val (seg, _, p25, p50, _, _) = out.head
    val xs = Tables.orders(spark, sf0001)
      .join(Tables.customer(spark, sf0001), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment") === seg)
      .select(col("o_totalprice")).collect().map(_.getDouble(0)).sorted
    def q(p: Double): Double = {
      val h = (xs.length - 1) * p
      val lo = h.toInt
      if (lo + 1 < xs.length) xs(lo) + (h - lo) * (xs(lo + 1) - xs(lo)) else xs(lo)
    }
    assert(math.abs(p25 - q(0.25)) < 1e-4)
    assert(math.abs(p50 - q(0.5)) < 1e-4)
  }

  test("qPriorityTrend: shares per month sum to ~1; slope matches OLS recompute") {
    val out = graft.operators.Relational.qPriorityTrend(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.nonEmpty)
    // recompute from the raw grid for one priority
    val rows = Tables.orders(spark, sf0001)
      .select(unix_timestamp(date_trunc("month", col("o_orderdate"))).as("m"),
        col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val months = rows.map(_._1).distinct.sorted
    val mi = months.zipWithIndex.map { case (m, i) => (m, (i + 1).toLong) }.toMap
    val (pri, nM, meanShare, slope) = (out.head._1, out.head._2, out.head._3, out.head._4)
    val grid = months.flatMap { m =>
      val tot = rows.count(_._1 == m)
      val c = rows.count(r => r._1 == m && r._2 == pri)
      if (c > 0) Some((mi(m), BigDecimal(c.toDouble / tot)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))) else None
    }
    assert(nM == grid.length)
    val n = BigDecimal(grid.length)
    val sx = BigDecimal(grid.map(_._1).sum)
    val sy = grid.map(_._2).sum
    val sxy = grid.map(g => BigDecimal(g._1) * g._2).sum
    val sxx = BigDecimal(grid.map(g => g._1 * g._1).sum)
    val expSlope = ((n * sxy - sx * sy) / (n * sxx - sx * sx)).toDouble
    assert(math.abs(slope - expSlope) < 1e-6, s"slope of $pri")
    assert(math.abs(meanShare - (sy / n).toDouble) < 1e-5)
  }

  test("qRegionTopParts: 3 per region, descending revenue, regions complete") {
    val out = graft.operators.Relational.qRegionTopParts(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val regions = Tables.region(spark, sf0001).select(col("r_name"))
      .collect().map(_.getString(0)).toSet
    assert(out.map(_._1).toSet == regions)
    out.groupBy(_._1).values.foreach { g =>
      assert(g.length == 3)
      val byRank = g.sortBy(_._4)
      assert(byRank.map(_._3).toSeq == byRank.map(_._3).toSeq.sorted.reverse,
        "revenue descends with rank")
    }
  }

  test("conversionLatency: delays within the 1h window; count matches conversionRate") {
    val Array(row) = graft.etl.EventsEtl.conversionLatency(spark, sf0001).collect()
    val n = row.getLong(0)
    assert(n > 0)
    assert(row.getDouble(1) >= 0 && row.getLong(5) <= 3600, "delays within the window")
    assert(row.getDouble(2) <= row.getDouble(3) && row.getDouble(3) <= row.getDouble(4))
    val nConverted = graft.etl.EventsEtl.conversionRate(spark, sf0001)
      .agg(sum(col("n_converted"))).collect()(0).getLong(0)
    assert(n == nConverted, "attributed-purchase counts agree across the two views")
  }

  test("dataCard: grains are consistent (cells sum to source rows, sources to total)") {
    val out = graft.ops.Pipeline.dataCard(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val total = out.filter(r => r._1 == "ALL" && r._2 == "ALL")
    assert(total.length == 1)
    val bySource = out.filter(r => r._1 != "ALL" && r._2 == "ALL")
    val cells = out.filter(r => r._1 != "ALL" && r._2 != "ALL")
    assert(bySource.map(_._3).sum == total.head._3, "source docs sum to total")
    assert(cells.map(_._3).sum == total.head._3, "cell docs sum to total")
    assert(bySource.map(_._4).sum == total.head._4, "source tokens sum to total")
    bySource.foreach { s =>
      assert(cells.filter(_._1 == s._1).map(_._3).sum == s._3,
        s"cells of ${s._1} sum to its source row")
    }
  }

  test("knnPurityExact: matches in-memory 5-NN recompute") {
    val out = graft.ops.Similarity.knnPurityExact(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    val vs = Tables.embeddings(spark, sf0001).collect().map { r =>
      (r.getLong(0), r.getInt(2).toLong,
        r.getSeq[Float](1).map(_.toDouble).toArray)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i) }
      BigDecimal(d / math.sqrt(na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val hits = vs.map { case (id, lbl, v) =>
      val nn = vs.filter(_._1 != id)
        .map(o => (o._1, o._2, cos(v, o._3)))
        .sortBy(o => (-o._3, o._1)).take(5)
      (lbl, nn.count(_._2 == lbl))
    }
    val expect = hits.groupBy(_._1).map { case (l, g) =>
      (l, g.length.toLong,
        BigDecimal(g.map(_._2).sum.toDouble / (5 * g.length))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    assert(out.map(t => (t._1, t._2, t._3)).toSet == expect)
    // the metric is bounded in [0,1] and the report covers every vector
    assert(out.map(_._2).sum == vs.length)
    out.foreach { case (_, _, p) => assert(p >= 0.0 && p <= 1.0) }
  }

  test("knnPurity (IVF-routed) tracks the exact census within tolerance") {
    val routed = graft.ops.Similarity.knnPurity(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    Caches.releaseAll(); spark.catalog.clearCache()
    val exact = graft.ops.Similarity.knnPurityExact(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(routed.nonEmpty && exact.nonEmpty)
    val nVecs = Tables.embeddings(spark, sf0001).count()
    // every vector routes somewhere: coverage equals the corpus unless
    // a probe's two cells hold no other member (impossible while every
    // label class has >=2 members)
    assert(routed.map(_._2).sum == nVecs,
      s"routed coverage ${routed.map(_._2).sum} != corpus $nVecs")
    routed.foreach { case (_, _, p) => assert(p >= 0.0 && p <= 1.0) }
    // nprobe=2 over trained cells must reproduce the exact per-label
    // purity closely — the estimate is useless past ~0.3 drift, and on
    // this label-clustered fixture the routed 5-NN is near-exact
    val exactByLabel = exact.map(t => t._1 -> t._3).toMap
    routed.foreach { case (l, _, p) =>
      val pe = exactByLabel(l)
      assert(math.abs(p - pe) <= 0.3,
        f"label $l: routed purity $p%.3f vs exact $pe%.3f drifts > 0.3")
    }
    val meanR = routed.map(t => t._2 * t._3).sum / nVecs
    val meanE = exact.map(t => t._2 * t._3).sum / nVecs
    assert(math.abs(meanR - meanE) <= 0.15,
      f"corpus mean purity: routed $meanR%.3f vs exact $meanE%.3f drifts > 0.15")
  }
}
