package graft

import org.apache.spark.sql.functions._

/** Round-8 tenth batch: YoY growth, mix drift, ship lag, prefix
  * recall sweep, harmonic centrality sample, vocab growth. */
class QualityOpsR8jSpec extends SparkSpec {

  test("qYoyGrowth: growth matches revenue ratio; join is month-aligned") {
    val out = graft.operators.Relational.qYoyGrowth(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(out.nonEmpty)
    out.foreach { case (_, mo, rev, prev, g) =>
      assert(mo >= 1 && mo <= 12)
      assert(math.abs(g - (rev - prev) / prev) < 1e-4)
    }
    // every (yr, mo) of the output has revenue in both yr and yr-1
    val monthly = Tables.orders(spark, sf0001)
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    out.foreach { case (yr, mo, rev, prev, _) =>
      assert(math.abs(monthly((yr.toInt, mo.toInt)) - rev) < 0.5)
      assert(math.abs(monthly((yr.toInt - 1, mo.toInt)) - prev) < 0.5)
    }
  }

  test("mixDrift: JS in [0, ln 2]; every active day reported; matches recompute") {
    val out = graft.etl.EventsEtl.mixDrift(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ev = Tables.events(spark, sf0001)
      .select(expr("unix_timestamp(ts) div 86400").as("day"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.map(_._1).toSet == ev.map(_._1).toSet, "one row per active day")
    assert(out.map(_._2).sum == ev.length)
    out.foreach { case (_, _, js) => assert(js >= -1e-9 && js <= math.log(2) + 1e-9) }
    // recompute one day's JS
    val global = ev.groupBy(_._2).view.mapValues(_.length.toDouble / ev.length).toMap
    val d0 = out.head._1
    val dayEv = ev.filter(_._1 == d0)
    val js0 = global.keys.map { t =>
      val p = dayEv.count(_._2 == t).toDouble / dayEv.length
      val q = global(t)
      val m = (p + q) / 2
      val tp = if (p > 0) BigDecimal(p * math.log(p / m))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP) else BigDecimal(0)
      tp + BigDecimal(q * math.log(q / m)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble / 2
    assert(math.abs(out.head._3 - js0) < 1e-5, "JS of first day")
  }

  test("shipLag: lags positive and bounded; line counts conserved") {
    val out = graft.etl.EventsEtl.shipLag(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5)))
    assert(out.nonEmpty)
    out.foreach { case (_, n, mean, p50, p90, mx) =>
      // the synthetic shipdate is independent of orderdate, so
      // negative lags exist — only the ordering invariants hold
      assert(n > 0); assert(p50 <= p90 && p90 <= mx && mean <= mx)
    }
    assert(out.map(_._2).sum == Tables.lineitem(spark, sf0001).count())
  }

  test("prefixRecallSweep: recall is monotone non-decreasing in dim and 1.0 at 64") {
    val out = graft.ops.Similarity.prefixRecallSweep(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq == Seq(8L, 16L, 32L, 64L))
    val recalls = out.map(_._4)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b + 1e-9 },
      s"monotone: ${recalls.toSeq}")
    assert(math.abs(recalls.last - 1.0) < 1e-9, "full width recalls itself")
    out.foreach { case (_, np, _, _) => assert(np == 5) }
  }

  test("harmonicSample: matches in-memory BFS recompute") {
    val out = graft.ops.Graph.harmonicSample(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.length == 5)
    val edges = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.flatMap { g =>
        val ps = g.map(_._2).distinct.sorted
        for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
      }.toSet
    val adj = edges.toSeq.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seeds = adj.keys.toSeq.sorted.take(5)
    assert(out.map(_._1).toSeq == seeds)
    out.foreach { case (seed, nr, h1, h2, h3, harm) =>
      var dist = Map(seed -> 0)
      var frontier = Set(seed)
      for (hop <- 1 to 3) {
        val next = frontier.flatMap(adj(_)).diff(dist.keySet)
        dist = dist ++ next.map(_ -> hop)
        frontier = next
      }
      val counts = dist.values.groupBy(identity).view.mapValues(_.size).toMap
      assert(h1 == counts.getOrElse(1, 0), s"hop1 of $seed")
      assert(h2 == counts.getOrElse(2, 0))
      assert(h3 == counts.getOrElse(3, 0))
      assert(nr == h1 + h2 + h3)
      assert(math.abs(harm - (h1 + h2 * 0.5 + h3 * 0.333333333)) < 1e-5)
    }
  }

  test("vocabGrowth: checkpoints are cumulative; beta matches log-log OLS recompute") {
    val out = graft.ops.TextAnalysis.vocabGrowth(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.length == 4)
    assert(out.map(_._3).toSeq == out.map(_._3).toSeq.sorted, "docs cumulative")
    assert(out.map(_._4).toSeq == out.map(_._4).toSeq.sorted, "tokens cumulative")
    assert(out.map(_._5).toSeq == out.map(_._5).toSeq.sorted, "vocab cumulative")
    assert(out.map(_._6).distinct.length == 1, "one beta")
    val pts = out.map { o =>
      (BigDecimal(math.log(o._4.toDouble)).setScale(6, BigDecimal.RoundingMode.HALF_UP),
       BigDecimal(math.log(o._5.toDouble)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
    }
    val n = BigDecimal(pts.length)
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum; val sxx = pts.map(p => p._1 * p._1).sum
    val beta = ((n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble)
    assert(math.abs(out.head._6 - beta) < 1e-5, s"beta ${out.head._6} vs $beta")
    // the 50-doc sf0.001 corpus can saturate its tiny synthetic
    // vocabulary (beta == 0); only the non-negative bound is data-
    // independent
    assert(beta >= 0 && beta < 1.5, "Heaps exponent in a plausible band")
  }
}
