package graft

import org.apache.spark.sql.functions._

/** Round-8 eleventh batch: cohort LTV, reorder gap, PMI pairs, LSH
  * band tuning, split-half stability, sampled triangle estimate. */
class QualityOpsR8kSpec extends SparkSpec {

  test("qCohortLtv: cumulative revenue is monotone; cohort sizes partition customers") {
    val out = graft.operators.Relational.qCohortLtv(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.nonEmpty)
    out.groupBy(_._1).values.foreach { g =>
      val byOff = g.sortBy(_._2)
      assert(byOff.map(_._4).toSeq == byOff.map(_._4).toSeq.sorted,
        "cumulative revenue is monotone per cohort")
      assert(byOff.map(_._3).distinct.length == 1, "one cohort size")
    }
    val nCust = Tables.orders(spark, sf0001)
      .select(col("o_custkey")).distinct().count()
    assert(out.groupBy(_._1).values.map(_.head._3).sum == nCust,
      "cohort sizes partition the customer base")
    out.foreach { case (_, _, n, cum, ltv) =>
      assert(math.abs(ltv - cum / n) < 1e-4)
    }
  }

  test("qReorderGap: matches in-memory per-customer gap recompute") {
    val Array(row) = graft.operators.Relational.qReorderGap(spark, sf0001).collect()
    val o = Tables.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("unix_timestamp(o_orderdate) div 86400").as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gaps = o.groupBy(_._1).values.toSeq.flatMap { g =>
      val days = g.sortBy(r => (r._3, r._2)).map(_._3)
      days.zip(days.tail).map { case (a, b) => (b - a).toDouble }
    }.sorted
    assert(row.getLong(0) == gaps.length)
    assert(math.abs(row.getDouble(1) - gaps.sum / gaps.length) < 1e-4)
    assert(row.getLong(4) == gaps.max.toLong)
  }

  test("pmiPairs: counts meet the floor; PMI matches recompute; ordered by association") {
    val out = graft.ops.TextAnalysis.pmiPairs(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty && out.length <= 25)
    assert(out.map(_._4).toSeq == out.map(_._4).toSeq.sorted.reverse)
    val toks = Tables.documents(spark, sf0001).select(col("text")).collect()
      .map(_.getString(0).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.length).toMap
    val nu = toks.map(_.length).sum.toDouble
    val multi = toks.filter(_.length >= 2)
    val bi = multi.flatMap(t => t.zip(t.tail)).groupBy(identity).view.mapValues(_.length).toMap
    val nb = multi.map(_.length - 1).sum.toDouble
    out.foreach { case (w1, w2, cxy, pmi) =>
      assert(cxy >= 5)
      assert(bi((w1, w2)) == cxy, s"joint count of ($w1,$w2)")
      val expect = math.log((cxy / nb) / ((uni(w1) / nu) * (uni(w2) / nu)))
      assert(math.abs(pmi - expect) < 1e-5, s"pmi of ($w1,$w2)")
    }
  }

  test("bandTuning: b=4 row matches minhashLsh; thresholds order the aggressiveness") {
    val out = graft.ops.Dedup.bandTuning(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((2L, 8L), (4L, 4L), (8L, 2L)))
    // more bands with shorter rows = looser threshold = at least as many pairs
    assert(out.map(_._3).toSeq == out.map(_._3).toSeq.sorted.reverse,
      "s-curve threshold decreases with band count")
    assert(out.map(_._4).toSeq == out.map(_._4).toSeq.sorted,
      "candidate pairs grow as the threshold loosens")
    val prod = graft.ops.Dedup.minhashLsh(spark, sf0001).count()
    assert(out.find(_._1 == 4L).get._4 == prod,
      "the b=4 row reproduces the production candidate count")
  }

  test("splitStability: halves partition each label; cosine bounded") {
    val out = graft.ops.Similarity.splitStability(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val sizes = Tables.embeddings(spark, sf0001)
      .groupBy(col("label")).count().collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1))).toMap
    out.foreach { case (l, ne, no, cos) =>
      assert(ne + no == sizes(l), s"halves partition label $l")
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9)
    }
  }

  test("triangleEstimate: sample is the hash subset; exact count matches recompute") {
    val Array(r) = graft.ops.Graph.triangleEstimate(spark, sf0001).collect()
    val (nE, nS, frac, exact, sampled, est, err) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getDouble(6))
    assert(nS <= nE && math.abs(frac - nS.toDouble / nE) < 1e-6)
    assert(est == sampled * 64)
    assert(math.abs(err - math.abs(est - exact).toDouble / exact) < 1e-5)
    // recompute the exact triad count in memory
    val edges = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") >= 48)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(x => (x.getLong(0), x.getLong(1)))
      .groupBy(_._1).values.flatMap { g =>
        val ps = g.map(_._2).distinct.sorted
        for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
      }.toSet
    val adj = edges.toSeq.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val tri = edges.toSeq.map { case (u, v) =>
      adj(u).intersect(adj(v)).count(w => w > v)
    }.sum
    assert(exact == tri, s"exact triangles $exact vs $tri")
  }
}
