package graft

import org.apache.spark.sql.functions._

/** Round-8 seventh batch: RFM grid, ABC classes, Mann–Whitney U,
  * clustering coefficient, Adamic–Adar, active-day streaks. */
class QualityOpsR8gSpec extends SparkSpec {

  test("qRfmSegments: cells partition the customer base; buckets are 1..5") {
    val out = graft.operators.Relational.qRfmSegments(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.nonEmpty)
    out.foreach { case (rb, fb, mb, n, m) =>
      assert(rb >= 1 && rb <= 5 && fb >= 1 && fb <= 5 && mb >= 1 && mb <= 5)
      assert(n > 0 && m > 0)
    }
    val nCust = Tables.orders(spark, sf0001)
      .select(col("o_custkey")).distinct().count()
    assert(out.map(_._4).sum == nCust, "every customer lands in exactly one cell")
    // quintile marginals: each r-bucket holds ~n/5 customers (ntile invariant)
    val byR = out.groupBy(_._1).view.mapValues(_.map(_._4).sum)
    byR.values.foreach(c => assert(math.abs(c - nCust / 5.0) <= 1.0))
  }

  test("qAbcClass: classes partition parts; shares sum to 1; A-share <= 0.7 + one part") {
    val out = graft.operators.Relational.qAbcClass(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq == out.map(_._1).toSeq.sorted)
    val nParts = Tables.lineitem(spark, sf0001)
      .select(col("l_partkey")).distinct().count()
    assert(out.map(_._2).sum == nParts)
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-5, "rev shares sum to 1")
    val aShare = out.find(_._1 == "A").map(_._4).getOrElse(0.0)
    // A stops at the FIRST part crossing 70%: its share is < 0.7 plus
    // at most one part's worth of revenue
    assert(aShare <= 0.7 + 0.05 && aShare > 0.3, s"A share $aShare near the 70% knee")
  }

  test("qMannWhitney: matches in-memory rank-sum recompute") {
    val Array(row) = graft.operators.Relational.qMannWhitney(spark, sf0001).collect()
    val pooled = Tables.orders(spark, sf0001)
      .join(Tables.customer(spark, sf0001), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_mktsegment"), col("o_totalprice")).collect()
      .map(r => (if (r.getString(0) == "BUILDING") 0 else 1, r.getDouble(1)))
    val sorted = pooled.sortBy(_._2)
    // average rank per distinct value
    val ar = sorted.zipWithIndex.groupBy(_._1._2).view
      .mapValues(g => g.map(_._2 + 1).sum.toDouble / g.length).toMap
    val nA = pooled.count(_._1 == 0).toDouble
    val nB = pooled.count(_._1 == 1).toDouble
    val rA = pooled.filter(_._1 == 0).map(x => ar(x._2)).sum
    val uA = rA - nA * (nA + 1) / 2
    val tie = pooled.groupBy(_._2).map { case (_, g) =>
      val t = g.length.toDouble; t * t * t - t }.sum
    val n = nA + nB
    val sigma2 = nA * nB / 12 * ((n + 1) - tie / (n * (n - 1)))
    assert(row.getLong(0) == nA.toLong && row.getLong(1) == nB.toLong)
    assert(math.abs(row.getDouble(2) - rA) < 0.01, "rank sum")
    assert(math.abs(row.getDouble(3) - uA) < 0.01, "U")
    assert(math.abs(row.getDouble(4) - (uA - nA * nB / 2) / math.sqrt(sigma2)) < 1e-5, "z")
  }

  test("clusteringCoeff: matches in-memory recompute on the sparse graph") {
    val out = graft.ops.Graph.clusteringCoeff(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val edges = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") >= 48)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.flatMap { g =>
        val ps = g.map(_._2).distinct.sorted
        for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
      }.toSet
    val adj = edges.toSeq.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    out.foreach { case (v, d, t, c) =>
      val nb = adj(v)
      assert(d == nb.size, s"degree of $v")
      val tt = nb.toSeq.combinations(2).count { case Seq(a, b) =>
        adj(a).contains(b) }
      assert(t == tt, s"triangles of $v")
      assert(math.abs(c - 2.0 * tt / (d * (d - 1))) < 1e-5)
    }
    // every node of degree >= 2 appears
    assert(out.length == adj.count(_._2.size >= 2))
  }

  test("adamicAdar: pairs are non-adjacent, scores match recompute, order is by score") {
    val out = graft.ops.Graph.adamicAdar(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty && out.length <= 25)
    assert(out.map(_._4).toSeq == out.map(_._4).toSeq.sorted.reverse, "desc by score")
    val edges = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") >= 48)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.flatMap { g =>
        val ps = g.map(_._2).distinct.sorted
        for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
      }.toSet
    val adj = edges.toSeq.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    out.foreach { case (u, v, nc, score) =>
      assert(!edges.contains((u, v)), s"($u,$v) must be non-adjacent")
      val common = adj(u).intersect(adj(v))
      assert(nc == common.size, s"common neighbors of ($u,$v)")
      val expect = common.toSeq.map { b =>
        BigDecimal(1.0 / math.log(adj(b).size.toDouble))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      assert(math.abs(score - expect) < 1e-5, s"score of ($u,$v)")
    }
  }

  test("activeStreaks: matches in-memory islands recompute") {
    val out = graft.etl.EventsEtl.activeStreaks(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    val days = Tables.events(spark, sf0001)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val streaks = days.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val ds = rows.map(_._2).sorted
      ds.zipWithIndex.groupBy { case (d, i) => d - i }
        .values.map(g => (u, g.length.toLong))
    }
    val expect = streaks.groupBy(_._2).map { case (len, g) =>
      (len, g.size.toLong, g.map(_._1).distinct.size.toLong) }
    assert(out.toSet == expect.toSet)
    // total streak-days == total distinct (user, day) rows
    assert(streaks.map(_._2).sum == days.length)
  }
}
