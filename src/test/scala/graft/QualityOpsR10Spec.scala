package graft

import org.apache.spark.sql.functions._

import graft.etl.EventsEtl
import graft.operators.Relational
import graft.ops.{Similarity, TextAnalysis}

/** Round-10 batch 1: KS test, Spearman rank correlation, Theil
  * decomposition, integer burst detection, source-vocabulary Jaccard,
  * and k-NN hubness — each checked against in-memory recomputation at
  * sf0.001. */
class QualityOpsR10Spec extends SparkSpec {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("qKsTest: matches in-memory integer CDF-gap KS statistic") {
    val Array(row) = Relational.qKsTest(spark, sf0001).collect()
    val seg = Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val vals = Tables.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .flatMap { r =>
        seg.get(r.getLong(0)) match {
          case Some(s @ ("BUILDING" | "MACHINERY")) =>
            Some((s, BigDecimal(r.getDouble(1)).setScale(2)))
          case _ => None
        }
      }
    val n1 = vals.count(_._1 == "BUILDING").toLong
    val n2 = vals.count(_._1 == "MACHINERY").toLong
    val byVal = vals.groupBy(_._2).view.mapValues { xs =>
      (xs.count(_._1 == "BUILDING").toLong, xs.count(_._1 == "MACHINERY").toLong)
    }.toSeq.sortBy(_._1)
    var (c1, c2, dnum) = (0L, 0L, 0L)
    byVal.foreach { case (_, (d1, d2)) =>
      c1 += d1; c2 += d2
      dnum = math.max(dnum, math.abs(c1 * n2 - c2 * n1))
    }
    assert(row.getLong(0) == n1 && row.getLong(1) == n2)
    val den = n1 * n2
    assert(row.getDouble(2) ==
      ((2 * dnum * 1000000L + den) / (2 * den)).toDouble / 1e6)
    val expScaled = math.sqrt(n1 * n2 / (n1 + n2).toDouble) * (dnum / den.toDouble)
    assert(math.abs(row.getDouble(3) - expScaled) < 1e-6, "ks_scaled")
  }

  test("qSpearmanCorr: matches in-memory tie-averaged rank correlation") {
    val Array(row) = Relational.qSpearmanCorr(spark, sf0001).collect()
    val li = Tables.lineitem(spark, sf0001)
      .select(col("l_quantity"), col("l_extendedprice")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val n = li.length.toLong
    // 2·avgrank = 2·(min SQL rank) + cnt − 1, value-determined only
    def ranks2(vs: Array[Double]): Map[Double, Long] = {
      val cnt = vs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val sorted = cnt.keys.toArray.sorted
      var below = 0L
      sorted.map { v =>
        val r = 2L * (below + 1L) + cnt(v) - 1L; below += cnt(v); v -> r
      }.toMap
    }
    val rq = ranks2(li.map(_._1)); val rp = ranks2(li.map(_._2))
    var (sxy, sx, sy, sxx, syy) =
      (BigInt(0), BigInt(0), BigInt(0), BigInt(0), BigInt(0))
    li.foreach { case (q, p) =>
      val x = BigInt(rq(q)); val y = BigInt(rp(p))
      sxy += x * y; sx += x; sy += y; sxx += x * x; syy += y * y
    }
    val num = (BigInt(n) * sxy - sx * sy).toDouble
    val den = math.sqrt((BigInt(n) * sxx - sx * sx).toDouble *
      (BigInt(n) * syy - sy * sy).toDouble)
    val rho = num / den
    assert(row.getLong(0) == n)
    assert(math.abs(row.getDouble(1) - rho) < 1e-6, "rho")
    assert(row.getDouble(1) >= -1.0 && row.getDouble(1) <= 1.0)
  }

  test("qSpearmanCorr: the distributed grain path is bit-identical to the window path") {
    val sf001 = "/root/testdata/sf0.01"
    // default gate → direct two-window form
    val viaWindow = Relational.qSpearmanCorr(spark, sf001).collect().toSeq
    Caches.releaseAll(); spark.catalog.clearCache()
    // gate forced shut → pair-grain + rankByValue scale path, and a
    // zero window cap inside it forces the range-partitioned branch
    // too — the whole 100TB plan, checked on oracle-grade data
    val viaGrain = Relational.qSpearmanCorr(spark, sf001,
      smallFactRows = 0, rankWindowMaxRows = 0).collect().toSeq
    assert(viaWindow == viaGrain,
      s"paths diverge: window=$viaWindow grain=$viaGrain")
  }

  test("qTheilIndex: total = between + within; matches in-memory decomposition") {
    val Array(row) = Relational.qTheilIndex(spark, sf0001).collect()
    val nat = Tables.nation(spark, sf0001)
      .select(col("n_nationkey"), col("n_name")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    val cn = Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_nationkey")).collect()
      .map(r => (r.getLong(0), nat(r.getInt(1)))).toMap
    val spend = Tables.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .map { case (c, x) => (cn(c), x.toDouble) }
    val nTot = spend.size.toLong
    val s = spend.map(x => BigDecimal(x._2).setScale(2)).sum.toDouble
    val groups = spend.groupBy(_._1).values.map { xs =>
      val nc = xs.size.toLong
      val sg = xs.map(x => BigDecimal(x._2).setScale(2)).sum.toDouble
      val sxlx = xs.map(x => x._2 * math.log(x._2)).sum
      val tw = sxlx / sg - math.log(sg / nc)
      val tb = math.log((sg / nc) / (s / nTot))
      (nc, sg / s, tw, tb)
    }
    val total = groups.map(g => g._2 * (g._3 + g._4)).sum
    val between = groups.map(g => g._2 * g._4).sum
    val within = groups.map(g => g._2 * g._3).sum
    assert(row.getLong(0) == nTot)
    assert(math.abs(row.getDouble(1) - total) < 1e-5, "total")
    assert(math.abs(row.getDouble(2) - between) < 1e-5, "between")
    assert(math.abs(row.getDouble(3) - within) < 1e-5, "within")
    // decomposition identity holds on the emitted 6-dp values
    assert(math.abs(row.getDouble(1) - row.getDouble(2) - row.getDouble(3)) < 2e-6)
  }

  test("burstDetection: matches in-memory trailing-day z2 top-20") {
    val out = EventsEtl.burstDetection(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    val mins = Tables.events(spark, sf0001)
      .select(unix_timestamp(col("ts")).as("sec")).collect()
      .map(_.getLong(0) / 3600)
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq.sortBy(_._1)
    val expect = mins.flatMap { case (m, c) =>
      val trail = mins.filter(x => x._1 >= m - 24 && x._1 <= m - 1)
      val w = trail.size.toLong
      val s1 = trail.map(_._2).sum
      val s2 = trail.map(x => x._2 * x._2).sum
      val e = w * c - s1
      val vv = w * s2 - s1 * s1
      if (w >= 12 && e > 0 && vv > 0)
        Some((m, c, w,
          ((2 * e * e * 1000000L + vv) / (2 * vv)).toDouble / 1e6,
          e * e > 9 * vv))
      else None
    }.sortBy(x => (-x._4, x._1)).take(20)
    assert(out.toSeq == expect)
    assert(out.nonEmpty, "top-20 burst profile must be non-degenerate")
  }

  test("jaccardSourceOverlap: matches in-memory bigram set algebra") {
    val out = TextAnalysis.jaccardSourceOverlap(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val docs = Tables.documents(spark, sf0001)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vocab = docs.groupBy(_._1).view.mapValues(
      _.flatMap { d =>
        val toks = "\\S+".r.findAllIn(d._2.toLowerCase).toSeq
        if (toks.size >= 2) toks.sliding(2).map(_.mkString(" ")).toSeq
        else Seq.empty
      }.toSet).toMap
    val srcs = vocab.keys.toSeq.sorted
    val expect = (for {
      a <- srcs; b <- srcs if a < b
      inter = (vocab(a) & vocab(b)).size.toLong if inter > 0
    } yield {
      val uni = vocab(a).size + vocab(b).size - inter
      (a, b, inter, uni, ((2 * inter * 1000000L + uni) / (2 * uni)).toDouble / 1e6)
    }).sortBy(x => (x._1, x._2))
    assert(out.toSeq == expect)
    // bigram membership must discriminate (unigram Jaccard saturates
    // at 1.0 on this corpus's bounded word list)
    assert(out.exists(_._5 < 0.99), "degenerate overlap — wrong unit?")
  }

  test("embedHubness: matches in-memory label-blocked 5-NN k-occurrence histogram") {
    val out = Similarity.embedHubness(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label").cast("long"),
        col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(i => a(i) * b(i)).sum
    val norm = e.map { case (id, _, v) => (id, math.sqrt(dot(v, v))) }.toMap
    val occ = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    e.foreach { case (id, lbl, v) =>
      // hubness of the BLOCKED retrieval graph: candidates share the label
      val top = e.filter(x => x._1 != id && x._2 == lbl).map { case (jid, _, w) =>
        (r6(dot(v, w) / (norm(id) * norm(jid))), jid)
      }.sortBy { case (c, j) => (-c, j) }.take(5)
      top.foreach { case (_, j) => occ(j) += 1 }
    }
    val expect = e.map(x => occ(x._1))
      .groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy(_._1).map { case (k, n) => (k, n) }
    assert(out.toSeq == expect)
    assert(out.map(_._2).sum == e.length.toLong)
    // Σ o(v) = Σ_v min(5, |block(v)|−1) — each vector emits one edge
    // per neighbor up to 5, bounded by its block's size
    val blockSize = e.groupBy(_._2).view.mapValues(_.length).toMap
    val expectedEdges = e.map(x => math.min(5, blockSize(x._2) - 1).toLong).sum
    assert(out.map(x => x._1 * x._2).sum == expectedEdges)
  }
}
