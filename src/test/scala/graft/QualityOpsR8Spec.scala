package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Graph, Multimodal, Similarity, TextAnalysis}

/** Round-8 additions: HITS hubs/authorities, interpolated Kneser–Ney
  * scoring, segment-level first-occurrence dedup, and residual IVF-PQ.
  * Each is checked against an independent in-memory recomputation (or
  * structural invariants the algorithm guarantees), not just shape. */
class QualityOpsR8Spec extends SparkSpec {

  private def r9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  /** 6-dp round-half-away-from-zero of the exact rational num/den via
    * integer arithmetic — the tie-free discipline modularity and
    * audioEnergy adopted after r8's cross-engine round() divergence. */
  private def halfUp6(num: BigInt, den: BigInt): Double = {
    val n6 = num * 1000000
    val k = if (n6.signum >= 0) (n6 * 2 + den) / (den * 2)
            else -(((-n6) * 2 + den) / (den * 2))
    k.toDouble / 1e6
  }
  /** micro-units (×1e6) of an already-6-dp double, exactly */
  private def micro(x: Double): BigInt =
    (BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toBigInt

  test("hits: matches an in-memory two-round max-normalized recomputation") {
    val out = Graph.hits(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val edges = Tables.orders(spark, sf0001)
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("cust"))
      .join(Tables.lineitem(spark, sf0001)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("part")), Seq("ok"))
      .select(col("cust"), col("part")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty && out.nonEmpty)
    var hub = edges.map(_._1).distinct.map(_ -> 1.0).toMap
    var auth = Map.empty[Long, Double]
    def maxNorm(m: Map[Long, Double]): Map[Long, Double] = {
      val mx = m.values.max
      m.map { case (k, v) => k -> r9(v / mx) }
    }
    for (_ <- 1 to 2) {
      auth = maxNorm(edges.groupBy(_._2).map { case (p, es) =>
        p -> r9(es.map(e => hub(e._1)).sum)
      })
      hub = maxNorm(edges.groupBy(_._1).map { case (c, es) =>
        c -> r9(es.map(e => auth(e._2)).sum)
      })
    }
    val expect = hub.map { case (n, s) => ("hub", n, r6(s)) }.toSet ++
      auth.map { case (n, s) => ("authority", n, r6(s)) }
    assert(out.toSet == expect,
      s"HITS mismatch: ${(out.toSet -- expect).take(3)} vs ${(expect -- out.toSet).take(3)}")
    // normalization: each role's max score is exactly 1
    Seq("hub", "authority").foreach { role =>
      assert(out.filter(_._1 == role).map(_._3).max == 1.0, s"$role max != 1")
    }
  }

  test("knScore: matches in-memory interpolated Kneser-Ney, and scores are negative") {
    val out = TextAnalysis.knScore(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+").filter(_.nonEmpty).toSeq))
    val bigrams = docs.flatMap { case (id, ts) =>
      if (ts.length < 2) Nil else ts.sliding(2).map(p => (id, p(0), p(1))).toSeq
    }
    val bc = bigrams.groupBy(t => (t._2, t._3)).map { case (k, v) => k -> v.size.toLong }
    val c1 = bc.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val n1fw = bc.groupBy(_._1._1).map { case (w1, m) => w1 -> m.size.toLong }
    val n1bw = bc.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size.toLong }
    val b = bc.size.toDouble
    val expect = bigrams.groupBy(_._1).map { case (id, bs) =>
      val lp = bs.map { case (_, w1, w2) =>
        math.log((bc((w1, w2)) - 0.75) / c1(w1) +
          0.75 * n1fw(w1) / c1(w1) * n1bw(w2) / b)
      }
      (id, bs.size.toLong, r6(lp.sum / lp.size))
    }.toSeq
    assert(out.toSet == expect.toSet,
      s"KN mismatch, e.g. ${(out.toSet -- expect.toSet).take(2)}")
    out.foreach { case (id, _, s) => assert(s < 0, s"doc $id kn_score $s not < 0") }
  }

  test("segmentDedup: per-doc rollup matches an in-memory global first-occurrence pass") {
    val out = Dedup.segmentDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+").filter(_.nonEmpty).toSeq))
      .sortBy(_._1)
    val segs = docs.flatMap { case (id, ts) =>
      ts.grouped(10).zipWithIndex.map { case (g, i) => (id, i, g.mkString(" ")) }
    }
    val seen = scala.collection.mutable.Set.empty[String]
    val kept = segs.map { case (id, _, s) => (id, seen.add(s), s) }
    val expect = kept.groupBy(_._1).map { case (id, ks) =>
      val nk = ks.count(_._2)
      (id, ks.size.toLong, nk.toLong, r6(nk.toDouble / ks.size),
        ks.filter(_._2).map(_._3.length.toLong).sum)
    }.toSet
    assert(out.toSet == expect,
      s"segment dedup mismatch, e.g. ${(out.toSet -- expect).take(2)}")
    // global invariant: total kept == distinct segments in the corpus
    assert(out.map(_._3).sum == segs.map(_._3).distinct.size.toLong)
  }

  test("modularity: matches in-memory recomputation from edges + LPA labels; Q in [-1, 1]") {
    val out = Graph.modularity(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val edges = Graph.coOccurrenceEdges(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = Graph.labelPropagation(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val m = edges.length.toDouble
    val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.length.toLong }
    val expect = labels.groupBy(_._2).map { case (c, members) =>
      val nodes = members.keySet
      val ein = edges.count(e => nodes(e._1) && nodes(e._2) &&
        labels(e._1) == labels(e._2)).toLong
      val dtot = nodes.toSeq.map(deg).sum
      val mL = BigInt(edges.length)
      (c, nodes.size.toLong, ein, dtot,
        halfUp6(4 * mL * ein - BigInt(dtot) * dtot, 4 * mL * mL))
    }.toSet
    assert(out.toSet == expect,
      s"modularity mismatch, e.g. ${(out.toSet -- expect).take(2)}")
    val q = out.map(_._5).sum
    assert(q >= -1.0 && q <= 1.0, s"Q=$q out of range")
  }

  test("audioEnergy: matches in-memory RMS over 64-byte frames; partial frames dropped") {
    val out = Multimodal.audioEnergy(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.flatMap { case (id, t) =>
      val nf = t.length / 64
      if (nf == 0) None else {
        val rms = (0 until nf).map { f =>
          val fx = t.substring(f * 64, f * 64 + 64)
          val e = (0 until 32).map { i =>
            val s = (fx.charAt(2 * i).toInt * 256 + fx.charAt(2 * i + 1).toInt).toDouble
            s * s
          }.sum
          r6(math.sqrt(e / 32))
        }
        Some((id, nf.toLong, halfUp6(rms.map(micro).sum, BigInt(nf) * 1000000),
          r6(rms.max),
          halfUp6(BigInt(rms.count(_ < 25500)), BigInt(nf))))
      }
    }.toSet
    assert(out.toSet == expect,
      s"audio energy mismatch, e.g. ${(out.toSet -- expect).take(2)}")
    // docs shorter than one frame are excluded, not zero-row'd
    assert(out.length == expect.size)
  }

  test("annIvfPqResidual: dense top-5 per probe, candidates confined to routed cells") {
    val out = Similarity.annIvfPqResidual(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (p, rows) =>
      assert(rows.length == 5, s"probe $p: ${rows.length} rows")
      val byRk = rows.sortBy(_._4)
      assert(byRk.map(_._4).toSeq == (1L to 5L), s"probe $p rk not dense")
      byRk.sliding(2).foreach { case Array(a, b) =>
        assert(a._3 <= b._3, s"probe $p adist not non-decreasing")
      }
      assert(rows.forall(_._2 != p), s"probe $p returned itself")
    }
    // candidates must come from the probe's 2 nearest trained cells
    val (cent, assign) = Similarity.trainedIndex(spark, sf0001)
    val cells = assign.select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cvs = cent.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val vs = assign.select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val routed = out.map(_._1).distinct.map { p =>
      p -> cvs.toSeq.map { case (c, cv) => (r6(l2(vs(p), cv)), c) }
        .sorted.take(2).map(_._2).toSet
    }.toMap
    out.foreach { case (p, v, _, _) =>
      assert(routed(p).contains(cells(v)),
        s"probe $p candidate $v in cell ${cells(v)}, routed ${routed(p)}")
    }
  }
}
