package graft

import org.apache.spark.sql.functions._

/** Round-8 third batch: robust MAD anomaly fence. */
class QualityOpsR8cSpec extends SparkSpec {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // exact interpolated median, mirroring percentile(x, 0.5) / quantile_cont
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  test("anomalyMad: matches in-memory median/MAD recomputation with the 3*1.4826 fence") {
    val out = graft.etl.EventsEtl.anomalyMad(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    assert(out.nonEmpty, "no event types at sf0.001")
    val ev = Tables.events(spark, sf0001)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val expect = ev.groupBy(_._1).map { case (t, rows) =>
      val vs = rows.map(_._2).toSeq
      val med = median(vs)
      val adevs = vs.map(v => math.abs(v - med))
      val mad = median(adevs)
      val n_anom = adevs.count(_ > mad * 4.4478).toLong
      (t, vs.size.toLong, r6(med), r6(mad), n_anom)
    }.toSet
    assert(out.toSet == expect,
      s"MAD profile mismatch, e.g. ${(out.toSet -- expect).take(2)} vs ${(expect -- out.toSet).take(2)}")
    // the fence must be robust: anomalies are a strict minority per type
    out.foreach { case (t, n, _, _, anom) =>
      assert(anom * 2 < n, s"type $t flags $anom of $n — median/MAD would be poisoned")
    }
  }

  test("benfordAudit: digits cover 1..9, fractions sum to 1, expectations are Benford") {
    val out = graft.etl.EventsEtl.benfordAudit(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(out.map(_._1).toSeq == (1L to 9L), "all nine digits must appear in order")
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-4, "observed fractions must sum to 1")
    out.foreach { case (d, n, obs, ben, dev) =>
      assert(n > 0)
      assert(r6(math.log10(1.0 + 1.0 / d)) == ben, s"digit $d expectation")
      assert(r6(math.abs(obs - ben)) == dev, s"digit $d deviation arithmetic")
    }
    // in-memory recompute of the digit histogram
    val vals = Tables.events(spark, sf0001).select(abs(col("value")).as("a"))
      .filter(col("a") > 0).collect().map(_.getDouble(0))
    val expect = vals.groupBy { v =>
      math.min(9L, math.max(1L,
        math.floor(v * math.pow(10, -math.floor(math.log10(v)))).toLong))
    }.map { case (d, vs) => d -> vs.length.toLong }
    assert(out.map(t => t._1 -> t._2).toMap == expect, "digit histogram mismatch")
  }

  test("sceneCut: shot accounting is consistent and matches the frame-RMS recomputation") {
    val out = graft.ops.Multimodal.sceneCut(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.nonEmpty)
    out.foreach { case (id, nf, cuts, shots, msl) =>
      assert(shots == cuts + 1, s"doc $id shots != cuts+1")
      assert(cuts < nf, s"doc $id more cuts than frame transitions")
      assert(r6(nf.toDouble / shots) == msl, s"doc $id mean shot length")
    }
    assert(out.map(_._3).sum > 0, "corpus should contain some multi-shot docs")
    // in-memory RMS chain for a sample of docs
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).take(20)
    val expect = docs.flatMap { case (id, t) =>
      val nf = t.length / 64
      if (nf == 0) None else {
        val rms = (0 until nf).map { f =>
          val fx = t.substring(f * 64, f * 64 + 64)
          val s = (0 until 32).map { i =>
            val x = (fx.charAt(2 * i).toInt * 256 + fx.charAt(2 * i + 1).toInt).toDouble
            x * x
          }.sum
          r6(math.sqrt(s / 32))
        }
        val cuts = rms.sliding(2).count { case Seq(a, b) => math.abs(b - a) > 2000.0 }
        Some((id, nf.toLong, cuts.toLong))
      }
    }.toSet
    assert(out.map(t => (t._1, t._2, t._3)).filter(x => expect.exists(_._1 == x._1)).toSet == expect,
      "frame/cut recomputation mismatch on the sampled docs")
  }

  test("assortativity: matches an in-memory Pearson over symmetrized edge degrees") {
    val Array(row) = graft.ops.Graph.assortativity(spark, sf0001).collect()
    val (ne, med, r) = (row.getLong(0), row.getDouble(1), row.getDouble(2))
    val edges = graft.ops.Graph.coOccurrenceEdges(spark, sf0001).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val sym = edges ++ edges.map(e => (e._2, e._1))
    val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.length.toDouble }
    assert(ne == edges.length.toLong, "undirected edge count")
    val ends = sym.map { case (u, v) => (deg(u), deg(v)) }
    assert(r6(ends.map(_._1).sum / ends.length) == med, "mean endpoint degree")
    val mx = ends.map(_._1).sum / ends.length
    val my = ends.map(_._2).sum / ends.length
    val cov = ends.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sx = math.sqrt(ends.map { case (x, _) => (x - mx) * (x - mx) }.sum)
    val sy = math.sqrt(ends.map { case (_, y) => (y - my) * (y - my) }.sum)
    assert(math.abs(cov / (sx * sy) - r) < 1e-5, s"assortativity ${cov / (sx * sy)} vs $r")
    // symmetrized edge ends: x- and y-degree sequences are identical,
    // so the coefficient is symmetric and bounded
    assert(r >= -1.0 && r <= 1.0)
  }

  test("paddingWaste: buckets are powers of two, docs fit their bucket, totals reconcile") {
    val out = graft.ops.Pipeline.paddingWaste(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.nonEmpty)
    val lens = Tables.documents(spark, sf0001).select(col("n_chars"))
      .filter(col("n_chars") > 0).collect().map(_.getLong(0))
    assert(out.map(_._2).sum == lens.length, "every doc lands in exactly one bucket")
    assert(out.map(_._3).sum == lens.sum, "char mass is conserved")
    out.foreach { case (pad, nd, sc, pc, waste) =>
      assert((pad & (pad - 1)) == 0L && pad >= 2, s"bucket $pad not a power of two")
      assert(pc == nd * pad)
      assert(sc <= pc, "docs must fit their bucket")
      assert(sc > nd * pad / 2 || pad == 2, s"bucket $pad holds a doc below half-capacity")
      assert(r6(1.0 - sc.toDouble / pc) == waste)
    }
    // per-doc bucket law: smallest power of two >= n_chars
    val expect = lens.groupBy { n =>
      var p = 2L; while (p < n) p *= 2; p
    }.map { case (p, vs) => p -> vs.length.toLong }
    assert(out.map(t => t._1 -> t._2).toMap == expect, "bucket histogram mismatch")
  }

  private def embeds(sf: String): Array[(Long, Long, Array[Double])] =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))

  test("annRangeSearch: exactly the pairs above the radius, counts consistent, subsumes top-k hits") {
    val out = graft.ops.Similarity.annRangeSearch(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val es = embeds(sf0001)
    val probes = es.filter(_._1 < 8)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val expect = probes.flatMap { case (pid, _, pv) =>
      val pn = math.sqrt(dot(pv, pv))
      es.filter(_._1 != pid).flatMap { case (vid, _, v) =>
        val c = r6(dot(pv, v) / (pn * math.sqrt(dot(v, v))))
        if (c >= 0.3) Some((pid, vid, c)) else None
      }
    }
    assert(out.map(t => (t._1, t._2, t._3)).toSet == expect.toSet,
      "range hit set mismatch")
    // n_in_range is the per-probe hit count on every row
    out.groupBy(_._1).foreach { case (p, rows) =>
      assert(rows.forall(_._4 == rows.length), s"probe $p count column inconsistent")
    }
    assert(out.nonEmpty, "radius 0.3 should hit at sf0.001")
  }

  test("tripletMargin: margins match the hardest-pos/neg recomputation") {
    val out = graft.ops.Similarity.tripletMargin(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))
    val es = embeds(sf0001)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val expect = es.filter(_._1 < 25).map { case (pid, pl, pv) =>
      val pn = math.sqrt(dot(pv, pv))
      val cos = es.filter(_._1 != pid).map { case (_, l, v) =>
        (l, r6(dot(pv, v) / (pn * math.sqrt(dot(v, v)))))
      }
      val pos = r6(cos.filter(_._1 == pl).map(_._2).min)
      val neg = r6(cos.filter(_._1 != pl).map(_._2).max)
      (pid, pl, pos, neg, r6(pos - neg), pos - neg > 0)
    }.toSet
    assert(out.toSet == expect, s"triplet margin mismatch, e.g. ${(out.toSet -- expect).take(2)}")
  }

  test("qDecileLift: shares sum to 1, cumulative is monotone, lift averages to 1") {
    val out = graft.operators.Relational.qDecileLift(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(out.map(_._1).toSeq == (1L to 10L), "ten deciles in order")
    val nCust = Tables.orders(spark, sf0001).select(col("o_custkey")).distinct().count()
    assert(out.map(_._2).sum == nCust, "every purchasing customer in exactly one decile")
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-4, "revenue shares sum to 1")
    assert(math.abs(out.last._5 - 1.0) < 1e-6, "cumulative share ends at 1")
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b._5 >= a._5, "cumulative share monotone")
      assert(a._3 / a._2 >= b._3 / b._2 - 1e-6,
        s"decile ${a._1} mean spend should dominate decile ${b._1}")
    }
    out.foreach { case (d, _, rev, share, _, lift) =>
      // share and lift each round the UNROUNDED ratio independently
      assert(math.abs(share * 10.0 - lift) < 1e-5, s"decile $d lift arithmetic")
      assert(rev > 0)
    }
    assert(out.head._6 > 1.0, "top decile must over-index")
  }

  test("oovRate: matches an in-memory corpus-frequency recomputation") {
    val out = graft.ops.TextAnalysis.oovRate(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = docs.map { case (id, t) => id -> "\\S+".r.findAllIn(t).toSeq }
    val cf = toks.flatMap(_._2).groupBy(identity).map { case (w, ws) => w -> ws.length }
    val expect = toks.filter(_._2.nonEmpty).map { case (id, ts) =>
      val rare = ts.filter(w => cf(w) <= 2)
      (id, ts.length.toLong, rare.length.toLong, rare.distinct.length.toLong,
        r6(rare.length.toDouble / ts.length))
    }.toSet
    assert(out.toSet == expect,
      s"oov mismatch, e.g. ${(out.toSet -- expect).take(2)} vs ${(expect -- out.toSet).take(2)}")
    // the signal separates: some docs must be clean (low rare rate)
    assert(out.exists(_._5 < 0.5) || out.forall(_._5 == out.head._5),
      "rare rate should vary across a natural corpus")
  }

  test("dedupCascade: funnel conserves mass and agrees with the stage ops") {
    val out = graft.ops.Pipeline.dedupCascade(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.map(x => (x._1, x._2)).toSeq ==
      Seq((1L, "exact"), (2L, "minhash_lsh"), (3L, "semdedup")))
    val n0 = Tables.documents(spark, sf0001).count()
    assert(out.head._3 == n0, "stage 1 sees the whole corpus")
    out.foreach { case (_, st, nin, rm, nout, kept) =>
      assert(nout == nin - rm, s"$st mass conservation")
      assert(rm >= 0 && nout >= 0)
      assert(r6(nout.toDouble / n0) == kept, s"$st kept_frac arithmetic")
    }
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 == a._5, s"stage ${b._2} input must be stage ${a._2} output")
    }
    // stage flags agree with the constituent operators, run standalone
    val mhRemoved = graft.ops.Dedup.componentsMinLabel(spark, sf0001).collect()
      .count(r => r.getLong(1) != r.getLong(0)).toLong
    val exKept = Tables.documents(spark, sf0001)
      .groupBy(md5(col("text"))).agg(min(col("doc_id"))).count()
    assert(out.head._4 == n0 - exKept, "exact removals")
    // minhash removals in the cascade can only differ from standalone
    // by members already exact-removed
    assert(out(1)._4 <= mhRemoved, "cascade minhash removals bounded by standalone")
    val sdRemoved = graft.ops.Similarity.semDedup(spark, sf0001).count()
    assert(out(2)._4 <= sdRemoved, "cascade semdedup removals bounded by standalone")
  }
}
