package graft

import org.apache.spark.sql.functions._

import graft.etl.EventsEtl
import graft.ops.{Graph, Multimodal, Pipeline, Similarity}

/** Round-9 additions: windowFunnel, first/last-touch attribution,
  * 4-cycle census, JL random-projection distortion, order-independent
  * dataset fingerprint, and per-shot keyframes. Each checked against an
  * independent in-memory recomputation at sf0.001. */
class QualityOpsR9Spec extends SparkSpec {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def events(): Array[(Long, String, java.sql.Timestamp, Long)] =
    Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getLong(3)))

  test("windowFunnel: matches in-memory chain search; levels partition the users") {
    val out = EventsEtl.windowFunnel(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = events()
    val W = 4L * 3600 * 1000 // 4 hours in millis
    val byUser = ev.groupBy(_._1)
    val levels = byUser.map { case (u, es) =>
      val v = es.filter(_._2 == "view").map(_._3.getTime).sorted
      val c = es.filter(_._2 == "click").map(_._3.getTime).sorted
      val p = es.filter(_._2 == "purchase").map(_._3.getTime).sorted
      val l3 = v.exists(t1 => c.exists(t2 => t2 > t1 && t2 <= t1 + W &&
        p.exists(t3 => t3 > t2 && t3 <= t1 + W)))
      val l2 = v.exists(t1 => c.exists(t2 => t2 > t1 && t2 <= t1 + W))
      u -> (if (l3) 3L else if (l2) 2L else if (v.nonEmpty) 1L else 0L)
    }
    val expect = levels.groupBy(_._2).map { case (l, us) => l -> us.size.toLong }
    assert(out == expect, s"funnel mismatch: $out vs $expect")
    assert(out.values.sum == byUser.size.toLong)
  }

  test("attribution: matches in-memory bookends; both models total the purchase count") {
    val out = EventsEtl.attribution(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val ev = events()
    val W = 7L * 86400 * 1000
    val buys = ev.filter(_._2 == "purchase")
    val touches = ev.filter(e => e._2 == "view" || e._2 == "click")
    val rows = buys.flatMap { case (u, _, pt, _) =>
      val cand = touches.filter(t => t._1 == u && t._3.getTime < pt.getTime &&
        t._3.getTime >= pt.getTime - W)
      if (cand.isEmpty) Seq("first_touch" -> "none", "last_touch" -> "none")
      else {
        val first = cand.minBy(t => (t._3.getTime, t._4))
        val last = cand.maxBy(t => (t._3.getTime, t._4))
        Seq("first_touch" -> first._2, "last_touch" -> last._2)
      }
    }
    val expect = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(out == expect, s"attribution mismatch: $out vs $expect")
    Seq("first_touch", "last_touch").foreach { m =>
      assert(out.collect { case ((`m`, _), n) => n }.sum == buys.length.toLong)
    }
  }

  test("squareCount: diagonals match in-memory common-neighbor census; total is half-sum") {
    val out = Graph.squareCount(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val items = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") >= 40)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = items.groupBy(_._1).values.flatMap { grp =>
      val pks = grp.map(_._2).distinct.sorted
      for (i <- pks.indices; j <- i + 1 until pks.size) yield (pks(i), pks(j))
    }.toSet
    val adj = edges.toSeq.flatMap(e => Seq(e, (e._2, e._1)))
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val diag = (for {
      (x, nx) <- adj.toSeq
      y <- adj.keys if x < y
      cn = (nx & adj(y)).size if cn >= 2
    } yield (x, y, cn.toLong)).sortBy(d => (-d._3, d._1, d._2))
    val expectTop = diag.take(15)
      .map(d => (d._1, d._2, d._3, d._3 * (d._3 - 1) / 2)).toSet
    val totalRow = out.find(r => r._1 == -1L && r._2 == -1L).get
    assert(out.filter(r => r._1 != -1L).toSet == expectTop)
    assert(totalRow._3 == diag.size.toLong)
    assert(totalRow._4 == diag.map(d => d._3 * (d._3 - 1) / 2).sum / 2)
  }

  test("randomProjection: cos_full matches in-memory cosine; projection preserves geometry") {
    val out = Similarity.randomProjection(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(out.length == 190) // C(20,2)
    val vecs = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    out.foreach { case (a, b, cf, cp, err) =>
      assert(math.abs(cf - r6(cos(vecs(a), vecs(b)))) < 1e-9, s"pair ($a,$b)")
      assert(cp >= -1.000001 && cp <= 1.000001)
      assert(math.abs(err - r6(math.abs(cf - cp))) < 1e-9)
    }
    // JL with k=16: mean distortion should be small on real vectors
    val meanErr = out.map(_._5).sum / out.length
    assert(meanErr < 0.35, s"mean distortion $meanErr implausibly large")
  }

  test("datasetHash: matches in-memory fold; order/partitioning independent by construction") {
    val out = Pipeline.datasetHash(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def fold(id: Long, text: String): BigInt = {
      md.reset()
      val hex = md.digest(s"$id|$text".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      BigInt(hex, 16)
    }
    val modv = BigInt("1152921504606846976")
    val bySource = docs.groupBy(_._3)
    bySource.foreach { case (src, ds) =>
      val fp = (ds.map(d => fold(d._1, d._2)).sum % modv).toLong
      assert(out(src) == ((ds.length.toLong, ds.map(_._4).sum, fp)), s"source $src")
    }
    val fpAll = (docs.map(d => fold(d._1, d._2)).sum % modv).toLong
    assert(out("ALL") == ((docs.length.toLong, docs.map(_._4).sum, fpAll)))
    // permutation invariance of the fold itself
    assert((docs.reverse.map(d => fold(d._1, d._2)).sum % modv).toLong == fpAll)
  }

  test("shotKeyframes: shots tile the frame stream; keyframe is the shot's max-RMS frame") {
    val out = Multimodal.shotKeyframes(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.flatMap { case (id, t) =>
      val nf = t.length / 64
      if (nf == 0) Nil else {
        val rms = (0 until nf).map { f =>
          val fx = t.substring(f * 64, f * 64 + 64)
          r6(math.sqrt((0 until 32).map { i =>
            val s = (fx.charAt(2 * i).toInt * 256 + fx.charAt(2 * i + 1).toInt).toDouble
            s * s
          }.sum / 32))
        }
        val cuts = (0 until nf).map(f =>
          if (f > 0 && math.abs(rms(f) - rms(f - 1)) > 2000.0) 1 else 0)
        val shotIds = cuts.scanLeft(0)(_ + _).tail
        (0 until nf).groupBy(shotIds(_)).toSeq.map { case (shot, fs) =>
          val key = fs.minBy(f => (-rms(f), f))
          (id, shot.toLong, fs.size.toLong, key.toLong, rms(key))
        }
      }
    }.toSet
    assert(out.toSet == expect,
      s"keyframe mismatch, e.g. ${(out.toSet -- expect).take(2)}")
    // shots tile: per doc, shot frame counts sum to the frame count
    val byDoc = out.groupBy(_._1)
    docs.foreach { case (id, t) =>
      val nf = t.length / 64
      if (nf > 0) assert(byDoc(id).map(_._3).sum == nf.toLong)
    }
  }
}
