package graft

import org.apache.spark.sql.functions._

/** Round-8 eighth batch: sign-bit recall, chi-squared independence,
  * length-bucketed batching, shard mixture KL, term burstiness,
  * b-bit minhash. */
class QualityOpsR8hSpec extends SparkSpec {

  test("bitsignRecall: recall in [0,1], n_exact = 10, identical-ranking sanity") {
    val out = graft.ops.Similarity.bitsignRecall(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 5, "one row per probe")
    out.foreach { case (_, hits, exact, rec) =>
      assert(exact == 10)
      assert(hits >= 0 && hits <= 10)
      assert(math.abs(rec - hits / 10.0) < 1e-9)
    }
    // sign bits carry signal: mean recall must beat a random-10-of-n draw
    val n = Tables.embeddings(spark, sf0001).count() - 1
    val randomBaseline = 10.0 / n
    val meanRec = out.map(_._4).sum / out.length
    assert(meanRec > randomBaseline * 3,
      s"mean recall $meanRec should beat random $randomBaseline")
  }

  test("qChi2Independence: matches in-memory chi-squared recompute") {
    val Array(row) = graft.operators.Relational.qChi2Independence(spark, sf0001).collect()
    val cells = Tables.orders(spark, sf0001)
      .join(Tables.customer(spark, sf0001), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority")).count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val segs = cells.keys.map(_._1).toSeq.distinct
    val pris = cells.keys.map(_._2).toSeq.distinct
    val n = cells.values.sum.toDouble
    val chi2 = cells.map { case ((s, p), o) =>
      val rt = cells.collect { case ((`s`, _), c) => c }.sum
      val ct = cells.collect { case ((_, `p`), c) => c }.sum
      val e = rt * ct / n
      BigDecimal((o - e) * (o - e) / e).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    assert(math.abs(row.getDouble(0) - chi2) < 1e-5, "chi2")
    assert(row.getLong(1) == (segs.length - 1).toLong * (pris.length - 1))
    assert(row.getLong(2) == n.toLong)
    val v = math.sqrt(chi2 / (n * math.min(segs.length - 1, pris.length - 1)))
    assert(math.abs(row.getDouble(3) - v) < 1e-5, "cramers v")
  }

  test("lengthBuckets: batch arithmetic is exact; docs conserved") {
    val out = graft.ops.Pipeline.lengthBuckets(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.nonEmpty)
    out.foreach { case (cap, nDocs, dpb, nBatches, waste) =>
      assert((cap & (cap - 1)) == 0, s"cap $cap is a power of two")
      assert(dpb == math.max(4096L / cap, 1L))
      assert(nBatches == (nDocs + dpb - 1) / dpb)
      assert(waste >= 0.0 && waste < 1.0)
    }
    val total = Tables.documents(spark, sf0001)
      .filter(size(expr(raw"regexp_extract_all(text, '\\S+', 0)")) > 0).count()
    assert(out.map(_._2).sum == total, "every doc lands in one bucket")
  }

  test("mixtureKl: KL >= 0, shards partition the corpus, matches recompute") {
    val out = graft.ops.Pipeline.mixtureKl(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.map(_._1).toSet.subsetOf((0L until 8L).toSet))
    out.foreach { case (_, n, kl, delta) =>
      assert(n > 0); assert(kl >= -1e-9, s"KL $kl >= 0"); assert(delta >= 0)
    }
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.map(_._2).sum == docs.length)
    // recompute one shard's KL
    def shardOf(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 8
    }
    val global = docs.groupBy(_._2).view.mapValues(_.length.toDouble / docs.length).toMap
    val s0 = docs.filter(d => shardOf(d._1) == out.head._1)
    val kl0 = s0.groupBy(_._2).map { case (src, g) =>
      val ps = g.length.toDouble / s0.length
      BigDecimal(ps * math.log(ps / global(src)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    assert(math.abs(out.head._3 - kl0) < 1e-5, "KL of first shard")
  }

  test("burstiness: function words are near-Poisson relative to content terms") {
    val out = graft.ops.TextAnalysis.burstiness(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.length <= 20 && out.nonEmpty)
    assert(out.map(_._2).toSeq == out.map(_._2).toSeq.sortBy(-_), "sorted by df desc")
    out.foreach { case (_, df, tf, mean, vmr) =>
      assert(tf >= df, "total count >= doc frequency")
      assert(mean > 0 && vmr >= 0)
    }
    // recompute one term in memory
    val (term, df, tf, mean, vmr) = out.head
    val texts = Tables.documents(spark, sf0001).select(col("text")).collect()
      .map(_.getString(0))
    val counts = texts.map(t => t.toLowerCase.split("\\s+").count(_ == term))
    assert(df == counts.count(_ > 0) && tf == counts.sum)
    val m = counts.sum.toDouble / texts.length
    val e2 = counts.map(c => c.toDouble * c).sum / texts.length
    assert(math.abs(mean - m) < 1e-5)
    assert(math.abs(vmr - (e2 - m * m) / m) < 1e-4)
  }

  test("bbitMinhash: b4 estimate clamped to [0,1]; full-width column matches est-error op") {
    val out = graft.ops.Dedup.bbitMinhash(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(out.nonEmpty)
    out.foreach { case (_, _, full, b4, exact, ef, eb) =>
      assert(b4 >= 0.0 && b4 <= 1.0)
      assert(math.abs(ef - math.abs(full - exact)) < 2e-6)
      assert(math.abs(eb - math.abs(b4 - exact)) < 2e-6)
    }
    val ref = graft.ops.Dedup.minhashEstError(spark, sf0001).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    out.foreach { case (a, b, full, _, _, _, _) =>
      assert(math.abs(ref((a, b)) - full) < 1e-9, s"full est of ($a,$b)")
    }
  }
}
