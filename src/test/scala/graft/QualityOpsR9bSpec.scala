package graft

import org.apache.spark.sql.functions._

import graft.ops.{Graph, Multimodal, TextAnalysis}
import graft.operators.Relational

/** Round-9 batch 2: silence trimming, decoded-pixel luminance
  * histogram, rich-club curve, per-nation HHI, spend-quintile
  * migration, RAKE keywords. Each checked against an independent
  * in-memory recomputation at sf0.001. */
class QualityOpsR9bSpec extends SparkSpec {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def docs(): Array[(Long, String)] =
    Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))

  /** The operator's frame RMS, recomputed scalar-style. */
  private def frameRms(text: String): Seq[Double] = {
    val nf = text.length / 64
    (0 until nf).map { f =>
      val fx = text.substring(f * 64, f * 64 + 64)
      val ss = (0 until 32).map { i =>
        val v = fx.charAt(2 * i).toInt * 256 + fx.charAt(2 * i + 1).toInt
        v.toDouble * v
      }.sum
      r6(math.sqrt(ss / 32))
    }
  }

  test("silenceTrim: matches scalar recompute; trimmed + kept spans reconcile") {
    val out = Multimodal.silenceTrim(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val expect = docs().filter(_._2.length >= 64).map { case (id, text) =>
      val rms = frameRms(text)
      val act = rms.zipWithIndex.filter(_._1 >= 25500.0).map(_._2)
      val (fa, la) = if (act.isEmpty) (-1L, -1L) else (act.min.toLong, act.max.toLong)
      val trimmed = if (act.isEmpty) rms.size.toLong else rms.size - (la - fa + 1)
      id -> (rms.size.toLong, fa, la, trimmed)
    }.toMap
    assert(out == expect)
    out.foreach { case (_, (nf, fa, la, tr)) =>
      val kept = if (fa < 0) 0L else la - fa + 1
      assert(kept + tr == nf)
    }
  }

  test("imageHistogram: matches the pixel-formula histogram; 1024 px per doc") {
    val out = Multimodal.imageHistogram(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ids = docs().map(_._1)
    val expect = ids.flatMap { id =>
      Multimodal.PHash.pixelGrid(id).groupBy(_ / 16)
        .map { case (b, px) => (id, b.toLong) -> px.length.toLong }
    }.toMap
    assert(out == expect)
    out.groupBy(_._1._1).values.foreach(bins => assert(bins.values.sum == 1024L))
  }

  test("richClub: matches in-memory density curve; phi within [0, 1]") {
    val out = Graph.richClub(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val items = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = items.groupBy(_._1).values.flatMap { grp =>
      val pks = grp.map(_._2).distinct.sorted
      for (i <- pks.indices; j <- i + 1 until pks.size) yield (pks(i), pks(j))
    }.toSet
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val expect = Seq(2L, 4L, 8L, 16L).map { k =>
      val rich = deg.filter(_._2 > k).keySet
      val nn = rich.size.toLong
      val ne = edges.count(e => rich(e._1) && rich(e._2)).toLong
      val phi = if (nn < 2) 0.0
        else ((2 * ne * 2 * 1000000L + nn * (nn - 1)) / (2 * nn * (nn - 1))).toDouble / 1e6
      k -> (nn, ne, phi)
    }.toMap
    assert(out == expect)
    out.values.foreach { case (_, _, phi) => assert(phi >= 0.0 && phi <= 1.0) }
  }

  test("qHhiConcentration: matches BigDecimal recompute; HHI bounded by (1/n, 1]") {
    val out = Relational.qHhiConcentration(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val li = Tables.lineitem(spark, sf0001)
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount")).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getDouble(1), r.getDouble(2)))
    val sup = Tables.supplier(spark, sf0001)
      .select(col("s_suppkey"), col("s_nationkey")).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toMap
    val nat = Tables.nation(spark, sf0001)
      .select(col("n_nationkey"), col("n_name")).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1))).toMap
    val rev = li.groupBy(_._1).map { case (s, xs) =>
      s -> xs.map { case (_, p, d) =>
        (BigDecimal(p).setScale(2) * (BigDecimal(1) - BigDecimal(d).setScale(4)))
      }.sum
    }
    val expect = rev.groupBy { case (s, _) => nat(sup(s)) }.map { case (name, xs) =>
      val cs = xs.values.map(v => (v * 1000000).toBigInt).toSeq
      val t = cs.sum
      val s2 = cs.map(c => c * c).sum
      val hhi = ((s2 * 2 * 1000000 + t * t) / (t * t * 2)).toDouble / 1e6
      name -> (xs.size.toLong,
        (BigDecimal(t) / 1000000).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
        hhi)
    }
    assert(out == expect)
    out.foreach { case (_, (n, _, hhi)) =>
      assert(hhi <= 1.0 && hhi > 1.0 / (n + 1))
    }
  }

  test("qBucketMigration: matches in-memory ntile migration; rows reconcile") {
    val out = Relational.qBucketMigration(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val yearly = Tables.orders(spark, sf0001)
      .select(col("o_custkey"), year(col("o_orderdate")).cast("long"),
        col("o_totalprice")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), BigDecimal(r.getDouble(2)).setScale(2)))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    // SQL ntile: first (n mod 5) buckets take ceil(n/5) rows
    def buckets(year: Long): Map[Long, Long] = {
      val rows = yearly.filter(_._1._2 == year).toSeq
        .map { case ((c, _), s) => (s, c) }.sortBy(identity)
      val n = rows.size
      rows.zipWithIndex.map { case ((_, c), idx) =>
        val base = n / 5; val rem = n % 5
        val b = if (idx < (base + 1) * rem) idx / (base + 1)
          else rem + (idx - (base + 1) * rem) / base
        c -> (b + 1).toLong
      }.toMap
    }
    val years = yearly.keys.map(_._2).toSeq.distinct.sorted
    val expect = years.dropRight(1).flatMap { y =>
      val cur = buckets(y); val nxt = buckets(y + 1)
      cur.toSeq.map { case (c, b) => (b, nxt.getOrElse(c, 0L)) }
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(out == expect)
    assert(out.values.sum ==
      yearly.keys.count(_._2 < years.max).toLong)
  }

  test("rakeKeywords: matches in-memory phrase scoring") {
    val out = TextAnalysis.rakeKeywords(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val stop = Set("the", "a", "of", "and", "to", "in")
    val stats = collection.mutable.Map[String, (Long, Long)]()
    docs().foreach { case (_, text) =>
      val toks = "[a-z]+".r.findAllIn(text.toLowerCase).toSeq
      // phrases = maximal runs of non-stop tokens
      val phrases = collection.mutable.ArrayBuffer[Seq[String]]()
      var cur = collection.mutable.ArrayBuffer[String]()
      toks.foreach { t =>
        if (stop(t)) { if (cur.nonEmpty) { phrases += cur.toSeq; cur = collection.mutable.ArrayBuffer() } }
        else cur += t
      }
      if (cur.nonEmpty) phrases += cur.toSeq
      phrases.foreach { p =>
        p.foreach { w =>
          val (f, d) = stats.getOrElse(w, (0L, 0L))
          stats(w) = (f + 1, d + p.size)
        }
      }
    }
    val expect = stats.toSeq.map { case (w, (f, d)) =>
      (w, f, d, ((2 * d * 1000000L + f) / (2 * f)).toDouble / 1e6)
    }.sortBy { case (w, _, _, s) => (-s, w) }.take(25)
    assert(out.toSeq == expect)
  }
}
