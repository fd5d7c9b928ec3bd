package graft

import org.apache.spark.sql.functions._

import graft.etl.EventsEtl
import graft.ops.{Pipeline, Similarity, TextAnalysis}
import graft.operators.Relational

/** Round-9 batch 3: growth-accounting lifecycle, compression proxy,
  * cosine calibration histogram, part-growth top-k, per-source dup
  * rate. Each checked against an independent in-memory recomputation
  * at sf0.001. */
class QualityOpsR9cSpec extends SparkSpec {

  test("userLifecycle: matches in-memory growth accounting; states partition activity") {
    val out = EventsEtl.userLifecycle(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val ud = Tables.events(spark, sf0001)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val maxDay = ud.map(_._2).max
    val byUser = ud.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val states = collection.mutable.Map[(Long, String), Long]().withDefaultValue(0L)
    byUser.values.foreach { days =>
      days.zipWithIndex.foreach { case (d, i) =>
        val st = if (i == 0) "new"
          else if (d - days(i - 1) > 7) "resurrected" else "retained"
        states((d, st)) += 1
        val gapAfter = if (i == days.size - 1) Long.MaxValue else days(i + 1) - d
        if (gapAfter > 7 && d + 8 <= maxDay) states((d + 8, "churned")) += 1
      }
    }
    val expect = states.keys.map(_._1).toSeq.distinct.map { d =>
      d -> (states((d, "new")), states((d, "retained")),
        states((d, "resurrected")), states((d, "churned")))
    }.toMap
    assert(out == expect)
    // every (user, active day) lands in exactly one of the 3 states
    assert(out.values.map(v => v._1 + v._2 + v._3).sum == ud.length.toLong)
  }

  test("compressionProxy: matches in-memory 4-gram diversity") {
    val out = TextAnalysis.compressionProxy(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sf0001)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .filter(_._2.length >= 4)
    val expect = docs.groupBy(_._1).map { case (src, xs) =>
      val rs = xs.map { case (_, t) =>
        val n4 = (t.length - 3).toLong
        val d4 = (0 to t.length - 4).map(i => t.substring(i, i + 4)).distinct.size.toLong
        (n4, d4, (2 * d4 * 1000000L + n4) / (2 * n4))
      }
      val s6 = rs.map(_._3).sum
      val n = rs.size.toLong
      src -> (n, ((2 * s6 + n) / (2 * n)).toDouble / 1e6,
        rs.count { case (n4, d4, _) => d4 * 5 < n4 }.toLong)
    }
    assert(out == expect)
  }

  test("cosineCalibration: matches in-memory histogram; shares sum to ~1") {
    val out = Similarity.cosineCalibration(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // the constant-size sample: 300 smallest md5(vec_id) — recompute
    // the rank in memory so the spec pins the SAMPLE, not just the math
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): String = {
      md.reset()
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val vs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(t => h(t._1)).take(300).sortBy(_._1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val bins = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for (i <- vs.indices; j <- i + 1 until vs.length) {
      val (a, b) = (vs(i)._2, vs(j)._2)
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      val c6 = (r6(dot / (na * nb)) * 1000000).toLongExact
      bins((c6 + 1000000L) / 100000L) += 1
    }
    val tot = bins.values.sum
    val expect = bins.map { case (b, n) =>
      b -> (n, ((2 * n * 1000000L + tot) / (2 * tot)).toDouble / 1e6)
    }.toMap
    assert(out == expect)
    val shareSum = out.values.map(_._2).sum
    assert(math.abs(shareSum - 1.0) < 1e-4)
  }

  test("qPartGrowthTopk: matches BigDecimal recompute incl. negative growth rounding") {
    val out = Relational.qPartGrowthTopk(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val li = Tables.lineitem(spark, sf0001)
      .select(col("l_partkey"), year(col("l_shipdate")).cast("long"),
        col("l_extendedprice"), col("l_discount")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        BigDecimal(r.getDouble(2)).setScale(2) *
          (BigDecimal(1) - BigDecimal(r.getDouble(3)).setScale(4))))
    val rev = li.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val growth = rev.toSeq.flatMap { case ((pk, yr), r) =>
      rev.get((pk, yr - 1)).map { prev =>
        val n6 = ((r - prev) * 1000000).toBigInt
        val d6 = (prev * 1000000).toBigInt
        val g6 = if (n6 >= 0) (n6 * 2 * 1000000 + d6) / (d6 * 2)
          else -(((-n6) * 2 * 1000000 + d6) / (d6 * 2))
        (pk, yr,
          r.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
          prev.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
          g6.toDouble / 1e6)
      }
    }
    val expect = growth.sortBy { case (pk, yr, _, _, g) => (-g, pk, yr) }.take(15)
    assert(out.toSeq == expect)
  }

  test("sourceDupRate: reconciles with components labels and doc counts") {
    val out = Pipeline.sourceDupRate(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    val labels = graft.ops.Dedup.components(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.groupBy(_._2).map { case (src, xs) =>
      val n = xs.size.toLong
      val cl = xs.count(d => labels.contains(d._1)).toLong
      val rm = xs.count(d => labels.get(d._1).exists(_ != d._1)).toLong
      src -> (n, cl, rm, ((2 * rm * 1000000L + n) / (2 * n)).toDouble / 1e6)
    }
    assert(out == expect)
    // canonical members stay: removable < clustered for any real cluster
    out.values.foreach { case (n, cl, rm, _) => assert(rm <= cl && cl <= n) }
  }
}
