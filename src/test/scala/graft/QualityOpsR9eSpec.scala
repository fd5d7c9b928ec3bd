package graft

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis
import graft.operators.Relational

/** Round-9 batch 5: weekday ANOVA, seasonal decomposition, code
  * detection. Each checked against an independent in-memory
  * recomputation at sf0.001. */
class QualityOpsR9eSpec extends SparkSpec {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("qWeekdayAnova: matches in-memory F computation; F > 0, eta in [0,1]") {
    val out = Relational.qWeekdayAnova(spark, sf0001).collect().head
    val xs = Tables.orders(spark, sf0001)
      .select(expr("(unix_timestamp(o_orderdate) div 86400) % 7"),
        col("o_totalprice")).collect()
      .map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(2)))
    // same wide-agg shape: exact decimal (n, Σx, Σx²) per dow, then
    // the identical fixed-order double expression
    val g = (0 until 7).map { d =>
      val v = xs.filter(_._1 == d).map(_._2)
      (v.size.toDouble, v.sum.toDouble, v.map(x => x * x).sum.toDouble)
    }
    val n = g.map(_._1).reduce(_ + _)
    val sx = g.map(_._2).reduce(_ + _)
    val sxx = g.map(_._3).reduce(_ + _)
    val ssb = g.map { case (nd, sxd, _) => sxd * sxd / nd }.reduce(_ + _)
    assert(out.getLong(0) == 7L && out.getLong(1) == n.toLong)
    assert(out.getDouble(2) == r6(ssb - sx * sx / n))
    assert(out.getDouble(3) == r6(sxx - ssb))
    assert(out.getDouble(4) == r6(((ssb - sx * sx / n) / 6.0) / ((sxx - ssb) / (n - 7.0))))
    assert(out.getDouble(5) == r6((ssb - sx * sx / n) / (sxx - sx * sx / n)))
    assert(out.getDouble(4) > 0 && out.getDouble(5) >= 0 && out.getDouble(5) <= 1)
  }

  test("qSeasonalDecompose: additive identity holds exactly; trend matches recompute") {
    val out = Relational.qSeasonalDecompose(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(out.nonEmpty)
    // revenue = trend + seasonal + residual, EXACTLY in the integer
    // micro-units underneath (each double is int/1e6, so ·1e6 and
    // rounding recovers the exact integers; summing the DIVIDED
    // doubles would reintroduce float error)
    out.foreach { case (_, rev, t, s, res) =>
      val rev6 = BigDecimal(rev).setScale(6).*(1000000).toBigInt
      val sum6 = Seq(t, s, res).map(x => math.round(x * 1e6)).sum
      assert(rev6 == sum6, s"identity broken: $rev6 vs $sum6")
    }
    val monthly = Tables.orders(spark, sf0001)
      .select(expr("CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)"),
        col("o_totalprice")).collect()
      .map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val mis = monthly.keys.toSeq.sorted
    val expectTrend = mis.drop(6).dropRight(6).map { mi =>
      // 13 consecutive months exist in the fixture; guard regardless
      val windowMis = (mi - 6) to (mi + 6)
      assert(windowMis.forall(monthly.contains))
      val s6 = windowMis.map(m => (monthly(m) * 1000000).toBigInt).sum
      mi -> ((s6 * 2 + 13) / 26).toDouble / 1e6
    }.toMap
    out.foreach { case (mi, _, t, _, _) => assert(t == expectTrend(mi)) }
    assert(out.map(_._1).toSet == expectTrend.keySet)
  }

  test("codeDetection: matches in-memory density screen") {
    val out = TextAnalysis.codeDetection(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val docs = Tables.documents(spark, sf0001)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1))).filter(_._2.nonEmpty)
    val expect = docs.groupBy(_._1).map { case (src, xs) =>
      val rs = xs.map { case (_, t) =>
        val len = t.length.toLong
        val sym = t.count("{}();=<>[]".contains(_)).toLong
        (len, sym, (2 * sym * 1000000L + len) / (2 * len))
      }
      val n = rs.size.toLong
      src -> (n, rs.count { case (len, sym, _) => sym * 20 >= len }.toLong,
        ((2 * rs.map(_._3).sum + n) / (2 * n)).toDouble / 1e6)
    }
    assert(out == expect)
  }
}
