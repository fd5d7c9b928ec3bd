package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.operators.Relational

/** Round-9 batch 6: Lorenz deciles and the shingle df profile,
  * checked against in-memory recomputation at sf0.001. */
class QualityOpsR9fSpec extends SparkSpec {

  test("qLorenzDeciles: matches in-memory curve; cum_share monotone to 1.0") {
    val out = Relational.qLorenzDeciles(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val spend = Tables.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val ranked = spend.toSeq.sortBy { case (c, s) => (s, c) }
    val n = ranked.size
    val (base, rem) = (n / 10, n % 10)
    val byDecile = ranked.zipWithIndex.groupBy { case (_, idx) =>
      if (idx < (base + 1) * rem) idx / (base + 1)
      else rem + (idx - (base + 1) * rem) / base
    }
    val t6 = spend.values.map(s => (s * 1000000).toBigInt).sum
    var c6 = BigInt(0)
    val expect = byDecile.toSeq.sortBy(_._1).map { case (d, xs) =>
      val s6 = xs.map { case ((_, s), _) => (s * 1000000).toBigInt }.sum
      c6 += s6
      ((d + 1).toLong, xs.size.toLong,
        (BigDecimal(s6) / 1000000).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
        ((s6 * 2 * 1000000 + t6) / (t6 * 2)).toDouble / 1e6,
        ((c6 * 2 * 1000000 + t6) / (t6 * 2)).toDouble / 1e6)
    }
    assert(out.toSeq == expect)
    assert(out.last._5 == 1.0)
    assert(out.map(_._5).toSeq == out.map(_._5).toSeq.sorted)
  }

  test("shingleDfProfile: matches in-memory df histogram; postings sum to fan-out") {
    val out = Dedup.shingleDfProfile(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    val docs = Tables.documents(spark, sf0001)
      .select(col("text")).collect().map(_.getString(0))
    // df keyed on the same 60-bit md5-prefix hash the operator uses
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val df = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    docs.foreach { t =>
      val toks = "\\S+".r.findAllIn(t).toSeq
      val sh = if (toks.size >= 3)
        (0 to toks.size - 3).map(i => s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}").distinct
      else Seq(t)
      sh.foreach(s => df(h60(s)) += 1)
    }
    // 1 << bitLength(d−1), with the op's bin("0")-has-length-1 convention
    def bkt(d: Long): Long = 1L << (64 - java.lang.Long.numberOfLeadingZeros(math.max(d - 1, 0)))
    val grouped = df.values.groupBy(d => if (d == 1) 2L else bkt(d))
    val ts = df.size.toLong
    val tp = df.values.sum
    val expect = grouped.toSeq.map { case (b, ds) =>
      val nsh = ds.size.toLong; val np = ds.sum
      (b, nsh, np,
        ((2 * nsh * 1000000L + ts) / (2 * ts)).toDouble / 1e6,
        ((2 * np * 1000000L + tp) / (2 * tp)).toDouble / 1e6)
    }.sortBy(_._1)
    assert(out.toSeq == expect)
    assert(out.map(_._3).sum == tp)
  }
}
