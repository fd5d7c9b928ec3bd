package graft

import org.apache.spark.sql.functions._

import graft.etl.EventsEtl

/** Round-9 batch 4: bounce rate, funnel window sweep, power-user
  * concentration. Each checked against an independent in-memory
  * recomputation at sf0.001. */
class QualityOpsR9dSpec extends SparkSpec {

  private def events(): Array[(Long, String, Long, Long)] =
    Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type"),
        expr("CAST(unix_timestamp(ts) AS BIGINT)"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))

  test("bounceRate: matches in-memory sessionization; bounces <= sessions") {
    val out = EventsEtl.bounceRate(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val sessions = events().groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._3, e._4))
      val sess = collection.mutable.ArrayBuffer[collection.mutable.ArrayBuffer[Long]]()
      var prev = Long.MinValue
      sorted.foreach { e =>
        if (sess.isEmpty || e._3 - prev > 1800) sess += collection.mutable.ArrayBuffer(e._3)
        else sess.last += e._3
        prev = e._3
      }
      sess.map(s => (s.min / 86400, s.size))
    }.toSeq
    val expect = sessions.groupBy(_._1).map { case (d, xs) =>
      val n = xs.size.toLong
      val b = xs.count(_._2 == 1).toLong
      d -> (n, b, ((2 * b * 1000000L + n) / (2 * n)).toDouble / 1e6)
    }
    assert(out == expect)
    out.values.foreach { case (n, b, _) => assert(b <= n) }
  }

  test("funnelWindowSweep: 4h point equals windowFunnel; levels monotone in window") {
    val sweep = EventsEtl.funnelWindowSweep(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val funnel = EventsEtl.windowFunnel(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    funnel.foreach { case (lvl, n) => assert(sweep((4L, lvl)) == n) }
    // deep-level reach can only grow with the window; level-0+1 mass
    // shifts down (total is constant)
    val l3 = Seq(1L, 4L, 24L).map(h => sweep.getOrElse((h, 3L), 0L))
    assert(l3 == l3.sorted)
    val totals = Seq(1L, 4L, 24L).map(h =>
      sweep.collect { case ((`h`, _), n) => n }.sum).distinct
    assert(totals.size == 1)
  }

  test("powerUsers: matches in-memory Pareto cut") {
    val out = EventsEtl.powerUsers(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val counts = events().groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ranked = counts.toSeq.sortBy { case (u, n) => (-n, u) }
    val tot = counts.values.sum
    val nU = counts.size.toLong
    val expect = Seq(1L, 5L, 10L).map { p =>
      val cut = ((nU * p + 99) / 100).toInt
      val top = ranked.take(cut)
      val te = top.map(_._2).sum
      p -> (top.size.toLong, te, ((2 * te * 1000000L + tot) / (2 * tot)).toDouble / 1e6)
    }.toMap
    assert(out == expect)
  }
}
