package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Pipeline, Similarity, TextAnalysis}

/** Round-8 second batch: MinHash estimator calibration, spherical
  * k-means, Flesch readability, curriculum ordering. */
class QualityOpsR8bSpec extends SparkSpec {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("minhashEstError: estimates are k=16 multiples, error arithmetic consistent, calibrated") {
    val out = Dedup.minhashEstError(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(out.nonEmpty, "no LSH candidates at sf0.001")
    out.foreach { case (a, b, est, exact, err) =>
      assert(a < b)
      // estimate is (agreeing positions)/16 — a multiple of 0.0625
      assert((est * 16).round / 16.0 == est, s"($a,$b) est $est not a /16 multiple")
      assert(est >= 0 && est <= 1 && exact >= 0 && exact <= 1)
      assert(math.abs(err - r6(math.abs(est - exact))) < 1e-9,
        s"($a,$b) abs_err $err != |est-exact|")
    }
    // calibration: k=16 stderr is √(J(1−J)/16) ≤ 0.125, but
    // LSH-SELECTED pairs are upward-biased (a pair is a candidate
    // BECAUSE a band collided, so low-J candidates over-represent
    // lucky signatures — measured mean 0.189 at sf0.001). Bound at
    // ~2.5 stderr; anything beyond that is a broken kernel, not bias.
    val meanErr = out.map(_._5).sum / out.length
    assert(meanErr <= 0.31, s"mean |est-exact| $meanErr — estimator badly calibrated?")
  }

  test("sphericalKmeans: assignment is the in-memory argmax over renormalized mean directions") {
    val out = Similarity.sphericalKmeans(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    val raw = Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "cast(label as long) as label",
        "cast(embedding as array<double>) as v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => r6(x / n))
    }
    val us = raw.map { case (id, l, v) => (id, l, unit(v)) }
    val cents = us.groupBy(_._2).map { case (l, vs) =>
      val dim = vs.head._3.length
      val mean = (0 until dim).map(d => r6(vs.map(_._3(d)).sum / vs.size)).toArray
      l -> unit(mean.map(identity))
    }
    val expect = us.map { case (id, l, u) =>
      val best = cents.toSeq.map { case (c, cu) =>
        (r6(u.zip(cu).map { case (a, b) => a * b }.sum), c)
      }.maxBy { case (cos, c) => (cos, -c) }
      (id, best._2, best._1, best._2 == l)
    }.toSet
    assert(out.toSet == expect,
      s"spherical assignment mismatch, e.g. ${(out.toSet -- expect).take(2)}")
  }

  test("readability: matches in-memory Flesch with vowel-group syllables and words/15 sentences") {
    val out = TextAnalysis.readability(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.flatMap { case (id, t) =>
      val words = "\\S+".r.findAllIn(t).length
      val syll = "[aeiou]+".r.findAllIn(t).length
      if (words == 0) None else {
        val sents = math.ceil(words / 15.0).toLong
        Some((id, words.toLong, syll.toLong, sents,
          r6(206.835 - 1.015 * (words.toDouble / sents) - 84.6 * (syll.toDouble / words))))
      }
    }.toSet
    assert(out.toSet == expect,
      s"readability mismatch, e.g. ${(out.toSet -- expect).take(2)}")
  }

  test("curriculumOrder: quartile stages are length-disjoint and positions are dense") {
    val out = Pipeline.curriculumOrder(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = Tables.documents(spark, sf0001).count()
    assert(out.length == total, "every doc must be staged")
    // stages are contiguous length bands: max of stage i <= min of stage i+1
    val byStage = out.groupBy(_._3).toSeq.sortBy(_._1)
    assert(byStage.map(_._1) == (0L to 3L), "stages must be 0..3")
    byStage.sliding(2).foreach { case Seq((si, a), (sj, b)) =>
      assert(a.map(_._2).max <= b.map(_._2).min,
        s"stage $si lengths overlap stage $sj")
    }
    // positions dense per stage, deterministic re-run
    byStage.foreach { case (s, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length),
        s"stage $s positions not dense")
    }
    val again = Pipeline.curriculumOrder(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == again.toSeq, "curriculum order must be deterministic")
  }
}
