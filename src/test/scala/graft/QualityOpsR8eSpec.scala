package graft

import org.apache.spark.sql.functions._

/** Round-8 fifth batch: anisotropy, PQ code entropy, degree
  * distribution, walk corpus, Yule's K, basket lift. */
class QualityOpsR8eSpec extends SparkSpec {

  test("anisotropy: identity matches direct pairwise mean; ALL row aggregates labels") {
    val out = graft.ops.Similarity.anisotropy(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).min == -1L, "must include the corpus-wide row")
    val us = Tables.embeddings(spark, sf0001)
      .select(col("label").cast("long"), col("embedding").cast("array<double>"))
      .collect().map { r =>
        val v = r.getSeq[Double](1).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        (r.getLong(0), v.map(x => BigDecimal(x / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    // direct O(n²) pairwise mean on the small corpus
    def pairMean(vs: Array[Array[Double]]): Double = {
      val n = vs.length
      var s = 0.0
      for (i <- vs.indices; j <- vs.indices if i != j)
        s += vs(i).zip(vs(j)).map { case (a, b) => a * b }.sum
      s / (n.toDouble * (n - 1))
    }
    val byLabel = us.groupBy(_._1).map { case (l, rows) => l -> pairMean(rows.map(_._2)) }
    val allMean = pairMean(us.map(_._2))
    out.foreach { case (label, n, cos) =>
      val expect = if (label == -1L) allMean else byLabel(label)
      assert(math.abs(cos - expect) < 1e-5, s"label $label: $cos vs direct $expect")
      if (label == -1L) assert(n == us.length)
    }
  }

  test("pqCodeEntropy: entropy bounded by log2(codes used); utilization in (0,1]") {
    val out = graft.ops.Similarity.pqCodeEntropy(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq.sorted == (0L to 7L), "all 8 subspaces present")
    // codebook = one codeword per label
    val nCb = Tables.embeddings(spark, sf0001)
      .select(col("label")).distinct().count()
    out.foreach { case (s, used, ent, util) =>
      assert(used >= 1 && used <= nCb)
      assert(ent >= -1e-9 && ent <= math.log(used.toDouble) / math.log(2.0) + 1e-6,
        s"subspace $s entropy $ent vs log2($used)")
      assert(util > 0 - 1e-9 && util <= 1.0 + 1e-9)
      assert(math.abs(util - ent / (math.log(nCb.toDouble) / math.log(2.0))) < 1e-5)
    }
  }

  test("degreeDist: buckets partition the nodes; shares sum to 1") {
    val out = graft.ops.Graph.degreeDist(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.nonEmpty)
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-4)
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-4)
    out.foreach { case (b, _, _, _) =>
      assert((b & (b - 1)) == 0, s"bucket $b must be a power of two") }
    // node total equals the distinct endpoints of the edge list
    val edges = graft.ops.Graph.coOccurrenceEdges(spark, sf0001)
    val nNodes = edges.select(explode(array(col("u"), col("v"))).as("n"))
      .distinct().count()
    assert(out.map(_._2).sum == nNodes)
  }

  test("walkCorpus: every step lands on a graph neighbor of the previous node") {
    val out = graft.ops.Graph.walkCorpus(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // recompute the sparsified edge set (l_quantity >= 48 gate) directly
    val items = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") >= 48)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = items.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ps = rows.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.distinct.toArray
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val starts = adj.keySet
    val walks = out.groupBy(_._1)
    assert(walks.keySet == starts, "one walk per graph node")
    walks.foreach { case (w, rows) =>
      val path = rows.sortBy(_._2).map(_._3)
      assert(rows.map(_._2).sorted.sameElements(0L to 3L), s"walk $w must have 4 steps")
      assert(path.head == w, "walk starts at its id")
      path.zip(path.tail).foreach { case (a, b) =>
        assert(adj(a).contains(b), s"walk $w: $b not adjacent to $a")
      }
    }
    // determinism across two runs
    val again = graft.ops.Graph.walkCorpus(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == again.toSet, "walks must be deterministic")
  }

  test("yuleK: matches in-memory frequency-spectrum recompute; uniform text scores 0") {
    val out = graft.ops.TextAnalysis.yuleK(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.map { case (id, t) =>
      val tf = t.split("\\s+").filter(_.nonEmpty).groupBy(identity).map(_._2.length.toLong)
      val n = tf.sum; val s2 = tf.map(f => f * f).sum
      (id, n, tf.size.toLong,
        BigDecimal(10000.0 * (s2 - n) / (n.toDouble * n)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    assert(out.toSet == expect,
      s"yule mismatch e.g. ${(out.toSet -- expect).take(2)} vs ${(expect -- out.toSet).take(2)}")
    // all-distinct tokens => s2 == n => K == 0; repeated-token doc > 0
    out.foreach { case (_, n, types, k) =>
      if (n == types) assert(k == 0.0) else assert(k > 0.0)
    }
  }

  test("basketLift: counts match in-memory baskets; lift symmetric, confidence directional") {
    val out = graft.ops.Graph.basketLift(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(out.nonEmpty)
    val items = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = items.map(_._1).distinct.length
    val itemCnt = items.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val pairCnt = items.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ps = rows.map(_._2).sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      .filter(_._2 >= 3)
    val expectKeys = pairCnt.keySet.flatMap(p => Set((p._1, p._2), (p._2, p._1)))
    assert(out.map(r => (r._1, r._2)).toSet == expectKeys, "rule key set mismatch")
    out.foreach { case (a, c, nb, sup, conf, lift) =>
      val key = if (a < c) (a, c) else (c, a)
      assert(nb == pairCnt(key), s"n_both for $a->$c")
      assert(math.abs(sup - nb.toDouble / nOrders) < 1e-5)
      assert(math.abs(conf - nb.toDouble / itemCnt(a)) < 1e-5)
      assert(math.abs(lift - nOrders.toDouble * nb / (itemCnt(a) * itemCnt(c))) < 1e-4)
    }
    // lift is symmetric in (a, c); confidence generally is not
    val byKey = out.map(r => (r._1, r._2) -> r._6).toMap
    byKey.foreach { case ((a, c), l) =>
      assert(math.abs(byKey((c, a)) - l) < 1e-5, "lift must be symmetric") }
  }
}
