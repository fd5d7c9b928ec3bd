package graft

import org.apache.spark.sql.functions._

import graft.ops.Graph

/** Semantics of the graph family: the degree-oriented triangle count
  * must equal the naive canonical-edge enumeration (orientation
  * invariance), and component labels must be closed under the edge
  * relation. */
class GraphSpec extends SparkSpec {

  test("basket-expansion co-occurrence edges equal the self-join form") {
    // the r14 rewrite: groupBy(order) -> sorted part set -> map-side
    // C(k,2) expansion must produce EXACTLY the self-join's edge set
    val fast = Graph.coOccurrenceEdges(spark, sf0001)
      .orderBy(col("u"), col("v")).collect().toSeq
    val join = Graph.coOccurrenceEdgesJoinForm(spark, sf0001)
      .orderBy(col("u"), col("v")).collect().toSeq
    assert(fast.nonEmpty && fast == join)
    // u < v structural (sorted set + strictly-later slice)
    assert(fast.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("triangleCounts matches the naive u<v wedge enumeration") {
    val edges = Graph.coOccurrenceEdges(spark, sf0001).cache()
    try {
      // naive: for canonical edges (a,b),(a,c) with b<c, the triangle
      // closes iff (b,c) is an edge — each triangle enumerated once
      val naive = edges.as("e1")
        .join(edges.as("e2"), col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
        .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
        .join(edges.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
        .select(explode(array(col("a"), col("b"), col("c"))).as("part"))
        .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))
      val fast = Graph.triangleCounts(spark, sf0001)
      assert(fast.count() > 0, "no triangles at sf0.001 — edge derivation broken")
      val diff = fast.join(naive, Seq("part"), "full_outer")
        .filter(fast("n_triangles") =!= naive("n_triangles")
          || fast("n_triangles").isNull || naive("n_triangles").isNull)
      assert(diff.count() == 0, "degree-oriented counts diverge from naive enumeration")
    } finally {
      edges.unpersist()
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("triangleCounts bloom fallback path equals the broadcast path") {
    // force the over-gate branch (bloom prefilter + sized shuffled-hash
    // closing join) at sf0.001 and check it is value-identical to the
    // default broadcast branch — this is the only pre-sf10 exercise of
    // the path that the 100x gate runs
    val viaBroadcast = Graph.triangleCounts(spark, sf0001).collect().toSeq
    Caches.releaseAll(); spark.catalog.clearCache()
    spark.conf.set("spark.graft.triangles.broadcastGateBytes", "0")
    try {
      val viaBloom = Graph.triangleCounts(spark, sf0001).collect().toSeq
      assert(viaBloom == viaBroadcast,
        "bloom-prefiltered shuffled-hash closing join diverges from broadcast plan")
    } finally {
      spark.conf.unset("spark.graft.triangles.broadcastGateBytes")
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("componentsOverCoOccurrence labels are closed under the edge relation") {
    val labels = Graph.componentsOverCoOccurrence(spark, sf0001).cache()
    try {
      assert(labels.count() > 0, "no components at sf0.001 — sparsified graph empty")
      // both endpoints of every edge must share a label, and each
      // component's label must be its minimum member
      val items = Tables.lineitem(spark, sf0001)
        .filter(col("l_quantity") >= 48)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val edges = items.as("x").join(items.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("u"), col("y.pk").as("v")).distinct()
      val lu = labels.select(col("part").as("u"), col("component").as("cu"))
      val lv = labels.select(col("part").as("v"), col("component").as("cv"))
      val split = edges.join(lu, "u").join(lv, "v").filter(col("cu") =!= col("cv"))
      assert(split.count() == 0, "an edge crosses two components")
      val badMin = labels.groupBy(col("component")).agg(min(col("part")).as("mn"))
        .filter(col("component") =!= col("mn"))
      assert(badMin.count() == 0, "component label is not the member minimum")
    } finally {
      labels.unpersist()
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("kCorePeel trajectory is monotone and round 1 matches a naive peel") {
    try {
      val traj = Graph.kCorePeel(spark, sf0001, rounds = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      assert(traj.length == 3, s"expected rounds 0..2, got ${traj.length}")
      assert(traj.map(_._2).distinct.length == 1, "k must be pinned across rounds")
      traj.sliding(2).foreach { case Array(a, b) =>
        assert(b._3 <= a._3 && b._4 <= a._4,
          s"peel must be monotone non-increasing: $a -> $b")
      }
      // naive round 1: degrees over the full edge set, keep n with d >= k,
      // keep edges with both endpoints kept
      val edges = Graph.coOccurrenceEdges(spark, sf0001).cache()
      val k = traj.head._2
      val deg = edges.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("n"))
      val e1 = edges
        .join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
      val nodes1 = e1.select(explode(array(col("u"), col("v"))).as("n")).distinct().count()
      assert(traj(1)._4 == e1.count(), "round-1 edge count diverges from the naive peel")
      assert(traj(1)._3 == nodes1, "round-1 node count diverges from the naive peel")
      edges.unpersist()
    } finally {
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
  }
}
