package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Graph, Pipeline, Similarity}

/** Property checks for the round-5 operators — invariants the DuckDB
  * oracle can't express (probability mass, recall against the exact
  * baseline, directional asymmetry). */
class GraphPipelineR5Spec extends SparkSpec {

  test("pageRank mass is conserved (sums to ~1 each run)") {
    val total = Graph.pageRank(spark, sf0001)
      .agg(sum(col("rank"))).head.getDouble(0)
    // damping teleport keeps total mass 1 up to the per-iteration 9-dp
    // rounding (|V| * 1e-9 worst-case drift)
    assert(math.abs(total - 1.0) < 1e-3, s"rank mass $total drifted from 1")
  }

  test("pageRank favors higher-degree parts on average") {
    val edges = Graph.coOccurrenceEdges(spark, sf0001)
    val deg = edges.select(explode(array(col("u"), col("v"))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("deg"))
    val joined = Graph.pageRank(spark, sf0001).join(deg, "part")
    val c = joined.agg(corr(col("rank"), col("deg"))).head.getDouble(0)
    assert(c > 0.5, s"rank/degree correlation $c unexpectedly weak")
  }

  test("annPqAdc ADC distance tracks the exact L2 distance") {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val exact = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        sqrt(expr("graft_l2sq(pv, v)")).as("edist"))
    // ADC over ALL candidates (k unbounded so no cut before the check):
    // the lossy approximation must stay strongly correlated with the
    // exact metric, or the index is returning noise
    val allAdc = Similarity.annPqAdc(spark, sf0001, k = Int.MaxValue)
      .select(col("probe_id"), col("vec_id"), col("adist"))
    val c = allAdc.join(exact, Seq("probe_id", "vec_id"))
      .agg(corr(col("adist"), col("edist"))).head.getDouble(0)
    assert(c > 0.5, s"ADC/exact distance correlation $c — quantizer broken")
  }

  test("annIvfPq scores agree with the full PQ scan on shared pairs") {
    val ivfpq = Similarity.annIvfPq(spark, sf0001)
      .select(col("probe_id"), col("vec_id"), col("adist").as("a1"))
    val full = Similarity.annPqAdc(spark, sf0001, k = Int.MaxValue)
      .select(col("probe_id"), col("vec_id"), col("adist").as("a2"))
    val joined = ivfpq.join(full, Seq("probe_id", "vec_id"))
    assert(joined.count() == ivfpq.count(), "an IVF-PQ pair missing from the full PQ scan")
    assert(joined.filter(col("a1") =!= col("a2")).count() == 0,
      "routing changed an ADC distance — the cell filter must not affect scoring")
  }

  test("tokenBudget keeps every language under budget, best-first") {
    val kept = Pipeline.tokenBudget(spark, sf0001, budgetChars = 20000L)
    val over = kept.groupBy(col("lang")).agg(sum(col("n_chars")).as("total"))
      .filter(col("total") > 20000L)
    assert(over.count() == 0, "a language exceeded its char budget")
    // best-first: the minimum kept quality must be >= the maximum
    // dropped quality per language (ties broken by doc_id are fine to
    // ignore — strict inequality only)
    val all = Tables.documents(spark, sf0001).select(col("doc_id"), col("lang"))
      .join(graft.ops.TextAnalysis.quality(spark, sf0001)
        .select(col("doc_id"), col("quality_score")), Seq("doc_id"))
    val dropped = all.join(kept.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val minKept = kept.groupBy(col("lang")).agg(min(col("quality_score")).as("mn"))
    val maxDrop = dropped.groupBy(col("lang")).agg(max(col("quality_score")).as("mx"))
    val inverted = minKept.join(maxDrop, "lang").filter(col("mx") > col("mn"))
    assert(inverted.count() == 0, "a dropped doc outranked a kept one")
  }

  test("ann_ivf_pq final plan has no sort-merge join (code table stays map-side)") {
    val df = Similarity.annIvfPq(spark, sf0001)
    df.collect() // AQE: the final plan exists only after execution
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      "candidate/code join fell back to sort-merge — broadcast gate lost its stats")
  }

  test("embedOutliers flags are the >=2-sigma tail, per label") {
    val d = Similarity.embedOutliers(spark, sf0001)
    val n = d.count()
    val flagged = d.filter(col("is_outlier")).count()
    assert(flagged < n / 10, s"$flagged of $n flagged — not a tail")
    val bad = d.filter(col("is_outlier") =!= (col("z") >= 2.0)).count()
    assert(bad == 0, "flag disagrees with the z threshold")
  }

  test("containment is directional: contained-in implies shingle-count order") {
    val pairs = Dedup.containmentPairs(spark, sf0001)
    // |A∩B| <= |A| so containment(A in B) = c/|A| >= 0.9 admits |A| of
    // any size, but c <= min(|A|,|B|) forces c/|A| <= 1
    val outOfRange = pairs.filter(col("containment") > 1.0 || col("containment") < 0.9).count()
    assert(outOfRange == 0)
  }

  test("domainMix shares sum to 1") {
    val total = Pipeline.domainMix(spark, sf0001)
      .agg(sum(col("char_share"))).head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-3, s"char_share total $total")
  }

  test("qualityGate keeps ~75% of each language") {
    val docs = Tables.documents(spark, sf0001).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_all"))
    val kept = Pipeline.qualityGate(spark, sf0001).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))
    val bad = docs.join(kept, "lang")
      .filter(col("n_kept") < col("n_all") * 0.70 || col("n_kept") > col("n_all") * 0.85)
    assert(bad.count() == 0, "a language kept a fraction far from the p25 gate's 75%")
  }
}
