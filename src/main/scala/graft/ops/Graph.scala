package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over relational co-occurrence — the "parts bought
  * together" graph every recommender/affinity pipeline derives from an
  * order-lines fact, plus triangle counting over it (the clustering-
  * coefficient building block, and the classic can-your-engine-do-it
  * benchmark for self-join-shaped workloads).
  */
object Graph {

  /** Undirected co-occurrence edges: two parts are connected iff they
    * appear in the same order. Canonicalized u < v, deduplicated.
    *
    * Shape at scale — basket-expansion form, not a self-join: ONE
    * shuffle on the order key builds each order's sorted distinct
    * part set (collect_set dedups (order, part) inside the same agg),
    * and the C(k, 2) pairs expand MAP-SIDE from the array (posexplode
    * for u, slice past u's position for v — the sort makes u < v
    * structural). The r1–r13 form was distinct(order, part) → self
    * equi-join on the order key → distinct: one more |items|-sized
    * exchange plus a hash-join probe per item, all to produce the
    * same per-order pair fan-out the array expansion gets for free.
    * This relation feeds all 18 graph queries (each fresh-JVM gate
    * entry rebuilds it), so the build term multiplies. Pair fan-out
    * is Σ C(items-per-order, 2) either way — bounded by basket size,
    * not corpus size; the final distinct over pairs (map-side
    * combinable) is the one unavoidable |E|-sized shuffle. */
  def coOccurrenceEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("pk"))).as("ps"))
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "u")))
      .select(col("u"),
        explode(expr("slice(ps, i + 2, size(ps))")).as("v"))
      .distinct()

  /** The co-occurrence edge relation persisted + materialized for one
    * query — the shared input of all 18 graph queries. Each query calls
    * it once; [[modularity]] hands the relation it holds to label
    * propagation instead of building it a second time. */
  private[graft] def sharedEdges(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Caches.persistTracked(coOccurrenceEdges(spark, dir))
    e.count() // materialize: downstream broadcast gates need real sizes
    e
  }

  /** The retired self-join form, kept as the equivalence spec's
    * reference. */
  private[graft] def coOccurrenceEdgesJoinForm(spark: SparkSession,
      dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    items.as("x").join(items.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("u"), col("y.pk").as("v"))
      .distinct()
  }

  /** Per-node triangle counts via DEGREE-ORIENTED wedge closure — the
    * scalable formulation (node-iterator over the orientation DAG):
    * each undirected edge is directed from its (degree, id)-smaller
    * endpoint to the larger, so every triangle has exactly one apex
    * and is enumerated ONCE, and the wedge fan-out per node is bounded
    * by out-degree² where max out-degree is O(√|E|) — heavy hubs
    * (the parts in every order) generate wedges at their cheap end
    * instead of degree² at the hub. The orientation key is a struct
    * comparison (deg, id), so no fragile packed-integer encoding.
    * Per-node counts are then one explode + agg over the closed
    * triangles. Count is orientation-invariant, which is what the
    * plain u<v SQL oracle checks. */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    val edges = sharedEdges(spark, dir)
    edges.count() // materialize: the broadcast gates below need REAL
    // cache sizes, not pre-materialization plan estimates (with the
    // estimate, the closing join planned as a sort-merge that sorted
    // the 41M-row wedge stream — 34s; broadcast makes it map-side)
    val deg = edges.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // |V| rows (≪ |E|) — broadcast both degree joins so orientation
    // never shuffles the edge list
    val degU = maybeBroadcast(deg.select(col("n").as("u"), col("deg").as("du")))
    val degV = maybeBroadcast(deg.select(col("n").as("v"), col("deg").as("dv")))
    // direct each edge low-(deg,id) -> high-(deg,id)
    // both branch structs carry IDENTICAL field names — Catalyst
    // rejects a CASE WHEN whose branches differ in struct field names
    // (DATATYPE_MISMATCH.DATA_DIFF_TYPES)
    val ukey = struct(col("du").as("d"), col("u").as("n"))
    val vkey = struct(col("dv").as("d"), col("v").as("n"))
    // the (deg, id) order key is carried as two FLAT long columns —
    // the wedge join evaluates its ordering condition Σoutdeg² times,
    // and flat comparisons codegen much tighter than struct comparators
    val oriented = graft.Caches.persistTracked(edges
      .join(degU, Seq("u"))
      .join(degV, Seq("v"))
      .select(
        when(ukey < vkey, col("u")).otherwise(col("v")).as("src"),
        when(ukey < vkey, col("v")).otherwise(col("u")).as("dst"),
        when(ukey < vkey, col("dv")).otherwise(col("du")).as("dd"),
        when(ukey < vkey, col("v")).otherwise(col("u")).as("dn")))
    // materialize before the closing-relation gate; the edge count also
    // sizes the fallback join's partitioning below
    val edgeCount = oriented.count()
    val closingRaw = oriented.select(col("src").as("b"), col("dst").as("c"))
    // conf-overridable so a spec can force the fallback path at test
    // scale — the bloom branch must not wait until sf10 to first run
    val gateBytes = spark.conf.getOption("spark.graft.triangles.broadcastGateBytes")
      .map(_.toLong).getOrElse(256L << 20)
    val gate = closingRaw.queryExecution.optimizedPlan.stats.sizeInBytes <= gateBytes
    val triangles =
      if (gate) {
        // NEIGHBOR-INTERSECTION form (edge iterator): per oriented edge
        // (u, v), every common OUT-neighbor w = N⁺(u) ∩ N⁺(v) closes
        // the triangle u→v, u→w, v→w — each triangle found exactly once
        // at its base edge, no wedge row ever materializes. The r1–r14
        // form generated the Σoutdeg² wedge stream (41M rows at sf0.1)
        // and hash-probed every wedge against the broadcast edge list;
        // the intersection walks the same Σoutdeg² neighbor entries as
        // ARRAY ELEMENTS inside one codegen stage and emits only the
        // true triangles (1.9M at sf0.1) — measured 4.7s → 1.6s for
        // this stage at sf0.1 (interleaved 3-pass A/B, identical
        // per-node counts). The adjacency relation carries |E| longs
        // total (HALF the closing edge list's bytes), so the same
        // 256 MB gate that sanctioned broadcasting the closing edges
        // sanctions broadcasting adj; its two aliases canonicalize
        // identically, so ReuseExchange ships ONE broadcast.
        // persist: TWO broadcast consumers below (an/bn) — without the
        // boundary each BroadcastExchange re-runs the collect_list agg
        // (the EXPLAINS double-derivation audit criterion)
        val adj = graft.Caches.persistTracked(oriented.groupBy(col("src"))
          .agg(sort_array(collect_list(col("dst"))).as("nbrs")))
        adj.count()
        oriented.select(col("src").as("a"), col("dst").as("b"))
          .join(broadcast(adj.select(col("src").as("a"), col("nbrs").as("an"))), Seq("a"))
          .join(broadcast(adj.select(col("src").as("b"), col("nbrs").as("bn"))), Seq("b"))
          .select(col("a"), col("b"),
            explode(array_intersect(col("an"), col("bn"))).as("c"))
      } else {
        // Past the gate (sf10: |E| outgrows 256 MB) the closing join
        // must be a shuffled HASH join over the wedge stream: SMJ would
        // sort the wedge stream (~4×10⁹ rows there — the measured
        // spill-of-spill OOM), SHJ streams it unsorted and only the
        // thin edge list occupies reducer memory. The partition count
        // is sized from the MEASURED edge count so each build partition
        // holds ≲250k rows (~40 MB of hash map): a task's
        // execution-memory share is pool/concurrency (measured ~150 MB
        // at an 8 GB heap × 32 cores), and a 1M-row
        // UnsafeHashedRelation already overruns it — both sf10 OOMs
        // (SMJ spill-of-spill, then SHJ "not enough memory to build
        // hash map" at |E|/120) came from partition counts sized to
        // cores instead of to the data.
        // wedges from a common apex, ordered so each pair forms once;
        // the closing edge must also be oriented b -> c (b before c in
        // the total order), which the (dd, dn) comparison guarantees
        val wedges = oriented.as("e1")
          .join(maybeBroadcast(oriented).as("e2"),
            col("e1.src") === col("e2.src") &&
              (col("e1.dd") < col("e2.dd") ||
                (col("e1.dd") === col("e2.dd") && col("e1.dn") < col("e2.dn"))))
          .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
        // Bloom semi-join reduction BEFORE the exchange: almost every
        // wedge does not close (measured closure rate 4.6% — triangles
        // ≪ Σoutdeg²), so a bloom over xxhash64(b,c) of the closing
        // edges drops the non-closing majority inside the
        // wedge-generating stage — the 4×10⁹-row wedge shuffle
        // (~10² GB, the measured sf10 disk-full failure) shrinks to
        // the true triangles plus the fp tail. Same hash both sides,
        // so no false negatives; fp survivors are removed by the exact
        // join behind it. fpp 0.05 is deliberate: the fp tail (5%)
        // already sits at the true closure rate (4.6%), so a tighter
        // filter cannot halve the shuffle again but WOULD grow the
        // per-wedge probe cost (more hash functions over a larger
        // DRAM-resident bit array, paid Σoutdeg² times).
        val bloom = graft.functions.BloomSupport.broadcastBloom(spark,
          graft.functions.BloomSupport.buildLong(
            closingRaw.select(xxhash64(col("b"), col("c")).as("k")), "k",
            Some(edgeCount), 0.05))
        val p = math.max(spark.sessionState.conf.numShufflePartitions,
          (edgeCount / 250000L).toInt + 1)
        wedges
          .filter(graft.functions.BloomSupport.mightContainBroadcast(
            bloom, xxhash64(col("b"), col("c"))))
          .repartition(p, col("b"), col("c"))
          .join(closingRaw.repartition(p, col("b"), col("c")).hint("shuffle_hash"),
            Seq("b", "c"))
      }
    triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("part"))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("part"))
  }

  /** Damped PageRank (d=0.85, 3 iterations) over the symmetric
    * co-occurrence graph — the part-importance ranking a recommender
    * derives from the affinity graph. Each iteration is ONE broadcast
    * join (the |V|-row rank table against the edge scan) plus ONE
    * shuffle agg on the destination key; the edge list itself is
    * persisted once and never re-derived. Ranks round to 9 decimals
    * per iteration in BOTH engines, so float-sum ordering differences
    * cannot compound across iterations (the oracle unrolls the same
    * three steps in SQL). At 100 TB the rank table outgrows the
    * broadcast gate and [[graft.operators.Scale.maybeBroadcast]]
    * falls back to a shuffle join keyed the same way.
    */
  /** Synchronous label propagation (Raghavan et al. 2007), the third
    * iterative graph primitive beside [[pageRank]] and the components
    * family: start with label = node id; each round every node adopts
    * the most frequent label among its neighbors, ties to the SMALLEST
    * label. The deterministic tie-break is what makes sync-LPA
    * engine-portable (async update order isn't); two rounds already
    * coarsen the co-occurrence graph into stable communities.
    *
    * Shape at scale: per round, one broadcast of the |V|-row label
    * table onto the edge list (size-gated — at huge |V| it degrades to
    * a shuffle join on v, still one exchange), a (u, lbl) partial-agg
    * count, and a per-node argmax as `min(struct(-cnt, lbl))` — a
    * map-side-combinable hash agg: (-cnt, lbl) lexicographic-min IS
    * (cnt desc, lbl asc) first-row, the exact window order the oracle
    * unrolls, with no per-task candidate buffering anywhere. (The
    * r1–r12 form was a rank()=1 window; its partial WindowGroupLimit
    * buffers each task's whole (u, lbl) stream through an in-codegen
    * sort and was the measured sf10 8g-heap OOM site — VARIANCE_r12
    * §4.) The edge list is hash-partitioned on u ONCE before the
    * loop: the broadcast label join preserves that partitioning, and
    * HashPartitioning(u) satisfies ClusteredDistribution for BOTH
    * per-round aggs ((u, lbl) and (u) — u is a subset of each key
    * set), so every round after the first exchange is shuffle-FREE
    * (was 2 agg exchanges × 2 rounds over an |E|-sized stream).
    * Per-round persist+count keeps plan depth flat, the pageRank
    * discipline.
    *
    * Round-1 algebraic shortcut (exact): synchronous LPA starts from
    * IDENTITY labels, so in round 1 every neighbor of u carries a
    * label no other neighbor can carry (its own id — edges are
    * distinct pairs), every (u, lbl) count is exactly 1, and the
    * argmax by (cnt desc, lbl asc) collapses to min(neighbor id). The
    * whole round is ONE primitive-long agg over the edge list — no
    * label broadcast, no (u, lbl) pair hash table (the r13-named
    * remaining term, paid |E|-sized twice per round). Rounds ≥ 2 run
    * the general join+count path; `fastFirstRound = false` forces the
    * general path in round 1 too (spec-equated against the shortcut). */
  def labelPropagation(spark: SparkSession, dir: String, iters: Int = 2,
      fastFirstRound: Boolean = true): DataFrame =
    labelPropagation(spark, sharedEdges(spark, dir), iters, fastFirstRound)

  /** [[labelPropagation]] over canonical edges `p` the caller holds. */
  private def labelPropagation(spark: SparkSession, p: DataFrame, iters: Int,
      fastFirstRound: Boolean): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val edges = graft.Caches.persistTracked(
      p.unionAll(p.select(col("v").as("u"), col("u").as("v")))
        .repartition(parts, col("u")))
    edges.count() // materialize: broadcast gates need real sizes
    var labels = edges.select(col("u").as("nd")).distinct()
      .withColumn("lbl", col("nd"))
    for (round <- 1 to iters) {
      labels = graft.Caches.persistTracked(
        if (round == 1 && fastFirstRound) {
          // identity labels ⇒ all (u, lbl) counts are 1 ⇒ argmax by
          // (cnt desc, lbl asc) ≡ min neighbor id (scaladoc above)
          edges.groupBy(col("u")).agg(min(col("v")).as("lbl"))
            .select(col("u").as("nd"), col("lbl"))
        } else {
          val counts = edges
            .join(maybeBroadcast(labels.select(col("nd").as("v"), col("lbl"))), Seq("v"))
            .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("cnt"))
          counts.groupBy(col("u"))
            .agg(min(struct((-col("cnt")).as("neg"), col("lbl"))).as("m"))
            .select(col("u").as("nd"), col("m.lbl").as("lbl"))
        })
      labels.count() // keep stats real for the next round's gate
    }
    labels.select(col("nd").as("node"), col("lbl").as("community"))
      .orderBy(col("node"))
  }

  def pageRank(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    val p = sharedEdges(spark, dir)
    // LPA's pre-partitioning discipline, keyed on the CONTRIBUTION SINK
    // v: the per-iteration broadcast joins (outdeg, ranks — both on u)
    // preserve the partitioning, so the groupBy(v) rank agg needs no
    // exchange — all `iters` |2E|-sized shuffles collapse into this one
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val edges = graft.Caches.persistTracked(
      p.unionAll(p.select(col("v").as("u"), col("u").as("v")))
        .repartition(parts, col("v")))
    edges.count() // materialize: broadcast gates below need real sizes
    val outdeg = graft.Caches.persistTracked(
      edges.groupBy(col("u")).agg(count(lit(1)).as("od")))
    // materializes the cache AND yields |V| (every node of a symmetric
    // graph appears as u)
    val n = outdeg.count()
    var ranks = outdeg.select(col("u").as("nd")).withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(maybeBroadcast(outdeg), Seq("u"))
        .join(maybeBroadcast(ranks.select(col("nd").as("u"), col("rank"))), Seq("u"))
        .select(col("v").as("nd"), (col("rank") / col("od")).as("c"))
      ranks = graft.Caches.persistTracked(contrib.groupBy(col("nd"))
        .agg(round(lit(0.15 / n) + lit(0.85) * sum(col("c")), 9).as("rank")))
      ranks.count() // keep stats real so the next broadcast gate fires
    }
    ranks.select(col("nd").as("part"), round(col("rank"), 6).as("rank"))
      .orderBy(col("part"))
  }

  /** Connected components over a SPARSIFIED co-occurrence graph
    * (bulk lines only, l_quantity >= 48): exercises the same hybrid
    * union-find / star-contraction machinery as the near-dup
    * clustering ([[graft.ops.Dedup.connectedComponents]]) on a graph
    * that is NOT LSH-derived — affinity groups of parts that co-occur
    * in bulk orders. The quantity gate keeps components small and
    * plural (the full co-occurrence graph is one giant component,
    * which clusters nothing and makes the transitive-closure oracle
    * quadratic). */
  def componentsOverCoOccurrence(spark: SparkSession, dir: String): DataFrame = {
    // canonical: the slice expansion is u < v structural + distinct
    Dedup.connectedComponents(sparseCoOccurrenceEdges(spark, dir), canonical = true)
      .select(col("node").as("part"), col("component"))
      .orderBy(col("part"))
  }

  /** Canonicalized (u < v) co-occurrence edges over bulk lines only
    * (l_quantity >= 48) — the shared sparsified graph for
    * [[componentsOverCoOccurrence]] and [[neighborJaccard]]. The
    * quantity gate caps hub degree, which bounds BOTH the components
    * oracle's transitive closure and the wedge fan-out of any
    * common-neighbor join downstream. */
  private[ops] def sparseCoOccurrenceEdges(spark: SparkSession, dir: String): DataFrame =
    // basket-expansion form, identical shape to [[coOccurrenceEdges]]
    // with the quantity gate pushed into the scan: one order-key
    // shuffle + map-side C(k,2) pairs (collect_set dedups (ok, pk)
    // inside the same agg), vs the r1–r14 distinct + self-join's two
    // extra exchanges. Spec-equated to the join form like the full
    // graph's rewrite.
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 48)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("pk"))).as("ps"))
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "u")))
      .select(col("u"),
        explode(expr("slice(ps, i + 2, size(ps))")).as("v"))
      .distinct()

  /** Node-pair neighborhood similarity: Jaccard of the two parts'
    * neighbor sets, |N(u)∩N(v)| / |N(u)∪N(v)| ≥ 0.25 — the
    * "customers who bought X also bought Y" similarity a recommender
    * derives from the affinity graph (SimRank's cheap one-hop cousin).
    *
    * Shape at scale: common-neighbor counting is ONE self-join of the
    * symmetric adjacency list on the shared-neighbor key — fan-out
    * Σdeg(n)², the same wedge bound as [[triangleCounts]], kept
    * polynomial by the sparsified graph's degree cap (a real deploy
    * degree-caps or samples hub adjacency the same way). Degrees are a
    * |V|-row table, broadcast to both sides of the pair stream; union
    * size is the inclusion–exclusion identity du + dv − common, so no
    * set materialization ever happens. */
  def neighborJaccard(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    val edges = graft.Caches.persistTracked(sparseCoOccurrenceEdges(spark, dir))
    edges.count() // materialize: the degree broadcast gate needs real sizes
    val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      .select(col("u").as("a"), col("v").as("b"))
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("d"))
    val common = sym.as("x").join(sym.as("y"),
        col("x.b") === col("y.b") && col("x.a") < col("y.a"))
      .groupBy(col("x.a").as("u"), col("y.a").as("v"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(maybeBroadcast(deg.select(col("a").as("u"), col("d").as("du"))), "u")
      .join(maybeBroadcast(deg.select(col("a").as("v"), col("d").as("dv"))), "v")
      .select(col("u"), col("v"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("du") + col("dv") - col("n_common")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.25)
      .orderBy(col("u"), col("v"))
  }

    /** BFS reachability levels from the minimum node of the full
    * co-occurrence graph, up to maxHops: the blast-radius primitive
    * behind "everything within N hops of a flagged item" curation
    * sweeps. (The full graph, not the sparsified one — its components
    * are ≤6-node stars where every BFS dies at hop 1; the full graph
    * is small-world and saturates at hop 2, which is the behavior the
    * trajectory is meant to show.)
    *
    * Classic frontier expansion: per hop, the frontier (≤|V| rows,
    * broadcast-gated) semi-joins the symmetrized edge list, newly
    * reached nodes are anti-joined against the visited set, and the
    * visited accumulator is localCheckpoint'd so hop N's plan never
    * embeds hops 1..N−1 — the same loop discipline as [[kCorePeel]]
    * and componentsStar. At 100 TB each hop is one semi-join shuffled
    * only on the edge key plus a bounded distinct; the frontier and
    * visited relations stay |V|-bounded. */
  def bfsLevels(spark: SparkSession, dir: String, maxHops: Int = 3): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    import spark.implicits._
    // sharedEdges: the union's two branches otherwise each re-derive
    // the FULL edge build inside sym's one materialization
    val e0 = sharedEdges(spark, dir)
    val sym = graft.Caches.persistTracked(
      e0.union(e0.select(col("v").as("u"), col("u").as("v"))))
    sym.count()
    val seed = sym.agg(min(col("u"))).head().getLong(0)
    var visited = Seq((seed, 0L)).toDF("node", "level").localCheckpoint(true)
    var frontier = visited.select(col("node"))
    for (h <- 1 to maxHops) {
      val next = graft.Caches.persistTracked(
        sym.join(maybeBroadcast(frontier.select(col("node").as("u"))), Seq("u"), "left_semi")
          .select(col("v").as("node")).distinct()
          .join(maybeBroadcast(visited.select(col("node"))), Seq("node"), "left_anti")
          .withColumn("level", lit(h.toLong)))
      next.count() // materialize: broadcast gates + flat plan depth
      // EAGER accumulator checkpoint, restored (r16): the r15
      // lazy-union form regressed on BOTH independent measurements
      // (driver sf0.1 3.32→4.33s, own sf10 gate 43.4→79.7s) because
      // the rows were cached but the PLANS were not — the final sort
      // and every later hop's maybeBroadcast(visited) stats walk
      // re-analyzed a deepening union-of-InMemoryRelations (9,794-line
      // formatted plan vs 25). The checkpoint buys bounded plan size
      // for one |visited|-row re-materialization per hop, which is the
      // cheaper side at every SF measured. (harmonicSample keeps the
      // lazy union — its per-seed frontiers are smaller and it
      // measured 1.03× with it.)
      visited = visited.union(next).localCheckpoint(true)
      frontier = next.select(col("node"))
    }
    visited.orderBy(col("node"))
  }

  /** k-core peel profile of the co-occurrence graph: with k pinned to
    * the (floor of the) median degree, run 4 peel rounds — drop nodes
    * with degree < k, then every edge touching one — and report the
    * (nodes, edges) trajectory per round. This is the density-collapse
    * audit a graph-based curation pass runs BEFORE trusting a core
    * filter: a near-random graph (this synthetic one) collapses
    * all-at-once within 2–3 rounds, while a community-structured graph
    * sheds a thin periphery per round — the trajectory's shape, not
    * the final core, is the signal.
    *
    * Per round: ONE map-side-combinable degree agg + two semi-joins of
    * the edge list against the ≤|V|-row keep set (maybeBroadcast), and
    * an eager localCheckpoint so round N's plan doesn't embed rounds
    * 1..N−1 — the componentsStar loop discipline. The per-round node/
    * edge counts are bounded driver scalars (the same convergence-
    * telemetry shape as pageRank's per-round count). The round count
    * is oracle-pinned at 4; production peels to fixpoint with the
    * identical per-round plan. */
  def kCorePeel(spark: SparkSession, dir: String, rounds: Int = 4): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
    var edges = sharedEdges(spark, dir)
    edges.count()
    // ONE degree pass per round, three consumers: the keep filter, the
    // node count, and the edge count (Σd/2). The r1–r14 loop paid the
    // |E|-sized explode+agg TWICE per round (once for keep, once for
    // the telemetry stats) plus a separate distinct().count() — the
    // degree table is |V| rows, so everything after the one pass is a
    // cache read.
    var degT = graft.Caches.persistTracked(degrees(edges))
    def stats(): (Long, Long) = {
      val r = degT.agg(count(lit(1)).as("nn"),
        (coalesce(sum(col("d")), lit(0L)) / 2).cast("long").as("ne")).head()
      (r.getLong(0), r.getLong(1))
    }
    val nodes0 = degT.count() // materialize + the round-0 node count
    val k = math.floor(degT
      .agg(expr("percentile(d, 0.5)")).head().getDouble(0)).toLong
    val traj = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    traj += ((0L, k, nodes0, stats()._2))
    for (r <- 1 to rounds) {
      val keep = degT.filter(col("d") >= k).select(col("n"))
      edges = edges
        .join(maybeBroadcast(keep.select(col("n").as("u"))), Seq("u"), "left_semi")
        .join(maybeBroadcast(keep.select(col("n").as("v"))), Seq("v"), "left_semi")
        .localCheckpoint(true)
      degT.unpersist()
      degT = graft.Caches.persistTracked(degrees(edges))
      degT.count() // materialize: next round's semi-join gates need real sizes
      val st = stats()
      traj += ((r.toLong, k, st._1, st._2))
    }
    import spark.implicits._
    traj.toSeq.toDF("round", "k", "n_nodes", "n_edges").orderBy(col("round"))
  }

  /** Newman modularity report of the [[labelPropagation]] communities
    * — the quality metric that decides whether a community structure
    * is real before anything downstream trusts it: per community c,
    * the contribution e_c/m − (d_c/2m)², where e_c = intra-community
    * edges, d_c = total degree, m = |edges|; Q = Σ contributions,
    * ≈ 0 for random structure (which this synthetic near-complete
    * co-occurrence graph should and does show), > 0.3 for real
    * communities. Pairs with [[kCorePeel]] as the structure-audit
    * family: peel profiles density, modularity scores partition
    * quality.
    *
    * Shape at scale: everything is integer counting — the label table
    * broadcasts onto the canonical edge list twice (both endpoints),
    * the intra-edge and degree-mass aggs are map-side combinable, and
    * the output is |communities| rows; m is the one driver scalar
    * (the persisted edge count, already materialized for the gates).
    * Only the final contribution expression is float, rounded 6. */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    val p = sharedEdges(spark, dir)
    val m = p.count() // materialize + the modularity denominator
    // eager localCheckpoint: labels joins the edge list TWICE below
    // (both endpoints), and without truncation each side re-embeds the
    // whole LPA iteration lineage (13.6k formatted-plan lines vs ~100)
    val labels = labelPropagation(spark, p, iters = 2, fastFirstRound = true)
      .select(col("node").as("nd"), col("community").as("lbl"))
      .localCheckpoint(true)
    val sym = p.unionAll(p.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("nd")).agg(count(lit(1)).as("d"))
    val ein = p
      .join(maybeBroadcast(labels.select(col("nd").as("u"), col("lbl").as("la"))), Seq("u"))
      .join(maybeBroadcast(labels.select(col("nd").as("v"), col("lbl").as("lb"))), Seq("v"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e_in"))
    val dc = labels.join(deg, Seq("nd"))
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_tot"))
    // q_contrib is the exact rational (4·m·e_in − d_tot²)/(4m²); its
    // 6-dp half-up rounding is computed ENTIRELY in exact integer
    // (decimal-0) arithmetic — (2|n6|+D) div (2D) with a sign split so
    // both engines' integral division sees only positives. r8's
    // double-round version hash-diverged on some of the 42 rows
    // (engines break round() ties differently); integer rounding is
    // tie-free by construction.
    dc.join(ein, Seq("lbl"), "left")
      .select(col("lbl").as("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_tot"))
      .withColumn("n6", expr(
        s"(CAST(${4L * m} AS DECIMAL(38,0)) * e_in " +
        s" - CAST(d_tot AS DECIMAL(38,0)) * d_tot) * 1000000"))
      .withColumn("dd", expr(s"CAST(${4L * m} AS DECIMAL(38,0)) * $m"))
      .withColumn("q_contrib", expr(
        "CAST(CASE WHEN n6 >= 0 THEN (2*n6 + dd) div (2*dd) " +
        "ELSE -((-2*n6 + dd) div (2*dd)) END AS DOUBLE) / 1000000.0"))
      .drop("n6", "dd")
      .orderBy(col("community"))
  }

  /** HITS (Kleinberg 1999) over the DIRECTED customer→part purchase
    * graph — the fourth iterative primitive beside [[pageRank]],
    * [[labelPropagation]] and the components family, and the one that
    * needs direction: on the bipartite purchase graph hubs are
    * broad-basket customers and authorities are the parts those hubs
    * concentrate on (PageRank over the symmetrized graph cannot
    * separate the two roles). Two mutual-reinforcement rounds:
    * auth(p) = Σ hub(c) over c→p, then hub(c) = Σ auth(p) over c→p,
    * each table max-normalized per round — max is order-independent,
    * so cross-engine float determinism needs no sum-order argument
    * (scores round to 9 per round in BOTH engines, like pageRank).
    *
    * Shape at scale: the edge list is built once (one join of two
    * fact scans, distinct'd — map-side combinable) and persisted;
    * per half-round it's ONE broadcast-gated join against the
    * |V|-row score table plus ONE shuffle agg on the other endpoint,
    * the pageRank discipline exactly. The 1-row max joins in as a
    * broadcast scalar. */
  def hits(spark: SparkSession, dir: String, iters: Int = 2): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    val edges = graft.Caches.persistTracked(
      Tables.orders(spark, dir)
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("cust"))
        .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("part")), Seq("ok"))
        .select(col("cust"), col("part")).distinct())
    edges.count() // materialize: broadcast gates below need real sizes
    def maxNorm(df: DataFrame, key: String, out: String): DataFrame =
      df.crossJoin(broadcast(df.agg(max(col("raw")).as("mx"))))
        .select(col(key), round(col("raw") / col("mx"), 9).as(out))
    var hub = edges.select(col("cust")).distinct().withColumn("h", lit(1.0))
    var auth = edges.select(col("part")).distinct().withColumn("a", lit(1.0))
    // per-half-round eager localCheckpoint, the bfsLevels/componentsStar
    // loop discipline: hub and auth each embed the OTHER's lineage, so
    // without truncation the plan nests quadratically in the round count
    // (34.5k formatted-plan lines vs ~200 with checkpoints) and analysis
    // time starts to rival execution
    // checkpoint the RAW half-round agg, not the normalized table:
    // maxNorm consumes its input TWICE (the 1-row max subquery and the
    // normalized stream), so checkpointing after the norm ran the whole
    // |E|-sized join+agg twice per half-round (measured 1.20s → 1.69s
    // for one half-round at sf0.1 — the maxNorm tax was a full second
    // re-derivation, not a scalar agg). Over the checkpointed |V|-row
    // table both consumers are trivial, and the normalize projection
    // stays lazy — next half-round's broadcast re-runs only a |V|-row
    // map over the checkpoint.
    for (_ <- 1 to iters) {
      val araw = edges
        .join(maybeBroadcast(hub.select(col("cust"), col("h"))), Seq("cust"))
        .groupBy(col("part")).agg(round(sum(col("h")), 9).as("raw"))
        .localCheckpoint(true)
      auth = maxNorm(araw, "part", "a")
      val hraw = edges
        .join(maybeBroadcast(auth.select(col("part"), col("a"))), Seq("part"))
        .groupBy(col("cust")).agg(round(sum(col("a")), 9).as("raw"))
        .localCheckpoint(true)
      hub = maxNorm(hraw, "cust", "h")
    }
    hub.select(lit("hub").as("role"), col("cust").as("node"),
        round(col("h"), 6).as("score"))
      .unionByName(auth.select(lit("authority").as("role"),
        col("part").as("node"), round(col("a"), 6).as("score")))
      .orderBy(col("role"), col("node"))
  }

  /** Degree assortativity (Newman 2002) of the co-occurrence graph —
    * the one-number structural audit beside [[modularity]]: Pearson
    * correlation of endpoint degrees over the symmetrized edge list
    * (each undirected edge contributes both orientations, the standard
    * definition). Positive = hubs attach to hubs (social-network-like),
    * negative = hub-and-spoke (star schemas, catalogs). Rounded to 6 in
    * both engines; `corr` is a single streaming co-moment aggregate, so
    * the 1e-15 tail under reordering is far below the rounding.
    *
    * Shape at scale: degrees are one shuffle agg on the symmetrized
    * list; the |V|-row degree table joins back broadcast-gated on each
    * endpoint; the correlation itself is a map-side-combinable scalar
    * agg. Nothing materializes beyond |E| + |V|. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    val p = sharedEdges(spark, dir)
    p.count() // materialize: broadcast gates below need real sizes
    val sym = p.unionAll(p.select(col("v").as("u"), col("u").as("v")))
    val deg = graft.Caches.persistTracked(
      sym.groupBy(col("u").as("nd")).agg(count(lit(1)).cast("double").as("d")))
    deg.count()
    sym
      .join(maybeBroadcast(deg.select(col("nd").as("u"), col("d").as("du"))), Seq("u"))
      .join(maybeBroadcast(deg.select(col("nd").as("v"), col("d").as("dv"))), Seq("v"))
      .agg((count(lit(1)) / 2).cast("long").as("n_edges"),
        round(avg(col("du")), 6).as("mean_end_deg"),
        round(corr(col("du"), col("dv")), 6).as("assortativity"))
  }

  /** Degree distribution of the co-occurrence graph in power-of-two
    * buckets — the scale-free-or-not audit read before sizing ANY
    * graph workload here (wedge fan-out, broadcast gates, salting all
    * key off whether a heavy-tail hub exists): per bucket the node
    * count, node share, and share of edge ENDS (the work a hub
    * actually generates — a bucket can hold 1% of nodes and 60% of
    * the join fan-out). Bucket is the same integer-derived
    * 1<<bitlength(d−1) as [[graft.ops.Pipeline.paddingWaste]] — never
    * floor(log2(double)).
    *
    * Shape at scale: one degree agg (map-side combinable) + a
    * ~32-group agg over the |V|-row degree table; totals broadcast
    * back from the bucket table. */
  def degreeDist(spark: SparkSession, dir: String): DataFrame = {
    // sharedEdges (persisted), and the ≤~64-row bucket table persisted
    // too: `buckets` feeds BOTH the total and the share join, and
    // uncached each branch re-derived the ENTIRE edge build + degree
    // agg (the pq_code_entropy two-branch disease — this query's sf10
    // wall was ~2× the build for exactly that reason)
    val p = sharedEdges(spark, dir)
    val deg = p.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val buckets = graft.Caches.persistTracked(deg
      .withColumn("bucket",
        expr("CAST(shiftleft(CAST(1 AS BIGINT), length(bin(deg - 1))) AS BIGINT)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum")))
    val tot = buckets.agg(sum(col("n_nodes")).as("tn"), sum(col("deg_sum")).as("td"))
    buckets.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_nodes"),
        round(col("n_nodes") / col("tn").cast("double"), 6).as("node_share"),
        round(col("deg_sum") / col("td").cast("double"), 6).as("edge_end_share"))
      .orderBy(col("bucket"))
  }

  /** Deterministic random-walk corpus over the sparsified affinity
    * graph — the DeepWalk/node2vec sampling primitive that turns a
    * graph into training sequences: one walk per start node, `hops`
    * steps, where each step moves to the neighbor with the smallest
    * portable hash of (start, step, neighbor). Hash-argmin IS the
    * random choice, derandomized the way every sampling op here is
    * ([[graft.ops.Pipeline.sampleWeighted]]'s Gumbel trick, the
    * md5-threshold samplers) — reproducible across engines, runs, and
    * cluster sizes, and walks from different starts explore different
    * neighbors because the start id salts the hash.
    *
    * Shape at scale: per hop ONE join of the |starts|-row frontier
    * against the symmetrized edge list (hash-partitioned on the
    * cursor) + a per-walk argmin as `min(struct(h, v))` — a map-side-
    * combinable hash agg ((h, v) lexicographic-min IS the (h asc, v
    * asc) window's first row, the exact order the oracle unrolls;
    * the r1–r12 rank()=1 window buffered each task's whole candidate
    * stream through a partial WindowGroupLimit sort, the lpa OOM
    * shape). The edge list is probed, never rewritten; the frontier
    * never exceeds |starts| rows. Dead-ends (none here — the graph is
    * symmetrized) would simply drop out of the frontier. */
  def walkCorpus(spark: SparkSession, dir: String, hops: Int = 3): DataFrame = {
    val p = graft.Caches.persistTracked(sparseCoOccurrenceEdges(spark, dir))
    p.count()
    val sym = p.unionAll(p.select(col("v").as("u"), col("u").as("v")))
    val starts = sym.select(col("u")).distinct()
      .select(col("u").as("walk_id"), lit(0L).as("step"), col("u").as("node"))
    val adj = sym.select(col("u").as("cur"), col("v"))
    var frontier = starts
    var corpus = starts
    for (step <- 1 to hops) {
      frontier = frontier
        .select(col("walk_id"), col("node").as("cur"))
        .join(adj, Seq("cur"))
        .withColumn("h",
          expr(s"CAST(conv(substr(md5(concat(CAST(walk_id AS STRING), '-$step-', CAST(v AS STRING))), 1, 15), 16, 10) AS BIGINT)"))
        .groupBy(col("walk_id"))
        .agg(min(struct(col("h"), col("v"))).as("m"))
        .select(col("walk_id"), lit(step.toLong).as("step"), col("m.v").as("node"))
      corpus = corpus.unionAll(frontier)
    }
    corpus.orderBy(col("walk_id"), col("step"))
  }

  /** Association rules over the basket graph (Agrawal & Srikant's
    * support/confidence/lift, the market-basket classic): for every
    * DIRECTED part pair (ante → cons) co-bought in ≥ 3 orders, the
    * joint support, the conditional confidence P(cons | ante), and
    * the lift vs independence — the score that separates "bought
    * together because both are popular" from a real affinity.
    * [[coOccurrenceEdges]] is this table's support-count skeleton;
    * the rules are what a recommender actually ranks by.
    *
    * Shape at scale: pair counts are the wedge self-join (bounded by
    * basket size); item counts are a |V|-row agg broadcast onto both
    * endpoints; all ratios are computed on the pair table — the fact
    * stream is scanned once. */
  def basketLift(spark: SparkSession, dir: String, minPairOrders: Int = 3): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    // Baskets built ONCE, directly on the fact scan: collect_set dedups
    // (ok, pk) inside the same agg, so the r15 form's separate
    // distinct() staging table was a redundant full-width exchange
    // (guide §2.4 — "a distinct on data that is already unique" one
    // operator later), and its countDistinct(ok) was a second full
    // 2-phase pass over the fact grain for a number that is simply the
    // basket count. Everything downstream (order count, per-item order
    // counts, pair counts) derives from the persisted basket relation:
    // ONE exchange on the order key total, instead of three
    // fact-grain exchanges.
    val baskets = graft.Caches.persistTracked(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("ps")))
    baskets.count() // materialize: maybeBroadcast below needs real sizes
    // one row per distinct order — count(*) IS count(distinct ok)
    val nOrd = baskets.agg(count(lit(1)).as("n_orders"))
    // exploding the deduped baskets restores the exact (ok, pk)-distinct
    // grain, so this count per part equals the old items-based count
    val itemCnt = baskets.select(explode(col("ps")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
    // basket-expansion form (the coOccurrenceEdges rewrite): map-side
    // C(k,2) expansion; the (u, v) count agg is the same either way.
    val pairCnt = baskets
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "u")))
      .select(col("u"), explode(expr("slice(ps, i + 2, size(ps))")).as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minPairOrders)
    val directed = pairCnt.select(col("u").as("ante"), col("v").as("cons"), col("n_both"))
      .unionAll(pairCnt.select(col("v").as("ante"), col("u").as("cons"), col("n_both")))
    directed
      .join(maybeBroadcast(itemCnt.select(col("pk").as("ante"), col("n_item").as("n_ante"))), Seq("ante"))
      .join(maybeBroadcast(itemCnt.select(col("pk").as("cons"), col("n_item").as("n_cons"))), Seq("cons"))
      .crossJoin(broadcast(nOrd))
      .select(col("ante"), col("cons"), col("n_both"),
        round(col("n_both") / col("n_orders").cast("double"), 6).as("support"),
        round(col("n_both") / col("n_ante").cast("double"), 6).as("confidence"),
        round(col("n_orders").cast("double") * col("n_both") /
          (col("n_ante") * col("n_cons")).cast("double"), 6).as("lift"))
      .orderBy(col("ante"), col("cons"))
  }

  /** Per-node local clustering coefficient over the sparsified
    * affinity graph: 2·T(v) / (d(v)·(d(v)−1)) for every node of
    * degree ≥ 2 — Watts–Strogatz "how clique-like is this node's
    * neighborhood", the per-node refinement of [[triangleCounts]]'
    * global audit (reference analogue: the small-world check run
    * before trusting any neighborhood-based recommender signal).
    *
    * Shape at scale: the triangle enumeration is the plain u<v wedge
    * self-join, safe HERE because the sparsified graph is degree-
    * capped by construction (the l_quantity gate bounds hub fan-out —
    * on the full graph this would be the degree-oriented
    * [[triangleCounts]] formulation instead); degrees are one
    * map-side-combinable agg; the final join is |V|-row against
    * |V|-row. */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val edges = graft.Caches.persistTracked(sparseCoOccurrenceEdges(spark, dir))
    edges.count() // materialize once: three consumers below
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .join(edges.as("e3"),
        col("e3.u") === col("e1.v") && col("e3.v") === col("e2.v"))
      .select(explode(array(col("e1.u"), col("e1.v"), col("e2.v"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))
    val deg = edges.select(explode(array(col("u"), col("v"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("degree"))
    deg.filter(col("degree") >= 2)
      .join(tri, Seq("part"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .select(col("part"), col("degree"), col("n_triangles"),
        round(col("n_triangles").cast("double") * 2d /
          (col("degree") * (col("degree") - 1)).cast("double"), 6).as("coeff"))
      .orderBy(col("part"))
  }

  /** Adamic–Adar link prediction over the sparsified affinity graph:
    * for every NON-adjacent pair with ≥1 common neighbor, the score
    * Σ_{apex} 1/ln(deg(apex)) — rare shared neighbors count more than
    * promiscuous hubs — and the top-k candidate edges. This is the
    * "products that SHOULD co-sell but don't yet" screen a
    * merchandiser reads off the affinity graph.
    *
    * Numeric discipline: each apex term is rounded to 9 dp and summed
    * as DECIMAL(18,9), so the score is independent of partial-agg
    * addition order in BOTH engines (float Σ would be order-dependent
    * and Spark's combiner order is not deterministic).
    *
    * Shape at scale: wedge self-join on the apex key (same Σdeg²
    * bound as [[neighborJaccard]], capped by the sparse graph), apex
    * weights broadcast (|V| rows), existing edges removed with a
    * left_anti on the canonical pair, top-k via TakeOrdered — no
    * global sort ever materializes. */
  def adamicAdar(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    val edges = graft.Caches.persistTracked(sparseCoOccurrenceEdges(spark, dir))
    edges.count() // materialize: broadcast gates need real sizes
    val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      .select(col("u").as("a"), col("v").as("b"))
    // degree of the shared apex; deg-1 apexes cannot form a wedge and
    // would put ln(1)=0 in a denominator — filtered before the cast
    val term = maybeBroadcast(sym.groupBy(col("b")).agg(count(lit(1)).as("db"))
      .filter(col("db") >= 2)
      .select(col("b"),
        expr("CAST(round(1.0D / ln(CAST(db AS DOUBLE)), 9) AS DECIMAL(18,9))").as("w")))
    val pairs = sym.as("x")
      .join(sym.as("y"), col("x.b") === col("y.b") && col("x.a") < col("y.a"))
      .select(col("x.a").as("u"), col("y.a").as("v"), col("x.b").as("b"))
      .join(term, Seq("b"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"), sum(col("w")).as("sw"))
    pairs.join(edges, Seq("u", "v"), "left_anti")
      .select(col("u"), col("v"), col("n_common"),
        round(col("sw").cast("double"), 6).as("aa_score"))
      .orderBy(col("aa_score").desc, col("u"), col("v"))
      .limit(k)
  }

  /** Sampled harmonic centrality: for the 5 smallest node ids of the
    * full co-occurrence graph, the bounded-radius harmonic score
    * Σ_reached 1/dist within 3 hops — the "how central is this item"
    * estimate every influence/importance screen starts from, from
    * exactly the multi-source BFS a 100-TB deploy would run (sampled
    * seeds, bounded radius — full harmonic centrality is all-pairs
    * and nobody computes it). The per-hop reach counts stay in the
    * output, and the harmonic sum is pure counts × decimal weights
    * (1, 0.5, round(1/3, 9)) — no float accumulation at all.
    *
    * Shape at scale: the [[bfsLevels]] loop with a (seed, node)
    * frontier — per hop ONE semi-join against the symmetrized edge
    * list + an anti-join vs the per-seed visited set,
    * localCheckpoint'd; frontier and visited stay ≤ seeds·|V|. */
  def harmonicSample(spark: SparkSession, dir: String,
      seeds: Int = 5, maxHops: Int = 3): DataFrame = {
    val edges = sharedEdges(spark, dir)
    edges.count()
    val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    val seedRel = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .distinct().orderBy(col("node")).limit(seeds)
      .select(col("node").as("seed"))
    var visited = seedRel.select(col("seed"), col("seed").as("node"),
      lit(0).as("dist")).localCheckpoint()
    var frontier = visited
    for (hop <- 1 to maxHops) {
      frontier = frontier
        .select(col("seed"), col("node").as("u"))
        .join(sym, Seq("u"))
        .select(col("seed"), col("v").as("node")).distinct()
        .join(visited.select(col("seed"), col("node")), Seq("seed", "node"),
          "left_anti")
        .select(col("seed"), col("node"), lit(hop).as("dist"))
        .localCheckpoint()
      // visited stays a LAZY union of the (already-checkpointed)
      // per-hop frontiers: its lineage is ≤ maxHops flat checkpoint
      // reads, so its own eager checkpoint was a pure extra job per
      // hop (maxHops of them) re-materializing rows every one of
      // which is already in cached checkpoint blocks
      visited = visited.unionAll(frontier)
    }
    visited.filter(col("dist") > 0)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(when(col("dist") === 1, 1L).otherwise(0L)).as("n_hop1"),
        sum(when(col("dist") === 2, 1L).otherwise(0L)).as("n_hop2"),
        sum(when(col("dist") === 3, 1L).otherwise(0L)).as("n_hop3"))
      .select(col("seed"), col("n_reached"), col("n_hop1"), col("n_hop2"),
        col("n_hop3"),
        // scalar IEEE expression over three aggregated counts — the
        // oracle evaluates the identical tree, so no staging needed
        round(col("n_hop1") + col("n_hop2") * lit(0.5) +
          col("n_hop3") * lit(0.333333333), 6).as("harmonic"))
      .orderBy(col("seed"))
  }

  /** Triangle counting by edge sampling (the Doulion estimator,
    * Tsourakakis et al. 2009): keep each edge iff its portable hash
    * ≡ 0 (mod 4), count triangles in the ¼-sample, scale by p⁻³ = 64
    * — reported AGAINST the exact count with the relative error, so
    * the speed/accuracy trade of sampling-first triangle counting is
    * measured the way [[graft.ops.Dedup.lshEval]] measures LSH. Runs
    * on the sparsified graph; the hash-sample is the same
    * derandomized md5 every sampler here uses — reproducible across
    * engines and cluster sizes.
    *
    * Shape at scale: two triad self-joins (full + ~1/64-sized
    * sample); at 100 TB you'd run ONLY the sampled side — the exact
    * side exists to certify the estimator, over a sample of the
    * corpus as in lshEval's sample-at-scale story. */
  def triangleEstimate(spark: SparkSession, dir: String): DataFrame = {
    val edges = graft.Caches.persistTracked(sparseCoOccurrenceEdges(spark, dir))
    edges.count()
    def triads(e: DataFrame): DataFrame = e.as("e1")
      .join(e.as("e2"), col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.v") && col("e3.v") === col("e2.v"))
      .agg(count(lit(1)).as("n"))
    val sampled = graft.Caches.persistTracked(edges.filter(
      expr("CAST(conv(substr(md5(concat(CAST(u AS STRING), '-', CAST(v AS STRING))), 1, 15), 16, 10) AS BIGINT) % 4 = 0")))
    val nE = edges.agg(count(lit(1)).as("n_edges"))
    val nS = sampled.agg(count(lit(1)).as("n_sampled_edges"))
    triads(edges).select(col("n").as("exact_triangles"))
      .crossJoin(triads(sampled).select(col("n").as("sampled_triangles")))
      .crossJoin(nE).crossJoin(nS)
      .select(col("n_edges"), col("n_sampled_edges"),
        round(col("n_sampled_edges") / col("n_edges").cast("double"), 6)
          .as("edge_sample_frac"),
        col("exact_triangles"), col("sampled_triangles"),
        (col("sampled_triangles") * 64).as("estimated_triangles"),
        round(abs(col("sampled_triangles") * 64 - col("exact_triangles")) /
          col("exact_triangles").cast("double"), 6).as("rel_error"))
  }

  /** 4-cycle (square) census over a mid-density co-occurrence slice
    * (quantity ≥ 40): squares are the smallest non-trivial motif after
    * triangles and the standard bipartite-cohesion signal ("two parts
    * bought together with two DIFFERENT companions each" — triangles
    * can't see bipartite structure). Per diagonal pair (x, y) the
    * common-neighbor count cn gives C(cn,2) squares through that
    * diagonal; each square has two diagonals, so the global count is
    * Σ C(cn,2)/2 (always even — exact integer). Output: the top-15
    * diagonals by (cn, x, y) plus one TOTAL row (x = y = −1).
    *
    * Shape at scale: ONE wedge self-join of the symmetric adjacency on
    * the midpoint (the [[neighborJaccard]] bound, Σdeg²) into a
    * (x, y)-keyed count — map-side combinable; the top-k is a
    * TakeOrdered, never a global sort. A 100 TB deploy degree-caps or
    * orientation-splits hub wedges exactly as [[triangleCounts]]
    * does. */
  def squareCount(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 40)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    // persist the canonical pairs BEFORE the symmetrizing union — its
    // two branches otherwise each re-derive the self-join build inside
    // e's one materialization (the bfsLevels disease; 4 lineitem scans
    // in the audited plan)
    val p = graft.Caches.persistTracked(
      items.as("x").join(items.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("u"), col("y.pk").as("v"))
        .distinct())
    val e = graft.Caches.persistTracked(
      p.unionAll(p.select(col("v").as("u"), col("u").as("v"))))
    e.count()
    // diag (the |E|²-fan wedge join) feeds BOTH the top-15 and the
    // totals row — persist so the join runs once
    val diag = graft.Caches.persistTracked(e.as("a").join(e.as("b"),
        col("a.v") === col("b.u") && col("a.u") < col("b.v"))
      .groupBy(col("a.u").as("x"), col("b.v").as("y"))
      .agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= 2)
      .withColumn("pair_squares", expr("(cn * (cn - 1)) div 2")))
    val top = diag
      .orderBy(col("cn").desc, col("x"), col("y")).limit(15)
      .select(col("x"), col("y"), col("cn").as("common_neighbors"),
        col("pair_squares").as("n_squares"))
    val total = diag.agg(
        count(lit(1)).as("common_neighbors"),
        expr("sum(pair_squares) div 2").as("n_squares"))
      .select(lit(-1L).as("x"), lit(-1L).as("y"),
        col("common_neighbors"), col("n_squares"))
    top.unionAll(total).orderBy(col("x"), col("y"))
  }

  /** Rich-club coefficient curve (Zhou & Mondragón 2004): for each
    * degree threshold k ∈ {2,4,8,16}, the density of the subgraph
    * induced by nodes with degree > k — φ(k) = 2·E_k / (N_k·(N_k−1)).
    * A rising φ(k) means the hubs preferentially interconnect (a
    * "rich club"), the structural signal behind hub-first salting and
    * broadcast decisions that [[degreeDist]]'s marginal histogram
    * can't see. The ratio is an exact rational of integers, so the
    * 6-dp report uses the tie-free (2·num·10⁶ + den) div (2·den)
    * rounding — engine-independent.
    *
    * Shape at scale: one degree agg, then ONE pass over the u<v edge
    * list joined twice against the |V|-grain degree table (broadcast —
    * degrees are dim-sized next to the edge list) fanned ×|thresholds|
    * by a 4-row literal cross join into a map-side-combinable per-k
    * agg. Node counts come off the degree table alone. */
  def richClub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = sharedEdges(spark, dir)
    p.count()
    val deg = graft.Caches.persistTracked(
      p.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("deg")))
    deg.count()
    val ks = Seq(2L, 4L, 8L, 16L).toDF("k")
    val nodes = deg.crossJoin(broadcast(ks))
      .filter(col("deg") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    val edges = p
      .join(broadcast(deg).as("du"), col("u") === col("du.n"))
      .join(broadcast(deg).as("dv"), col("v") === col("dv.n"))
      .crossJoin(broadcast(ks))
      .filter(col("du.deg") > col("k") && col("dv.deg") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
    nodes.join(edges, Seq("k"), "left")
      .select(col("k"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        when(col("n_nodes") < 2, lit(0.0)).otherwise(
          expr("""CAST((2 * coalesce(n_edges, 0) * 2 * 1000000
                  + n_nodes * (n_nodes - 1))
                 div (2 * n_nodes * (n_nodes - 1)) AS DOUBLE) / 1000000.0"""))
          .as("phi"))
      .orderBy(col("k"))
  }
}
