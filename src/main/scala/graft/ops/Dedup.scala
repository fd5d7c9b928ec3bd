package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions

/** Deduplication operator family for a training-data pipeline: exact
  * (content hash), n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (SURVEY.md §5): signatures (minhash/simhash) are pure
  * map-side array expressions — one projection over the scan, no
  * explode-shuffle per hash function. The only wide operations are the
  * candidate-generation joins, which shuffle on (shingle) or
  * (band, bucket) keys — exactly the joins you want at 100 TB because
  * their fan-in is bounded by collision rate, not corpus size.
  *
  * Each derivation (tokens → shingles → shingle hashes → signature) is
  * materialized as its own projected column so every regex/md5 runs
  * exactly once per row — inlining them into the next lambda makes
  * Catalyst re-evaluate the producer per element (O(n²) regex work;
  * measured 100×+ slowdown at sf0.1).
  *
  * Hashing is engine-portable: H(s) = first 15 hex digits of md5(s) as
  * a 60-bit integer — bit-identical in Spark (`conv`) and DuckDB
  * (`::BIGINT` on a 0x literal), so even the sketch ops hash-match the
  * oracle.
  */
object Dedup {
  /** 60-bit portable content hash of a string expression (SQL fragment). */
  private def h60(s: String): String =
    s"CAST(conv(substr(md5($s), 1, 15), 16, 10) AS BIGINT)"

  /** Deterministic portable 1/mod document sample — the sample-at-scale
    * path of [[lshEval]]: keep doc_id iff H60(doc_id ++ "-lsheval") ≡ 0
    * (mod `mod`). A hash sample (not a prefix/limit) so it composes
    * with any partitioning, is retry-stable, and is reproduced
    * bit-for-bit by the DuckDB oracle; the predicate sits directly on
    * the scan, so every downstream stage (shingling, PPJoin prefix,
    * LSH bands) does 1/mod of its work — the PLAN is unchanged.
    * mod = 1 short-circuits to the full corpus. */
  private def sampleDocs(docs: DataFrame, mod: Long): DataFrame =
    if (mod <= 1) docs
    else docs.filter(
      expr(s"${h60("concat(CAST(doc_id AS STRING), '-lsheval')")} % $mod = 0"))

  /** doc_id + distinct 3-token shingles, each step its own projection. */
  private def withShingles(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("text"),
        expr(raw"regexp_extract_all(text, '\\S+', 0)").as("toks"))
      .select(col("doc_id"),
        expr("""array_distinct(
            CASE WHEN size(toks) >= 3 THEN
              transform(sequence(0, size(toks) - 3),
                i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
            ELSE array(text) END)""").as("shingles"))

  /** doc_id + 60-bit hash per distinct shingle (native codegen kernel,
    * graft.functions.H60Array — md5 once per shingle, no interpreted
    * lambda). */
  private def withShingleHashes(df: DataFrame): DataFrame =
    withShingles(df)
      .select(col("doc_id"), expr("graft_h60_array(shingles)").as("hs"))

  /** PPJoin rarest-prefix relation, shared by [[exactJaccardPairs]],
    * [[containmentPairs]] and [[winnowPairs]]: from a posting stream
    * (doc_id, n, <key>) — n = the doc's DISTINCT posting count — the
    * (n − ⌈n·t⌉ + 1) globally-rarest postings per doc, rarest by
    * (df, key). Returns (doc_id, n, <key>).
    *
    * Default form: per-doc SORTED-ARRAY slice — join the df onto the
    * postings, collect each doc's (df, key) pairs into ONE sorted
    * array, slice the prefix map-side. Same rows as the r10–r15
    * row_number window (the (df, key) order is total — keys are
    * distinct within a doc), but the per-partition window-sort pass
    * over the full posting stream becomes a per-group sort in the agg
    * buffer. r16 sf10 A/B, fresh JVM per arm, min-of-2 per query:
    * winnow 59.5 vs 62.5, ngram_jaccard 13.4 vs 16.5, threshold_sweep
    * 43.2 vs 50.4 (agg wins) — but containment 36.0 vs 23.9 (WINDOW
    * wins decisively: its t=0.9 prefix keeps only ~10% of postings,
    * so collecting every posting into a per-doc array to slice a
    * tenth wastes the agg; at t≤0.8 the slice keeps enough to pay).
    * Callers therefore pick the form: `windowForm = true` for
    * high-threshold (thin-prefix) paths. tFrac must be the EXACT
    * decimal threshold literal — inside expr() it parses as SQL
    * DECIMAL, so ceil(n · t) is exact (double t rounds past the true
    * product for some n — the ngramJaccard prefix-bound lesson). */
  private[graft] def rarestPrefix(sh: DataFrame, key: String, tFrac: BigDecimal,
      windowForm: Boolean = false): DataFrame = {
    val freq = sh.groupBy(col(key)).agg(count(lit(1)).as("df"))
    val joined = sh.join(freq, key)
    if (windowForm) {
      joined
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("df"), col(key))))
        .filter(col("rn") <= col("n") - ceil(col("n") * lit(tFrac)) + 1)
        .select(col("doc_id"), col("n"), col(key))
    } else {
      joined
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("df"), col(key)))).as("ps"),
          first(col("n")).as("n"))
        .select(col("doc_id"), col("n"),
          explode(expr(
            s"slice(ps, 1, CAST(size(ps) - ceil(n * $tFrac) + 1 AS INT))")).as("p"))
        .select(col("doc_id"), col("n"), col(s"p.$key").as(key))
    }
  }

  /** The doubled-corpus id shift: the next multiple of 100000 above
    * max(doc_id), so copies NEVER collide with real ids at any corpus
    * size (a fixed +100000 collides once ids pass 100k — e.g. a
    * ScaleData ×100 dir), while staying exactly 100000 at every
    * oracle-checked SF (max id < 100k there). Mirrored in SQL as
    * `(max(doc_id)//100000 + 1)*100000`. An empty corpus yields a null
    * max — defaulted to the base 100000 instead of an NPE. The probe
    * is one max-agg Spark job over the corpus as it is now; its two
    * callers, [[exact]] and [[winnowPairs]], each run it once. */
  private[graft] def doubleShift(docs: DataFrame): Long = {
    val row = docs.agg(max(col("doc_id"))).head()
    val maxId = if (row.isNullAt(0)) 0L else row.getLong(0)
    (maxId / 100000L + 1L) * 100000L
  }

  /** Exact dedup via content-hash groupBy. The corpus is doubled
    * (doc_id + [[doubleShift]]) so the dedup actually collapses
    * something: keep the minimum doc_id per content hash, count copies. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val doubled = docs.unionAll(
      docs.select((col("doc_id") + doubleShift(docs)).as("doc_id"), col("text")))
    doubled
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_doc_id"))
  }

  /** Segment-level exact dedup (the line/paragraph dedup pass of
    * C4/CCNet/RefinedWeb, with fixed 10-token segments standing in for
    * the newline split this synthetic corpus doesn't have): chunk each
    * doc into consecutive 10-token segments (trailing partial segment
    * kept), keep only the GLOBALLY FIRST occurrence of each distinct
    * segment — first by (doc_id, seg_idx), so a segment repeated later
    * in the SAME doc is dropped too — and report per doc how much
    * survived. The survival fraction is the boilerplate signal: docs
    * built from segments seen earlier in the corpus shrink toward 0.
    *
    * Shape at scale: segmentation is map-side array algebra on the
    * scan; the only shuffle is the first-occurrence window keyed by
    * segment text (at 100 TB, by its 60-bit hash — same plan), whose
    * groups are occurrence lists, bounded by duplication not corpus
    * size; the per-doc rollup is map-side combinable. */
  def segmentDedup(spark: SparkSession, dir: String, segTokens: Int = 10): DataFrame = {
    val segs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr(raw"regexp_extract_all(text, '\\S+', 0)").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        // the empty-doc guard matters: sequence(0, -1) DESCENDS in
        // Spark (step inferred as -1), it isn't empty
        s"""CASE WHEN size(toks) >= 1 THEN
              transform(sequence(0, CAST(ceil(size(toks) / $segTokens.0) AS INT) - 1),
                i -> array_join(slice(toks, i * $segTokens + 1, $segTokens), ' '))
            ELSE array() END"""))
        .as(Seq("seg_idx", "seg")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg")).orderBy(col("doc_id"), col("seg_idx"))
    segs.withColumn("first", row_number().over(w) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("first"), 1L).otherwise(0L)).as("n_kept"),
        round(sum(when(col("first"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("kept_frac"),
        sum(when(col("first"), length(col("seg"))).otherwise(0L)).as("n_chars_kept"))
      .orderBy(col("doc_id"))
  }

  /** n-gram Jaccard near-dup pairs (exact): prefix-filtered all-pairs
    * similarity join, Jaccard = |∩| / (|A|+|B|-|∩|), threshold 0.8. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    exactJaccardPairs(spark, dir, BigDecimal("0.8"))

  /** The parameterized exact path behind [[ngramJaccard]] (also the
    * ground-truth generator for [[lshEval]] at a looser threshold).
    * Returns (doc_a, doc_b, jaccard) for every pair at or above
    * `thresholdDec`. */
  private def exactJaccardPairs(spark: SparkSession, dir: String,
      thresholdDec: BigDecimal, sampleMod: Long = 1): DataFrame = {
    GraftFunctions.register(spark)
    val threshold = thresholdDec.toDouble
    // Exact all-pairs similarity join with PPJoin-style prefix
    // filtering: J(A,B) ≥ t requires |A∩B| ≥ t·|A|, so A and B must
    // share at least one of the (⌊(1-t)·|A|⌋ + 1) globally-rarest
    // shingles of each — joining only those prefixes yields an exact
    // candidate superset at a fraction of the Σdf² pair explosion
    // (19s → 13.7s at sf0.1 — the synthetic corpus's 31-word vocabulary
    // keeps even "rare" shingles frequent, capping the win; on a real
    // corpus the prefix join is orders of magnitude smaller).
    // Verification is array_intersect over per-doc shingle-hash sets.
    // keep the exploded relation narrow — carrying the hs array through
    // the explode would shuffle every 90-element array 90 times
    // the bound must be computed in EXACT decimal arithmetic: in double,
    // 1-0.8 = 0.1999...96 and n*0.8 can round up past the true product,
    // shortening the prefix below the correctness bound for n ≡ 0 (mod 5)
    // and silently losing pairs sitting exactly at the threshold.
    val tDec = lit(thresholdDec)
    // sets feeds three subtrees (prefix relation + both verification
    // sides); without a cache the scan→shingle→md5 chain runs 3×
    val sets = graft.Caches.persistTracked(
      withShingleHashes(sampleDocs(Tables.documents(spark, dir), sampleMod))
        .select(col("doc_id"), col("hs")))
    val sh = sets.select(col("doc_id"), size(col("hs")).as("n"), explode(col("hs")).as("s"))
    // the self-join below evaluates its child twice; the prefix
    // relation is ~0.2·Σ|doc| rows, so cache beats recompute
    val ranked = graft.Caches.persistTracked(
      rarestPrefix(sh, "s", thresholdDec))
    // PPJoin length filter: J(A,B) ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|),
    // so size-incompatible docs never become candidate pairs.
    val candidates = ranked.as("a").join(ranked.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * tDec <= col("b.n") && col("b.n") * tDec <= col("a.n"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // the per-doc set side is ~|docs|·|shingles|·8B — small relative to
    // the candidate stream, so broadcast it and keep verification
    // map-side; SIZE-GATED so a corpus whose set table outgrows
    // executor memory degrades to a shuffle join instead of an OOM
    // (exact all-pairs Jaccard is the small-corpus path by design; the
    // 100 TB path is MinHash+LSH, SURVEY §5)
    import graft.operators.Scale.maybeBroadcast
    candidates
      .join(maybeBroadcast(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha"))), "doc_a")
      .join(maybeBroadcast(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb"))), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("ha"), col("hb"))).cast("double") /
          (size(col("ha")) + size(col("hb")) - size(array_intersect(col("ha"), col("hb")))), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Winnowing near-dup pairs (MOSS-style plagiarism detection): docs
    * whose shared winnow fingerprints cover ≥ 80% of the smaller doc's
    * fingerprint set are flagged copies. The overlap test is integer
    * arithmetic (5·shared ≥ 4·min) — no float thresholds to drift. The
    * fingerprint explode is map-side (native graft_winnow kernel); the
    * self-join shuffles on the fingerprint — fan-in bounded by
    * collision rate, like every LSH-family candidate join. Doubled
    * corpus (+[[doubleShift]]) so the operator provably catches the
    * planted exact copies. */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val doubled = docs.unionAll(
      docs.select((col("doc_id") + doubleShift(docs)).as("doc_id"), col("text")))
    // per-doc fingerprint ARRAY (sorted distinct, native kernel) — the
    // unit of verification; exploded only for candidate generation
    val fpArr = graft.Caches.persistTracked(doubled
      .select(col("doc_id"), expr("graft_winnow16(text)").as("fa")))
    val sh = fpArr.select(col("doc_id"), size(col("fa")).as("n"), explode(col("fa")).as("fp"))
    // EXACT min-side prefix filter: a pair overlapping ≥ ⌈0.8·min⌉ must
    // share a fingerprint inside the smaller doc's (n-⌈0.8n⌉+1) rarest —
    // so prefix×FULL catches every valid pair (prefix×prefix would not:
    // the larger doc's own prefix bound is not safe for cross-size
    // pairs). The naive full×full join is Θ(Σ df²) and took 315s at
    // sf0.1 on this tiny-vocab corpus.
    // rarest-prefix via the shared sorted-array-slice helper (r16 sf10
    // A/B in its scaladoc — this query was the A/B vehicle)
    val ranked = rarestPrefix(sh, "fp", BigDecimal("0.8"))
      .select(col("doc_id"), col("fp"))
    val candidates = ranked.as("a").join(sh.select(col("doc_id"), col("fp")).as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    // size-gated: per-doc fingerprint sets normally broadcast, but fall
    // back to a shuffle join rather than OOM on an oversized corpus
    // (the gate materializes the cold fpArr cache before trusting
    // stats — the estimate waved a ~2 GB array cache through at 100×)
    import graft.operators.Scale.maybeBroadcast
    candidates
      .join(maybeBroadcast(fpArr.select(col("doc_id").as("doc_a"), col("fa"))), "doc_a")
      .join(maybeBroadcast(fpArr.select(col("doc_id").as("doc_b"), col("fa").as("fb"))), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("fa"), col("fb"))).cast("long").as("n_shared"),
        least(size(col("fa")), size(col("fb"))).cast("long").as("n_min"))
      .filter(col("n_shared") * 5 >= col("n_min") * 4)
      .select(col("doc_a"), col("doc_b"), col("n_shared"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** MinHash signatures (k=16, h_i(s) = (a_i·H(s) mod p + b_i) mod p)
    * computed as one map-side array expression over pre-hashed shingles,
    * then LSH banding (4 bands × 4 rows): docs sharing any band bucket
    * are candidate pairs. The band join is the only shuffle. */
  /** (doc_id, band, bkey) LSH band-bucket relation — the shared
    * candidate-generation surface for near-dup pairing AND benchmark
    * decontamination (Pipeline.decontaminate). */
  /** (band, bkey) struct-array explode for `b` bands × `r` rows over a
    * `sig` column — the ONE definition of LSH banding, shared by the
    * production path ([[lshBands]]) and the calibration sweep
    * ([[bandTuning]]) so the tuned config and the deployed config are
    * definitionally identical (ADVICE r8: two independent encodings of
    * the same banding can silently drift apart). */
  private[ops] def bandKeysExpr(b: Int, r: Int): org.apache.spark.sql.Column =
    explode(expr(
      s"""transform(sequence(0, ${b - 1}, 1), j ->
            struct(j AS band, md5(concat_ws(',',
              transform(sequence(0, ${r - 1}, 1),
                i -> CAST(sig[$r*j + i] AS STRING)))) AS bkey))"""))

  private[ops] def lshBands(spark: SparkSession, dir: String,
      sampleMod: Long = 1): DataFrame = {
    GraftFunctions.register(spark)
    val sig = withShingles(sampleDocs(Tables.documents(spark, dir), sampleMod))
      .select(col("doc_id"), expr("graft_minhash_sig(shingles)").as("sig"))
    sig.select(col("doc_id"), bandKeysExpr(4, 4).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bkey").as("bkey"))
  }

  /** The UNSORTED candidate-pair relation behind [[minhashLsh]]:
    * distinct pairs with doc_a < doc_b (canonical by the join
    * condition). Internal consumers (the components family, the
    * estimator audits) use THIS — the declared query's presentation
    * orderBy is a full sort exchange none of them needs, and one that
    * survives (and materializes) under a persist. */
  private[ops] def minhashPairs(spark: SparkSession, dir: String,
      sampleMod: Long = 1): DataFrame = {
    val bands = lshBands(spark, dir, sampleMod)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  def minhashLsh(spark: SparkSession, dir: String,
      sampleMod: Long = 1): DataFrame =
    minhashPairs(spark, dir, sampleMod).orderBy(col("doc_a"), col("doc_b"))

  /** MinHash estimator calibration — per candidate pair, the
    * signature-agreement Jaccard ESTIMATE (agreeing positions / 16)
    * against the exact shingle Jaccard, with the absolute error:
    * [[lshEval]] audits the candidate GENERATOR (what the bands
    * miss); this audits the ESTIMATOR (how wrong the cheap number a
    * pipeline ranks/thresholds on actually is, which calibrates k —
    * stderr ≈ √(J(1−J)/k) ≈ 0.12 at k=16, the spec's tolerance).
    *
    * Shape at scale: candidates come from the production LSH band
    * join; signatures and shingle sets are per-doc rows (size-gated
    * broadcasts), so the audit adds zero shuffles beyond the pair
    * stream itself — it can run permanently against a sample of the
    * dedup run's own candidates. */
  def minhashEstError(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    import graft.operators.Scale.maybeBroadcast
    val cand = minhashPairs(spark, dir)
    val sigs = graft.Caches.persistTracked(
      withShingles(Tables.documents(spark, dir))
        .select(col("doc_id"), expr("graft_minhash_sig(shingles)").as("sig")))
    val sets = graft.Caches.persistTracked(
      withShingleHashes(Tables.documents(spark, dir))
        .select(col("doc_id"), col("hs")))
    cand
      .join(maybeBroadcast(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa"))), "doc_a")
      .join(maybeBroadcast(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb"))), "doc_b")
      .join(maybeBroadcast(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha"))), "doc_a")
      .join(maybeBroadcast(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb"))), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), z -> z))") / lit(16.0), 6)
          .as("est_jaccard"),
        round(size(array_intersect(col("ha"), col("hb"))).cast("double") /
          (size(col("ha")) + size(col("hb")) -
            size(array_intersect(col("ha"), col("hb")))), 6).as("exact_jaccard"))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("exact_jaccard")), 6))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Index-quality evaluation of the MinHash-LSH candidate generator
    * against exact n-gram Jaccard ground truth — the dedup counterpart
    * of [[graft.ops.Similarity.annRecallReport]]: before trusting the
    * approximate path at scale, measure what it misses. One row per
    * threshold t ∈ {0.5, 0.7, 0.8, 0.9}: how many true pairs (exact
    * J ≥ t) exist, how many the LSH bands surfaced (n_hit), recall
    * = hit/true, and precision = hit/candidates (candidates whose true
    * similarity clears t).
    *
    * Shape at scale: the candidate side is the production LSH join
    * (collision-bounded); the exact side is the expensive QC side —
    * [[exactJaccardPairs]]' PPJoin prefix filter bounds it, and a real
    * 100 TB deploy runs this report over a document SAMPLE, which
    * changes none of the plan. Both pair sets reduce to a handful of
    * counts before the thresholds (a 4-row broadcast) ever see them. */
  def lshEval(spark: SparkSession, dir: String,
      sampleMod: Long = 1): DataFrame = {
    val cand = graft.Caches.persistTracked(
      minhashPairs(spark, dir, sampleMod).select(col("doc_a"), col("doc_b")))
    // ground truth at the loosest reported threshold; tighter ones are
    // filters over the same relation
    val truth = exactJaccardPairs(spark, dir, BigDecimal("0.5"), sampleMod)
    val flagged = truth.join(cand.withColumn("hit", lit(1L)),
        Seq("doc_a", "doc_b"), "left")
      .select(col("jaccard"), coalesce(col("hit"), lit(0L)).as("hit"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val thresholds = spark.range(0, 4).select(
      element_at(array(lit(0.5), lit(0.7), lit(0.8), lit(0.9)),
        (col("id") + 1).cast("int")).as("threshold"))
    flagged.join(broadcast(thresholds), col("jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_true"), sum(col("hit")).as("n_hit"))
      .crossJoin(broadcast(nCand))
      .select(col("threshold"), col("n_candidates"), col("n_true"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_candidates"), 6).as("precision"),
        round(col("n_hit").cast("double") / col("n_true"), 6).as("recall"))
      .orderBy(col("threshold"))
  }

  /** Near-dup clustering: connected components over the MinHash-LSH
    * pair graph → one canonical id (the component's min doc_id) per
    * involved doc. Size-gated hybrid ([[connectedComponents]]): the
    * pair graph after LSH banding is orders of magnitude smaller than
    * the corpus (bounded by collision rate), so when it fits on the
    * driver a single union-find pass labels it with zero Spark
    * iterations; past the gate the distributed star contraction takes
    * over. */
  def components(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(spark, dir)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    // canonical: minhashLsh emits distinct pairs with doc_a < doc_b
    connectedComponents(pairs, canonical = true)
      .select(col("node").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }

  /** Connected components over an edge list (columns u, v — integral
    * ids), size-gated hybrid:
    *
    *  - the edge count is probed with a LIMIT+count — `LocalLimit`
    *    short-circuits, so at 100 TB this counts at most
    *    `driverMaxEdges + 1` rows and ships ONE long to the driver;
    *    edges are collected only once the graph is known to fit;
    *  - under the gate, one driver-side union-find labels the graph in
    *    a single pass (the LSH pair graph is collision-bounded — even a
    *    billion-doc corpus with a sane threshold yields edges in the
    *    millions, not the billions);
    *  - over the gate, [[connectedComponentsStar]] runs the
    *    O(log²|V|)-round distributed contraction.
    *
    * An iterative DataFrame loop costs several blocking jobs per round
    * (join + agg + checkpoint + convergence count) — pure fixed
    * overhead when the graph fits in one task's memory, and the first
    * thing to blow up under cluster contention. Component label = the
    * component's minimum node id on both paths (union-by-min: roots
    * only ever decrease, so the final root IS the component min). */
  def connectedComponents(pairs: DataFrame, driverMaxEdges: Int = 1 << 22,
      canonical: Boolean = false): DataFrame = {
    val spark = pairs.sparkSession
    // canonical = the caller PROVES its pairs are already distinct with
    // u < v (minhashLsh's join condition is x.doc_id < y.doc_id +
    // distinct; sparseCoOccurrenceEdges' slice expansion is u < v
    // structural + distinct) — re-canonicalizing those is a redundant
    // |E|-sized exchange per consumer (guide §2.4 "a distinct on data
    // that is already unique"). Non-canonical callers (specs, arbitrary
    // edge lists) keep the normalization.
    val norm = graft.Caches.persistTracked(
      if (canonical) pairs
      else pairs
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct())
    // probe the gate with a COUNT, not a collect: over the gate this
    // moves 8 bytes to the driver instead of gate+1 boxed Rows
    // (~hundreds of MB) that the star path would then discard
    if (norm.limit(driverMaxEdges + 1).count() > driverMaxEdges) {
      // norm is canonical by construction here (either proven by the
      // caller or produced by the normalization above)
      val (labels, _) = connectedComponentsStar(norm, canonical = true)
      labels
    } else {
      val probe = norm.select(col("u").cast("long"), col("v").cast("long")).collect()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var r = x0
        while (parent.get(r) != r) r = parent.get(r)
        var x = x0 // path compression: point the whole chain at the root
        while (x != r) { val nxt = parent.get(x); parent.put(x, r); x = nxt }
        r
      }
      probe.foreach { row =>
        val u = row.getLong(0); val v = row.getLong(1)
        parent.putIfAbsent(u, u); parent.putIfAbsent(v, v)
        val ru = find(u); val rv = find(v)
        if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
      }
      val nodes = parent.keySet().toArray(Array.empty[java.lang.Long])
      val labeled = nodes.map(n => (n.toLong, find(n.toLong))).toSeq
      spark.createDataFrame(labeled).toDF("node", "component")
    }
  }

  /** [[components]] semantics via iterative min-label propagation,
    * each round ONE join+agg over the edge list; converges in
    * O(diameter) rounds (near-dup components are shallow — a handful
    * here). Kept as the all-DataFrame reference implementation the
    * hybrid and star paths are checked against. */
  def componentsMinLabel(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    // LPA's pre-partitioning discipline: the symmetric edge list is
    // hash-partitioned on u ONCE before the loop. The per-round label
    // join is broadcast (gated), which preserves that partitioning, so
    // the groupBy(u) partial-min needs no exchange, and its output
    // (HashPartitioning(node)) colocates with the previous round's
    // persisted step for the convergence join — every round after this
    // one shuffle is exchange-FREE (was 1 |2E|-sized agg exchange + the
    // label-join exchanges per round).
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pairs = minhashPairs(spark, dir)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    val edges = graft.Caches.persistTracked(
      pairs.unionAll(pairs.select(col("v").as("u"), col("u").as("v")))
        .repartition(parts, col("u")))
    // Round-1 algebraic shortcut (LPA's fastFirstRound, exact): labels
    // start as IDENTITY, so round 1's neighbor-min is just min(v) per u
    // and the label broadcast+join (and the separate identity-label
    // build the r1-r14 loop materialized just to seed it) vanish —
    // round 1 is ONE exchange-free agg over the pre-partitioned edges.
    var labels: DataFrame = null
    var cached: DataFrame = null // the persisted handle backing `labels`
    var changed = 1L
    var round = 1
    while (changed > 0) {
      val step = graft.Caches.persistTracked(
        if (round == 1) {
          edges.groupBy(col("u").as("node")).agg(min(col("v")).as("mn"))
            .select(col("node"), col("node").as("old"),
              least(col("node"), col("mn")).as("comp"))
        } else {
          // label table is |V| rows — broadcast it (size-gated) so the
          // edge list streams map-side instead of shuffling every round
          val neighborMin = edges
            .join(maybeBroadcast(labels.withColumnRenamed("node", "v2")), col("v") === col("v2"))
            .groupBy(col("u").as("node")).agg(min(col("comp")).as("ncomp"))
          // old and new labels in one relation: the convergence count
          // and the next labels share a single join + materialization
          labels.join(neighborMin, Seq("node"), "left")
            .select(col("node"), col("comp").as("old"),
              least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
        })
      changed = step.filter(col("comp") =!= col("old")).count()
      if (cached != null) cached.unpersist()
      cached = step
      labels = step.select(col("node"), col("comp"))
      round += 1
    }
    // the converged step cache is all the returned projection reads;
    // the pair graph backing the loop is dead weight from here
    edges.unpersist()
    labels.select(col("node").as("doc_id"), col("comp").as("component"))
      .orderBy(col("doc_id"))
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14 — public algorithm): each round rewrites the
    * edge list so every node's neighbors attach to the minimum of its
    * neighborhood. Converges to per-component star graphs rooted at the
    * component minimum in O(log²|V|) rounds worst-case — this is the
    * 100 TB path for DEEP graphs, where min-label propagation
    * ([[components]]) needs O(diameter) rounds. Each round is two
    * agg+join passes over the edge list; only a convergence count
    * reaches the driver.
    *
    * Returns (labels, rounds): labels = (node → component minimum) for
    * every node appearing in `pairs` (columns u, v). */
  def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = 64,
      canonical: Boolean = false): (DataFrame, Int) = {
    // canonical: see [[connectedComponents]] — skip the redundant
    // |E|-sized re-canonicalization exchange for inputs proven
    // distinct with u < v
    var e = graft.Caches.persistTracked(
      if (canonical) pairs
      else pairs.select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct())
    var cached = e
    var eCount = e.count()
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      // large-star: node u attaches every LARGER neighbor to
      // m = min(Γ(u) ∪ {u})
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // NO distinct here: duplicate large-star edges are harmless —
      // minsS is a min-agg (dupes can't change a min), withMin's join
      // fan-out is bounded by the same duplicate count, and newE ends
      // in the round's one real distinct anyway. The r1–r14 distinct
      // was a full extra |2E|-sized exchange per round buying nothing.
      // Adjudicated at sf10 (r16, same box, fresh JVM per arm,
      // interleaved min-of-2): no-distinct 16.00/16.78s vs distinct
      // 16.49/17.84s — the removal wins both passes; the r15 "×1.68"
      // flag was the box change (both arms sit at ~16s on this box).
      val large = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("u"), greatest(col("v"), col("m")).as("v"))
        .filter(col("u") =!= col("v"))
      // small-star: node hi attaches its SMALLER neighbors (and itself)
      // to the minimum among them
      val minsS = large.groupBy(col("v").as("hi")).agg(min(col("u")).as("m"))
      val withMin = large.join(minsS, col("v") === col("hi"))
      // localCheckpoint truncates lineage: each round's plan embeds the
      // previous round's SEVERAL times (sym union + joins), so without
      // truncation the logical plan grows exponentially with rounds —
      // analysis itself becomes the bottleneck long before 100 TB does.
      // Eager: the round runs exactly once, here.
      val newE = withMin.select(col("u"), col("m"))
        .unionAll(withMin.select(col("hi").as("u"), col("m")))
        .filter(col("u") =!= col("m"))
        .select(least(col("u"), col("m")).as("u"), greatest(col("u"), col("m")).as("v"))
        .distinct()
        .localCheckpoint(true)
      val newCount = newE.count()
      // distinct sets of equal size are equal iff one-sided difference
      // is empty — one anti-join, not two
      stable = newCount == eCount &&
        newE.join(e, Seq("u", "v"), "left_anti").limit(1).count() == 0
      // the initial persisted edge set is superseded after round 1
      // (checkpoint blocks from later rounds are freed by the context
      // cleaner once their Dataset handles go out of scope)
      cached.unpersist()
      e = newE
      eCount = newCount
      rounds += 1
    }
    if (!stable) throw new IllegalStateException(
      s"star contraction did not converge in $maxRounds rounds")
    // fixed points are stars rooted at the component min: u = root
    val labels = e.select(col("v").as("node"), col("u").as("component"))
      .unionAll(e.select(col("u")).distinct()
        .select(col("u").as("node"), col("u").as("component")))
    (labels, rounds)
  }

  /** [[components]] semantics (same output, same oracle) via
    * [[connectedComponentsStar]] on the MinHash-LSH pair graph. */
  def componentsStar(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(spark, dir)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    // canonical: minhashLsh emits distinct pairs with doc_a < doc_b
    val (labels, _) = connectedComponentsStar(pairs, canonical = true)
    labels.select(col("node").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }

  /** 60-bit SimHash per doc (map-side fold over pre-hashed distinct
    * tokens), then near-dup pairs by Hamming distance ≤ 2 (the testdata
    * vocabulary is tiny, so token-set simhashes are close; real corpora
    * use a larger radius). Pairing here is a self-join restricted by
    * doc_id order; at 100 TB you'd band the simhash into 4×15-bit
    * chunks first (same LSH shape as minhash). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    // materialization boundary: the banding self-join infers
    // isnotnull(sim) onto BOTH scan branches, and on a computed column
    // that filter re-runs tokenize+simhash per row per branch (the
    // shingleDfProfile lesson); cached, each fingerprint computes once
    val sim = graft.Caches.persistTracked(Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr(raw"array_distinct(regexp_extract_all(text, '\\S+', 0))").as("toks"))
      .select(col("doc_id"), expr("graft_simhash60(toks)").as("sim")))
    sim.count()
    bandedHammingPairs(sim, 2)
  }

  /** Pigeonhole band pre-filter shared by [[simhash]] and
    * [[Multimodal.phashDedup]]: hamming ≤ maxH < 3 over 60 bits ⇒ at
    * least one of the three 20-bit chunks is identical, so candidates
    * come from an equi-join on (chunk, value) instead of an O(n²)
    * nested-loop pair scan; exact hamming then verifies. Input is any
    * (doc_id, sim) 60-bit fingerprint relation.
    *
    * `maxBucket` is the standard LSH hot-bucket mitigation: a corpus
    * with massive duplicate multiplicity (or a weakly-discriminating
    * fingerprint) makes some (chunk, value) buckets huge, and the
    * bucket join's pair fan-out is Σ bucket² — quadratic in
    * multiplicity even though every emitted pair is a true candidate.
    * Capping drops buckets above the bound (one map-side-combinable
    * size agg + a semi-join on the same key, no new shuffle grain);
    * pairs inside a dropped bucket are exactly the ones a cluster-
    * level consumer (components → keepBest) would collapse anyway, so
    * at scale you cap and hand the hot buckets to the clustering path
    * instead of enumerating their pairs. Default = uncapped (the
    * oracle-gated queries keep exact enumeration semantics). */
  private[ops] def bandedHammingPairs(sim: DataFrame, maxH: Int,
      maxBucket: Long = Long.MaxValue): DataFrame = {
    val allChunks = sim.select(col("doc_id"), col("sim"),
        explode(expr("""transform(sequence(0, 2), c ->
          struct(c AS chunk, shiftright(sim, c*20) % 1048576 AS cval))""")).as("ch"))
      .select(col("doc_id"), col("sim"), col("ch.chunk").as("chunk"), col("ch.cval").as("cval"))
    val chunks =
      if (maxBucket == Long.MaxValue) allChunks
      else allChunks.join(
        allChunks.groupBy(col("chunk"), col("cval"))
          .agg(count(lit(1)).as("bsz")).filter(col("bsz") <= maxBucket)
          .select(col("chunk"), col("cval")),
        Seq("chunk", "cval"), "left_semi")
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxH)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Quality-aware canonicalization: within each near-dup cluster keep
    * the HIGHEST-quality member (ties → smaller doc_id) instead of the
    * smallest id — what a curation run actually ships: dedup should
    * discard the worse copies, not the later ones. Composes the
    * components labels with the shared quality-score column; one argmax
    * window over the (tiny) clustered subset. */
  def keepBest(spark: SparkSession, dir: String): DataFrame =
    keepBestFrom(spark, dir, components(spark, dir))

  /** [[keepBest]] over an already-computed (doc_id, component) label
    * relation — [[applyDedup]] passes its persisted labels so the
    * clustering runs once, not twice. */
  private[graft] def keepBestFrom(spark: SparkSession, dir: String,
                                  labels: DataFrame): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    // score column inline (qualityScoreCol — the same expression
    // quality() projects), not quality(): the full report carries a
    // presentation orderBy and two ratio columns this join never reads.
    // Broadcast the LABEL side (collision-bounded near-dup membership,
    // tiny — a LocalRelation on the union-find path), NOT the corpus
    // side: maybeBroadcast(q) could never fire (the quality scan's
    // size estimate is the whole documents table), so the join planned
    // as an SMJ that shuffled + sorted every scored doc against a
    // handful of labels — guide §3.1, broadcast the side that fits.
    val q = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.ops.TextAnalysis.qualityScoreCol.as("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    q.join(maybeBroadcast(labels), Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("component"), col("doc_id").as("keep_doc_id"), col("quality_score"))
      .orderBy(col("component"))
  }

  /** Apply the dedup decision: the corpus AFTER near-dup removal —
    * every unclustered doc plus each cluster's [[keepBest]] canonical.
    * This is the relation a training run actually reads; the other
    * dedup queries are its evidence/audit trail. One left_anti of the
    * (tiny) drop list against the corpus — the corpus itself never
    * shuffles. */
  def applyDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    val labels = graft.Caches.persistTracked(components(spark, dir))
    val keepers = keepBestFrom(spark, dir, labels)
      .select(col("keep_doc_id").as("doc_id"))
    val dropped = labels.select(col("doc_id"))
      .join(maybeBroadcast(keepers), Seq("doc_id"), "left_anti")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .join(maybeBroadcast(dropped), Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Per-cluster audit of the near-dup clustering — the report a
    * curation run ships with its dedup decisions: for every duplicate
    * family, its size, the canonical (kept) doc, and how many chars
    * the drop reclaims. Pure composition: [[components]] joined back
    * to the documents table (broadcast — the clustered subset is
    * collision-bounded), one agg at component grain. */
  def clusterStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    val labels = components(spark, dir) // (doc_id, component)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    // broadcast the tiny LABEL side into the corpus scan (see
    // keepBestFrom): maybeBroadcast(docs) never fired and the old join
    // order shuffled the whole documents projection per run
    docs.join(maybeBroadcast(labels), Seq("doc_id"))
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("doc_id") =!= col("component"), col("n_chars"))
          .otherwise(lit(0L))).as("chars_reclaimed"))
      .orderBy(col("component"))
  }

  /** DIRECTIONAL near-dup containment |A∩B| / |A| ≥ 0.9 over distinct
    * 3-token shingles — catches sub/superset duplication that
    * symmetric Jaccard misses (a doc quoted whole inside a longer one
    * scores low Jaccard but containment 1.0). The unordered common
    * counts are computed ONCE (same shingle equi-join shape as
    * [[ngramJaccard]]) and fanned out to both directions; the
    * threshold compares as integers (c·10 ≥ n·9) so no float boundary
    * exists. Exact small-corpus anchor — at 100 TB the candidate pairs
    * come from the MinHash LSH bands and only verification runs this
    * join. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    // prefix filter, containment form: c/|A| ≥ 0.9 needs c ≥ 0.9·|A|,
    // so if ALL of A's (⌊0.1·|A|⌋+1) globally-rarest shingles miss B,
    // at most |A|−(⌊0.1·|A|⌋+1) < 0.9·|A| can match — the CONTAINED
    // side's prefix joined against the container's FULL shingle set is
    // an exact candidate superset (unlike Jaccard, the container gets
    // no prefix: the matching element may be anywhere in it). Bound in
    // exact decimal — double rounding of n·0.9 can shorten the prefix
    // (see [[ngramJaccard]]).
    val sets = graft.Caches.persistTracked(
      withShingleHashes(Tables.documents(spark, dir))
        .select(col("doc_id"), col("hs")))
    val sh = sets.select(col("doc_id"), size(col("hs")).as("n"), explode(col("hs")).as("s"))
    val prefix = graft.Caches.persistTracked(
      rarestPrefix(sh, "s", BigDecimal("0.9"), windowForm = true)
        .select(col("doc_id"), col("s")))
    val candidates = prefix.as("a")
      .join(sh.select(col("doc_id"), col("s")).as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("da"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("db"))
      .distinct()
    // verification is one array_intersect per surviving pair over the
    // broadcast (size-gated) per-doc hash sets — map-side
    import graft.operators.Scale.maybeBroadcast
    val verified = candidates
      .join(maybeBroadcast(sets.select(col("doc_id").as("da"), col("hs").as("ha"))), Seq("da"))
      .join(maybeBroadcast(sets.select(col("doc_id").as("db"), col("hs").as("hb"))), Seq("db"))
      .select(col("da"), col("db"),
        size(array_intersect(col("ha"), col("hb"))).cast("long").as("c"),
        size(col("ha")).cast("long").as("na"), size(col("hb")).cast("long").as("nb"))
    verified
      .select(explode(array(
        struct(col("da").as("contained"), col("db").as("container"),
          col("c"), col("na").as("n")),
        struct(col("db").as("contained"), col("da").as("container"),
          col("c"), col("nb").as("n")))).as("e"))
      .select(col("e.contained").as("contained"), col("e.container").as("container"),
        col("e.c").as("c"), col("e.n").as("n"))
      .filter(col("c") * 10 >= col("n") * 9)
      .select(col("contained"), col("container"),
        round(col("c").cast("double") / col("n"), 6).as("containment"))
      .orderBy(col("contained"), col("container"))
  }

  /** Dedup-threshold tuning curve: for Jaccard thresholds 0.5–0.9,
    * the pair count, docs dropped (min-id-keeps-canonical — a doc
    * drops iff it has a ≥t neighbor with a smaller id), and corpus
    * keep fraction — the sweep a curation run does ONCE to pick its
    * dedup aggressiveness before committing to a threshold
    * ([[ngramJaccard]] is one point on this curve; `dedup_lsh_eval`
    * audits the candidate generator, this audits the DECISION).
    *
    * Shape at scale: ONE exact-pair job at the loosest threshold
    * (PPJoin-prefix-bounded, the `exactJaccardPairs` plan), then a 5×
    * map-side explode of the pair stream + a 5-group agg — the
    * expensive join never re-runs per threshold. Threshold literals
    * are exact doubles on both engines. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.Caches.persistTracked(
      exactJaccardPairs(spark, dir, BigDecimal("0.5")))
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    pairs
      .select(col("doc_b"), col("jaccard"),
        explode(expr("array(0.5D, 0.6D, 0.7D, 0.8D, 0.9D)")).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_docs_dropped"))
      .crossJoin(broadcast(nd))
      .select(col("threshold"), col("n_pairs"), col("n_docs_dropped"),
        round(lit(1.0) - col("n_docs_dropped") / col("n_docs").cast("double"), 6)
          .as("keep_frac"))
      .orderBy(col("threshold"))
  }

  /** b-bit minhash (Li & König 2010, b=4): keep only the low 4 bits
    * of each of the 16 minhash values — 4× less signature storage —
    * and recover Jaccard with the collision-rate correction
    * est = (r − 2⁻ᵇ)/(1 − 2⁻ᵇ), clamped at 0 (random collisions
    * inflate the raw agreement rate r by 1/16). Reported per LSH
    * candidate pair next to the full-width estimate and the exact
    * n-gram Jaccard, so the storage/accuracy trade is measured, not
    * assumed — the b-bit sibling of [[minhashEstError]].
    *
    * Shape at scale: identical plan to [[minhashEstError]] — the
    * candidate pairs come from the production LSH join, signatures
    * and shingle sets broadcast-join on (size-gated) — the truncation
    * is a map-side `% 16` over already-materialized signatures. */
  def bbitMinhash(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    import graft.operators.Scale.maybeBroadcast
    val cand = minhashPairs(spark, dir)
    val sigs = graft.Caches.persistTracked(
      withShingles(Tables.documents(spark, dir))
        .select(col("doc_id"), expr("graft_minhash_sig(shingles)").as("sig")))
    val sets = graft.Caches.persistTracked(
      withShingleHashes(Tables.documents(spark, dir))
        .select(col("doc_id"), col("hs")))
    cand
      .join(maybeBroadcast(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa"))), "doc_a")
      .join(maybeBroadcast(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb"))), "doc_b")
      .join(maybeBroadcast(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha"))), "doc_a")
      .join(maybeBroadcast(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb"))), "doc_b")
      .withColumn("r4",
        expr("size(filter(zip_with(sa, sb, (x, y) -> x % 16 = y % 16), z -> z))") / lit(16.0))
      .select(col("doc_a"), col("doc_b"),
        round(expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), z -> z))") / lit(16.0), 6)
          .as("est_full"),
        round(greatest((col("r4") - lit(1.0 / 16)) / lit(15.0 / 16), lit(0.0)), 6)
          .as("est_b4"),
        round(size(array_intersect(col("ha"), col("hb"))).cast("double") /
          (size(col("ha")) + size(col("hb")) -
            size(array_intersect(col("ha"), col("hb")))), 6).as("exact_jaccard"))
      .withColumn("err_full", round(abs(col("est_full") - col("exact_jaccard")), 6))
      .withColumn("err_b4", round(abs(col("est_b4") - col("exact_jaccard")), 6))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** LSH banding configuration sweep: the SAME 16 minhashes re-banded
    * as (b=2,r=8) / (b=4,r=4) / (b=8,r=2), with each config's
    * candidate-pair yield and its s-curve threshold (1/b)^(1/r) — the
    * tuning table that picks the production banding (the 0.77-
    * threshold b=4 the dedup family uses sits in the middle row).
    * [[lshEval]] measures ONE config's precision/recall; this shows
    * the knob's whole range from one signature pass.
    *
    * Shape at scale: signatures are computed ONCE (map-side native
    * expression) and persisted; each config is a band-key explode +
    * the same bucket self-join as [[minhashLsh]] — collision-bounded,
    * never all-pairs. */
  def bandTuning(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val sig = graft.Caches.persistTracked(
      withShingles(Tables.documents(spark, dir))
        .select(col("doc_id"), expr("graft_minhash_sig(shingles)").as("sig")))
    sig.count()
    val configs = Seq((2, 8), (4, 4), (8, 2))
    configs.map { case (b, r) =>
      val bands = sig.select(col("doc_id"), bandKeysExpr(b, r).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      val nPairs = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id")).distinct()
        .agg(count(lit(1)).as("n_candidate_pairs"))
      nPairs.select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
        round(pow(lit(1.0) / b, lit(1.0) / r), 6).as("s_curve_threshold"),
        col("n_candidate_pairs"))
    }.reduce(_ unionAll _).orderBy(col("bands"))
  }

  /** Document-frequency profile of the shingle space — the spam meter
    * for everything shingle-based here: per power-of-two df bucket the
    * distinct-shingle count and posting mass (Σdf — the join fan-out a
    * shingle equi-join actually pays), with tie-free shares. A heavy
    * high-df tail says the prefix filter and LSH banding carry the
    * load (boilerplate shingles collide everyone); a thin one says
    * plain equi-joins stay cheap. Same pow2 bucketing as
    * [[graft.ops.Graph.degreeDist]] — this is the degree distribution
    * of the doc↔shingle bipartite graph's shingle side.
    *
    * Shape at scale: shingle fan-out map-side, ONE agg keyed on the
    * 60-bit shingle HASH (the [[withShingleHashes]] discipline), a
    * ~32-row bucket rollup; totals broadcast. The DuckDB oracle
    * applies the identical md5-prefix hash, so df identity is exact,
    * not approximated.
    *
    * The persist() before the explode is load-bearing, not a cache
    * nicety: a bare `explode(hs)` lets InferFiltersFromGenerate push
    * `size(hs) > 0 AND isnotnull(hs)` BELOW the Generate, and on a
    * computed column that filter re-derives the whole
    * tokenize→shingle→hash pipeline per row — with `toks` inlined as
    * `regexp_extract_all(text)` inside the transform lambda it
    * re-runs the regexp once per shingle ELEMENT (~75s at sf1; 1.9s
    * with the boundary). The cache materializes `hs` once, so the
    * inferred filter costs a cached array length check. */
  def shingleDfProfile(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    val hs = graft.Caches.persistTracked(
      withShingleHashes(Tables.documents(spark, dir)).select(col("hs")))
    hs.count()
    val df_ = hs.select(explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    val buckets = graft.Caches.persistTracked(df_
      .withColumn("bucket",
        expr("CAST(shiftleft(CAST(1 AS BIGINT), length(bin(df - 1))) AS BIGINT)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("n_postings")))
    val tot = buckets.agg(sum(col("n_shingles")).as("ts"),
      sum(col("n_postings")).as("tp"))
    buckets.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_shingles"), col("n_postings"),
        expr("""CAST((2 * n_shingles * 1000000 + ts) div (2 * ts) AS DOUBLE)
               / 1000000.0""").as("shingle_share"),
        expr("""CAST((2 * n_postings * 1000000 + tp) div (2 * tp) AS DOUBLE)
               / 1000000.0""").as("posting_share"))
      .orderBy(col("bucket"))
  }
}
