package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** The reference's ETL operator surface (open_bus_siri_etl), re-expressed
  * as declarative Spark transformations over the `events` table so every
  * op is DuckDB-oracle-checkable.
  *
  * Mapping (SURVEY.md §3): snapshot_id ≙ minute(ts); dimension natural
  * key ≙ (user_id, event_type); fact payload ≙ value/props. The same
  * operators run against real SIRI-SM JSON in [[SiriSnapshotEtl]].
  *
  * Scale notes: every op is a single scan + at most one shuffle; dims
  * are broadcast; no driver-side iteration anywhere (the reference's
  * row-at-a-time ObjectsMaker loop becomes set-level joins).
  */
object EventsEtl {
  private val minuteCol = date_trunc("minute", col("ts"))
  private def epochSec(c: Column): Column = unix_timestamp(c)

  /** Nested-field extraction + coercion (parse_monitored_stop_visit,
    * process_snapshot.py:214): pull `k` out of the JSON props, coerce,
    * stamp the snapshot-minute. Pure projection — no shuffle. */
  def parseProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        epochSec(minuteCol).as("minute_epoch"))

  /** Parse-failure segregation (save_monitored_stop_visit_parse_error,
    * process_snapshot.py:46): rows that fail the parse predicate are
    * counted per snapshot-minute instead of silently dropped.
    * `event_type='error'` plays the role of an unparseable visit. */
  def parseErrors(spark: SparkSession, dir: String): DataFrame = {
    val ok = col("event_type") =!= "error" &&
      get_json_object(col("props"), "$.k").cast("long").isNotNull
    Tables.events(spark, dir)
      .groupBy(epochSec(minuteCol).as("minute_epoch"))
      .agg(
        sum(when(ok, 1L).otherwise(0L)).as("n_parse_ok"),
        sum(when(ok, 0L).otherwise(1L)).as("n_parse_failed"))
      .orderBy(col("minute_epoch"))
  }

  /** Per-snapshot ETL stats (update_siri_snapshot_stats,
    * process_snapshot.py:283): per-minute record/user counts, value sum,
    * first/last record time. One hash-agg, partial map-side. */
  def snapshotStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(epochSec(minuteCol).as("minute_epoch"))
      .agg(
        count(lit(1)).as("n_records"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"),
        min(epochSec(col("ts"))).as("first_sec"),
        max(epochSec(col("ts"))).as("last_sec"))
      .orderBy(col("minute_epoch"))

  /** Get-or-create keep-first semantics (ObjectsMaker,
    * process_snapshot.py:51): first occurrence of each dimension natural
    * key wins; later sightings reuse it. Window row_number=1 with a
    * total tie-break — single shuffle on the natural key. */
  def dimFirstSeen(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        epochSec(col("ts")).as("first_sec"), col("event_id").as("first_event_id"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Dimension surrogate-key assignment (the autoincrement ids the
    * reference gets from Postgres). Oracle-checkable variant uses
    * dense_rank over the natural key; the scale path is
    * xxhash64(natural key) — no global coordination (SURVEY.md §5). */
  def dimSurrogate(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    // dims are small by construction — a single-partition rank is fine
    // here; never do this on a fact table.
    dim.withColumn("surrogate_id",
        dense_rank().over(Window.orderBy(col("user_id"), col("event_type"))).cast("long"))
      .select(col("surrogate_id"), col("user_id"), col("event_type"))
      .orderBy(col("surrogate_id"))
  }

  /** Production surrogate path: collision-checked 64-bit hash key.
    * Not oracle-checked (DuckDB's hash differs); exercised in tests. */
  def dimSurrogateHashed(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
      .withColumn("surrogate_id", xxhash64(col("user_id"), col("event_type")))

  /** "Which incoming keys are new" (ObjectsMaker fetch-then-create,
    * process_snapshot.py:113): batch keys left_anti existing dim keys.
    * Existing = first four days, batch = the rest of the month. */
  def upsertNewKeys(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cut = Tables.tsLit(ev, "ts", "2024-01-05")
    val existing = ev.filter(col("ts") < cut)
      .select(col("user_id"), col("event_type")).distinct()
    val batch = ev.filter(col("ts") >= cut)
      .select(col("user_id"), col("event_type")).distinct()
    batch.join(existing, Seq("user_id", "event_type"), "left_anti")
      .orderBy(col("user_id"), col("event_type"))
  }

  /** The 100 TB get-or-create path, oracle-checked: a bloom filter
    * built over the existing dim's hashed keys routes the batch —
    * rows the bloom REJECTS are definitely new (no join needed at
    * all), only the mightContain remainder pays the exact anti-join.
    * False positives cost one extra probe, never correctness, so the
    * result is identical to [[upsertNewKeys]] while the shuffle input
    * shrinks by the true-new fraction (at 100 TB most of the batch). */
  def upsertNewKeysBloom(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cut = Tables.tsLit(ev, "ts", "2024-01-05")
    val hk = xxhash64(col("user_id"), col("event_type"))
    val existing = graft.Caches.persistTracked(ev.filter(col("ts") < cut)
      .select(col("user_id"), col("event_type")).distinct()
      .withColumn("hk", hk))
    val batch = ev.filter(col("ts") >= cut)
      .select(col("user_id"), col("event_type")).distinct()
      .withColumn("hk", hk)
    // sized from the true dim cardinality (an undersized bloom degrades
    // toward fpp→1 and routes the whole batch to the exact join); the
    // count() also materializes `existing` into its cache for the
    // anti-join below. Probe is Spark's codegen'd might_contain — no UDF.
    val bloomBytes = graft.functions.BloomSupport.buildLong(existing, "hk")
    val contains = graft.functions.BloomSupport.mightContain(bloomBytes, col("hk"))
    val definitelyNew = batch.filter(!contains)
    val needExactCheck = batch.filter(contains)
      .join(existing.select("user_id", "event_type"), Seq("user_id", "event_type"), "left_anti")
    definitelyNew.select("user_id", "event_type")
      .unionByName(needExactCheck.select("user_id", "event_type"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** CDC apply with tombstones: the change stream's last operation per
    * key decides — an `error` event is the key's DELETE marker, so a
    * key whose latest change is a tombstone vanishes from the final
    * state (vs [[latestState]], which keeps every key). One window
    * pass, same shuffle as any last-write-wins compaction. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("event_type").as("final_type"),
        col("value").as("final_value"), epochSec(col("ts")).as("updated_sec"))
      .orderBy(col("user_id"))
  }

  /** Last-write-wins compaction (snapshot reload semantics,
    * process_snapshot.py:269): latest record per user key. */
  def latestState(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("last_event_type"),
        col("value").as("last_value"), epochSec(col("ts")).as("last_sec"))
      .orderBy(col("user_id"))
  }

  /** Missing-snapshot detection (update_pending_snapshots.py): expected
    * minute series minus observed minutes → pending list. The series is
    * generated with `sequence` (no driver loop) and the subtraction is a
    * left_anti join. */
  def missingMinutes(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val bounds = ev.agg(
      date_trunc("minute", min(col("ts"))).as("mn"),
      date_trunc("minute", max(col("ts"))).as("mx"))
    val expected = bounds.select(
      explode(sequence(col("mn"), col("mx"), expr("interval 1 minute"))).as("minute"))
    val observed = ev.select(minuteCol.as("minute")).distinct()
    expected.join(observed, Seq("minute"), "left_anti")
      .select(epochSec(col("minute")).as("minute_epoch"))
      .orderBy(col("minute_epoch"))
  }

  /** Gap-driven sessionization (the daemon's catch-up windows,
    * process_snapshot.py:486): a >30-minute silence starts a new
    * session. lag + running conditional sum, two window passes over one
    * shuffle partitioning. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_sec", lag(epochSec(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_sec").isNull || epochSec(col("ts")) - col("prev_sec") > 1800, 1L).otherwise(0L))
      .withColumn("session_num", sum(col("new_sess")).over(byUser))
      .groupBy(col("user_id"), col("session_num"))
      .agg(count(lit(1)).as("n_events"),
        min(epochSec(col("ts"))).as("start_sec"),
        max(epochSec(col("ts"))).as("end_sec"))
      .orderBy(col("user_id"), col("session_num"))
  }

  /** Star-schema normalize + join-back (validate_snapshots.py:16): build
    * the dimension, key facts by the broadcast dim surrogate, aggregate
    * over dim attributes. Facts shuffle once (for the final agg); the
    * dim join is broadcast. */
  def starJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val dim = ev.select(col("user_id"), col("event_type")).distinct()
      .withColumn("dim_id",
        dense_rank().over(Window.orderBy(col("user_id"), col("event_type"))).cast("long"))
    val fact = ev.join(broadcast(dim), Seq("user_id", "event_type"))
      .select(col("dim_id"), col("value"))
    fact.join(broadcast(dim), Seq("dim_id"))
      .groupBy(col("dim_id"), col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_facts"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy(col("dim_id"))
  }

  /** The star join under SKEW: same result as [[starJoin]], but the
    * fact→dim join runs through Scale.saltedJoin — the plan you need
    * when the dim is too big to broadcast AND a handful of keys carry
    * most of the facts (one route's vehicles dominating a batch). The
    * salt splits each hot key across `salts` shuffle partitions;
    * results are provably identical (same oracle as etl_star_join). */
  def starJoinSalted(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val dim = ev.select(col("user_id"), col("event_type")).distinct()
      .withColumn("dim_id",
        dense_rank().over(Window.orderBy(col("user_id"), col("event_type"))).cast("long"))
      .withColumn("k", concat_ws("|", col("user_id"), col("event_type")))
    val facts = ev
      .withColumn("k", concat_ws("|", col("user_id"), col("event_type")))
      .select(col("k"), col("value"))
    graft.operators.Scale.saltedJoin(facts, dim, "k", salts = 8)
      .groupBy(col("dim_id"), col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_facts"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy(col("dim_id"))
  }

  /** Field-level reconciliation report (validate_snapshot,
    * validate_snapshots.py:100): two independent derivations of the
    * per-minute stats, full-outer joined, mismatches flagged. */
  def validateRecon(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val a = ev.groupBy(epochSec(minuteCol).as("minute_epoch"))
      .agg(count(lit(1)).as("n_a"))
    val b = ev.select(epochSec(minuteCol).as("minute_epoch"), col("event_id"))
      .distinct()
      .groupBy(col("minute_epoch"))
      .agg(count(lit(1)).as("n_b"))
    a.join(b, Seq("minute_epoch"), "full_outer")
      .select(col("minute_epoch"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        (coalesce(col("n_a"), lit(0L)) === coalesce(col("n_b"), lit(0L))).as("is_match"))
      .orderBy(col("minute_epoch"))
  }

  /** As-of join (custom whole-operator, graft.plans.AsOfJoin): for
    * each purchase, the latest prior view by the same user — the
    * "state as of time T" primitive (e.g. where was each vehicle as of
    * a query timestamp). One shuffle per side, linear merge. */
  def asofLatestView(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vuser"), col("ts").as("vts"))
    graft.plans.AsOf.join(purchases, views, Seq("user_id"), Seq("vuser"), "ts", "vts")
      .select(col("purchase_id"), col("user_id"),
        epochSec(col("ts")).as("purchase_sec"),
        col("view_id"), epochSec(col("vts")).as("view_sec"))
      .orderBy(col("purchase_id"))
  }

  /** OHLC downsampling — the telemetry-compaction primitive (and the
    * shape of any first/last/min/max-per-bucket rollup): per
    * (event_type, hour), the open (first by (ts, event_id)), high,
    * low, close (last), event count, and exact-decimal volume. First/
    * last come from two row_number windows folded into the same agg
    * via CASE — one shuffle to the (type, hour) grain, no self-joins;
    * the volume sums in DECIMAL so engine aggregation order can't
    * show up in the low bits.  At scale this is the classic
    * 1000×-reduction compaction: output rows = |types|·|hours|. */
  def ohlcDownsample(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"),
        col("value"), col("ts"), col("event_id"))
    val wa = Window.partitionBy(col("event_type"), col("hr"))
      .orderBy(col("ts"), col("event_id"))
    val wd = Window.partitionBy(col("event_type"), col("hr"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.withColumn("rn_a", row_number().over(wa))
      .withColumn("rn_d", row_number().over(wd))
      .groupBy(col("event_type"), col("hr"))
      .agg(
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("volume"))
      .select(col("event_type"), epochSec(col("hr")).as("hour_epoch"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("volume"))
      .orderBy(col("event_type"), col("hour_epoch"))
  }

  /** Tolerance-bounded as-of join (the attribution-window variant of
    * [[asofLatestView]]): latest view per purchase, but a view older
    * than ONE HOUR is out of window and the purchase reports no match
    * — pandas merge_asof tolerance semantics, exercised through the
    * custom AsOfJoinExec's tolerance bound and oracle-gated here
    * (previously spec-only). Identical plan: one exchange + sort per
    * side, linear merge; the tolerance is a constant comparison inside
    * the merge loop. */
  def asofViewWithinHour(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vuser"), col("ts").as("vts"))
    graft.plans.AsOf.join(purchases, views, Seq("user_id"), Seq("vuser"),
        "ts", "vts", toleranceMicros = Some(3600L * 1000000L))
      .select(col("purchase_id"), col("user_id"),
        epochSec(col("ts")).as("purchase_sec"),
        col("view_id"), epochSec(col("vts")).as("view_sec"))
      .orderBy(col("purchase_id"))
  }

  /** Attribution-funnel conversion rate: per day, how many purchases
    * had a view inside the one-hour window ([[asofViewWithinHour]]) —
    * the percentage a product dashboard tracks. Consumes the as-of
    * output at purchase grain; one (day) agg on top. */
  def conversionRate(spark: SparkSession, dir: String): DataFrame =
    asofViewWithinHour(spark, dir)
      .groupBy(floor(col("purchase_sec") / 86400).cast("long").as("day_num"))
      .agg(count(lit(1)).as("n_purchases"),
        count(col("view_id")).as("n_converted"),
        round(count(col("view_id")).cast("double") / count(lit(1)), 6)
          .as("conversion_rate"))
      .orderBy(col("day_num"))

  /** Data-quality assertion suite (the deequ/dbt-tests surface) as one
    * query: referential integrity (lineitem orphans vs orders, orders
    * orphans vs customer), domain checks (non-positive quantity /
    * price, discount outside [0,1]), and null-key checks — one row per
    * rule with its violation count, so a scheduler can alert on any
    * n_violations > 0. Each rule is a filter-agg or an anti-join
    * count; the unions are of 1-row relations. At 100 TB the two
    * anti-joins are the only wide ops and both sides shuffle on
    * their join key once. */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    def rule(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("rule"), col("n_violations"))
    rule("lineitem_orphan_orderkey",
        li.select(col("l_orderkey"))
          .join(ord.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti"))
      .unionAll(rule("orders_orphan_custkey",
        ord.select(col("o_custkey"))
          .join(cust.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")))
      .unionAll(rule("lineitem_nonpositive_quantity",
        li.filter(col("l_quantity") <= 0)))
      .unionAll(rule("lineitem_nonpositive_price",
        li.filter(col("l_extendedprice") <= 0)))
      .unionAll(rule("lineitem_discount_out_of_range",
        li.filter(col("l_discount") < 0 || col("l_discount") > 1)))
      .unionAll(rule("orders_null_custkey",
        ord.filter(col("o_custkey").isNull)))
      .orderBy(col("rule"))
  }

  /** LOCF gap-fill (last observation carried forward): every event
    * annotated with the user's most recent purchase value as of that
    * event — the state-propagation primitive reload pipelines use to
    * densify sparse observations. One window pass per user, running
    * frame; same shuffle as any per-key compaction. */
  def gapFillLocf(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_type") === "purchase", col("value")).as("pv"))
      .withColumn("last_purchase_value",
        round(last(col("pv"), ignoreNulls = true).over(w), 6))
      .select(col("user_id"), col("event_id"), epochSec(col("ts")).as("event_sec"),
        col("last_purchase_value"))
      .orderBy(col("event_id"))
  }

  /** Forward as-of join (same custom operator, direction=forward): for
    * each view, the user's NEXT purchase — the conversion-lag primitive
    * (time-to-convert distributions, attribution windows). Identical
    * plan shape to [[asofLatestView]]: one shuffle per side, linear
    * merge, matched row peeked (it can serve later views). */
  def asofNextPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("puser"), col("ts").as("pts"))
    graft.plans.AsOf.join(views, purchases, Seq("user_id"), Seq("puser"),
        "ts", "pts", direction = "forward")
      .select(col("view_id"), col("user_id"),
        epochSec(col("ts")).as("view_sec"),
        col("purchase_id"), epochSec(col("pts")).as("purchase_sec"))
      .orderBy(col("view_id"))
  }

  /** Idempotent-reload invariance (retry loop, process_snapshot.py:370):
    * replaying a batch must not create duplicates — union the batch with
    * itself, dedup by full row, counts must equal the original's. */
  def retryDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.unionAll(ev)
      .distinct()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** Gap-based sessionization via Spark's NATIVE session operator
    * (`session_window` — the streaming-capable path, vs the lag+cumsum
    * formulation in [[sessionize]]): events within 30 minutes of each
    * other merge into one session per user. One shuffle on the key;
    * the session merge is the operator's own state logic, which is
    * exactly what runs under a watermark in streaming mode. */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(epochSec(col("ts"))).as("start_sec"),
        max(epochSec(col("ts"))).as("end_sec"))
      .select(col("user_id"), col("n_events"), col("start_sec"), col("end_sec"))
      .orderBy(col("user_id"), col("start_sec"))

  /** Sliding-window aggregation (the Structured-Streaming windowed-agg
    * shape in its batch form): 10-minute windows sliding every 5, so
    * each event lands in exactly two windows. `window()` generates both
    * assignments map-side (an Expand, no self-union of the scan), then
    * it's an ordinary partial→final hash agg. */
  def slidingWindowStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(epochSec(col("window.start")).as("window_start_epoch"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start_epoch"), col("event_type"))

  /** SCD Type-2 history of each user's state (the dimension-versioning
    * extension of the reference's create-only ObjectsMaker): consecutive
    * runs of the same event_type collapse, each state change opens a
    * versioned row with [valid_from, valid_to) and the open row is
    * current. Two window passes over ONE (user_id) shuffle partitioning
    * — Spark reuses the sort for lag and lead. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_to_sec", lead(epochSec(col("ts")), 1).over(byUser))
      .select(col("user_id"), col("event_type").as("state"),
        epochSec(col("ts")).as("valid_from_sec"),
        // closed-world sentinel instead of NULL: the driver's comparator
        // sorts column values and NULL vs NaT handling differs by engine
        coalesce(col("valid_to_sec"), lit(0L)).as("valid_to_sec"),
        col("valid_to_sec").isNull.as("is_current"))
      .orderBy(col("user_id"), col("valid_from_sec"))
  }

  /** Incremental aggregate maintenance — the materialized-view pattern
    * continuous ingestion needs at 100 TB: per-key partial aggregates
    * of the already-loaded base are MERGED with the new batch's
    * partials (sum of counts, sum of decimal sums, min/max of bounds)
    * instead of re-scanning history. Every agg here is algebraic, so
    * merge(partial(base), partial(delta)) ≡ full recompute — which is
    * exactly what the oracle checks. The merge input is two per-key
    * relations (key-cardinality sized, not fact-sized); only they
    * shuffle. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cut = Tables.tsLit(ev, "ts", "2024-01-05")
    def partial(df: DataFrame): DataFrame = df.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_events"),
      sum(col("value").cast(DecimalType(18, 2))).as("sum_value"),
      min(epochSec(col("ts"))).as("first_sec"),
      max(epochSec(col("ts"))).as("last_sec"))
    val base = partial(ev.filter(col("ts") < cut))
    val delta = partial(ev.filter(col("ts") >= cut))
    base.unionByName(delta)
      .groupBy(col("user_id"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_value")).cast("double").as("sum_value"),
        min(col("first_sec")).as("first_sec"),
        max(col("last_sec")).as("last_sec"))
      .orderBy(col("user_id"))
  }

  /** Interval containment join, the scalable way: assigning each event
    * to the session whose [start, end] contains it. A naive theta-join
    * (`ts BETWEEN start AND end`) plans BroadcastNestedLoop — O(n·m)
    * and an OOM cliff when neither side broadcasts. Instead both sides
    * key by (user_id, half-hour time bin): sessions explode to one row
    * per bin they overlap (bounded fan-out — gap-bounded sessions span
    * few bins), events map to exactly one bin, and the equi-join +
    * residual range filter finds the same matches with ONE bounded
    * shuffle. Disjoint sessions per user ⇒ at most one match per
    * event, no dedup needed. */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val binSec = 1800L
    val sessions = sessionize(spark, dir)
      .select(col("user_id"), col("session_num"), col("start_sec"), col("end_sec"))
      .withColumn("bin", explode(sequence(
        expr(s"start_sec DIV $binSec"), expr(s"end_sec DIV $binSec"))))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), epochSec(col("ts")).as("sec"))
      .withColumn("bin", expr(s"sec DIV $binSec"))
    ev.join(sessions, Seq("user_id", "bin"))
      .filter(col("sec").between(col("start_sec"), col("end_sec")))
      .select(col("user_id"), col("event_id"), col("session_num"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Benford first-digit audit over event values — the forensic DQ
    * monitor for "does this measure look organically generated":
    * leading significant digit d of |value| vs the Benford expectation
    * log10(1+1/d). Per digit 1–9: count, observed fraction, expected
    * fraction, absolute deviation — a fabricated / clipped / defaulted
    * feed shows up as a spiked digit long before a range check fires.
    * The digit is floor(v·10^−floor(log10 v)) clamped to [1,9]; both
    * engines evaluate the identical double expression, and the clamp
    * absorbs the one representable-boundary hazard (v at an exact
    * power of ten).
    *
    * Shape at scale: pure map-side projection + one 9-group agg with
    * map-side combine; the grand total joins back as a broadcast
    * scalar. Nothing but the fact scan touches the wire. */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val byDigit = graft.Caches.persistTracked(
      Tables.events(spark, dir)
        .select(abs(col("value")).as("av")).filter(col("av") > 0)
        .withColumn("digit",
          least(greatest(floor(col("av") *
            pow(lit(10.0), -floor(log10(col("av"))))), lit(1L)), lit(9L)))
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("n")))
    // grand total from the cached 9-row digit table — no second fact scan
    byDigit
      .crossJoin(broadcast(byDigit.agg(sum(col("n")).cast("double").as("tot"))))
      .withColumn("obs_frac", round(col("n") / col("tot"), 6))
      .withColumn("benford_frac",
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
      .withColumn("abs_dev",
        round(abs(round(col("n") / col("tot"), 6) -
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6)), 6))
      .select(col("digit"), col("n"), col("obs_frac"),
        col("benford_frac"), col("abs_dev"))
      .orderBy(col("digit"))
  }

  /** Robust per-type anomaly profile via MAD (median absolute
    * deviation) — the outlier monitor that, unlike z-scores, a burst
    * of anomalies cannot poison (the median and MAD are 50%-breakdown
    * estimators; [[cusumShift]] finds LEVEL shifts, this finds point
    * outliers). Per event_type: median value, MAD, and how many
    * events sit beyond the classic 3σ̂ fence with σ̂ = 1.4826·MAD
    * (the literal 4.4478 = 3·1.4826 is written identically in both
    * engines).
    *
    * Shape at scale: two grouped exact interpolated percentiles (the
    * [[graft.ops.Pipeline.qualityGate]] discipline) with the tiny
    * per-type tables broadcast back; the event stream is scanned, never
    * windowed. At 100 TB the exact percentile swaps for the binned
    * quantile sketch ([[graft.operators.Relational.qQuantileSketch]])
    * with the identical downstream fence. */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scale.maybeBroadcast
    val ev = graft.Caches.persistTracked(
      Tables.events(spark, dir).select(col("event_type"), col("value")))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = graft.Caches.persistTracked(
      ev.join(maybeBroadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("value") - col("med"))))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(maybeBroadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(max(col("med")), 6).as("median_value"),
        round(max(col("mad")), 6).as("mad"),
        sum(when(col("adev") > col("mad") * lit(4.4478), 1L).otherwise(0L))
          .as("n_anomalies"))
      .orderBy(col("event_type"))
  }

    /** CUSUM change-point profile over daily event volume — the
    * mean-shift monitor an ingest pipeline runs on its own throughput:
    * cumulative sum of (daily count − corpus mean) peaks exactly where
    * the level shifts, so the flagged day is the change-point estimate
    * (Page 1954). The running sum is a window over the DAILY relation
    * (365 rows/year — driver-scale after the one map-side-combinable
    * count agg); the fact stream itself never sees a window. */
  def cusumShift(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(expr("unix_timestamp(ts) div 86400").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val mu = daily.agg(avg(col("n")).as("mu"))
    val wRun = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    val wPeak = Window.orderBy(abs(col("cusum")).desc, col("day"))
    daily.crossJoin(broadcast(mu))
      .withColumn("cusum", round(sum(col("n") - col("mu")).over(wRun), 6))
      .withColumn("is_peak", (row_number().over(wPeak) === 1))
      .select(col("day"), col("n"), col("cusum"), col("is_peak"))
      .orderBy(col("day"))
  }

  /** Rolling 7-day distinct actives per day (plus same-day DAU) — the
    * canonical engagement dashboard metric. COUNT(DISTINCT) has no
    * sliding-window form in any engine, so the rolling count uses the
    * bounded fan-out identity: each distinct (user, day) activity
    * contributes to exactly the 7 windows ending on day..day+6, so a
    * 7× map-side explode + one distinct-agg on the window key computes
    * every window in a single shuffle. At 100 TB that is 7× the
    * (user, day) relation — already deduplicated, orders of magnitude
    * smaller than the event stream — versus the unbounded state of a
    * naive per-window rescan; windows with no in-data day are dropped
    * by the semi-join against the observed-day relation. */
  def rollingActives(spark: SparkSession, dir: String, windowDays: Int = 7): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct()
    val days = ud.select(col("day")).distinct()
    val dau = ud.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val rolling = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + lit(windowDays - 1))).as("w"))
      .join(days.select(col("day").as("w")), Seq("w"), "left_semi")
      .groupBy(col("w").as("day"))
      .agg(countDistinct(col("user_id")).as("actives_7d"))
    dau.join(rolling, Seq("day"))
      .select(col("day"), col("dau"), col("actives_7d"))
      .orderBy(col("day"))
  }

  /** Out-of-order lateness profile — the evidence a streaming
    * watermark delay is chosen from: treating event_id order per user
    * as arrival order, an event's lateness is (running max event time
    * seen before it) − (its own event time), clamped at 0. Buckets the
    * lateness into the watermark-relevant ranges and reports count and
    * worst case per bucket; a pipeline re-runs this per ingest day to
    * check its `withWatermark` delay still covers the observed p-tail.
    *
    * Shape at scale: ONE per-user running-max window (hash exchange on
    * user_id) feeding a 5-row map-side-combinable agg — no join, no
    * global sort of the events. The driver corpus is fully in-order,
    * so its oracle-gated result is the single a_ontime bucket (the
    * [[dqChecks]] "clean reads all-zero" shape); the disorder
    * semantics are exercised by spec on an injected out-of-order
    * feed. */
  def latenessProfile(spark: SparkSession, dir: String): DataFrame = {
    val byArrival = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), epochSec(col("ts")).as("sec"))
      .withColumn("hwm", max(col("sec")).over(byArrival))
      .withColumn("late_s", greatest(coalesce(col("hwm") - col("sec"), lit(0L)), lit(0L)))
      .withColumn("bucket",
        when(col("late_s") === 0, "a_ontime")
          .when(col("late_s") <= 60, "b_1min")
          .when(col("late_s") <= 300, "c_5min")
          .when(col("late_s") <= 3600, "d_1hr")
          .otherwise("e_over_1hr"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"), max(col("late_s")).as("max_late_s"))
      .orderBy(col("bucket"))
  }

  /** Inter-arrival gap profile of the event stream (per-user
    * consecutive gaps, pooled): count, mean, exact p50/p95, max — the
    * cadence evidence behind [[missingMinutes]]' expectation of a
    * minute-granular feed and the session-gap constant
    * [[sessionize]] hardcodes; a real deploy re-derives both from
    * this profile instead of trusting the nominal cadence.
    *
    * Shape at scale: ONE per-user lag window (hash exchange on
    * user_id) into a single global agg; the exact interpolated
    * percentiles run over the pooled gap column — at 100 TB they swap
    * for the binned quantile sketch (`q_quantile_sketch`), same plan
    * otherwise. */
  def interArrival(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), epochSec(col("ts")).as("sec"))
      .withColumn("prev", lag(col("sec"), 1).over(byUser))
      .filter(col("prev").isNotNull)
      .withColumn("gap", col("sec") - col("prev"))
      .agg(count(lit(1)).as("n_gaps"),
        round(avg(col("gap")), 6).as("mean_gap_s"),
        round(expr("percentile(gap, 0.5D)"), 6).as("p50_gap_s"),
        round(expr("percentile(gap, 0.95D)"), 6).as("p95_gap_s"),
        max(col("gap")).as("max_gap_s"))
  }

  /** Seasonal (day-of-week × hour-of-day) ingest profile — the
    * baseline a volume monitor compares against before calling a dip
    * an incident ("is 3 AM Sunday supposed to be this quiet?"): per
    * (dow, hour) cell the event count, mean value, share of total
    * traffic, and a peak-cell flag. The reference's daemon implicitly
    * assumes a flat minute cadence; this is the calendar-aware version
    * of that assumption, measured.
    *
    * dow/hour are derived with pure INTEGER epoch arithmetic
    * ((days+4) % 7, Sunday=0 anchored at 1970-01-01=Thursday) — never
    * an engine `dayofweek()`, whose origin convention differs between
    * engines. Shape at scale: map-side projection into a ≤168-group
    * agg with map-side combine; the grand total is broadcast back
    * from the 168-row table. */
  def seasonalProfile(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(expr("(unix_timestamp(ts) div 86400 + 4) % 7").as("dow"),
        expr("(unix_timestamp(ts) div 3600) % 24").as("hour"),
        col("value"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n_events"),
        round(avg(col("value")), 6).as("mean_value"))
    val total = cells.agg(sum(col("n_events")).as("total"))
    cells.crossJoin(broadcast(total))
      .withColumn("share", round(col("n_events") / col("total").cast("double"), 6))
      .withColumn("is_peak",
        row_number().over(Window.orderBy(col("n_events").desc, col("dow"), col("hour"))) === 1)
      .select(col("dow"), col("hour"), col("n_events"), col("mean_value"),
        col("share"), col("is_peak"))
      .orderBy(col("dow"), col("hour"))
  }

  /** EWMA smoother over the daily ingest-volume series (α = 0.25, the
    * Holt level equation / the monitoring baseline [[cusumShift]]'s
    * running sum is compared against): s_d = α·c_d + (1−α)·s_{d−1},
    * s_first = c_first. The recursion is unrolled into its closed
    * form — a weighted sum over a bounded 60-day lookback (beyond 60
    * lags the weight is < 1e-7 of a day's count, below the oracle's
    * rounding floor; the truncation depth is part of the operator
    * contract so both engines sum the identical term set).
    *
    * Shape at scale: the window runs on the ~365-rows/year DAILY
    * relation (the fact stream sees only a count agg), and the
    * weighted sum is a bounded self-join of that tiny relation — at
    * 100 TB the daily table is still 365 rows. Deviation = c_d /
    * s_{d−1} is the "today vs smoothed yesterday" monitor readout. */
  def ewmaDaily(spark: SparkSession, dir: String, depth: Int = 60): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("i", row_number().over(Window.orderBy(col("day"))).cast("long"))
    val a = daily.select(col("i").as("i1"), col("n").as("c"))
    val ewma = daily.select(col("day"), col("i").as("i2"))
      .join(a, col("i1") <= col("i2") && col("i1") > col("i2") - depth)
      .withColumn("w",
        when(col("i1") === 1, pow(lit(0.75), col("i2") - col("i1")))
          .otherwise(lit(0.25) * pow(lit(0.75), col("i2") - col("i1"))))
      .groupBy(col("day")).agg(round(sum(col("w") * col("c")), 6).as("ewma"))
    daily.join(ewma, "day")
      .withColumn("prev_ewma",
        lag(col("ewma"), 1).over(Window.orderBy(col("day"))))
      .select(col("day"), col("n"), col("ewma"),
        round(col("n") / col("prev_ewma"), 6).as("vs_smoothed"))
      .orderBy(col("day"))
  }

  /** Consecutive-active-day streak histogram — gaps-and-islands over
    * per-user activity: a user's distinct active days, split into
    * maximal runs of consecutive days via the classic day −
    * row_number island key, then rolled up to (streak length →
    * streak count, distinct users). The engagement-depth readout
    * (how many 7-day streaks does this product have?) and the
    * islands primitive itself, which the reference's lifecycle
    * queries (ride chains at siri_ride level) need constantly.
    *
    * Shape at scale: dedup to (user, day) grain (map-side
    * combinable), ONE window partitioned by user — no global sort —
    * then two bounded aggs; output is ≤ max-streak rows. */
  def activeStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("streak_len"))
      .groupBy(col("streak_len"))
      .agg(count(lit(1)).as("n_streaks"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("streak_len"))
  }

  /** View→purchase conversion LATENCY profile — the time-to-convert
    * distribution behind [[conversionRate]]'s rate: over the
    * attributed purchases (the [[asofViewWithinHour]] as-of output),
    * the delay from last view to purchase as count / mean / exact
    * p50/p90/p99 / max seconds. The number that picks the attribution
    * window itself (is 1h generous or tight?) — the funnel sibling of
    * [[latenessProfile]]'s watermark evidence.
    *
    * Shape at scale: the as-of join is the plan (one exchange per
    * side); the profile is a single global agg over the attributed
    * subset, exact percentiles swapping for the binned sketch at
    * 100 TB exactly like [[interArrival]]. */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame =
    asofViewWithinHour(spark, dir)
      .filter(col("view_id").isNotNull)
      .withColumn("delay_s", col("purchase_sec") - col("view_sec"))
      .agg(count(lit(1)).as("n_converted"),
        round(avg(col("delay_s")), 6).as("mean_delay_s"),
        round(expr("percentile(delay_s, 0.5D)"), 6).as("p50_delay_s"),
        round(expr("percentile(delay_s, 0.9D)"), 6).as("p90_delay_s"),
        round(expr("percentile(delay_s, 0.99D)"), 6).as("p99_delay_s"),
        max(col("delay_s")).as("max_delay_s"))

  /** Daily event-type mix drift: Jensen–Shannon divergence of each
    * day's event-type distribution against the corpus-wide mix — the
    * composition-drift monitor that fires when a producer silently
    * changes WHAT it sends, not how much ([[seasonalProfile]] and
    * [[ewmaDaily]] only watch volume). JS over KL because days
    * missing a type entirely are routine (KL would be ∞); absent
    * types still contribute the q·ln(2) mass through the full
    * (day × type) grid. All divergence terms are rounded to 9 dp and
    * summed as DECIMAL — addition-order-independent.
    *
    * Shape at scale: one (day, type) fact agg, the ≤|types|-row
    * global mix broadcast onto the days×types grid (built from two
    * tiny relations, never the fact stream), arithmetic on that
    * grid. */
  def mixDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(expr("unix_timestamp(ts) div 86400").as("day"), col("event_type"))
    val cell = ev.groupBy(col("day"), col("event_type")).agg(count(lit(1)).as("c"))
    val dayTot = cell.groupBy(col("day")).agg(sum(col("c")).as("dt"))
    val typeTot = cell.groupBy(col("event_type")).agg(sum(col("c")).as("gt"))
    val grand = cell.agg(sum(col("c")).as("n"))
    val grid = dayTot.crossJoin(broadcast(typeTot))
      .join(cell, Seq("day", "event_type"), "left")
      .crossJoin(broadcast(grand))
      .withColumn("p", coalesce(col("c"), lit(0L)) / col("dt").cast("double"))
      .withColumn("q", col("gt") / col("n").cast("double"))
      .withColumn("m", (col("p") + col("q")) / 2)
      .withColumn("term",
        (when(col("p") > 0, round(col("p") * log(col("p") / col("m")), 9))
          .otherwise(lit(0.0)).cast(org.apache.spark.sql.types.DecimalType(18, 9)) +
         round(col("q") * log(col("q") / col("m")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9))))
    grid.groupBy(col("day"))
      .agg(first(col("dt")).as("n_events"),
        round(sum(col("term")).cast("double") / 2, 6).as("js_divergence"))
      .orderBy(col("day"))
  }

  /** Order-to-ship fulfillment lag SLA: per order month, the
    * count/mean/exact p50/p90/max days from order date to line ship
    * date — the operations dashboard's promise-keeping table (the
    * reference's planned-vs-actual journey timing, at order grain).
    * Lag is pure integer epoch-day arithmetic.
    *
    * Shape at scale: the orders dim side of the join carries only
    * (orderkey, month) — one fact shuffle on orderkey, one
    * |months|-group agg; percentile → binned sketch at 100 TB as
    * everywhere. */
  def shipLag(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("order_month"),
        (expr("unix_timestamp(l_shipdate) div 86400") -
          expr("unix_timestamp(o_orderdate) div 86400")).as("lag_days"))
      .groupBy(col("order_month"))
      .agg(count(lit(1)).as("n_lines"),
        round(avg(col("lag_days")), 6).as("mean_lag_days"),
        round(expr("percentile(lag_days, 0.5D)"), 6).as("p50_lag_days"),
        round(expr("percentile(lag_days, 0.9D)"), 6).as("p90_lag_days"),
        max(col("lag_days")).as("max_lag_days"))
      .orderBy(col("order_month"))

  /** ClickHouse-style windowFunnel: per user, the deepest prefix of
    * view → click → purchase reachable with EVERY step inside 4 hours
    * of the anchoring view — the product-analytics primitive behind
    * "conversion within a session window" dashboards (the classic
    * sequenced-steps variant of [[conversionRate]], which ignores
    * time). Output: users per deepest level (0 = active but never
    * viewed).
    *
    * Dominance pruning keeps the chain joins linear: for a level-3
    * chain it is sufficient to test the EARLIEST in-window click per
    * (user, view) anchor — any purchase satisfying a later click also
    * satisfies the earliest — so the purchase join runs on ≤|views|
    * rows, not |views×clicks|.
    *
    * Shape at scale: three filtered scans of the one persisted event
    * projection; all joins are per-user equi-joins with time-range
    * predicates (co-partitioned on user_id — the interval-join
    * discipline); at 100 TB the anchor stream would pre-bucket on
    * (user, ts div window) like [[intervalJoin]]'s bucketing. */
  def windowFunnel(spark: SparkSession, dir: String): DataFrame =
    funnelLevels(spark, dir, 4)
      .groupBy(col("funnel_level"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("funnel_level"))

  /** (user_id, funnel_level) for one attribution window — the shared
    * core of [[windowFunnel]] (the 4h production point) and
    * [[funnelWindowSweep]] (the sensitivity curve that justifies it). */
  private def funnelLevels(spark: SparkSession, dir: String,
      windowHours: Int): DataFrame = {
    val w = s"INTERVAL $windowHours HOURS"
    val ev = graft.Caches.persistTracked(Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts")))
    ev.count()
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("t1"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("t2"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("t3"))
    val pairs = views.join(clicks,
      col("user_id") === col("cu") && col("t2") > col("t1") &&
        col("t2") <= col("t1") + expr(w))
    // dominance pruning: earliest in-window click per anchor
    val anchors = pairs.groupBy(col("user_id"), col("t1"))
      .agg(min(col("t2")).as("t2"))
    val l3 = anchors.join(buys,
        col("user_id") === col("pu") && col("t3") > col("t2") &&
          col("t3") <= col("t1") + expr(w))
      .select(col("user_id")).distinct().withColumn("l3", lit(1))
    val l2 = pairs.select(col("user_id")).distinct().withColumn("l2", lit(1))
    val l1 = views.select(col("user_id")).distinct().withColumn("l1", lit(1))
    ev.select(col("user_id")).distinct()
      .join(l1, Seq("user_id"), "left")
      .join(l2, Seq("user_id"), "left")
      .join(l3, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("l3") === 1, 3L).when(col("l2") === 1, 2L)
          .when(col("l1") === 1, 1L).otherwise(0L).as("funnel_level"))
  }

  /** Attribution-window sensitivity sweep for [[windowFunnel]]: the
    * users-per-level rollup at 1h / 4h / 24h windows side by side —
    * the evidence that PICKS the production window (a curve that is
    * still rising at 24h says the 4h cut under-attributes; a flat one
    * says 1h suffices), the funnel sibling of
    * [[conversionLatency]]'s percentile read.
    *
    * Shape at scale: the level-assignment chain runs once per window
    * point over the SAME persisted event projection (three cheap
    * passes, each the [[windowFunnel]] plan); output |windows|×4
    * rows. */
  def funnelWindowSweep(spark: SparkSession, dir: String): DataFrame = {
    // window-INDEPENDENT subterms built ONCE for the whole sweep
    // (guide §5 build-once-per-plan): the shipped r8–r15 form ran
    // funnelLevels per window point, recomputing the user base and the
    // level-1 view-distinct 3×. Only pairs/anchors/l3/l2 depend on the
    // window. r16 sf10 A/B (interleaved fresh-JVM passes, identical
    // output checksums; OPTIMIZATION_r16.md): shipped 22.3/12.7s vs
    // shared 12.4/11.4s. Per-window output is EXACTLY funnelLevels'
    // rollup — windowFunnel (the single-point query) keeps its own
    // plan.
    val ev = graft.Caches.persistTracked(Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts")))
    ev.count()
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("t1"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("t2"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("t3"))
    val l1 = graft.Caches.persistTracked(
      views.select(col("user_id")).distinct().withColumn("l1", lit(1)))
    l1.count()
    val base = graft.Caches.persistTracked(ev.select(col("user_id")).distinct())
    base.count()
    Seq(1, 4, 24).map { h =>
      val w = s"INTERVAL $h HOURS"
      val pairs = views.join(clicks,
        col("user_id") === col("cu") && col("t2") > col("t1") &&
          col("t2") <= col("t1") + expr(w))
      val anchors = pairs.groupBy(col("user_id"), col("t1"))
        .agg(min(col("t2")).as("t2"))
      val l3 = anchors.join(buys,
          col("user_id") === col("pu") && col("t3") > col("t2") &&
            col("t3") <= col("t1") + expr(w))
        .select(col("user_id")).distinct().withColumn("l3", lit(1))
      val l2 = pairs.select(col("user_id")).distinct().withColumn("l2", lit(1))
      base
        .join(l1, Seq("user_id"), "left")
        .join(l2, Seq("user_id"), "left")
        .join(l3, Seq("user_id"), "left")
        .select(col("user_id"),
          when(col("l3") === 1, 3L).when(col("l2") === 1, 2L)
            .when(col("l1") === 1, 1L).otherwise(0L).as("funnel_level"))
        .groupBy(col("funnel_level"))
        .agg(count(lit(1)).as("n_users"))
        .select(lit(h.toLong).as("window_hours"), col("funnel_level"),
          col("n_users"))
    }.reduce(_ unionAll _)
      .orderBy(col("window_hours"), col("funnel_level"))
  }

  /** First-touch / last-touch conversion attribution: each purchase is
    * attributed to the user's earliest and latest preceding view/click
    * within a 7-day lookback — the two bookend models every marketing
    * attribution report starts from (the reference's journey timing
    * read backwards from the conversion). Purchases with no in-window
    * touch land in channel 'none' so totals reconcile to the purchase
    * count. Ties (same-timestamp touches) break on event_id — rankings
    * are total orders, deterministic in both engines.
    *
    * Shape at scale: one per-user equi-join (purchases × touches,
    * range-bounded) and two row_number windows partitioned by the
    * purchase — co-partitioned by user after the join shuffle; no
    * global sorts. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Caches.persistTracked(Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id")))
    ev.count()
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pt"), col("event_id").as("pid"))
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("tu"), col("ts").as("tt"), col("event_id").as("tid"),
        col("event_type").as("channel"))
    // window predicate INSIDE the left-join condition: a purchase whose
    // touches are all out-of-window must surface as channel 'none',
    // not vanish to a post-join filter
    val joined = buys.join(touches,
      col("user_id") === col("tu") && col("tt") < col("pt") &&
        col("tt") >= col("pt") - expr("INTERVAL 7 DAYS"), "left")
    val wFirst = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("tt").asc_nulls_last, col("tid").asc_nulls_last)
    val wLast = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("tt").desc_nulls_last, col("tid").desc_nulls_last)
    val first = joined.withColumn("rn", row_number().over(wFirst)).filter(col("rn") === 1)
      .select(lit("first_touch").as("model"),
        coalesce(col("channel"), lit("none")).as("channel"))
    val last = joined.withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
      .select(lit("last_touch").as("model"),
        coalesce(col("channel"), lit("none")).as("channel"))
    first.unionAll(last)
      .groupBy(col("model"), col("channel"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("model"), col("channel"))
  }

  /** Growth-accounting user lifecycle: every (user, active-day) is
    * classified NEW (first activity ever), RESURRECTED (gap from the
    * previous active day > 7), or RETAINED; churn is booked on
    * prev_active_day + 8 for every >7-day silence that the observed
    * range can actually confirm (a user silent past the corpus edge is
    * unknowable, not churned — the frontier rule
    * [[graft.operators.Relational.qBucketMigration]] also applies).
    * Per day: the four counts — the standard DAU decomposition
    * new + retained + resurrected − churned that growth dashboards
    * plot, where [[rollingActives]] only plots the level.
    *
    * Shape at scale: (user, day) distinct, ONE lag window per user (no
    * global sort), the churn stream derived from the same lagged rows,
    * one day-grain map-side-combinable agg. */
  def userLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct()
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("nxt", lead(col("day"), 1).over(w))
    val g = graft.Caches.persistTracked(
      ud.crossJoin(broadcast(ud.agg(max(col("day")).as("max_day")))))
    g.count()
    val states = g.select(col("day"),
      when(col("prev").isNull, "new")
        .when(col("day") - col("prev") > 7, "resurrected")
        .otherwise("retained").as("state"))
    // churn: prev-active day d with silence (d, d+7] confirmed inside
    // the observed range — booked on d+8
    val churn = g
      .filter((coalesce(col("nxt") - col("day"), lit(Long.MaxValue)) > 7) &&
        col("day") + 8 <= col("max_day"))
      .select((col("day") + 8).as("day"), lit("churned").as("state"))
    states.unionAll(churn)
      .groupBy(col("day"))
      .agg(
        sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("state") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("state") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"),
        sum(when(col("state") === "churned", 1L).otherwise(0L)).as("n_churned"))
      .orderBy(col("day"))
  }

  /** Daily bounce rate over the [[sessionize]] session grain (same
    * 30-minute inactivity cut): a session bounces when it contains
    * exactly one event; per start-day the session count, bounce count,
    * and the exact tie-free 6-dp rate — the engagement-quality
    * companion to [[sessionize]]'s volume view.
    *
    * Shape at scale: the one per-user session window (inherited),
    * then a day-grain map-side-combinable agg over the SESSION-grain
    * table — never a second pass over raw events. */
  def bounceRate(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_sec", lag(epochSec(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_sec").isNull || epochSec(col("ts")) - col("prev_sec") > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_num", sum(col("new_sess")).over(byUser))
      .groupBy(col("user_id"), col("session_num"))
      .agg(count(lit(1)).as("n_events"),
        min(epochSec(col("ts"))).as("start_sec"))
      .select(expr("start_sec div 86400").as("day"), col("n_events"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("day"), col("n_sessions"), col("n_bounces"),
        expr("""CAST((2 * n_bounces * 1000000 + n_sessions)
               div (2 * n_sessions) AS DOUBLE) / 1000000.0""")
          .as("bounce_rate"))
      .orderBy(col("day"))
  }

  /** Activity concentration — the share of all events generated by the
    * top 1% / 5% / 10% most-active users (rank by (event count,
    * user_id) — a total order, so the cut set is engine-identical;
    * cohort size = ceil(n·p) computed as the exact integer
    * (n·p + 99) div 100). The ops-side Pareto read that
    * [[graft.operators.Relational.qGiniSpend]] gives finance: it
    * decides whether per-user salting is needed BEFORE a skewed key
    * takes an executor down.
    *
    * Shape at scale: one user-grain count agg (map-side), ONE global
    * rank window over the |users| table (dim-grain — the documented
    * approx-quantile swap at 100 TB), a 3-row literal cross join and
    * a 3-group agg. */
  def powerUsers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val ranked = graft.Caches.persistTracked(counts
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_events").desc, col("user_id"))))
      .crossJoin(broadcast(counts.agg(
        count(lit(1)).as("n_users"), sum(col("n_events")).as("tot")))))
    ranked.count()
    ranked.crossJoin(broadcast(Seq(1L, 5L, 10L).toDF("pct")))
      .filter(col("rk") <= expr("(n_users * pct + 99) div 100"))
      .groupBy(col("pct"))
      .agg(count(lit(1)).as("n_top_users"), sum(col("n_events")).as("top_events"),
        first(col("tot")).as("tot"))
      .select(col("pct"), col("n_top_users"), col("top_events"),
        expr("""CAST((2 * top_events * 1000000 + tot) div (2 * tot)
               AS DOUBLE) / 1000000.0""").as("event_share"))
      .orderBy(col("pct"))
  }

  /** Traffic-burst profile over per-hour event volume — the
    * ingest-side spike monitor run beside [[cusumShift]]'s mean-shift
    * view: the 20 hours most above their own trailing day, each
    * carrying its z² against the trailing mean/variance and a 3σ
    * burst flag. Everything that decides is INTEGER arithmetic — with
    * w observed prior hours of sum s₁ and sum-of-squares s₂, the
    * excess is e = w·c − s₁ and z² = e²/(w·s₂ − s₁²), emitted as the
    * tie-free 6-dp rational ((2e²·10⁶+V) div 2V) and ranked on that
    * exact value (hour tie-break), with is_burst ⟺ e² > 9V — no
    * float sqrt/mean sits at any decision boundary, so both engines
    * rank and flag the identical hours. Hours with under 12 observed
    * trailing hours are not judged (warm-up); the hour grain keeps
    * the trailing window populated even on sparse small-SF traffic
    * (minute grain leaves <30 observed minutes per hour there), and
    * a top-20 report stays non-degenerate below the 3σ tail.
    *
    * Shape at scale: the fact stream reduces map-side to hour grain
    * (one hash-agg); the trailing-range window runs over that
    * dim-grain series (720 rows/month), and the top-20 is a
    * TakeOrdered, not a global sort materialization. At 100 TB the
    * hour table is still tiny; if it ever weren't, the window
    * partitions by week with a one-day overlap pad — same semantics,
    * bounded tasks. */
  def burstDetection(spark: SparkSession, dir: String): DataFrame = {
    val perHour = Tables.events(spark, dir)
      .select(expr("unix_timestamp(ts) div 3600").as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
    val wTrail = Window.orderBy(col("h")).rangeBetween(-24, -1)
    perHour
      .withColumn("trail_n", count(col("c")).over(wTrail))
      .withColumn("s1", sum(col("c")).over(wTrail))
      .withColumn("s2", sum(col("c") * col("c")).over(wTrail))
      .filter(col("trail_n") >= 12)
      .withColumn("e", col("trail_n") * col("c") - col("s1"))
      .withColumn("vv", col("trail_n") * col("s2") - col("s1") * col("s1"))
      .filter(col("e") > 0 && col("vv") > 0)
      .select(col("h").as("hour_epoch"), col("c").as("cnt"),
        col("trail_n"),
        expr("""CAST((2 * e * e * 1000000 + vv) div (2 * vv) AS DOUBLE)
               / 1000000.0""").as("z2"),
        (col("e") * col("e") > lit(9L) * col("vv")).as("is_burst"))
      .orderBy(col("z2").desc, col("hour_epoch"))
      .limit(20)
  }
}
