package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational scale-demonstration queries over the TPC-H-style
  * tables. The reference has no joins/aggregations/windows
  * (SURVEY.md §2.2) — these queries document how the absent
  * categories are covered by Spark built-ins with 100 TB-appropriate
  * plans: partial aggregation, broadcast of dimension tables,
  * window-partition pruning.
  *
  * Determinism note: money columns are doubles; each is quantized
  * row-locally to cents (floor(x*100), identical IEEE double math in
  * both engines) BEFORE aggregation so the sums are exact integers —
  * order-independent and hash-stable across engines and partition
  * counts.
  */
object RelQueries {

  private def cents(c: org.apache.spark.sql.Column) =
    floor(c * 100).cast("long")

  /** TPC-H Q1-style pricing summary: one hash-agg over lineitem
    * (map-side partial agg; the only shuffle is |flag×status| ≈ 6
    * groups). Shipdate predicate is pushed to the parquet scan.
    * NOTE: l_shipdate is micros-precision → TIMESTAMP_NTZ (only the
    * nanos columns fall under spark.sql.legacy.parquet.nanosAsLong). */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") <= expr("TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(cents(col("l_quantity"))).as("sum_qty_c"),
        sum(cents(col("l_extendedprice"))).as("sum_price_c"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("sum_disc_price_c"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Broadcast-join demo: revenue by part brand. `part` is the small
    * side (1/5 of lineitem's rows, narrow projection) → explicit
    * broadcast, so lineitem never shuffles. */
  def brandRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_c"))
    val p = Tables.part(spark, sfDir).select("p_partkey", "p_brand")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"), sum("rev_c").as("revenue_c"))
      .orderBy("p_brand")
  }

  /** Multi-join rollup: order revenue by region × priority.
    * customer/nation/region are all dimension-sized → broadcast
    * chain; `orders` (the fact) never shuffles before the final
    * small aggregate. */
  def regionPriorityRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_c"))
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, sfDir).select("n_nationkey", "n_regionkey")
    val r = Tables.region(spark, sfDir).select("r_regionkey", "r_name")
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum("price_c").as("revenue_c"))
      .orderBy("r_name", "o_orderpriority")
  }

  /** Window top-k: 3 highest-value orders per customer. Single
    * shuffle on o_custkey; ties broken by o_orderkey so the frame is
    * total-ordered (required for the oracle hash and for stable
    * results under retries at scale). */
  def topOrdersPerCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
        col("o_totalprice"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select("o_custkey", "rk", "o_orderkey", "price_c")
      .orderBy("o_custkey", "rk")
  }

  /** As-of join demo (graft.operators.AsOfJoin): every purchase event
    * matched to the same user's most recent click at-or-before it.
    * One shuffle on user_id for both sides via the union+carry
    * formulation. Timestamps are compared at micros precision on
    * both engines (parquet nanos → DuckDB TIMESTAMP is µs-truncated;
    * (user_id, ts_us) verified collision-free in the corpus). */
  def purchaseLastClick(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("CAST(ts AS BIGINT) div 1000"))
    val purchases = e.where(col("event_type") === "purchase")
      .select("user_id", "ts_us", "event_id")
    val clicks = e.where(col("event_type") === "click")
      .select("user_id", "ts_us", "event_id")
    // event_id tiebreak (r7): equal-timestamp clicks otherwise make
    // "the" last click underdetermined — probe-sf1's duplicated rows
    // exposed the ambiguity in both engines
    graft.operators.AsOfJoin.asOf(purchases, clicks, "user_id", "ts_us",
        Seq("event_id"), Seq("event_id", "ts_us"), tieBreak = Some("event_id"))
      .select(col("l_event_id").as("purchase_id"), col("user_id"),
        col("l_ts_us").as("purchase_us"), col("r_event_id").as("click_id"),
        col("r_ts_us").as("click_us"))
      .orderBy("purchase_id")
  }

  /** Position-based (U-shaped, 40/20/40) multi-touch attribution:
    * every click in a purchase's 1-hour lookback window gets a share
    * of the conversion credit — 40% to the first touch, 40% to the
    * last, 20% split across the middles — the model marketing
    * analytics runs beside last-touch ([[purchaseLastClick]] is the
    * degenerate 0/0/100 case). Weights are EXACT integer ppm summing
    * to 1,000,000 per purchase: middles get 200000 div (n−2) each,
    * with the remainder distributed one-ppm-apiece to the EARLIEST
    * middles (a pinned total order, not float division — cross-engine
    * bit-stable and auditable: sum(weight_ppm) == 1e6 every row
    * group). n=1 → 1e6; n=2 → 500000/500000 (the standard U-shape
    * degeneracies). Window membership and ordering reuse the
    * [[purchaseLastClick]]/range-clicks conventions: ts ≤ purchase,
    * > purchase − 1h, ordered (ts asc, event_id asc) — the probe-
    * corpus tiebreak lesson applied from the start. Scale shape: the
    * pair join is the BOUNDED range join (per-user equi-join + time
    * predicate — occupancy capped by the window, never corpus²), the
    * position windows key on purchase_id, and both reuse one
    * exchange. */
  def attribMulti(spark: SparkSession, sfDir: String,
                  windowUs: Long = 3600000000L): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("CAST(ts AS BIGINT) div 1000"))
    val p = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("p_us"),
        col("event_id").as("purchase_id"))
    val c = e.where(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("c_us"),
        col("event_id").as("click_id"))
    val pairs = p.join(c, Seq("user_id"))
      .where(col("c_us") <= col("p_us") &&
        col("c_us") > col("p_us") - windowUs)
    val byPurchase = Window.partitionBy("purchase_id")
    val ordered = Window.partitionBy("purchase_id")
      .orderBy(col("c_us").asc, col("click_id").asc)
    pairs
      .withColumn("pos", row_number().over(ordered).cast("long"))
      .withColumn("n_touch", count(lit(1)).over(byPurchase).cast("long"))
      .withColumn("weight_ppm",
        when(col("n_touch") === 1L, lit(1000000L))
          .when(col("n_touch") === 2L, lit(500000L))
          .when(col("pos") === 1L || col("pos") === col("n_touch"),
            lit(400000L))
          .otherwise(expr("200000L div (n_touch - 2)") +
            when(col("pos") - 1L <= expr("200000L % (n_touch - 2)"), 1L)
              .otherwise(0L)))
      .select("purchase_id", "user_id", "click_id", "pos", "n_touch",
        "weight_ppm")
      .orderBy("purchase_id", "pos")
  }

  /** ROLLUP grouping-sets coverage (absent in the reference —
    * SURVEY.md §2.2): pricing rollup with explicit NULLS FIRST
    * ordering (Spark defaults nulls-first on ASC, DuckDB defaults
    * nulls-last — the oracle pins it). */
  def pricingRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"), sum(cents(col("l_quantity"))).as("sum_qty_c"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** CUBE grouping-sets coverage (r5 — completes the family with
    * [[pricingRollup]]: CUBE adds the (∅, linestatus) cross slices
    * ROLLUP omits). Same single-shuffle Expand+aggregate plan shape;
    * NULLS FIRST pinned for the oracle as in rollup. */
  def pricingCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"), sum(cents(col("l_quantity"))).as("sum_qty_c"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Explicit GROUPING SETS (r6 — the third of the grouping trio
    * after [[pricingCube]] CUBE and rel_rollup ROLLUP): the
    * ad-hoc-set shape neither cube nor rollup can express —
    * (priority, status), (priority), () but NOT (status). One
    * hash-agg pass expands each row into its member sets (Catalyst's
    * Expand), so the cost is |sets|× the scan, never |sets| scans;
    * `grouping_id()` disambiguates NULL-as-rolled-up from NULL data
    * — the same bitmask DuckDB's GROUPING() emits, oracle-pinned. */
  def groupingSetsSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderpriority")), Seq.empty[Column]),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("sum_total_c"))
      .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  /** JSON scalar-function coverage: `props` carries a JSON payload;
    * extract + aggregate per event type (get_json_object is the
    * codegen'd built-in; no UDF, no schema inference over the lake). */
  def jsonPropsRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /** Exact percentile aggregation (median over cent-quantized
    * values): Spark's percentile() and DuckDB's quantile_cont() both
    * use linear interpolation over the sorted set; doubling before
    * floor keeps the .5-interpolated midpoints exact integers.
    * (approx_percentile/HLL sketches are NOT cross-engine
    * deterministic — see x_approx_users for the rows-only demo.) */
  def medianValueByType(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), cents(col("value")).as("value_c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        floor(expr("2 * percentile(value_c, 0.5D)")).cast("long").as("med2_c"))
      .orderBy("event_type")

  /** The SCALE path for [[medianValueByType]]: approx_percentile
    * (Greenwald–Khanna sketch) — partial-aggregable, so the per-group
    * cost is one bounded sketch merged map-side instead of a full sort
    * of every group's values. Sketches are engine-specific (no DuckDB
    * hash oracle — declared with the x_ rows-only check, like
    * x_approx_users); the exact variant stays the correctness anchor. */
  def medianValueApproxByType(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), cents(col("value")).as("value_c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("approx_percentile(value_c, 0.5D, 10000)").as("med_approx_c"))
      .orderBy("event_type")

  /** Broadcast theta/range join: classify event values into
    * NON-uniform bands. The band table is dimension-tiny → explicit
    * broadcast makes this a BroadcastNestedLoopJoin (the right plan:
    * the fact side streams once, no shuffle, no O(|fact|·|dim|)
    * blowup beyond the 7-row inner loop). Bands are [lo, hi). */
  def valueBands(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      (0L, -1e18, 0.0), (1L, 0.0, 10.0), (2L, 10.0, 25.0),
      (3L, 25.0, 50.0), (4L, 50.0, 100.0), (5L, 100.0, 250.0),
      (6L, 250.0, 1e18)).toDF("band_id", "lo", "hi")
    Tables.events(spark, sfDir).select(col("value"))
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("band_id")
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_c"))
      .orderBy("band_id")
  }

  /** Session windows over user event streams via Spark's NATIVE
    * session_window (the streaming operator, exercised in batch) —
    * the oracle reproduces its exact semantics with the classic
    * lag+cumulative-sum SQL formulation (break when the event-time
    * gap >= 6h; session end = last event + gap), cross-checking the
    * built-in against the portable definition. */
  def userSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val gapUs = 6L * 3600 * 1000000
    Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("timestamp_micros(CAST(ts AS BIGINT) div 1000)").as("tsu"))
      .groupBy(session_window(col("tsu"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"))
      .orderBy("user_id", "session_start_us")
  }

  /** DLQ-rate observability: per event-time hour, total records,
    * dead-branch records (same split predicate as t2_q1/q2 — the
    * reference topology's routing), and the dead rate in ppm — the
    * dashboard query every dead-letter pipeline needs ("is the DLQ
    * rate spiking this hour?"). One partial-combinable aggregate. */
  def dlqHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val nanosPerHour = 3600L * 1000000000L
    Tables.events(spark, sfDir)
      .select(
        (expr(s"CAST(ts AS BIGINT) div $nanosPerHour") * 3600L)
          .as("hour_epoch_s"),
        when(col("value") >= 100.0, 0L).otherwise(1L).as("dead"))
      .groupBy("hour_epoch_s")
      .agg(count(lit(1)).as("n"), sum("dead").as("n_dead"),
        floor(lit(1000000.0) * sum("dead") / count(lit(1)))
          .cast("long").as("dead_ppm"))
      .orderBy("hour_epoch_s")
  }

  /** Event-time tumbling window (batch form of the streaming
    * windowed count): hourly counts + value sums per event type.
    * `ts` is nanos-since-epoch (LongType); hour bucket = integer
    * division — pure integer math, portable, and a direct
    * partition-pruning key at scale. */
  def hourlyEventRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val nanosPerHour = 3600L * 1000000000L
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        // integer `div`: ts (~1.7e18 ns) is far above 2^53, double
        // division would be inexact
        (expr(s"CAST(ts AS BIGINT) div $nanosPerHour") * 3600L)
          .as("hour_epoch_s"),
        cents(col("value")).as("value_c"))
      .groupBy("hour_epoch_s", "event_type")
      .agg(count(lit(1)).as("n"), sum("value_c").as("sum_value_c"))
      .orderBy("hour_epoch_s", "event_type")
  }

  /** Three-step conversion funnel (view → click → purchase) with
    * strict event-time ordering: a user reaches stage 2 only with a
    * click strictly after their first view, stage 3 only with a
    * purchase strictly after that click. Output is the classic
    * cumulative funnel: (stage, n_users) for users reaching ≥ stage.
    *
    * Scale design (r5 — the r4 form read `events` three times, one
    * filtered scan per stage): ONE scan, ONE user-keyed shuffle. The
    * stage chain is three unbounded-frame window minimums over the
    * same user partition — t_view, then the first click after it,
    * then the first purchase after that — so the three Window nodes
    * and the per-user collapse all reuse the single exchange (the
    * partition-key sort is shared too: later nodes see the required
    * ordering already satisfied). No join, no collect; the final
    * stack is over a single aggregated row. */
  def funnel(spark: SparkSession, sfDir: String): DataFrame =
    funnelOf(Tables.events(spark, sfDir))

  /** [[funnel]] over any (user_id, event_type, ts) frame. */
  def funnelOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    events
      .select(col("user_id"), col("event_type"),
        expr("CAST(ts AS BIGINT)").as("tsn"))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("tsn"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" &&
          col("tsn") > col("t_view"), col("tsn"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" &&
          col("tsn") > col("t_click"), col("tsn"))).over(w))
      // collapse to one row per user (all rows of a user carry the
      // same stage times); partitioning already satisfied -> no
      // second exchange
      .groupBy("user_id")
      .agg(max("t_view").as("t_view"), max("t_click").as("t_click"),
        max("t_purchase").as("t_purchase"))
      .where(col("t_view").isNotNull)
      .agg(count(lit(1)).as("n1"), count("t_click").as("n2"),
        count("t_purchase").as("n3"))
      .selectExpr("stack(3, '1_view', n1, '2_click', n2, " +
        "'3_purchase', n3) AS (stage, n_users)")
      .orderBy("stage")
  }

  /** Time-bounded conversion funnel (r6): [[funnelOf]] with the
    * constraint real funnel analytics always carry — each step must
    * land within `maxGapNs` of the previous step (a purchase a month
    * after the click is not attributed to it). Same single-scan
    * chained-conditional-window shape (ONE user_id exchange, stage
    * times as windowed conditional mins); the bound simply enters
    * each min's predicate, so the plan is IDENTICAL to the unbounded
    * funnel — constraint tightening is free at 100 TB. Default gap
    * 3 days (the corpus spans ~30, so the bound genuinely bites —
    * asserted against [[funnel]] in the spec). */
  def funnelWindow(spark: SparkSession, sfDir: String,
      maxGapNs: Long = 3L * 86400L * 1000000000L): DataFrame =
    funnelWindowOf(Tables.events(spark, sfDir), maxGapNs)

  /** [[funnelWindow]] over any (user_id, event_type, ts) frame. */
  def funnelWindowOf(events: DataFrame, maxGapNs: Long): DataFrame = {
    val w = Window.partitionBy("user_id")
    events
      .select(col("user_id"), col("event_type"),
        expr("CAST(ts AS BIGINT)").as("tsn"))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("tsn"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" &&
          col("tsn") > col("t_view") &&
          col("tsn") <= col("t_view") + maxGapNs, col("tsn"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" &&
          col("tsn") > col("t_click") &&
          col("tsn") <= col("t_click") + maxGapNs, col("tsn"))).over(w))
      .groupBy("user_id")
      .agg(max("t_view").as("t_view"), max("t_click").as("t_click"),
        max("t_purchase").as("t_purchase"))
      .where(col("t_view").isNotNull)
      .agg(count(lit(1)).as("n1"), count("t_click").as("n2"),
        count("t_purchase").as("n3"))
      .selectExpr("stack(3, '1_view', n1, '2_click', n2, " +
        "'3_purchase', n3) AS (stage, n_users)")
      .orderBy("stage")
  }

  /** Compaction / file-layout planner (r6): the small-files primitive
    * behind every lake OPTIMIZE — assign rows to target-sized output
    * files by next-fit on a running byte total, and report per-file
    * min/max event-time SPANS, because tight spans are the entire
    * point of planned layout (they are what makes file-level stats
    * pruning effective; [[zorderSpans]] is the 2-D version of the
    * same argument). file_id = ⌊exclusive-prefix-sum(bytes) /
    * target⌋ within each event type, ordered by (ts, event_id) — so
    * files are time-clustered and a time-range scan touches
    * contiguous files only. ONE exchange on event_type serving both
    * the window and the per-file aggregate; at 100 TB the partition
    * key generalizes to (table partition, shard) and the same window
    * runs per shard. Row bytes = UTF-8 payload length + fixed row
    * overhead — a proxy the oracle restates exactly. */
  def compactionPlan(spark: SparkSession, sfDir: String,
      targetBytes: Long = 65536L): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        expr("CAST(ts AS BIGINT)").as("tsn"),
        (octet_length(col("props")) + 24L).cast("long").as("bytes"))
    val w = Window.partitionBy("event_type").orderBy("tsn", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("prefix", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("file_id", expr(s"prefix div $targetBytes"))
      .groupBy("event_type", "file_id")
      .agg(count(lit(1)).as("n_rows"), sum("bytes").as("n_bytes"),
        min("tsn").as("ts_min"), max("tsn").as("ts_max"))
      .orderBy("event_type", "file_id")
  }

  /** Partitioned compaction planner (r7 — the production twin of
    * [[compactionPlan]], which is hereby demoted to oracle anchor):
    * the same next-fit file assignment, but windowed by (event_type,
    * DAY BUCKET) — the per-table-partition scope a real lake OPTIMIZE
    * job actually runs at, since compaction rewrites files inside one
    * partition and never across partition boundaries. The window key
    * now contains the time bucket, so sort parallelism is
    * #types × #days and GROWS with the data instead of collapsing to
    * the 5-value event_type domain (the parallelism-collapse class
    * VERDICT r6 flagged; same fix shape as tx_pack → tx_pack_bylang).
    * Still ONE exchange, now on the composite key, serving both the
    * window and the per-file aggregate. */
  def compactionPlanParts(spark: SparkSession, sfDir: String,
      targetBytes: Long = 65536L): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        expr("CAST(ts AS BIGINT)").as("tsn"),
        (octet_length(col("props")) + 24L).cast("long").as("bytes"))
      .withColumn("day_bucket", expr("tsn div 86400000000000"))
    val w = Window.partitionBy("event_type", "day_bucket")
      .orderBy("tsn", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("prefix", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("file_id", expr(s"prefix div $targetBytes"))
      .groupBy("event_type", "day_bucket", "file_id")
      .agg(count(lit(1)).as("n_rows"), sum("bytes").as("n_bytes"),
        min("tsn").as("ts_min"), max("tsn").as("ts_max"))
      .orderBy("event_type", "day_bucket", "file_id")
  }

  /** PIVOT coverage (r5): hourly event counts pivoted to one column
    * per event type — the wide-format rollup reporting tools ask for.
    * The pivot VALUES are passed explicitly (the five literal event
    * types): with values known, Spark plans a single hash-aggregate
    * with conditional counters (no extra distinct-values job, no
    * second shuffle) — exactly the conditional-aggregation form the
    * oracle states, and the only shape that works when the grouping
    * cardinality is lake-scale. */
  def hourlyPivot(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, sfDir)
      .select(expr("CAST(ts AS BIGINT) div 3600000000000").as("hour_bucket"),
        col("event_type"))
      .groupBy("hour_bucket")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("hour_bucket") +: types.map(t =>
        coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy("hour_bucket")
  }

  /** Set-operation coverage (r5 — INTERSECT / EXCEPT / UNION were the
    * last §2.2-absent category without a declared query): audience
    * overlap between event types — users who viewed AND purchased,
    * viewed but never purchased, purchased without a view, and the
    * union. Spark plans INTERSECT/EXCEPT as left-semi / left-anti
    * joins over distinct inputs — one user-keyed shuffle per side,
    * aggregate-bounded output. */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    def users(t: String) =
      ev.where(col("event_type") === t).select("user_id").distinct()
    val v = users("view")
    val p = users("purchase")
    def n(op: String, df: DataFrame) =
      df.agg(lit(op).as("op"), count(lit(1)).as("n_users"))
    n("1_intersect", v.intersect(p))
      .unionByName(n("2_view_only", v.except(p)))
      .unionByName(n("3_purchase_only", p.except(v)))
      .unionByName(n("4_union", v.union(p).distinct()))
      .orderBy("op")
  }

  /** Running (cumulative) spend per customer (r6 — the cumulative-
    * window shape the surface didn't yet exercise: lag, rank and
    * percent_rank were covered; an UNBOUNDED-PRECEDING running
    * aggregate was not). ONE shuffle on o_custkey; each partition
    * sorts locally by (date, orderkey) — the unique orderkey
    * tie-break makes the default RANGE frame equal ROWS, so Spark
    * and the oracle agree bit-for-bit; money in integer cents. At
    * scale this is the per-entity-timeline pattern (balance, LTV):
    * state per partition is one accumulator, output = input rows. */
  def runningSpend(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(cents(col("o_totalprice"))).over(w).as("run_spend_c"))
      .select("o_custkey", "o_orderkey", "run_spend_c")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Ratio-to-report window (r6 — the remaining window shape after
    * lag, rank, percent_rank and the r6 cumulative frame: a
    * full-partition aggregate frame): each part's revenue share
    * within its brand, in ppm. Scale shape: the WINDOW RUNS OVER THE
    * AGGREGATE, not the fact table — lineitem is reduced to one row
    * per part by a partial-combinable hash-agg first (broadcast dim
    * join; the fact side never shuffles before aggregation), so the
    * share window sorts \|parts\| rows, not \|lineitem\|. */
  def windowShare(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("p_brand")
    Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_partkey", "p_brand")
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("revenue_c"))
      .withColumn("share_ppm",
        floor(lit(1000000.0) * col("revenue_c") /
          sum(col("revenue_c")).over(w)).cast("long"))
      .select("p_partkey", "p_brand", "revenue_c", "share_ppm")
      .orderBy("p_partkey")
  }

  /** Inter-event gap statistics per user via lag(): the
    * engagement-cadence profile (and the one window shape —
    * lag/lead — the surface didn't yet exercise). ONE shuffle on
    * user_id; the frame is total-ordered by (ts, event_id) so ties
    * cannot flip gaps under retries; gap math in exact BIGINT nanos
    * floored to seconds. Output is one row per user with ≥ 2 events
    * — aggregate-bounded by |users|, not |events|. */
  def userGaps(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        expr("CAST(ts AS BIGINT)").as("tsn"))
      .withColumn("gap_s",
        expr("(tsn - lag(tsn) OVER " +
          "(PARTITION BY user_id ORDER BY tsn, event_id)) div 1000000000"))
      .where(col("gap_s").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"), min("gap_s").as("min_gap_s"),
        max("gap_s").as("max_gap_s"), sum("gap_s").as("sum_gap_s"))
      .orderBy("user_id")
  }

  /** Cohort retention matrix: users grouped by the day of their first
    * event (the cohort), counted by how many are active again
    * `day_offset` days later — the standard product-analytics
    * retention triangle, over `events`.
    *
    * Scale design: both the first-day aggregate and the activity join
    * are keyed on user_id, so the join co-partitions with the
    * aggregate (one user-keyed shuffle, exchange-reused for both plan
    * arms); the per-user day list is DISTINCTed before counting
    * (partial-combinable on (user, cohort, offset)); the final
    * (cohort × offset) aggregate is bounded by days², independent of
    * corpus size. Day arithmetic stays in exact BIGINT nanos — ts
    * ≈ 1.7e18 ns is above 2^53, double math would corrupt it. */
  def retention(spark: SparkSession, sfDir: String): DataFrame =
    retentionOf(Tables.events(spark, sfDir))

  /** [[retention]] over any (user_id, ts) frame. */
  def retentionOf(events: DataFrame): DataFrame = {
    val nanosPerDay = 86400L * 1000000000L
    val ev = events.select(col("user_id"),
      expr(s"CAST(ts AS BIGINT) div $nanosPerDay").as("day"))
    val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.join(cohort, Seq("user_id"))
      .select(col("user_id"), col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .distinct()
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Bits per dimension of the [[zorderSpans]] curve (8 → 16-bit z). */
  val ZorderBits = 8

  /** The interleaved-bit Z-value of two [[ZorderBits]]-bit dims:
    * dim a on odd bit positions, b on even. Pure shift/and/or —
    * whole-stage codegen, and the same expression tree is emitted as
    * DuckDB SQL by the oracle builder (one shared formula). */
  def zvalue(a: org.apache.spark.sql.Column,
             b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until ZorderBits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(1), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(1), 2 * i))
    }.reduce(_ bitwiseOR _)

  /** Z-order layout demo (r6) — the multi-dimensional data-layout
    * technique behind Delta/Iceberg OPTIMIZE ZORDER: interleaving
    * the bits of two scan dimensions gives a 1-D sort key whose
    * ranges are small rectangles in BOTH dims, so min/max file stats
    * prune selective scans on EITHER column (a plain sort prunes
    * only its leading key). Dims: o_custkey % 256 ("by customer")
    * and floor-cents of o_totalprice % 256 ("by value band"). The
    * query buckets the 16-bit z-space into 64 ranges (the "files" a
    * writer would emit after repartitionByRange(z)) and reports each
    * bucket's row count and per-dim min/max span — the bounded spans
    * ARE the pruning guarantee. One scan, one hash-agg over 64
    * groups; at 100 TB the same z expression feeds
    * repartitionByRange(z) + sortWithinPartitions before the write. */
  def zorderSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val a = col("o_custkey") % 256
    val b = cents(col("o_totalprice")) % 256
    o.select(zvalue(a, b).as("z"), a.as("a"), b.as("b"))
      .groupBy((col("z") / 1024).cast("long").as("z_bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min("a").as("min_cust"), max("a").as("max_cust"),
        min("b").as("min_val"), max("b").as("max_val"))
      .orderBy("z_bucket")
  }

  /** Hilbert-curve layout demo (r6): [[zorderSpans]]'s exact query
    * shape over the Hilbert index instead of the Z index — the curve
    * whose consecutive keys are ALWAYS unit-step adjacent cells
    * (spec-verified exhaustively; the Z curve jumps up to half the
    * grid at quadrant seams), which is why Hilbert ranges have the
    * tighter worst-case bounding boxes on UNALIGNED key ranges. On
    * the 1024-aligned buckets reported here both curves tile 32×32
    * (4⁵ cells = one order-5 subquadrant), so the span table is
    * directly comparable to [[zorderSpans]]'s. The index is a native
    * codegen'd expression ([[graft.functions.HilbertIndex]]) — the
    * data-dependent per-level reflections don't unroll into a static
    * formula like zvalue, and an expression fold would double the
    * tree per bit level. Same scale path: the key feeds
    * repartitionByRange + sortWithinPartitions at write time. */
  def hilbertSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val a = col("o_custkey") % 256
    val b = cents(col("o_totalprice")) % 256
    o.select(graft.functions.layoutNative.hilbert_index(a, b).as("h"),
        a.as("a"), b.as("b"))
      .groupBy(expr("h div 1024").as("h_bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min("a").as("min_cust"), max("a").as("max_cust"),
        min("b").as("min_val"), max("b").as("max_val"))
      .orderBy("h_bucket")
  }

  /** SCD2 dimension merge (r6) — the warehouse MERGE INTO shape the
    * surface lacked: reconcile the current dimension against a new
    * snapshot, closing changed/churned versions and opening new
    * ones, emitting full validity history. The snapshot is derived
    * deterministically from customer (segment rewritten for
    * custkey%10==3, churned %89==0, inserted keys +10⁶ for %97==0).
    * Versions are integers (1 = original, 2 = this batch, -1 =
    * open). Shape: ONE full-outer sort-merge join on the dimension
    * key, then ONE explode pass emitting each key's 1–2 history rows
    * — at 100 TB the dimension merge cost is exactly one
    * co-partitioned join, and with both sides bucketed by key it
    * plans exchange-free. */
  def scd2Merge(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val old = c.select(col("c_custkey").as("key"),
      col("c_mktsegment").as("old_attr"))
    val snap = c.where(col("c_custkey") % 89 =!= 0)
      .select(col("c_custkey").as("key"),
        when(col("c_custkey") % 10 === 3,
          concat(lit("MOVED_"), col("c_mktsegment")))
          .otherwise(col("c_mktsegment")).as("new_attr"))
      .unionByName(c.where(col("c_custkey") % 97 === 0)
        .select((col("c_custkey") + 1000000L).as("key"),
          lit("NEWSEG").as("new_attr")))
    val j = old.join(snap, Seq("key"), "full_outer")
    // ONE pass over the join: each joined row explodes into its 1–2
    // history rows. Filter-per-arm + union would re-reference j three
    // times and Spark would plan the full-outer join THREE times —
    // the explode keeps the merge at exactly one join execution.
    def row(attr: org.apache.spark.sql.Column, vf: Long, vt: Long,
            action: String) =
      struct(attr.as("attr"), lit(vf).as("valid_from"),
        lit(vt).as("valid_to"), lit(action).as("action"))
    val arms = when(col("old_attr").isNull,
        array(row(col("new_attr"), 2L, -1L, "opened_new")))
      .when(col("new_attr").isNull,
        array(row(col("old_attr"), 1L, 2L, "closed_churn")))
      .when(col("new_attr") === col("old_attr"),
        array(row(col("old_attr"), 1L, -1L, "kept")))
      .otherwise(array(row(col("old_attr"), 1L, 2L, "closed"),
        row(col("new_attr"), 2L, -1L, "opened")))
    j.select(col("key"), explode(arms).as("r"))
      .select(col("key"), col("r.attr").as("attr"),
        col("r.valid_from").as("valid_from"),
        col("r.valid_to").as("valid_to"), col("r.action").as("action"))
      .orderBy("key", "valid_from", "action")
  }

  /** Portable bitmap-sketch distinct count (r6): linear ("probabilistic")
    * counting — Whang et al. TODS'90 — with an m = 1008-bit bitmap
    * packed as 16 words × 63 bits, built by ONE partial-combinable
    * bit_or aggregate. Unlike HLL (`x_approx_users`, engine-opaque
    * sketch bytes → rows-only check), every bit here is portable
    * integer math, so the ORACLE CAN HASH-CHECK an approximate-distinct
    * structure: bit = h31(user_id) % 1008, word = bit div 63, mask =
    * 1 << (bit mod 63) — 63 bits per word because a 1 << 63 mask
    * overflows DuckDB's BIGINT shift where Spark wraps negative; ≤ 62
    * keeps every mask positive in both engines. Emits occupied-bit
    * count V beside the exact distinct; the estimate −m·ln(1−V/m) is a
    * float formula for the caller (ln is not bit-portable — V is the
    * mergeable state, 128 bytes/group at ANY cardinality, which is
    * what makes the sketch map-side combinable at 100 TB). */
  /** KMV (k-minimum-values) count-distinct sketch per event type
    * (r7 continuation): the k = 64 smallest distinct h48(user_id)
    * values via the native [[graft.functions.sketchNative.kmv_kmin]]
    * TypedImperativeAggregate — map-side partial aggregation sends
    * ≤ 64 longs per (group, partition), merge is
    * sorted-union-truncate, so there is never a user-keyed shuffle
    * (the 100 TB count-distinct shape; the exact
    * [[distinctUsers]] stays as the small-SF anchor). Unlike HLL
    * (x_approx_users, rows-only) the sketch is DETERMINISTIC given
    * the portable hash, so the estimator
    * floor((k−1)·2^48 / kth_min) — exact kept count when the group
    * has < k distinct hashes — is hash-pinned by the DuckDB oracle
    * recomputing the same k-smallest set. */
  def kmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 64
    val sketch = Tables.events(spark, sfDir)
      .select(col("event_type"),
        graft.functions.PortableHash.h48(col("user_id").cast("string"))
          .as("h"))
      .groupBy("event_type")
      .agg(graft.functions.sketchNative.kmv_kmin(col("h"), k).as("mins"))
    sketch.select(col("event_type"),
        size(col("mins")).cast("long").as("n_kept"),
        element_at(col("mins"), -1).as("kth_min"))
      .withColumn("est_distinct",
        when(col("n_kept") < k, col("n_kept"))
          // integer `div`, not float `/`+floor: 63·2^48 exceeds 2^53,
          // so a double quotient could round across the floor where
          // DuckDB's integer `//` does not
          .otherwise(expr(s"${(k - 1) * 281474976710656L}L div kth_min")))
      .orderBy("event_type")
  }

  /** KMV sketch SET ALGEBRA (r7 continuation): union and
    * intersection cardinality estimates between every pair of
    * event-type user sets, computed ONLY from the per-type KMV
    * sketches — never from the raw sets. This is the sketch's whole
    * point at 100 TB: once the one bounded-state pass of
    * [[kmvDistinct]] runs, any of the 2^|types| set-overlap
    * questions costs sketch-sized work (k longs per operand).
    *
    * Math (Beyer et al., SIGMOD'07): U_k = k smallest of A ∪ B
    * (merge the two sketches, truncate); est_union from U_k exactly
    * as in [[kmvDistinct]]; Jaccard ĵ = |A ∩ B ∩ U_k| / k; and
    * est_intersection = (|A ∩ B ∩ U_k| · est_union) div k. Every
    * step is integer arithmetic over deterministic hashes — the
    * oracle rebuilds the same sketches and must agree bit-for-bit.
    *
    * Shape: the sketch table is |types| rows of k longs — the
    * pair self-join is broadcast-trivial and the array algebra
    * (sort ∘ distinct ∘ concat, slice, filter/contains) is
    * row-local built-ins, no UDF. */
  def kmvOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 64
    val sketches = Tables.events(spark, sfDir)
      .select(col("event_type"),
        graft.functions.PortableHash.h48(col("user_id").cast("string"))
          .as("h"))
      .groupBy("event_type")
      .agg(graft.functions.sketchNative.kmv_kmin(col("h"), k).as("mins"))
    val a = sketches.select(col("event_type").as("type_a"),
      col("mins").as("ma"))
    val b = sketches.select(col("event_type").as("type_b"),
      col("mins").as("mb"))
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .withColumn("uk",
        slice(array_sort(array_distinct(concat(col("ma"), col("mb")))),
          1, k))
      .withColumn("n_union_kept", size(col("uk")).cast("long"))
      .withColumn("est_union",
        when(col("n_union_kept") < k, col("n_union_kept"))
          .otherwise(expr(
            s"${(k - 1) * 281474976710656L}L div element_at(uk, -1)")))
      .withColumn("n_common", size(filter(col("uk"),
        x => array_contains(col("ma"), x) &&
          array_contains(col("mb"), x))).cast("long"))
      // divisor = EFFECTIVE kept size, not k: when the union fits the
      // sketch (n_union_kept < k) est_union is exact and the common
      // count is the true intersection, so the quotient is exact too
      .withColumn("est_intersection",
        expr("(n_common * est_union) div n_union_kept"))
      .select("type_a", "type_b", "n_union_kept", "est_union",
        "n_common", "est_intersection")
      .orderBy("type_a", "type_b")
  }

  def bitmapDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"),
        (graft.functions.PortableHash.h31(col("user_id").cast("string"))
          % 1008L).as("pos"))
      .select(col("event_type"), col("user_id"),
        expr("pos div 63").as("wd"),
        call_function("shiftleft", lit(1L),
          (col("pos") % 63L).cast("int")).as("mask"))
    val words = (0 until 16).map(w =>
      expr(s"bit_or(CASE WHEN wd = $w THEN mask ELSE 0 END)").as(s"b$w"))
    val bitsum = (0 until 16).map(w => s"bit_count(b$w)").mkString(" + ")
    ev.groupBy("event_type")
      .agg(words.head,
        (words.tail :+ countDistinct(col("user_id")).as("n_exact")): _*)
      .select(col("event_type"),
        expr(s"CAST($bitsum AS BIGINT)").as("n_bits_set"),
        col("n_exact"))
      .orderBy("event_type")
  }

  /** Referential-integrity audit (r6): orphan counts per foreign-key
    * edge of the star schema — rows whose FK has no parent (the check
    * MERGE/backfill pipelines run before trusting a join, where an
    * orphan silently disappears from inner-join results). Each edge
    * is ONE left-anti join keyed on the FK with the parent side
    * reduced to its distinct key column (dimension-sized → broadcast
    * for customer/part/supplier; orders-sized for lineitem→orders,
    * still a key-only shuffle). Edges are unioned into one report —
    * each arm's shuffle stays internal, the union adds none. */
  def fkOrphans(spark: SparkSession, sfDir: String): DataFrame = {
    def edge(name: String, child: DataFrame, fk: String,
             parent: DataFrame, pk: String): DataFrame = {
      val orphans = child.select(col(fk).as("k"))
        .join(parent.select(col(pk).as("k")).distinct(), Seq("k"),
          "left_anti")
      orphans.agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("edge"), col("n_orphans"))
    }
    val o = Tables.orders(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir)
    edge("orders.custkey->customer", o, "o_custkey",
        Tables.customer(spark, sfDir), "c_custkey")
      .unionByName(edge("lineitem.orderkey->orders", l, "l_orderkey",
        o, "o_orderkey"))
      .unionByName(edge("lineitem.partkey->part", l, "l_partkey",
        Tables.part(spark, sfDir), "p_partkey"))
      .unionByName(edge("lineitem.suppkey->supplier", l, "l_suppkey",
        Tables.supplier(spark, sfDir), "s_suppkey"))
      // the edge that BITES: events.user_id overruns the supplier key
      // space — the audit reports the mismatch a naive "users are
      // suppliers" join assumption would silently eat (those rows
      // just vanish from an inner join)
      .unionByName(edge("events.user_id->supplier",
        Tables.events(spark, sfDir), "user_id",
        Tables.supplier(spark, sfDir), "s_suppkey"))
      .orderBy("edge")
  }

  /** Candidate-key discovery (r6): per column of the customer table,
    * distinct count vs row count and the implied is-key flag — the
    * metadata-profiling pass schema-inference and dedup-key selection
    * start from. ALL columns profile in ONE pass: Spark plans the
    * multi-column count-distinct through a single Expand (rows ×
    * |columns|) feeding one aggregate — |columns| passes collapse to
    * one scan, the only shape that survives a wide fact table. */
  def keyDiscovery(spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val c = Tables.customer(spark, sfDir)
    val aggs = count(lit(1)).as("n_rows") +:
      cols.map(k => countDistinct(col(k)).as(s"d_$k"))
    val one = c.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(k => s"'$k', d_$k").mkString(", ")
    one.selectExpr("n_rows",
        s"stack(${cols.size}, $stackArgs) AS (column_name, n_distinct)")
      .select(col("column_name"), col("n_rows"), col("n_distinct"),
        when(col("n_distinct") === col("n_rows"), 1L).otherwise(0L)
          .as("is_key"))
      .orderBy("column_name")
  }

  /** Calendar densification / completeness monitor (r6): which hours
    * are MISSING per event type — the data-completeness check behind
    * every backfill decision, and the operator class (anti-join
    * against a GENERATED calendar) the surface lacked: aggregates see
    * only rows that exist, so absence must be manufactured. Shape:
    * distinct (type, hour) → per-type [min, max] extent → explode
    * sequence(h0, h1) into the expected calendar (|types|·|span|
    * rows, agg-bounded, NOT fact-bounded) → left-anti join back
    * against the observed set. At 100 TB the expected side stays
    * calendar-sized while the fact stream is touched once for the
    * distinct; the anti-join keys on (type, hour) — both bounded. */
  def backfillGaps(spark: SparkSession, sfDir: String): DataFrame =
    backfillGapsOf(Tables.events(spark, sfDir))

  /** [[backfillGaps]] over any (event_type, ts) frame. */
  def backfillGapsOf(events: DataFrame): DataFrame = {
    val nanosPerHour = 3600L * 1000000000L
    val obs = events
      .select(col("event_type"),
        expr(s"CAST(ts AS BIGINT) div $nanosPerHour").as("hr"))
      .distinct()
    val ext = obs.groupBy("event_type")
      .agg(min("hr").as("h0"), max("hr").as("h1"))
    val expected = ext.select(col("event_type"),
      explode(sequence(col("h0"), col("h1"))).as("hr"))
    val missing = expected.join(obs, Seq("event_type", "hr"), "left_anti")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_missing"),
        min("hr").as("first_missing"), max("hr").as("last_missing"))
    ext.join(missing, Seq("event_type"), "left")
      .select(col("event_type"),
        (col("h1") - col("h0") + 1L).as("n_hours_span"),
        coalesce(col("n_missing"), lit(0L)).as("n_missing"),
        coalesce(col("first_missing"), lit(-1L)).as("first_missing"),
        coalesce(col("last_missing"), lit(-1L)).as("last_missing"))
      .orderBy("event_type")
  }

  /** Changepoint detection on hourly volumes (r6): for each event
    * type, the hour where the cumulative count deviates most from
    * the constant-rate line — argmax_k |S_k·T − k·S| where S_k is
    * the inclusive prefix count at hour index k, T the number of
    * hours and S the total. This is the CUSUM statistic against the
    * global mean with every division CROSS-MULTIPLIED away (the
    * [[hourlyAnomaly]] trick): S_k·T − k·S = T·(S_k − k·(S/T)) in
    * exact BIGINTs, so the oracle matches bit-for-bit where a
    * float CUSUM would drift. Magnitudes: S·T at 100 TB scale
    * (10¹²·10⁵) stays < 2⁶³. Shape: one (type, hour) agg, one
    * per-type prefix window over the |types|·|hours|-bounded
    * aggregate, one argmax window — the fact stream shuffles once.
    * Tie-break: earliest hour at the max deviation. */
  /** Per-type least-squares TREND slope over daily counts (r10) —
    * the third trend primitive beside [[changepoint]] (where did the
    * level shift) and [[seasonality]] (which weekday): is the series
    * going up or down, and how fast. Ordinary least squares over
    * (day, count) reduced to EXACT integer sufficient statistics:
    * slope = (m·Σxy − Σx·Σy) / (m·Σx² − (Σx)²) with days REBASED to
    * the corpus minimum (keeps every product far under 2⁶³ at any
    * horizon — the broadcast 1-row min is a dimension, not data).
    * Numerator/denominator are emitted exactly; the ppm form uses
    * the one shared floor(1e6·num/den) IEEE division every ratio
    * here uses (floor, not truncation — negative slopes stay
    * cross-engine identical). Shape: one (type, day) hash-agg, one
    * per-type reduce over the |types|·|days|-bounded aggregate. */
  def trendSlope(spark: SparkSession, sfDir: String): DataFrame = {
    val nanosPerDay = 86400L * 1000000000L
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr(s"CAST(ts AS BIGINT) div $nanosPerDay").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val minDay = daily.agg(min("day").as("day0"))
    daily.crossJoin(broadcast(minDay))
      .select(col("event_type"), (col("day") - col("day0")).as("x"),
        col("n").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        (col("n_days") * col("sxy") - col("sx") * col("sy"))
          .as("slope_num"),
        (col("n_days") * col("sxx") - col("sx") * col("sx"))
          .as("slope_den"))
      .withColumn("slope_ppm",
        when(col("slope_den") > 0L,
          floor(lit(1000000.0) * col("slope_num") / col("slope_den"))
            .cast("long")).otherwise(lit(0L)))
      .orderBy("event_type")
  }

  def changepoint(spark: SparkSession, sfDir: String): DataFrame =
    changepointOf(Tables.events(spark, sfDir))

  /** [[changepoint]] over any (event_type, ts) frame. */
  def changepointOf(events: DataFrame): DataFrame = {
    val nanosPerHour = 3600L * 1000000000L
    val hourly = events
      .select(col("event_type"),
        (expr(s"CAST(ts AS BIGINT) div $nanosPerHour") * 3600L)
          .as("hour_epoch_s"))
      .groupBy("event_type", "hour_epoch_s")
      .agg(count(lit(1)).as("n"))
    val wt = Window.partitionBy("event_type").orderBy("hour_epoch_s")
    val scored = hourly
      .withColumn("k", row_number().over(wt).cast("long"))
      .withColumn("s_k", sum(col("n")).over(
        wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t_hours",
        count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("s_tot",
        sum(col("n")).over(Window.partitionBy("event_type")))
      .withColumn("dev",
        abs(col("s_k") * col("t_hours") - col("k") * col("s_tot")))
    scored
      .withColumn("rk", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("dev").desc, col("hour_epoch_s").asc)))
      .where(col("rk") === 1)
      .select(col("event_type"), col("hour_epoch_s"), col("dev"))
      .orderBy("event_type")
  }

  /** Markov transition matrix (r6): per-user event-type bigrams via
    * ONE lag window on the user_id exchange → global (prev, next)
    * counts → row-normalized transition probability in ppm (integer
    * div against the per-prev row total, a |types|²-bounded window).
    * The first-order behavior model behind session simulation,
    * anomaly scoring ("this transition never happens") and
    * next-event prediction baselines. The transition table is
    * |types|² rows at ANY corpus size — the fact stream shuffles
    * once for the lag, the model itself is driver-representable, the
    * same bounded-artifact argument as the bigram text LM. */
  def markovTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tsn", "event_id")
    val counts = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("CAST(ts AS BIGINT)").as("tsn"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .where(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("p_ppm", expr(
        "n * 1000000 DIV sum(n) OVER (PARTITION BY prev)"))
      .orderBy("prev", "next")
  }

  /** Pareto skyline / preference frontier (r6): the workload class
    * with NO SQL builtin — "best trade-off" queries (Börzsönyi et al.
    * ICDE'01 SKYLINE OF). Per order priority: the set of (day,
    * price) points not DOMINATED by any other (dominator: earlier or
    * same day AND ≥ price, strict somewhere). The naive form is the
    * quadratic NOT EXISTS self-join; the plan here is the sort-scan
    * algorithm that makes 2D skylines linear after sort: (1) per-day
    * max collapses every non-max same-day point (dominated by the max
    * via strict price), one partial-combinable agg; (2) within
    * priority ordered by day, a point survives iff its price exceeds
    * the RUNNING max over all earlier days (≥ would be dominated via
    * strict day) — one window, no self-join anywhere. The frontier
    * ascends STRICTLY in price along days by construction (a later
    * point not exceeding every earlier price is dominated via the
    * strict-day arm). At 100 TB the agg bounds
    * the window input to |days × priorities| rows; for frontier
    * groups too large to sort in one partition the standard two-phase
    * swap (local skyline per partition → merge skylines, correct
    * because domination is transitive and partition-local survivors
    * are a superset) drops into the same contract. Spec brute-forces
    * the quadratic definition on sf0.001 as the independent check. */
  def skyline(spark: SparkSession, sfDir: String): DataFrame = {
    val microsPerDay = 86400L * 1000000L
    val pts = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("priority"),
        expr(s"unix_micros(cast(o_orderdate as timestamp)) div $microsPerDay")
          .as("day"),
        cents(col("o_totalprice")).as("price_c"))
      .groupBy("priority", "day").agg(max("price_c").as("price_c"))
    val w = Window.partitionBy("priority").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("mx", max(col("price_c")).over(w))
      .where(col("mx").isNull || col("price_c") > col("mx"))
      .select("priority", "day", "price_c")
      .orderBy("priority", "day")
  }

  /** Count-Min heavy-hitter estimates (r6): the THIRD portable
    * mergeable sketch beside Misra-Gries (`tx_top_terms_sketch`) and
    * linear counting ([[bitmapDistinct]]) — Cormode & Muthukrishnan
    * J.Alg'05. d = 4 hash rows × w = 512 counters; every event
    * increments counter[r][h31(r || '#' || user_id) mod w] for each
    * row r. The sketch BUILD is explode(4) → ONE partial-combinable
    * count per (r, c): map-side combine caps every partition's
    * contribution at d·w = 2,048 cells no matter how many events it
    * holds — the property that makes the sketch 16 KB/executor at
    * 100 TB while exact per-key counts shuffle every key. Probes the
    * 10 highest-exact-count users (deterministic order: count desc,
    * id asc) and emits estimate = min over rows beside the exact
    * count; CMS guarantees estimate ≥ exact (spec-asserted), with the
    * overestimate bounded by collisions — here the exact side is the
    * verification harness, not a production cost. The 2,048-cell
    * sketch broadcasts to the probe join. */
  def cmsTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val D = 4
    val W = 512L
    val ev = Tables.events(spark, sfDir).select(col("user_id"))
    def cell(r: Column) = graft.functions.PortableHash.h31(
      concat(r.cast("string"), lit("#"), col("user_id").cast("string"))) % W
    val sketch = ev
      .select(col("user_id"),
        explode(array((0 until D).map(lit): _*)).as("r"))
      .select(col("r"), cell(col("r")).as("c"))
      .groupBy("r", "c").agg(count(lit(1)).as("cnt"))
    val top = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id").asc)
      .limit(10)
    top
      .select(col("user_id"), col("n_exact"),
        explode(array((0 until D).map(lit): _*)).as("r"))
      .select(col("user_id"), col("n_exact"), col("r"), cell(col("r")).as("c"))
      .join(broadcast(sketch), Seq("r", "c"))
      .groupBy("user_id", "n_exact")
      .agg(min(col("cnt")).as("n_cms"))
      .select(col("user_id"), col("n_exact"), col("n_cms"))
      .orderBy("user_id")
  }

  /** Snapshot diff / CDC extract (r6): classify every key across two
    * table snapshots as added / removed / changed / same, with
    * per-column change flags — the reconciliation pass behind every
    * incremental-load audit (and the input a MERGE INTO consumes; the
    * history-keeping twin is [[scd2Merge]]). Snapshot B derives from
    * the current customer table with the same deterministic mutation
    * rules the SCD2 demo uses (every 89th key removed, every 10th
    * segment relabeled, every 7th balance shifted, every 97th key
    * re-added shifted — so both engines construct identical inputs
    * from literals). ONE full-outer join on the key; the
    * classification arms are projection-local. At 100 TB both sides
    * bucket by key and the join plans exchange-free. */
  /** MERGE INTO apply with an action audit (r10) — the CDC/upsert
    * primitive of every lakehouse table format: apply a change batch
    * (upserts + tombstones) to a base snapshot and emit, per key, the
    * action taken and the resulting payload. Complements [[scd2Merge]]
    * (which keeps history; this applies in place) and
    * [[snapshotDiff]] (which derives the batch; this consumes one).
    * Derivation is deterministic residue classes over orders: base =
    * keys % 5 != 4; batch = even keys, tombstone when % 12 == 2,
    * price bump when % 6 == 0 — so every MERGE arm (insert / update /
    * noop / delete / unmatched-tombstone / untouched) is populated at
    * every SF. Shape: ONE full-outer join on the key (shuffle on the
    * merge key, exactly what a distributed MERGE plans), action and
    * payload resolved row-locally in a single pass; at table-format
    * scale the same plan runs against the bucketed/z-ordered base so
    * only touched files rewrite — the join and audit are unchanged. */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val base = o.where(col("o_orderkey") % 5 =!= 4)
      .select(col("o_orderkey").as("key"),
        cents(col("o_totalprice")).as("price_c"),
        col("o_orderstatus").as("status"))
    val batch = o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("key"),
        when(col("o_orderkey") % 12 === 2, "D").otherwise("U").as("op"),
        (cents(col("o_totalprice")) +
          when(col("o_orderkey") % 6 === 0, 1000L).otherwise(0L))
          .as("new_price_c"),
        col("o_orderstatus").as("new_status"))
    base.join(batch, Seq("key"), "full_outer")
      .select(col("key"),
        when(col("op").isNull, "keep")
          .when(col("price_c").isNull && col("op") === "D", "skip_absent")
          .when(col("price_c").isNull, "insert")
          .when(col("op") === "D", "delete")
          .when(col("new_price_c") === col("price_c") &&
            col("new_status") === col("status"), "noop")
          .otherwise("update").as("action"),
        when(col("op").isNull || col("op") === "D",
          coalesce(col("price_c"), col("new_price_c")))
          .otherwise(col("new_price_c")).as("price_c"),
        when(col("op").isNull || col("op") === "D",
          coalesce(col("status"), col("new_status")))
          .otherwise(col("new_status")).as("status"))
      .orderBy("key")
  }

  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val a = c.select(col("c_custkey").as("key"),
      col("c_mktsegment").as("seg_a"),
      cents(col("c_acctbal")).as("bal_a"))
    val b = c.where(col("c_custkey") % 89 =!= 0)
      .select(col("c_custkey").as("key"),
        when(col("c_custkey") % 10 === 3,
          concat(lit("MOVED_"), col("c_mktsegment")))
          .otherwise(col("c_mktsegment")).as("seg_b"),
        (cents(col("c_acctbal")) +
          when(col("c_custkey") % 7 === 2, 12345L).otherwise(0L))
          .as("bal_b"))
      .unionByName(c.where(col("c_custkey") % 97 === 0)
        .select((col("c_custkey") + 2000000L).as("key"),
          lit("NEWSEG").as("seg_b"),
          cents(col("c_acctbal")).as("bal_b")))
    a.join(b, Seq("key"), "full_outer")
      .select(col("key"),
        when(col("seg_a").isNull, lit("added"))
          .when(col("seg_b").isNull, lit("removed"))
          .when(col("seg_a") === col("seg_b") &&
            col("bal_a") === col("bal_b"), lit("same"))
          .otherwise(lit("changed")).as("status"),
        when(col("seg_a").isNotNull && col("seg_b").isNotNull &&
          col("seg_a") =!= col("seg_b"), 1L).otherwise(0L)
          .as("seg_changed"),
        when(col("bal_a").isNotNull && col("bal_b").isNotNull &&
          col("bal_a") =!= col("bal_b"), 1L).otherwise(0L)
          .as("bal_changed"))
      .orderBy("key")
  }

  /** k-anonymity audit (r6): group records by their quasi-identifier
    * tuple — nation, market segment, $1000 account-balance band — and
    * flag equivalence classes smaller than k (= 5): any member of
    * such a class is re-identifiable by those attributes alone. The
    * privacy gate a training pipeline runs before releasing tabular
    * data; the flagged classes are what generalization/suppression
    * would then widen. ONE partial-combinable hash-agg (class count
    * is bounded by the QI domain, not by rows); the band uses DOUBLE
    * floor(x/1000) — NOT integer division, whose negative semantics
    * differ between engines (Spark `div` truncates toward zero,
    * DuckDB `//` floors) and acctbal goes negative. Exact-thousand
    * boundaries divide exactly in IEEE, so the floor is portable. */
  def kAnonymity(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame =
    Tables.customer(spark, sfDir)
      .groupBy(
        col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment").as("mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("n_members"))
      .withColumn("at_risk",
        when(col("n_members") < k, 1L).otherwise(0L))
      .orderBy("nationkey", "mktsegment", "bal_band")

  /** l-diversity audit (r7 continuation) — the companion privacy
    * check [[kAnonymity]] cannot express: a QI class can be large
    * (k-anonymous) yet still leak if every member shares ONE
    * sensitive value (Machanavajjhala et al., ICDE'06). Per
    * quasi-identifier class (nation, segment): member count,
    * DISTINCT sensitive values (the account-balance band), and the
    * at-risk flag when diversity < l. Same single hash-aggregate
    * shape as the k-anonymity scan — countDistinct adds a
    * partial-distinct expand, still one exchange on the QI key. */
  def lDiversity(spark: SparkSession, sfDir: String, l: Int = 3): DataFrame =
    Tables.customer(spark, sfDir)
      .select(col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment").as("mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      .groupBy("nationkey", "mktsegment")
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("bal_band")).as("n_sensitive"))
      .withColumn("at_risk",
        when(col("n_sensitive") < l, 1L).otherwise(0L))
      .orderBy("nationkey", "mktsegment")

  /** t-closeness audit (r10) — the third privacy gate, catching what
    * [[kAnonymity]] and [[lDiversity]] both miss (Li et al.,
    * ICDE'07): a class can be large AND diverse yet still leak when
    * its sensitive-value DISTRIBUTION deviates from the corpus (all
    * its balances in the top bands ⇒ membership itself reveals
    * wealth). Per QI class (nation, segment): Earth Mover's Distance
    * between the class's band distribution and the global one, using
    * the ORDERED-attribute EMD (sum of |cumulative-share gaps| over
    * the band order, normalized by m−1 — the paper's formula for
    * ordinal sensitive values, the right one for $-bands where being
    * one band off matters less than five). All shares are integer
    * ppm ((1e6·cum) div n — both engines' div agree on non-negative
    * numerators), so the distance is exact cross-engine. Scale
    * shape: one hash-agg to class×band counts, then a DENSE
    * class×band grid (bounded by QI×sensitive DOMAINS, never rows —
    * the zero-count bands matter: a missing band IS distributional
    * distance) via a broadcast band-dim cross join; the global
    * cumulative table is |bands| rows on one partition (fine — it is
    * a dimension, not data). */
  def tCloseness(spark: SparkSession, sfDir: String,
                 tPpm: Long = 200000L): DataFrame = {
    val rows = Tables.customer(spark, sfDir)
      .select(col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment").as("mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
    val classCnt = rows.groupBy("nationkey", "mktsegment")
      .agg(count(lit(1)).as("n_members"))
    val cb = rows.groupBy("nationkey", "mktsegment", "bal_band")
      .agg(count(lit(1)).as("cnt"))
    val wg = Window.orderBy("bal_band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gb = rows.groupBy("bal_band").agg(count(lit(1)).as("g"))
      .withColumn("gcum", sum("g").over(wg))
      .crossJoin(broadcast(rows.agg(count(lit(1)).as("big_n"))))
      .select(col("bal_band"), col("gcum"), col("big_n"))
    val wc = Window.partitionBy("nationkey", "mktsegment")
      .orderBy("bal_band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grid = classCnt
      .crossJoin(broadcast(gb))
      .join(cb, Seq("nationkey", "mktsegment", "bal_band"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("ccum", sum("cnt").over(wc))
    grid
      .select(col("nationkey"), col("mktsegment"), col("n_members"),
        abs(expr("(1000000 * ccum) div n_members") -
          expr("(1000000 * gcum) div big_n")).as("gap_ppm"))
      .groupBy("nationkey", "mktsegment", "n_members")
      .agg(sum("gap_ppm").as("gap_sum"), count(lit(1)).as("m"))
      .select(col("nationkey"), col("mktsegment"), col("n_members"),
        when(col("m") > 1L, expr("gap_sum div (m - 1)"))
          .otherwise(lit(0L)).as("emd_ppm"))
      .withColumn("at_risk",
        when(col("emd_ppm") > tPpm, 1L).otherwise(0L))
      .orderBy("nationkey", "mktsegment")
  }

  /** Salted skew join as a DECLARED query (r7 continuation): the
    * events fact side scattered by a deterministic whole-row salt,
    * the supplier build side replicated saltFactor times, joined on
    * (key, salt) — then aggregated per supplier nation. The oracle
    * is the PLAIN inner join: salting must be semantically
    * invisible, and hash-pinning the aggregate against the unsalted
    * SQL proves it on real data (StreamJoinSkewSpec asserts row-level
    * equality on adversarially skewed data; this pins it in the
    * driver gate). The technique is the manual remedy for the one
    * skew shape AQE cannot fix: a broadcast-ineligible build side
    * under one giant hot probe key. */
  def skewJoinRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id").as("supp_key"), cents(col("value")).as("v_c"))
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").as("supp_key"),
        col("s_nationkey").cast("long").as("nationkey"))
    graft.operators.SkewJoin.saltedInner(ev, supp, "supp_key")
      .groupBy("nationkey")
      .agg(count(lit(1)).as("n_events"), sum("v_c").as("sum_value_c"))
      .orderBy("nationkey")
  }

  /** Phonetic blocking keys over the part vocabulary (r7
    * continuation): Soundex code per name token — the classic
    * record-linkage blocking key (match candidates share a code, so
    * the pair join is code-keyed instead of all-pairs, the same
    * blocking discipline as [[graft.operators.Dedup.sortedNeighborhood]]).
    * The code is [[graft.functions.TextOps.soundex6]]'s explicit
    * translate+regexp chain — pure codegen'd built-ins, restated
    * verbatim by the oracle (Spark's own soundex() is NOT used: its
    * edge semantics can't be mirrored in DuckDB, and a blocking key
    * both engines can't derive identically is useless). One explode
    * + one hash-aggregate on the code. */
  def phoneticKey(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(explode(split(col("p_name"), " ")).as("w"))
      .select(col("w"), graft.functions.TextOps.soundex6(col("w")).as("code"))
      .groupBy("code")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("w")).as("n_words"),
        min(col("w")).as("sample_word"))
      .orderBy("code")

  /** Equi-width value histogram per event type (r6): the profiling
    * primitive behind every data-quality dashboard. Two passes, both
    * partial-combinable: a |types|-sized min/max extent aggregate
    * BROADCAST back, then bin = ⌊(v − min)·nBins / (max − min)⌋
    * clamped to nBins−1 (the max value lands in the last bin, not a
    * phantom one) — all integer-exact on cents, `div` == DuckDB `//`
    * because v − min ≥ 0 by construction (the negative-division trap
    * [[kAnonymity]] documents never arises). Degenerate extent
    * (max == min) puts everything in bin 0. Output bounded by
    * |types|·nBins. */
  def valueHistogram(spark: SparkSession, sfDir: String,
                     nBins: Int = 10): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), cents(col("value")).as("v_c"))
    val ext = ev.groupBy("event_type")
      .agg(min("v_c").as("min_c"), max("v_c").as("max_c"))
    ev.join(broadcast(ext), "event_type")
      .select(col("event_type"),
        when(col("max_c") === col("min_c"), lit(0L))
          .otherwise(least(lit(nBins - 1L),
            expr(s"((v_c - min_c) * $nBins) div (max_c - min_c)")))
          .as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("n_rows"))
      .orderBy("event_type", "bin")
  }

  /** Winsorized per-type value stats (r6): clamp each value into its
    * type's [p5, p95] band and report clip counts + the winsorized
    * sum — the outlier-robust aggregate reporting pipelines use when
    * a single corrupt 1e12 row would swamp a mean. The bounds are
    * NEAREST-RANK percentiles at integer index ⌊(n−1)·p/100⌋ over
    * (value, event_id)-ordered rows — an ACTUAL corpus value picked
    * by pure integer arithmetic, so both engines agree bit-for-bit
    * (interpolated percentiles at p ≠ 0.5 are NOT cross-engine
    * bit-stable: index (n−1)·0.05 has a non-dyadic fraction, unlike
    * [[medianValueByType]]'s ×2 trick at 0.5). The rank window is a
    * per-type sort — same declared scale shape as the exact median,
    * with approx_percentile as the documented 100 TB swap; bounds and
    * counts are |types|-sized and broadcast back, the fact side
    * never re-shuffles. */
  def winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), cents(col("value")).as("v_c"),
        col("event_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("v_c", "event_id")
    val ranked = ev
      .withColumn("rn", row_number().over(w).cast("long") - 1L)
    val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val loIdx = expr("((n - 1) * 5) div 100")
    val hiIdx = expr("((n - 1) * 95) div 100")
    val bounds = ranked.join(broadcast(n), "event_type")
      .where(col("rn") === loIdx || col("rn") === hiIdx)
      .groupBy("event_type")
      .agg(min(when(col("rn") === loIdx, col("v_c"))).as("lo_c"),
        min(when(col("rn") === hiIdx, col("v_c"))).as("hi_c"))
    ev.join(broadcast(bounds), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("v_c") < col("lo_c"), 1L).otherwise(0L))
          .as("n_lo_clipped"),
        sum(when(col("v_c") > col("hi_c"), 1L).otherwise(0L))
          .as("n_hi_clipped"),
        sum(least(greatest(col("v_c"), col("lo_c")), col("hi_c")))
          .as("sum_winsor_c"))
      .orderBy("event_type")
  }

  /** The SCALE path for [[winsorize]] (r7): clip bounds from
    * approx_percentile (Greenwald–Khanna sketch) at p5/p95 instead of
    * the nearest-rank per-type window sort — the sketch is
    * partial-aggregable, so per-type cost is one bounded sketch merged
    * map-side and the fact stream is never sorted at all; the bounds
    * frame stays |types|-sized and broadcasts back exactly like the
    * anchor's. Sketches are engine-specific (no DuckDB hash oracle —
    * declared with the x_ rows-only check, like [[medianValueApproxByType]]);
    * the exact nearest-rank variant stays the correctness anchor. */
  def winsorizeApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), cents(col("value")).as("v_c"))
    val bounds = ev.groupBy("event_type")
      .agg(expr("approx_percentile(v_c, 0.05D, 10000)").as("lo_c"),
        expr("approx_percentile(v_c, 0.95D, 10000)").as("hi_c"))
    ev.join(broadcast(bounds), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("v_c") < col("lo_c"), 1L).otherwise(0L))
          .as("n_lo_clipped"),
        sum(when(col("v_c") > col("hi_c"), 1L).otherwise(0L))
          .as("n_hi_clipped"),
        sum(least(greatest(col("v_c"), col("lo_c")), col("hi_c")))
          .as("sum_winsor_c"))
      .orderBy("event_type")
  }

  /** Hourly-count anomaly flags per event type (r6): the volume-spike
    * monitor every ingest pipeline runs. Hour buckets and counts come
    * from ONE aggregate; per-type mean/variance from a second, |types|-
    * sized one that BROADCASTS back — the fact side never re-shuffles.
    * The 3σ rule is evaluated in cross-multiplied exact-integer form:
    * (x − μ)² > 9σ²  ⇔  (nh·x − s1)² > 9·(nh·s2 − s1²)
    * with s1 = Σx, s2 = Σx², nh = hour count — no division, no sqrt,
    * so both engines compute identical BIGINTs (population σ over the
    * observed hours; the anomalous hour is inside its own baseline —
    * fine for flagging, a leave-one-out variant subtracts the point
    * from s1/s2 with the same algebra). Exact while nh·max(x) < 3·10⁹
    * (the square must stay under 2⁶³); beyond that, pre-scale counts
    * — at 100 TB that is ~4M events/sec PER TYPE for a month. */
  def hourlyAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val nanosPerHour = 3600L * 1000000000L
    val hourly = Tables.events(spark, sfDir)
      .select(col("event_type"),
        (expr(s"CAST(ts AS BIGINT) div $nanosPerHour") * 3600L)
          .as("hour_epoch_s"))
      .groupBy("event_type", "hour_epoch_s")
      .agg(count(lit(1)).as("n"))
    val stats = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("nh"), sum("n").as("s1"),
        sum(col("n") * col("n")).as("s2"))
    val dev = col("nh") * col("n") - col("s1")
    hourly.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("hour_epoch_s"), col("n"),
        when(dev * dev > lit(9L) * (col("nh") * col("s2") -
          col("s1") * col("s1")), 1L).otherwise(0L).as("is_anomaly"))
      .orderBy("event_type", "hour_epoch_s")
  }

  /** Per-type modal value band (r7 continuation): the MODE — the
    * aggregate the built-in family skips because it is
    * underdetermined under ties; declared here with the tiebreak
    * STATED (max count, then smallest band), which is exactly what
    * makes it hash-checkable across engines. Value bands reuse
    * [[valueBands]]' floor(v/25) grid. Shape: (type, band) counts
    * partial-combine; the argmax is a row_number window over the
    * tiny |types × bands| aggregate — never over the fact stream. */
  def modalBand(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.events(spark, sfDir)
      .select(col("event_type"),
        floor(col("value") / 25.0).cast("long").as("band"))
      .groupBy("event_type", "band")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("n").desc, col("band").asc)
    counts.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("event_type"), col("band").as("modal_band"), col("n"))
      .orderBy("event_type")
  }

  /** Top journey paths (r7 continuation): the 3-step event-type
    * sequences users actually walk, ranked by frequency — the path
    * analysis [[markovTransitions]]'s 2-gram matrix cannot answer
    * (a→b and b→c being common does not make a→b→c common). Per-user
    * lead() window on the (tsn, event_id) total order — the same
    * user-keyed shuffle every sessionization op here uses — then a
    * ≤ |types|³-bounded hash-aggregate and a TakeOrderedAndProject
    * top-k; ordering (n desc, path) is total so the LIMIT is
    * deterministic. */
  def pathTrigrams(spark: SparkSession, sfDir: String,
      k: Int = 20): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy("tsn", "event_id")
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type").as("s1"),
        expr("CAST(ts AS BIGINT)").as("tsn"), col("event_id"))
      .withColumn("s2", lead("s1", 1).over(w))
      .withColumn("s3", lead("s1", 2).over(w))
      .where(col("s2").isNotNull && col("s3").isNotNull)
      .groupBy("s1", "s2", "s3")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("s1"), col("s2"), col("s3"))
      .limit(k)
  }

  /** Join-key skew report (r7 continuation): the diagnostic that
    * DECIDES whether [[skewJoinRevenue]]'s salting is worth its
    * build-side replication — per candidate join key (user_id over
    * events): top-5 heaviest keys, each row carrying the global
    * profile (key count, row count, max key weight, and skew_x1000 =
    * max·n_keys·1000 div n_rows, where 1000 = perfectly flat and
    * 50·1000 = one key holds 50 flat shares — AQE's skew-join
    * threshold thinking made queryable). One partial-combinable
    * key histogram, a 1-row profile broadcast back onto the
    * TakeOrderedAndProject top-5 — the histogram never re-shuffles
    * and nothing key-cardinality-sized reaches the driver. */
  def skewReport(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val prof = hist.agg(count(lit(1)).as("n_keys"),
      sum("n").as("n_rows"), max("n").as("max_n"))
    hist.orderBy(col("n").desc, col("user_id")).limit(5)
      .crossJoin(broadcast(prof))
      .select(col("user_id"), col("n"),
        expr("(n * 1000000) div n_rows").as("share_ppm"),
        col("n_keys"), col("n_rows"),
        expr("(max_n * n_keys * 1000) div n_rows").as("skew_x1000"))
      .orderBy(col("n").desc, col("user_id"))
  }

  /** Day-of-week seasonality profile (r7 continuation): per
    * (event type, weekday): count and the seasonality index in exact
    * integer ppm of a flat week — (n·7·10⁶) div type_total, so 10⁶ =
    * "this weekday carries exactly 1/7 of the type's traffic" and
    * 2·10⁶ = twice its flat share. Weekday from pure integer epoch
    * math ((days + 4) mod 7, 0 = Sunday — 1970-01-01 was a Thursday),
    * identical in both engines, no calendar/locale function in the
    * path. One partial-combinable hash-aggregate over the scan, then
    * a broadcast of the |types|-sized totals. */
  def seasonality(spark: SparkSession, sfDir: String): DataFrame = {
    val nanosPerDay = 86400L * 1000000000L
    val byDow = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr(s"((CAST(ts AS BIGINT) div $nanosPerDay) + 4) % 7").as("dow"))
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n"))
    val totals = byDow.groupBy("event_type").agg(sum("n").as("tot"))
    byDow.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("dow"), col("n"),
        expr("(n * 7 * 1000000) div tot").as("index_ppm"))
      .orderBy("event_type", "dow")
  }

  /** Blocked entity-resolution matching (r7 continuation): the
    * MATCHING stage that completes the record-linkage story whose
    * BLOCKING stages already ship ([[phoneticKey]],
    * [[graft.operators.Dedup.sortedNeighborhood]]) — resolve the
    * distinct part-name vocabulary, block on the Soundex code of the
    * head noun (last token), and match within blocks by Levenshtein
    * distance ≤ maxDist (codegen'd built-in in Spark, same classic
    * DP in DuckDB — bit-identical integer distances). Finds real
    * near-dup entities ("cold bolt" / "old bolt", d = 1).
    * Scale shape: ER at 100 TB is DISTINCT-ENTITY extraction first —
    * the name vocabulary is Zipf-bounded and shrinks the quadratic
    * stage from |rows|² to |vocab per block|²; the edit distance
    * never touches the fact table, and member counts ride along from
    * the same aggregate. */
  def erMatch(spark: SparkSession, sfDir: String,
      maxDist: Int = 2): DataFrame = {
    val names = Tables.part(spark, sfDir)
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_rows"), min("p_partkey").as("canon_key"))
      .withColumn("blk", graft.functions.TextOps.soundex6(
        element_at(split(col("name"), " "), -1)))
    names.as("a").join(names.as("b"),
        col("a.blk") === col("b.blk") && col("a.name") < col("b.name"))
      .withColumn("dist",
        levenshtein(col("a.name"), col("b.name")).cast("long"))
      .where(col("dist") <= maxDist)
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        col("a.blk").as("blk"), col("dist"),
        col("a.n_rows").as("n_a"), col("b.n_rows").as("n_b"))
      .orderBy("name_a", "name_b")
  }

  /** RFM customer segmentation (r7 continuation): the classic CRM
    * triple — Recency (days since last order, vs the corpus-latest
    * day), Frequency (order count), Monetary (cents sum) — each
    * scored 1–5 against exact nearest-rank quintile thresholds of the
    * per-customer distribution, combined into the 3-digit segment
    * code (555 = best). Threshold binning (value vs 4 broadcast
    * constants per dimension) replaces the textbook ntile() — ntile
    * is ONE global sort of every customer row; here only the
    * threshold LOOKUP sorts (the [[winsorize]] nearest-rank anchor
    * shape, three window sorts over the per-customer table, each
    * discarded down to 4 values), and scoring is a row-local compare
    * against 12 broadcast constants. At 100 TB the thresholds come
    * from approx_percentile instead — DECLARED as the
    * [[rfmSegmentsApprox]] twin (x_rfm_approx, r12); the exact
    * variant stays the correctness anchor.
    * R inverts (recent = high score); quintile ties share the exact
    * same side of the threshold in both engines — pure integer
    * compares. */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val microsPerDay = 86400L * 1000000L
    val perCust = Tables.orders(spark, sfDir)
      .select(col("o_custkey").as("custkey"),
        expr(s"unix_micros(cast(o_orderdate as timestamp)) div $microsPerDay")
          .as("day"),
        cents(col("o_totalprice")).as("price_c"))
      .groupBy("custkey")
      .agg(max("day").as("last_day"), count(lit(1)).as("f_cnt"),
        sum("price_c").as("m_c"))
    val globals = perCust.agg(max("last_day").as("corpus_last"),
      count(lit(1)).as("n"))
    val feats = perCust.crossJoin(broadcast(globals))
      .select(col("custkey"),
        (col("corpus_last") - col("last_day")).as("r_days"),
        col("f_cnt"), col("m_c"), col("n"))
    def quintiles(dim: String): DataFrame = {
      // weak-by-design anchor (unpartitioned window = one global
      // sort of the per-customer table, the WindowExec warning in
      // the Verify log): the exact nearest-rank thresholds are the
      // oracle-pinned correctness anchor; the 100 TB scale twin is
      // rfmSegmentsApprox / x_rfm_approx (approx_percentile, no
      // global sort). Note the sort input is the per-CUSTOMER
      // aggregate, not the orders table, and is discarded down to 4
      // threshold values immediately.
      val w = Window.orderBy(dim)
      val ranked = feats.select(col(dim), col("n"))
        .withColumn("rn", row_number().over(w).cast("long") - 1L)
      val picks = (1 to 4).map(k =>
        min(when(col("rn") === expr(s"((n - 1) * ${20 * k}) div 100"),
          col(dim))).as(s"${dim}_t$k"))
      ranked.where((1 to 4).map(k =>
          col("rn") === expr(s"((n - 1) * ${20 * k}) div 100"))
        .reduce(_ || _))
        .agg(picks.head, picks.tail: _*)
    }
    def bins(dim: String): Column =
      (1 to 4).map(k =>
        when(col(dim) > col(s"${dim}_t$k"), 1L).otherwise(0L))
        .reduce(_ + _)
    feats
      .crossJoin(broadcast(quintiles("r_days")))
      .crossJoin(broadcast(quintiles("f_cnt")))
      .crossJoin(broadcast(quintiles("m_c")))
      .select(col("custkey"), col("r_days"), col("f_cnt"), col("m_c"),
        (lit(5L) - bins("r_days")).as("r_score"),
        (lit(1L) + bins("f_cnt")).as("f_score"),
        (lit(1L) + bins("m_c")).as("m_score"))
      .withColumn("segment",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy("custkey")
  }

  /** [[rfmSegments]]' 100 TB twin (r12, declared x_rfm_approx): the
    * quintile thresholds come from ONE approx_percentile sketch agg
    * instead of three GLOBAL window sorts — the swap the exact
    * anchor's Scaladoc names, now a declared query (the
    * x_winsorize_approx pattern: rows-only driver check, accuracy
    * envelope vs the exact segments in ApproxParitySpec). Everything
    * downstream of the thresholds — the inverted R scale, the
    * > -threshold binning, the 3-digit code — is the anchor's code
    * path, so the ONLY divergence a sketch can introduce is a
    * customer near a quintile boundary landing one bin over. */
  def rfmSegmentsApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val microsPerDay = 86400L * 1000000L
    val perCust = Tables.orders(spark, sfDir)
      .select(col("o_custkey").as("custkey"),
        expr(s"unix_micros(cast(o_orderdate as timestamp)) div $microsPerDay")
          .as("day"),
        cents(col("o_totalprice")).as("price_c"))
      .groupBy("custkey")
      .agg(max("day").as("last_day"), count(lit(1)).as("f_cnt"),
        sum("price_c").as("m_c"))
    val globals = perCust.agg(max("last_day").as("corpus_last"))
    val feats = perCust.crossJoin(broadcast(globals))
      .select(col("custkey"),
        (col("corpus_last") - col("last_day")).as("r_days"),
        col("f_cnt"), col("m_c"))
    val pcts = (1 to 4).map(_ * 0.2)
    val thresholds = feats.agg(
      expr(s"approx_percentile(r_days, array(${pcts.mkString(", ")}), 10000)")
        .as("r_t"),
      expr(s"approx_percentile(f_cnt, array(${pcts.mkString(", ")}), 10000)")
        .as("f_t"),
      expr(s"approx_percentile(m_c, array(${pcts.mkString(", ")}), 10000)")
        .as("m_t"))
    def bins(dim: String, t: String): Column =
      (0 until 4).map(k =>
        when(col(dim) > get(col(t), lit(k)), 1L).otherwise(0L))
        .reduce(_ + _)
    feats.crossJoin(broadcast(thresholds))
      .select(col("custkey"), col("r_days"), col("f_cnt"), col("m_c"),
        (lit(5L) - bins("r_days", "r_t")).as("r_score"),
        (lit(1L) + bins("f_cnt", "f_t")).as("f_score"),
        (lit(1L) + bins("m_c", "m_t")).as("m_score"))
      .withColumn("segment",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy("custkey")
  }

  /** Two-proportion A/B significance over event-type pairs (r7
    * continuation): the experiment-readout query every product
    * pipeline runs — is variant t1's conversion rate (value ≥ 100,
    * the topology's ok-branch predicate) different from t2's at 95%?
    * The z-test's sqrt and float division are not bit-portable, so
    * the inequality z² > 3.8416 is CROSS-MULTIPLIED to exact integer
    * form (the [[hourlyAnomaly]] discipline, pushed through decimals):
    *   z² = d²·n / (n1·n2·s·(n−s)),  d = s1·n2 − s2·n1,
    *   s = s1+s2, n = n1+n2
    *   significant ⇔ 10000·d²·n > 38416·n1·n2·s·(n−s)
    * evaluated in DECIMAL(38,0)/HUGEINT — exact while BOTH sides stay
    * under 10³⁸. The binding constraint is the LEFT side (r8, ADVICE
    * r7 — the earlier note bounded only the right): d = s1·n2 − s2·n1
    * can reach n1·n2, so d²·n·10⁴ ≤ (n1·n2)²·n·10⁴, which crosses
    * 10³⁸ at arms of ~5·10⁶ rows worst-case (not 10⁸). Beyond that,
    * non-ANSI Spark decimal overflow would yield NULL and silently
    * report significant = 0, so the query GUARDS: a double-precision
    * magnitude check (10% headroom below 10³⁸ dwarfs the ~10⁻¹⁶
    * double error) raises instead of mis-reporting — pre-scale counts
    * (divide both arms by a common factor; the z² inequality is
    * scale-invariant up to the integer floor) to go bigger. At 100 TB
    * an experiment readout aggregates first anyway, so real arm
    * COUNTS here are event counts per type — the guard names the
    * fix when a corpus actually trips it.
    * Shape: one |types|-sized hash-aggregate (map-side partial over
    * the full scan), then a trivially-broadcast pair self-join of the
    * tiny arm table. */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    val arms = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") >= 100.0, 1L).otherwise(0L)).as("s"))
    val a = arms.select(col("event_type").as("t1"),
      col("n").as("n1"), col("s").as("s1"))
    val b = arms.select(col("event_type").as("t2"),
      col("n").as("n2"), col("s").as("s2"))
    a.join(broadcast(b), col("t1") < col("t2"))
      .select(col("t1"), col("t2"), col("n1"), col("s1"),
        col("n2"), col("s2"),
        expr("(s1 * 1000000) div n1").as("conv1_ppm"),
        expr("(s2 * 1000000) div n2").as("conv2_ppm"),
        expr("CAST(CASE WHEN " +
          // fail-fast overflow guard: either side nearing the
          // DECIMAL(38,0) ceiling means the exact compare below could
          // NULL out (non-ANSI) and silently report 0
          // d in pure DOUBLE (a LONG s1*n2 could itself wrap before
          // any cast at extreme arms; cancellation error ~1e-16·terms
          // is irrelevant against the 9e37 threshold)
          "pow(CAST(s1 AS DOUBLE)*CAST(n2 AS DOUBLE) " +
          "- CAST(s2 AS DOUBLE)*CAST(n1 AS DOUBLE), 2) * " +
          "(CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) * 1e4 > 9e37 " +
          "OR 38416.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
          "(CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE)) * " +
          "(CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) " +
          "- CAST(s1 AS DOUBLE) - CAST(s2 AS DOUBLE)) > 9e37 " +
          "THEN CAST(raise_error('abTest: arm sizes exceed the exact " +
          "DECIMAL(38,0) z-test bound (~5e6 rows/arm worst case); " +
          "pre-scale the counts') AS INT) WHEN " +
          "CAST(s1*n2 - s2*n1 AS DECIMAL(38,0)) * " +
          "CAST(s1*n2 - s2*n1 AS DECIMAL(38,0)) * " +
          // cast BEFORE multiplying (r9, ADVICE r8): (n1+n2)*10000 in
          // LONG wraps for n1+n2 > ~9.2e14 — masked today only because
          // such inputs trip the guard or have d = 0, but the exact
          // arm must not rely on that
          "(CAST(n1+n2 AS DECIMAL(38,0)) * 10000) > " +
          "CAST(38416 AS DECIMAL(38,0)) * CAST(n1 AS DECIMAL(38,0)) * " +
          "CAST(n2 AS DECIMAL(38,0)) * CAST(s1+s2 AS DECIMAL(38,0)) * " +
          "CAST((n1+n2)-(s1+s2) AS DECIMAL(38,0)) " +
          "THEN 1 ELSE 0 END AS BIGINT)").as("significant"))
      .orderBy("t1", "t2")
  }

  /** Peak concurrent sessions per hour (r7 continuation): the
    * sweep-line concurrency profile — sessions become ±1 boundary
    * events, concurrency is their running sum, the per-hour peak is
    * the capacity-planning number ("how many users were on at once").
    *
    * The naive sweep is ONE GLOBAL ordered running sum — a
    * single-partition window, the tx_pack scale-killer. This is the
    * DISTRIBUTED decomposition (the classic two-level prefix sum):
    * (1) per-hour net deltas hash-aggregate (partial-combinable,
    * |hours|-bounded); (2) carry-in = cumulative net over the TINY
    * hour table (the only ordered window runs over |hours| rows,
    * never the fact stream); (3) within-hour running peaks window
    * PARTITIONED BY hour — parallel across hours; (4) peak(hour) =
    * carry_in + max(within-hour running sum). Tie order inside an
    * (t, delta) group cannot change the max (equal deltas commute);
    * ends sort before starts at equal t (delta asc), so back-to-back
    * sessions never double-count.
    *
    * OUTPUT CONTRACT (r8, ADVICE r7 — stated explicitly): rows exist
    * only for hours containing at least one session START or END
    * boundary. An hour fully inside long-running sessions (constant
    * concurrency, no boundary) is ABSENT, not zero — consumers
    * reading the profile as a dense series must carry the previous
    * boundary hour's carry_in forward (for a boundary-free hour the
    * concurrency is exactly the next emitted row's carry_in; an
    * hour-spine densification is a trivial downstream join against
    * a sequence() table and is deliberately not baked in here — the
    * sparse form is what a 100 TB capacity scan wants to ship). */
  def sessionConcurrency(spark: SparkSession, sfDir: String): DataFrame = {
    val gapUs = 6L * 3600 * 1000000
    val usPerHour = 3600L * 1000000L
    val sessions = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("timestamp_micros(CAST(ts AS BIGINT) div 1000)").as("tsu"))
      .groupBy(session_window(col("tsu"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("session_window.start")).as("s_us"),
        unix_micros(col("session_window.end")).as("e_us"))
    val bounds = sessions.select(col("s_us").as("t"), lit(1L).as("delta"))
      .unionAll(sessions.select(col("e_us").as("t"), lit(-1L).as("delta")))
      .withColumn("hour_epoch_s",
        expr(s"(t div $usPerHour) * 3600"))
    val hourAgg = bounds.groupBy("hour_epoch_s")
      .agg(sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("n_ends"),
        sum("delta").as("net"))
      .withColumn("carry_in",
        coalesce(sum("net").over(Window.orderBy("hour_epoch_s")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val peaks = bounds
      .withColumn("run", sum("delta").over(
        Window.partitionBy("hour_epoch_s").orderBy(col("t"), col("delta"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("hour_epoch_s").agg(max("run").as("peak_rel"))
    hourAgg.join(peaks, "hour_epoch_s")
      .select(col("hour_epoch_s"), col("n_starts"), col("n_ends"),
        (col("carry_in") + col("peak_rel")).as("peak_concurrent"))
      .orderBy("hour_epoch_s")
  }

  /** Benford first-significant-digit audit (r7 continuation): the
    * classic forensic-accounting / synthetic-data screen (Benford'38;
    * Nigrini'96) — naturally-occurring multiplicative amounts put
    * ~30.1% of leading digits at 1, while fabricated or uniformly
    * synthesized columns flatten toward 11.1%. Observed shares are
    * exact integer ppm; the Benford reference distribution enters as
    * the nine LITERAL milli-log constants (summing to exactly 10⁶) —
    * the only way a log-law lands bit-identically in both engines.
    * Shape: one 9-group hash-aggregate over the scan (map-side
    * partial); the total and the reference table both broadcast.
    * Leading digit comes from the cents string — cents are positive
    * longs here, so substr(1,1) is the first significant digit with
    * no float/log in the path. */
  def benfordDigits(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val benford = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L,
      8 -> 51153L, 9 -> 45757L)
      .map { case (d, p) => (d.toLong, p) }
      .toDF("digit", "benford_ppm")
    val digits = Tables.orders(spark, sfDir)
      .select(cents(col("o_totalprice")).as("v"))
      .filter(col("v") > 0)
      .select(substring(col("v").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val totals = digits.agg(sum("n").as("n_total"))
    digits.crossJoin(broadcast(totals))
      .join(broadcast(benford), "digit")
      .select(col("digit"), col("n"),
        expr("(n * 1000000) div n_total").as("obs_ppm"),
        col("benford_ppm"),
        abs(expr("(n * 1000000) div n_total") - col("benford_ppm"))
          .as("dev_ppm"))
      .orderBy("digit")
  }

  /** Frequent co-purchase pairs with a-priori support pruning (r7
    * continuation): market-basket mining as a SCALE-SHAPED pair join.
    * The naive shape — self-join every basket against itself — has
    * quadratic fan-out in basket width and touches every item. The
    * a-priori downward-closure property (Agrawal–Srikant VLDB'94: a
    * pair cannot reach support s unless BOTH members do) prunes the
    * join INPUT first: item supports are a |parts|-row aggregate that
    * BROADCASTS back onto the basket table, so infrequent items never
    * enter the pair join at all. The surviving self-join keys on
    * l_orderkey with p1 < p2 — both sides are the SAME pruned dataset
    * on the same key, so Spark reuses one exchange — and per-order
    * fan-out is bounded by basket width (≤ 13 here; bounded by order
    * size generally, never by |parts|). Lift is emitted in exact
    * integer ppm, (n_pair · 10⁶ · n_orders) div (c1 · c2) — no
    * division by observed doubles, both engines agree bitwise (fits
    * 2⁶³ while n_pair·n_orders < 9·10¹², i.e. far past sf100 at this
    * pair density). Top-100 by (support desc, pair) compiles to
    * TakeOrderedAndProject — no global sort materializes. */
  def basketPairs(spark: SparkSession, sfDir: String,
      minItemSupport: Int = 20, minPairSupport: Int = 2): DataFrame = {
    // The basket table feeds four plan branches (item supports,
    // totals, both self-join sides) and is deliberately NOT
    // checkpointed: it is corpus-sized, so materializing it would
    // cost 1× the corpus in executor storage at 100 TB, while the
    // replayed two-column pruned scans are storage-parallel and
    // exchange-reuse-eligible. Measured at sf0.1: re-scan 1.8 s vs
    // eager localCheckpoint 2.5 s steady-state — rescanning wins at
    // BOTH scales (contrast Dedup's checkpoints, which hold small
    // DERIVED tables, not the corpus).
    val baskets = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
      .distinct()
    val itemCnt = baskets.groupBy("pkey")
      .agg(count(lit(1)).as("n_item"))
      .filter(col("n_item") >= minItemSupport)
    val totals = baskets.agg(
      countDistinct(col("okey")).as("n_orders"))
    // User repartition on the join key (r16): the self-join's input
    // exchange was ENSURE_REQUIREMENTS, which AQE coalesced to 5
    // tasks at sf0.1 (6 MB of pruned baskets) while the pair
    // fan-out + aggregate are CPU-dense (Probe jobs: 2.4 s of task
    // time on 5 tasks). A user repartition is exempt from
    // coalescing, and both self-join sides still reuse this ONE
    // exchange. Scale-adaptive (cluster parallelism), same key the
    // join needs — no extra shuffle at any scale.
    val pruned = baskets.join(broadcast(itemCnt), "pkey")
      .select(col("okey"), col("pkey"), col("n_item"))
      .repartition(spark.sparkContext.defaultParallelism, col("okey"))
    val pairs = pruned.as("a").join(pruned.as("b"),
        col("a.okey") === col("b.okey") && col("a.pkey") < col("b.pkey"))
      .groupBy(col("a.pkey").as("p1"), col("b.pkey").as("p2"),
        col("a.n_item").as("c1"), col("b.n_item").as("c2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPairSupport)
    pairs.crossJoin(broadcast(totals))
      .select(col("p1"), col("p2"), col("n_pair"),
        expr("(n_pair * 1000000 * n_orders) div (c1 * c2)")
          .as("lift_ppm"))
      .orderBy(col("n_pair").desc, col("p1"), col("p2"))
      .limit(100)
  }

  /** Revenue-concentration audit (r7 continuation): the
    * Herfindahl–Hirschman index of customer spend per nation — the
    * standard market-concentration measure, here answering the
    * data-ops question "is this partition's revenue dominated by a
    * handful of keys?" (the spend-side companion to [[skewReport]]'s
    * row-count skew). Per customer: share_ppm = cust_c·10⁶ div
    * nation_c (exact integer, floor); per nation:
    * hhi_ppm = Σ share_ppm² div 10⁶ ∈ [0, 10⁶] (10⁶ = monopoly,
    * 10⁶/n = perfectly even), plus the single largest share.
    *
    * Scale shape: ONE custkey-keyed aggregate over orders (partial-
    * combinable) feeds both the 25-row nation totals and the share
    * computation; totals and nation names join back by BROADCAST, so
    * no window over a 25-value partition key ever touches the
    * customer-level stream. Overflow-safe at ANY corpus scale:
    * cust_c·10⁶ < 2⁶³ needs only per-CUSTOMER spend < $9.2·10¹⁰ (a
    * per-key bound, not a per-corpus one), and Σ share_ppm² ≤
    * max(s)·Σs ≤ 10¹² by construction. The per-customer aggregate
    * lineage is recomputed for the totals branch rather than
    * checkpointed — it is |customers|-sized (see [[basketPairs]]'s
    * rescan-vs-checkpoint measurement for the tradeoff). */
  def hhi(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name"))
    val spend = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), cents(col("o_totalprice")).as("price_c"))
      .groupBy("o_custkey").agg(sum("price_c").as("cust_c"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"), col("cust_c"))
    val totals = spend.groupBy("nk")
      .agg(sum("cust_c").as("nation_c"), count(lit(1)).as("n_buyers"))
    spend.join(broadcast(totals), "nk")
      .withColumn("share_ppm", expr("cust_c * 1000000 div nation_c"))
      .groupBy("nk")
      .agg(sum(expr("share_ppm * share_ppm")).as("sumsq"),
        max("share_ppm").as("top_share_ppm"))
      .join(broadcast(totals), "nk")
      .join(broadcast(nat), col("nk") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_buyers"),
        col("nation_c"), expr("sumsq div 1000000").as("hhi_ppm"),
        col("top_share_ppm"))
      .orderBy("nation")
  }

  /** Inter-arrival gap profile (r7 continuation): per event type, the
    * distribution of gaps between consecutive events — the
    * traffic-burstiness signal that sizes streaming micro-batches and
    * feeds anomaly baselines ([[seasonality]] gives the weekly shape;
    * this gives the microsecond texture). Gaps are taken WITHIN
    * (event_type, UTC day) partitions on the deterministic
    * (tsn, event_id) total order; avg_gap_us = Σgap div n (exact
    * integer floor, both engines).
    *
    * Scale shape: the lag window is partitioned by (type, day) — the
    * bounded-partition discipline that [[compactionPlanParts]]
    * established (parallelism = |types|·|days|, growing with the
    * corpus, never a |types|-way sort collapse). The cross-midnight
    * gap per (type, day) is EXCLUDED by construction — stated, and
    * identical in the oracle. The final per-type rollup is
    * partial-combinable with a |types|-sized result. */
  def interarrival(spark: SparkSession, sfDir: String): DataFrame = {
    val nanosPerDay = 86400L * 1000000000L
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        expr("CAST(ts AS BIGINT)").as("tsn"),
        expr(s"CAST(ts AS BIGINT) div $nanosPerDay").as("day"))
      .withColumn("gap_us",
        expr("(tsn - lag(tsn) OVER " +
          "(PARTITION BY event_type, day ORDER BY tsn, event_id)) div 1000"))
      .where(col("gap_us").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), min("gap_us").as("min_gap_us"),
        max("gap_us").as("max_gap_us"), sum("gap_us").as("sum_gap_us"))
      .withColumn("avg_gap_us", expr("sum_gap_us div n_gaps"))
      .orderBy("event_type")
  }
}
