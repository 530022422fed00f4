package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-time operators for streams shaped like the `events` table
  * (`ts: timestamp, user_id: bigint, event_type: string,
  * value: double`). All are standard Structured Streaming
  * constructs — watermark + windowed aggregation — and run unchanged
  * in batch mode (window() is an ordinary grouping expression), which
  * is how the specs assert exact values.
  *
  * Scale notes: streaming state for a windowed aggregation is
  * (window × group) — bounded by the watermark horizon; the shuffle
  * key includes the window so state is evenly spread unless
  * event_type is skewed (then salt the group key). The watermark
  * bounds both state size and late-data acceptance, mirroring how
  * the reference bounds nothing (it is stateless; SURVEY.md §2.2 —
  * these operators are extension surface).
  */
object EventTimeOps {

  /** Tumbling event-time window rollup with watermark: per (window,
    * event_type) counts and cent-quantized value sums. */
  def tumblingRollup(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_value_c"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value_c"))

  /** Dead-letter-rate rollup — the streaming twin of the batch
    * RelQueries.dlqHourly query (SURVEY §2.5): per event-time window,
    * total records, dead records (the same value < 100 routing
    * predicate the DLT topology uses) and the dead rate in ppm.
    * Column-for-column the batch query's output (hour_epoch_s = the
    * window start in epoch seconds), so batch/stream parity is
    * asserted exactly in EventTimeSpec over the same corpus. */
  def dlqRateRollup(events: DataFrame, windowLen: String = "1 hour",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") >= 100.0, 0L).otherwise(1L)).as("n_dead"))
      .select(unix_timestamp(col("window.start")).as("hour_epoch_s"),
        col("n"), col("n_dead"),
        floor(lit(1000000.0) * col("n_dead") / col("n"))
          .cast("long").as("dead_ppm"))

  /** Windowed count-min sketch (r6) — the streaming twin of
    * RelQueries.cmsTopk and the shape CMS was invented for
    * (continuous heavy hitters over an unbounded stream): per
    * event-time window, the d = 4 × w = 512 counter cells as rows,
    * built by the SAME salted-hash explode + one watermark-bounded
    * windowed count. State is ≤ d·w cells per open window REGARDLESS
    * of key cardinality — the property that lets the monitor run
    * forever where an exact per-key windowed count's state grows with
    * distinct keys. Downstream probes any key with min over its d
    * cells (estimate ≥ true count, the CMS law — spec-pinned against
    * the batch twin). Runs unchanged in batch mode, which is how the
    * spec pins exact values. */
  def cmsRollup(events: DataFrame, windowLen: String = "1 hour",
                watermark: String = "2 hours"): DataFrame = {
    def cell(r: Column, id: Column): Column =
      graft.functions.PortableHash.h31(concat(r.cast("string"),
        lit("#"), id.cast("string"))) % 512L
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("user_id"),
        explode(array((0 until 4).map(lit): _*)).as("r"))
      .select(col("ts"), col("r"), cell(col("r"), col("user_id")).as("c"))
      .groupBy(window(col("ts"), windowLen), col("r"), col("c"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("hour_epoch_s"),
        col("r").cast("long").as("r"), col("c"), col("cnt"))
  }

  /** Windowed Benford leading-digit histogram (r7 continuation) —
    * the streaming twin of RelQueries.benfordDigits: per event-time
    * window, the first-significant-digit counts of the cents-quantized
    * value column. The CONTINUOUS data-quality audit: a generator bug
    * or upstream corruption flattens the digit curve within one
    * window instead of surfacing at the next batch audit. State is 9
    * counters per open window — nothing scales with throughput; the
    * aggregate is partial-combinable so micro-batches merge map-side.
    * Runs unchanged in batch mode; the spec pins batch/stream
    * equality. Deviation scoring against the milli-log constants
    * stays a consumer-side projection (the rollup emits counts, not
    * verdicts — thresholds belong to the alert layer). */
  def benfordRollup(events: DataFrame, windowLen: String = "1 hour",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), floor(col("value") * 100).cast("long").as("v"))
      .where(col("v") > 0)
      .select(col("ts"),
        substring(col("v").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(window(col("ts"), windowLen), col("digit"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("hour_epoch_s"),
        col("digit"), col("n"))

  /** Windowed KMV distinct sketch (r7 continuation) — the streaming
    * twin of RelQueries.kmvDistinct: per event-time window, the
    * k = 64 smallest distinct user hashes via the same native
    * [[graft.functions.sketchNative.kmv_kmin]] aggregate, projected
    * to (n_kept, kth_min, est_distinct). The continuous
    * unique-users monitor: state is ≤ k longs per open window
    * REGARDLESS of user cardinality (an exact streaming
    * countDistinct's state grows with distinct keys and can never be
    * evicted safely); the watermark bounds open windows as usual.
    * TypedImperativeAggregate partials merge associatively, which is
    * exactly what incremental micro-batch aggregation needs. Runs
    * unchanged in batch mode — the spec pins batch/stream equality
    * and the estimator against exact distincts. */
  def kmvRollup(events: DataFrame, windowLen: String = "1 hour",
                watermark: String = "2 hours", k: Int = 64): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("ts"),
        graft.functions.PortableHash.h48(col("user_id").cast("string"))
          .as("h"))
      .groupBy(window(col("ts"), windowLen))
      .agg(graft.functions.sketchNative.kmv_kmin(col("h"), k).as("mins"))
      .select(unix_timestamp(col("window.start")).as("hour_epoch_s"),
        size(col("mins")).cast("long").as("n_kept"),
        element_at(col("mins"), -1).as("kth_min"))
      .withColumn("est_distinct",
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(expr(s"${(k - 1) * 281474976710656L}L div kth_min")))

  /** Windowed data-quality expectations (r5) — the streaming twin of
    * Profile.expectations: per event-time window, total rows plus a
    * violation counter per named (check, violated-when) predicate —
    * the continuous-ingest DQ monitor (alert when a window's
    * violation count jumps). Same fold-into-one-aggregate shape as
    * the batch pass: k checks cost k conditional sums in the SAME
    * watermark-bounded windowed aggregate, state O(windows in the
    * horizon), never a second pass over the stream. Runs unchanged in
    * batch mode, which is how the spec pins exact values. */
  def expectationsRollup(events: DataFrame,
                         checks: Seq[(String, Column)],
                         windowLen: String = "1 hour",
                         watermark: String = "2 hours"): DataFrame = {
    require(checks.nonEmpty, "zero expectations")
    val aggs = count(lit(1)).as("n_rows") +: checks.map { case (name, bad) =>
      sum(when(bad, 1L).otherwise(0L)).as(s"v_$name")
    }
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("window.start").as("window_start"), col("n_rows")) ++
        checks.map { case (name, _) => col(s"v_$name") }: _*)
  }

  /** Windowed trending terms: the Misra–Gries heavy-hitters
    * aggregate ([[graft.functions.MisraGriesTopK]]) under Structured
    * Streaming state — per event-time window, the top-k terms by
    * occurrence. The sketch IS the aggregation buffer, so streaming
    * state per open window is O(capacity) regardless of vocabulary —
    * exactly the property that makes corpus-wide top-k viable on an
    * unbounded stream (a word-keyed streaming count would hold state
    * per DISTINCT WORD per window). Emits on window close (append +
    * watermark); exact within capacity, MG-bounded beyond. */
  def trendingTerms(docs: DataFrame, windowLen: String = "1 hour",
                    watermark: String = "2 hours",
                    capacity: Int = 256, k: Int = 10): DataFrame =
    docs
      .withWatermark("ts", watermark)
      // same tokenizer as the batch topTermsSketch, plus an
      // empty-token guard: consecutive/leading/trailing spaces would
      // otherwise mint "" tokens that occupy sketch capacity and can
      // surface as a trending term
      .select(col("ts"),
        explode(graft.functions.TextOps.words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(window(col("ts"), windowLen))
      .agg(graft.functions.sketchNative.mg_topk(col("w"), capacity, k)
        .as("top"))
      .select(col("window.start").as("window_start"),
        explode(col("top")).as("e"))
      .select(col("window_start"), col("e.term").as("term"),
        col("e.est").as("n"))

  /** Built-in session windows: per-user sessions closed after `gap`
    * of event-time inactivity. */
  def sessionRollup(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))
}
