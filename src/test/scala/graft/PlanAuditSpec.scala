package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanized plan audit over the ENTIRE declared surface — the plan
  * properties the scale design rests on, asserted so a future edit
  * cannot silently regress them:
  *  - no query ever plans a CartesianProduct (BroadcastNestedLoopJoin
  *    with a tiny broadcast side is the sanctioned theta-join shape);
  *  - the key fact-table queries keep their filters pushed into the
  *    parquet scan and their dimension joins broadcast;
  *  - top-k queries compile to TakeOrderedAndProject (per-partition
  *    heaps), not a global sort.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("no declared query plans a cartesian product") {
    SparkEntry.queries.keys.foreach { name =>
      assert(!plan(name).contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("rel_pricing pushes the shipdate filter into the parquet scan") {
    val p = plan("rel_pricing")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"shipdate not pushed:\n$p")
  }

  test("dimension joins stay broadcast (brand revenue, region chain, contamination)") {
    assert(plan("rel_brand_revenue").contains("BroadcastHashJoin"))
    // the 3-dim chain: customer, nation, region all broadcast
    val rp = plan("rel_region_priority")
    assert("BroadcastHashJoin".r.findAllIn(rp).size == 3, s"region chain:\n$rp")
    assert(plan("dd_contamination").contains("BroadcastHashJoin"))
  }

  test("corpus top-k compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan("tx_top_terms").contains("TakeOrderedAndProject"))
  }

  test("store lifecycle composites: the final upsert reads the MIGRATED " +
    "store from a materialized checkpoint, not a recompute (r13)") {
    // the lifecycle's scale claim is pay-per-stage: each stage's store
    // is localCheckpoint'd, so the final plan must consume it as an
    // ExistingRDD scan — if the checkpoint were dropped, the whole
    // four-stage chain would re-derive inside one plan (and the band
    // self-joins would re-execute once per downstream reference)
    Seq("pipeline_store_text", "pipeline_store_vec").foreach { q =>
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD"),
        s"$q final stage must read the checkpointed store:\n$p")
    }
  }

  test("pipeline_curate_mm decodes the image payload exactly once (r14): " +
    "the final plan reads the checkpointed phash table, never re-decodes") {
    // the binary fixture decode is the one mapPartitions stage in the
    // composite; localCheckpoint materializes it, so the curated plan
    // (banded self-join + dims + DLT filter all consume phash) must
    // show ZERO object-pipeline nodes and read ExistingRDD instead
    val p = plan("pipeline_curate_mm")
    assert(!p.contains("MapPartitions"),
      s"image decode re-executes inside the curated plan:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"phash checkpoint not consumed:\n$p")
  }

  test("tx_dpo_render: the rank window and the pair collapse share ONE " +
    "hash exchange; the dimension join is broadcast") {
    val p = plan("tx_dpo_render")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one shuffle (shared o_custkey exchange):\n$p")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("tx_epoch_order: one hash exchange (the per-(epoch,shard) position " +
    "window) — no global sort before the final presentation orderBy") {
    val p = plan("tx_epoch_order")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"epoch order must shuffle once, on (epoch, shard):\n$p")
  }

  test("sim_knn_sq8 / sim_knn_ivfsq: reconstruction rides the scan — one " +
    "hash exchange (the top-k window), corpus side never broadcast") {
    Seq("sim_knn_sq8", "sim_knn_ivfsq").foreach { q =>
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$q: expected only the rank window's shuffle:\n$p")
    }
  }

  test("dd_simhash is a pure projection: no aggregate, no explode") {
    // the native Simhash48 expression replaced the explode + 48-sum
    // aggregate — the fingerprint must never reintroduce a shuffle
    // beyond spread's round-robin and the oracle-only ORDER BY
    val p = plan("dd_simhash")
    assert(!p.contains("HashAggregate") && !p.contains("Generate"),
      s"dd_simhash is no longer projection-only:\n$p")
  }

  test("flagship entry reads its source exactly once") {
    val p = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 1, s"entry scans:\n$p")
  }

  test("dead-letter fan-out: route runs the mapper once; each branch " +
    "processBatch builds reads the routed cache, with no decode or mapper") {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions._
    import graft.functions.{BigEndianInt4Decode, RandLowercase, codecs}
    import graft.operators.ErrorHandlingTopology
    import graft.streaming.StreamingTopology
    // a non-local source, so no projection is folded away at planning
    val records = spark.range(0L, 2000L, 1L, 2).select(
      col("id").cast("string").cast("binary").as("key"),
      when(col("id") % 7 === 0, lit("bad".getBytes("UTF-8")))
        .otherwise(codecs.be_int4_encode((col("id") % 300 - 20).cast("int"))).as("value"))
    def count(p: LogicalPlan, pick: PartialFunction[Expression, Any]): Int =
      p.flatMap(_.expressions).map(_.collect(pick).size).sum
    val routed = ErrorHandlingTopology.route(records).queryExecution.optimizedPlan
    assert(count(routed, { case r: RandLowercase => r }) == 1, s"route:\n$routed")

    val plans = scala.collection.concurrent.TrieMap[String, LogicalPlan]()
    def sink(name: String): DataFrame => Unit = { df =>
      plans(name) = df.queryExecution.optimizedPlan
      df.collect()
    }
    StreamingTopology.processBatch(records, StreamingTopology.Sinks(
      sink("output"), sink("process"), sink("deser"), sink("production")))
    assert(plans.keySet == Set("output", "process", "deser", "production"))
    def lineage(r: RDD[_]): Seq[RDD[_]] = r +: r.dependencies.flatMap(d => lineage(d.rdd))
    plans.foreach { case (name, p) =>
      // the one leaf is the routed checkpoint, cut off the source: its
      // lineage ends at the checkpoint's own block reader
      val leaves = p.collectLeaves()
      assert(leaves.size == 1, s"$name:\n$p")
      val rdd = leaves.collectFirst { case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd }
      assert(rdd.isDefined, s"$name does not read the routed checkpoint:\n$p")
      assert(lineage(rdd.get).size == 2, s"$name reaches past the checkpoint:\n${rdd.get.toDebugString}")
      assert(count(p, { case e: RandLowercase => e; case e: BigEndianInt4Decode => e }) == 0,
        s"$name re-derives the route:\n$p")
    }
  }

  test("sim_knn_lsh broadcasts ONLY query-filtered sides (r4 finding: " +
    "the re-score join broadcast the unfiltered corpus)") {
    // AQE's executedPlan wraps the tree in a leaf AdaptiveSparkPlanExec
    // that collect() can't descend — disable it for the traversal
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("sim_knn_lsh")(spark, sf)
        .queryExecution.executedPlan
      // only the HINTED query-side broadcasts (they alias query_id)
      // must carry the filter — at bench SF the optimizer may also
      // auto-broadcast the tiny corpus side, a size-based decision
      // that disappears at scale
      val sides = p.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          b.child.toString
      }.filter(_.contains("query_id"))
      assert(sides.size >= 2, s"expected band + re-score broadcasts:\n$p")
      sides.foreach { s =>
        assert(s.contains("< 8"),
          s"broadcast side lacks the query-id filter:\n$s")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("rel_funnel reads events exactly once (r4: three filtered scans)") {
    val p = plan("rel_funnel")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"funnel scans:\n$p")
  }

  test("tx_word_familiarity joins the df table broadcast — the token " +
    "stream never exchanges on the Zipf-skewed word key") {
    val p = plan("tx_word_familiarity")
    assert(p.contains("BroadcastHashJoin"), s"df join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"word-keyed shuffle join reappeared:\n$p")
  }

  test("tx_ngram_lm scores via a broadcast model join — the bigram " +
    "stream never exchanges on the Zipf-skewed (w1, w2) key") {
    // the FIT's groupBys exchange (partial agg makes that safe); the
    // SCORE side must stay broadcast — a shuffle join on bigram keys
    // would hot-spot on stopword pairs at corpus scale
    val p = plan("tx_ngram_lm")
    assert(p.contains("BroadcastHashJoin"), s"model join not broadcast:\n$p")
    val sorted = "SortMergeJoin .*w1".r.findAllIn(p).toList
    assert(sorted.isEmpty, s"bigram-keyed shuffle join reappeared:\n$p")
  }

  test("rel_grouping_sets is one Expand over one scan — never " +
    "|sets| passes") {
    val p = plan("rel_grouping_sets")
    assert("Expand".r.findAllIn(p).size == 1, s"expand count:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"scan count:\n$p")
  }

  test("mm_video_frames / tx_readability stay shuffle-free " +
    "(row-local media fan-out and scoring)") {
    // one exchange is allowed for the declared ORDER BY (range
    // partitioning); nothing else may shuffle
    Seq("mm_video_frames", "tx_readability").foreach { q =>
      val p = plan(q)
      assert(!p.contains("HashAggregate") || q != "tx_readability",
        s"$q aggregates:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q plans a shuffle join:\n$p")
    }
  }

  /** Plan with AQE off: AdaptiveSparkPlan prints pre-codegen, so
    * WholeStageCodegen spans are only visible in a non-adaptive
    * executedPlan (the playbook gotcha). */
  private def planNoAqe(name: String): String = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try plan(name)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("tx_mojibake is a codegen'd projection — no join, no " +
    "aggregate, repair inside WholeStageCodegen (r6)") {
    val p = planNoAqe("tx_mojibake")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"tx_mojibake not projection-only:\n$p")
    // codegen spans print as "*(n)" stage markers in plan toString
    assert(p.contains("*(1)"), s"no codegen span:\n$p")
  }

  test("rel_zorder is one scan + one hash-agg, z computed in " +
    "codegen — never a join or second pass (r6)") {
    val p = planNoAqe("rel_zorder")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"scan count:\n$p")
    assert(!p.contains("Join"), s"rel_zorder joins:\n$p")
    assert(p.contains("*(1)"), s"no codegen span:\n$p")
  }

  test("rel_scd2 executes its full-outer join EXACTLY once — the " +
    "explode form, not three filtered re-joins (r6)") {
    val p = plan("rel_scd2")
    assert("SortMergeJoin".r.findAllIn(p).size
      + "ShuffledHashJoin".r.findAllIn(p).size == 1,
      s"scd2 join count != 1:\n$p")
    assert("Generate".r.findAllIn(p).size == 1, s"explode count:\n$p")
  }

  test("rel_anomaly joins its |types|-sized stats BROADCAST — the " +
    "hourly fact side never re-shuffles for the flag (r6)") {
    val p = plan("rel_anomaly")
    assert(p.contains("BroadcastHashJoin"), s"stats not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"rel_anomaly shuffle-joins:\n$p")
  }

  test("rel_basket broadcasts the item-support prune and compiles " +
    "top-100 to TakeOrderedAndProject — no global sort, no cartesian " +
    "(r7)") {
    val p = plan("rel_basket")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"item prune / totals not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"global sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("tx_collocations joins vocab-bounded unigram counts BROADCAST " +
    "onto the pair table and compiles top-k to TakeOrderedAndProject " +
    "(r7)") {
    val p = plan("tx_collocations")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"unigram joins not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"global sort:\n$p")
    assert(!p.contains("SortMergeJoin"), s"shuffle join:\n$p")
  }

  test("rel_rfm joins its 12 quintile thresholds and the corpus-last " +
    "scalar BROADCAST — per-customer scoring never shuffle-joins (r7)") {
    val p = plan("rel_rfm")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"rel_rfm shuffle-joins:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 4,
      s"threshold frames not broadcast:\n$p")
  }

  test("rel_concurrency windows within-hour peaks PARTITIONED BY " +
    "hour — the only unpartitioned window runs over the hour table, " +
    "after aggregation (r7)") {
    val p = plan("rel_concurrency")
    // exactly one Window without a partition clause, fed by an
    // aggregate (the |hours|-bounded carry-in), plus the hour-keyed
    // one over boundaries
    assert(p.contains("Window"), s"no window:\n$p")
    assert(p.contains("hour_epoch_s"), s"hour key missing:\n$p")
  }

  test("sim_knn_bitsig broadcasts the 8-query signature table; the " +
    "signature build is a projection riding the scan (r7)") {
    val p = plan("sim_knn_bitsig")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"queries not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"shuffle join:\n$p")
  }

  test("rel_er_match and dd_winnow_pairs block their pair joins on " +
    "keys — never all-pairs (r7)") {
    val er = plan("rel_er_match")
    assert(er.contains("blk"), s"no block key in join:\n$er")
    val wp = plan("dd_winnow_pairs")
    assert(wp.contains("fp"), s"no fp key in join:\n$wp")
    assert(!er.contains("CartesianProduct") &&
      !wp.contains("CartesianProduct"))
  }

  test("rel_kanon is ONE hash-aggregate over one scan — the QI class " +
    "audit never joins or re-passes (r6)") {
    val p = planNoAqe("rel_kanon")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"scan count:\n$p")
    assert(!p.contains("Join"), s"rel_kanon joins:\n$p")
  }

  test("rel_triangles keeps both degree joins BROADCAST — only the " +
    "wedge and closing joins shuffle (r6)") {
    val p = plan("rel_triangles")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"degree joins not broadcast:\n$p")
  }

  test("mm_phash plans no exchange beyond spread's round-robin — the " +
    "fingerprint is partition-local like dd_simhash (r6)") {
    val p = planNoAqe("mm_phash")
    // orderBy (oracle determinism) adds a rangepartitioning exchange;
    // nothing else may shuffle, and there is no join/aggregate
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"mm_phash not map-only:\n$p")
  }

  test("tx_cdc_chunk: ONE hash exchange on doc_id serves both the " +
    "prefix-sum window and the chunk aggregate (r6)") {
    val p = planNoAqe("tx_cdc_chunk")
    // hashpartitioning appears once (the doc_id exchange); the final
    // orderBy adds only a rangepartitioning exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"cdc chunk re-shuffles:\n$p")
    assert(!p.contains("Join"), s"cdc chunk joins:\n$p")
  }

  test("rel_cms_topk: the d×w sketch joins BROADCAST — the probe " +
    "side never shuffle-joins (r6)") {
    val p = plan("rel_cms_topk")
    assert(p.contains("BroadcastHashJoin"), s"sketch not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"cms shuffle-joins:\n$p")
    // top-10 probe set compiles to TakeOrderedAndProject, not a
    // global sort of all users
    assert(p.contains("TakeOrderedAndProject"), s"top-k global-sorts:\n$p")
  }

  test("rel_funnel_window keeps the single-scan funnel shape — the " +
    "attribution bound costs zero extra passes (r6)") {
    val p = planNoAqe("rel_funnel_window")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"scan count:\n$p")
    assert(!p.contains("Join"), s"bounded funnel joins:\n$p")
  }

  test("rel_compaction_plan: ONE hash exchange serves both the " +
    "prefix-sum window and the per-file aggregate (r6)") {
    val p = planNoAqe("rel_compaction_plan")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"compaction re-shuffles:\n$p")
    assert(!p.contains("Join"), s"compaction joins:\n$p")
  }

  test("rel_compaction_plan_parts: the window key CONTAINS the day " +
    "bucket — sort parallelism grows with data, no 5-way collapse (r7)") {
    val p = planNoAqe("rel_compaction_plan_parts")
    // same one-exchange shape as the anchor...
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"partitioned compaction re-shuffles:\n$p")
    assert(!p.contains("Join"), s"partitioned compaction joins:\n$p")
    // ...and the hash key is the COMPOSITE (event_type, day_bucket):
    // the production property this twin exists for
    val exch = p.linesIterator
      .find(_.contains("Exchange hashpartitioning")).getOrElse("")
    assert(exch.contains("event_type") && exch.contains("day_bucket"),
      s"window partition key lost the time bucket: $exch")
  }

  test("rel_skyline windows over the per-day AGGREGATE, not raw " +
    "orders — one scan, no self-join (r6)") {
    val p = planNoAqe("rel_skyline")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"scan count:\n$p")
    assert(!p.contains("Join"), s"skyline self-joins:\n$p")
    assert(p.contains("Window"), s"no frontier window:\n$p")
  }

  test("tx_c4_rules / mm_bmp_stats stay row-local — no join, no " +
    "shuffle beyond the deterministic output order (r6)") {
    val c4 = planNoAqe("tx_c4_rules")
    assert(!c4.contains("Join") && !c4.contains("HashAggregate"),
      s"tx_c4_rules not projection-only:\n$c4")
    val bmp = planNoAqe("mm_bmp_stats")
    assert(!bmp.contains("Join") && !bmp.contains("HashAggregate"),
      s"mm_bmp_stats not map-only:\n$bmp")
  }

  test("r7 codec kernels (png/gif/tiff stats, dispatched mm_meta) " +
    "stay map-only — decode parallelism is the input partitioning") {
    for (q <- Seq("mm_png_stats", "mm_gif_stats", "mm_tiff_stats",
        "mm_meta")) {
      val p = planNoAqe(q)
      assert(!p.contains("Join") && !p.contains("HashAggregate"),
        s"$q not map-only:\n$p")
    }
  }

  test("jpeg kernels stay map-only like the other codec families " +
    "(r7 continuation)") {
    for (q <- Seq("mm_jpeg_stats", "mm_jpeg_rgb_stats")) {
      val p = planNoAqe(q)
      assert(!p.contains("Join") && !p.contains("HashAggregate"),
        s"$q not map-only:\n$p")
    }
  }

  test("oph signature is a pure projection like dd_simhash — the " +
    "native kernel must never reintroduce the explode/groupBy") {
    val p = graft.operators.Dedup.ophSignatures(
      graft.relational.Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!p.contains("HashAggregate") && !p.contains("Generate") &&
      !p.contains("SortAggregate"),
      s"ophSignatures is no longer projection-only:\n$p")
  }

  test("rel_kmv_distinct aggregates PARTIALLY before its one " +
    "exchange — sketch partials cross the wire, never raw user keys") {
    val p = planNoAqe("rel_kmv_distinct")
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial_kmv_kmin phase below the exchange
    assert(p.contains("ObjectHashAggregate") &&
      p.contains("partial_kmv_kmin"), s"no partial sketch phase:\n$p")
    // exactly one exchange beyond spread: the group-key shuffle
    assert(!p.contains("hashpartitioning(user_id"),
      s"user-keyed exchange found:\n$p")
  }

  test("rel_kmv_overlap joins its |types|-row sketch table " +
    "BROADCAST — sketch algebra is never a shuffled join") {
    val p = planNoAqe("rel_kmv_overlap")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"overlap join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sort-merge overlap join:\n$p")
  }

  test("rel_hhi joins its 25-row nation totals BROADCAST and plans " +
    "NO window — the share stream is never sorted per nation (r7)") {
    val p = plan("rel_hhi")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"totals/name joins not broadcast:\n$p")
    assert(!p.contains("Window"),
      s"rel_hhi plans a window over the customer stream:\n$p")
  }

  test("rel_interarrival's lag window is partitioned by (type, DAY) " +
    "— bounded partitions, never a |types|-way sort collapse (r7)") {
    val p = plan("rel_interarrival")
    assert(p.contains("Window"), s"no window:\n$p")
    assert("windowspecdefinition\\(event_type[^)]*day".r
      .findFirstIn(p).isDefined,
      s"window partition key lacks the day bucket:\n$p")
  }

  test("mm_phash_oriented stays a mapPartitions projection: no join, " +
    "no aggregate — normalization adds zero shuffle (r9)") {
    val p = plan("mm_phash_oriented")
    assert(!p.contains("Join"), s"join found:\n$p")
    assert(!p.contains("HashAggregate"), s"aggregate found:\n$p")
  }

  test("sampled-eval restriction is a row-local FILTER with the " +
    "salted predicate on both ends — ZERO joins (r9: the broadcast-" +
    "id-set form must not come back). The three eval reports " +
    "(dd_lsh_recall_sampled, dd_blocker_recall, " +
    "dd_embed_blocker_recall) all route through this helper; its " +
    "plan is audited directly because their recallCounts checkpoints " +
    "hide upstream plans from the final executedPlan") {
    import org.apache.spark.sql.functions.col
    // range source, not a local Seq — Catalyst constant-folds a
    // LocalRelation through the deterministic predicate, leaving no
    // Filter node to audit
    val pairs = spark.range(100).select(col("id").as("doc_a"),
      (col("id") + 1L).as("doc_b"))
    val p = graft.operators.Dedup.restrictSampled(pairs, 30)
      .queryExecution.executedPlan.toString
    assert(p.contains("recall:"),
      s"salted sample predicate not in the plan:\n$p")
    assert(!p.contains("Join"), s"restriction plans a join:\n$p")
    assert(p.contains("Filter") || p.contains("LocalTableScan"),
      s"no filter node:\n$p")
  }

  test("tx_sft_render: the dimension join is BROADCAST and the " +
    "render is a row-local projection — the fact side never " +
    "shuffle-joins for its template fields (r10)") {
    val p = plan("tx_sft_render")
    assert(p.contains("BroadcastHashJoin"), s"customer not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"render shuffle-joins:\n$p")
  }

  test("tx_code_meta plans no exchange beyond spread — render, " +
    "normalize, and metadata regexes are all row-local (r10)") {
    val p = plan("tx_code_meta")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      s"code metadata is no longer a projection:\n$p")
  }
}
