package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{vectorNative, VectorOps => V}

/** Embedding clustering + semantic deduplication (SemDedup-style):
  * k-means partitions the embedding space, then near-duplicates are
  * detected WITHIN clusters only — the cluster is the blocker that
  * keeps the pair join from being all-pairs, exactly like LSH buckets
  * in Dedup but driven by global structure instead of random
  * projections.
  *
  * Determinism (the DuckDB oracle replicates every step bit-for-bit):
  * quantized integer vectors, seed centroids = the first k vec_ids,
  * a FIXED number of Lloyd iterations (no convergence test — data-
  * dependent iteration counts are not portable), integer-exact
  * distances, centroid update = floor(mean) per component, ties on
  * distance broken by centroid id.
  *
  * Scale design: the per-iteration update is one partial-combinable
  * (cid, pos) aggregate over the corpus; the centroid set is a tiny
  * model (k × d longs) collected and re-broadcast as literals each
  * iteration — the classic fit/transform loop (langId, IVF). The
  * final assignment pass is row-local (argmin against k literal
  * centroids), zero shuffles.
  */
object Cluster {

  /** Ceiling of the plan-literal argmin form (k per-centroid
    * expressions, `least()` over structs): generated-code size grows
    * linearly with k and trips JVM 64 KB method limits / codegen
    * fallback around k ≈ 10³, where the native
    * [[graft.functions.CentroidArgmin]] (codebook = ONE reference
    * object) has O(1) plan size at any k with the same exact-integer
    * (dist, cid) ranking. r16 measurement: the native form wins at
    * EVERY k, not just past the ceiling — the literal form's
    * per-centroid dot is `aggregate(zip_with(...))`, and Spark's
    * higher-order functions are CodegenFallback (interpreted per row
    * per centroid), while its k literal subtrees are re-analyzed by
    * the driver on every run (sim_knn_ivfpq 2.25 → 0.85 s at sf0.1,
    * ~60% of the before-wall was driver planning of a 134 kB plan —
    * OPTIMIZATION_r16.md). Every default is therefore the native
    * path (litMaxK = 0); this constant remains as the spec knob that
    * forces the literal form to pin bit-parity of the two
    * implementations, and as documentation of that form's ceiling. */
  val LiteralArgminMaxK: Int = 512

  /** (vec_id, qe, qn, cid) after `iters` Lloyd rounds + final assign. */
  private def kmeansFull(embeddings: DataFrame, k: Int,
                         iters: Int, litMaxK: Int): DataFrame =
    // iterative working set: seed collect + one aggregate per round +
    // the final assign each re-read this — materialize the quantized
    // vectors ONCE instead of re-scanning the lake per round (the
    // standard iterative-fit discipline, same as nearDupClusters)
    kmeansFromBase(Similarity.quantized(embeddings).localCheckpoint(true),
      k, iters, litMaxK)

  /** [[kmeansFull]] over an already-checkpointed quantized base —
    * split out so [[semDedupAuto]] can derive k = √N from the SAME
    * materialization the fit uses (no separate counting scan). */
  private def kmeansFromBase(base: DataFrame, k: Int,
                             iters: Int, litMaxK: Int): DataFrame =
    kmeansFit(base, k, iters, litMaxK)._1

  /** The fit itself: (final assignment, final centroids) — centroids
    * exposed so [[kmeansOutliers]] can score distances against the
    * model without re-deriving it. */
  private def kmeansFit(base: DataFrame, k: Int, iters: Int,
      litMaxK: Int): (DataFrame, Seq[(Long, Seq[Long])]) = {
    // seed centroids: the quantized vectors of the first k ids
    // (deterministic; a k-means++ sampler would slot in here)
    var cents: Seq[(Long, Seq[Long])] = base.where(col("vec_id") < k)
      .select("vec_id", "qe").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq.sortBy(_._1)
    // empty input -> no seeds; an argmin over zero centroids is not
    // even analyzable (void-typed array), so short-circuit with the
    // correct (empty) schema
    if (cents.isEmpty)
      return (base.select(col("vec_id"), col("qe"), col("qn"),
        lit(-1L).as("cid")), Nil)
    def assign(cs: Seq[(Long, Seq[Long])]): DataFrame =
      if (cs.size > litMaxK)
        // scale path: the whole codebook is ONE reference object —
        // see [[LiteralArgminMaxK]]
        base.select(col("vec_id"), col("qe"), col("qn"),
          vectorNative.centroid_argmin(col("qe"), col("qn"),
            cs.map(_._1), cs.map(_._2)).as("cid"))
      else {
        val dists = cs.map { case (cid, ce) =>
          val cn = ce.map(x => x * x).sum
          val dot = aggregate(zip_with(col("qe"), typedLit(ce), (x, y) => x * y),
            lit(0L), (a, v) => a + v)
          struct((col("qn") + cn - lit(2L) * dot).as("dist"), lit(cid).as("cid"))
        }
        // argmin by (dist, cid) via variadic least() over the structs:
        // struct ordering is lexicographic by field, so this is the same
        // tie-break as the oracle's ORDER BY dist, cid — and O(k) per row
        // with no array materialization, which matters once k = √N
        // (array_sort's O(k log k) + per-row array build measurably slows
        // the auto path's assign stage)
        base.select(col("vec_id"), col("qe"), col("qn"),
          (if (dists.size == 1) dists.head else least(dists: _*))
            .getField("cid").as("cid"))
      }
    for (_ <- 1 to iters) {
      // update: per-(cluster, dim) sum/count — ONE shuffle of k×d
      // partial rows; the collected model is k×d longs
      val sums = assign(cents)
        .select(col("cid"), posexplode(col("qe")))
        .groupBy("cid", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      val updated = sums.groupBy(_._1).map { case (cid, rs) =>
        // floor(mean): sums are ≲ |corpus|·Q — exact in double, so
        // floor(s/c) is bit-identical to the oracle's FLOOR(s/c)
        cid -> rs.sortBy(_._2).map(t => math.floor(t._3.toDouble / t._4).toLong).toSeq
      }
      // an empty cluster keeps its previous centroid (oracle: LEFT
      // JOIN + COALESCE)
      cents = cents.map { case (cid, old) => (cid, updated.getOrElse(cid, old)) }
    }
    (assign(cents), cents)
  }

  /** Embedding-space outlier flagging — the data-cleaning pass that
    * drops mislabeled / garbage / off-distribution vectors before
    * training: distance to the assigned k-means centroid, ranked
    * WITHIN the cluster (percent_rank, tie-broken by vec_id), the top
    * (1 − keepFrac) flagged. Per-cluster ranking matters: a global
    * cutoff would empty the naturally-wide clusters and keep all of
    * the tight ones.
    *
    * Scale shape: the fit is [[kmeansAssign]]'s; the distance pass is
    * ONE broadcast join against the k-row centroid table plus a
    * native qdot projection (zero extra corpus shuffles); the rank
    * window shuffles once on cid, payload (vec_id, dist) — never the
    * vectors. Exact integer distances; percent_rank = (rank−1)/(n−1)
    * is exact double in both engines. */
  def kmeansOutliers(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
                     keepFrac: Double = 0.9,
                     literalArgminMaxK: Int = 0): DataFrame = {
    val base = Similarity.quantized(embeddings).localCheckpoint(true)
    val (assign, cents) = kmeansFit(base, k, iters, literalArgminMaxK)
    val spark = embeddings.sparkSession
    import spark.implicits._
    if (cents.isEmpty)
      return assign.select(col("vec_id"), col("cid"),
        lit(0L).as("dist"), lit(0L).as("outlier")).limit(0)
    val centsDf = cents
      .map { case (cid, ce) => (cid, ce, ce.map(x => x * x).sum) }
      .toDF("cid", "ce", "cn")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cid").orderBy(col("dist").asc, col("vec_id").asc)
    assign.join(broadcast(centsDf), "cid")
      .select(col("vec_id"), col("cid"),
        (col("qn") + col("cn") -
          lit(2L) * vectorNative.qdot(col("qe"), col("ce"))).as("dist"))
      .withColumn("pr", percent_rank().over(w))
      .select(col("vec_id"), col("cid"), col("dist"),
        when(col("pr") > keepFrac, 1L).otherwise(0L).as("outlier"))
      .orderBy("vec_id")
  }

  /** K-means cluster assignment: (vec_id, cid).
    * `literalArgminMaxK` picks the assign form (see
    * [[LiteralArgminMaxK]]); pass 0 to force the native-codebook
    * path at any k. */
  def kmeansAssign(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
                   literalArgminMaxK: Int = 0): DataFrame =
    kmeansFull(embeddings, k, iters, literalArgminMaxK)
      .select("vec_id", "cid").orderBy("vec_id")

  /** Cluster-BALANCED sampling (r13): deterministic "n per cluster"
    * over the LEARNED k-means cells — `tx_sample_strat`'s stratified
    * protocol with a MODEL key instead of a metadata key. Metadata
    * strata (lang, source) can't see that one source dominates one
    * semantic region; sampling per CELL holds semantic coverage
    * under any marginal skew — the diversity-balanced selection step
    * of an embedding-aware curation pipeline. Within a cell the
    * order is the salted portable hash (rerun/order-stable where a
    * rand() reservoir is not), ties on vec_id; cells smaller than
    * `perCluster` keep everything.
    *
    * Scale shape: the k-means fit/assign loop (tiny collected
    * codebook, row-local argmin), then ONE window shuffle on cid —
    * the same single-exchange shape as the stratified sampler; the
    * sort payload is (hash, id), never the embedding. */
  def clusterSample(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
                    perCluster: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cid")
      .orderBy(graft.functions.PortableHash.h31(
        concat(lit("cs:"), col("vec_id").cast("string"))).asc,
        col("vec_id").asc)
    kmeansAssign(embeddings, k, iters)
      .withColumn("pick", row_number().over(w).cast("long"))
      .where(col("pick") <= perCluster)
      .select("vec_id", "cid", "pick")
      .orderBy("vec_id")
  }

  /** [[semDedup]] with the production scaling rule applied: k = √N
    * (floored at 8), which holds E[cluster size] = √N and total
    * within-cluster pair volume ≈ N·√N/2 — near-linear, where a fixed
    * k degrades quadratically (BASELINE.md "Clustering/
    * decontamination scale evidence": 4×
    * corpus at fixed k=8 → 16× pairs). N counts the usable base (the
    * quantized rows with positive norm) and is read from the SAME
    * localCheckpoint the fit iterates over — one corpus scan total,
    * not a separate counting job. Declared as dd_semdedup_auto (the
    * oracle derives k with the identical scalar subquery over its
    * base CTE); the fixed-k dd_semdedup stays as the pinned anchor. */
  def semDedupAuto(embeddings: DataFrame, iters: Int = 2,
                   minCosPpm: Long = 450000L,
                   literalArgminMaxK: Int = 0): DataFrame = {
    val base = Similarity.quantized(embeddings).localCheckpoint(true)
    val k = math.max(8, math.sqrt(base.count().toDouble).toInt)
    semDedupFromAssign(kmeansFromBase(base, k, iters, literalArgminMaxK),
      minCosPpm)
  }

  /** Semantic dedup: within-cluster pairs with quantized cosine ≥
    * minCosPpm mark the higher vec_id as a duplicate; output labels
    * every vector (kept = 0/1 BIGINT — portable across engines,
    * unlike boolean stringification). The only non-model shuffle
    * beyond k-means is the within-cluster self-join, whose cost is
    * bounded by cluster occupancy (k scales with corpus size to hold
    * E[cluster] constant — SemDedup runs k ≈ √N). */
  def semDedup(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
               minCosPpm: Long = 450000L,
               literalArgminMaxK: Int = 0): DataFrame =
    semDedupFromAssign(kmeansFull(embeddings, k, iters, literalArgminMaxK),
      minCosPpm)

  private def semDedupFromAssign(assign: DataFrame,
                                 minCosPpm: Long): DataFrame = {
    // the assignment feeds BOTH pair-join sides and the label output —
    // three plan references; materialize it once (eager) so the scan +
    // quantize + argmin run once, not three times over 100 TB
    val a = assign.localCheckpoint(true)
    val left = a.select(col("cid"), col("vec_id").as("vec_a"),
      col("qe").as("qa"), col("qn").as("na"))
    val right = a.select(col("cid"), col("vec_id").as("vec_b"),
      col("qe").as("qb"), col("qn").as("nb"))
    val losers = left.join(right, Seq("cid"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_b"),
        V.cosPpm(V.qdot(col("qa"), col("qb")), col("na"), col("nb")).as("cos_ppm"))
      .where(col("cos_ppm") >= minCosPpm)
      .select("vec_b").distinct()
    a.select("vec_id", "cid")
      .join(losers, col("vec_id") === col("vec_b"), "left")
      .select(col("vec_id"), col("cid"),
        when(col("vec_b").isNull, 1L).otherwise(0L).as("kept"))
      .orderBy("vec_id")
  }
}
