package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{vectorNative, Partitioning, VectorOps => V}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`). Two paths:
  *
  *  - [[knnBrute]]: exact brute-force cosine top-k. The QUERY side is
  *    broadcast (it is small by construction); the base table streams
  *    through a BroadcastNestedLoopJoin, so the scan parallelism is
  *    the base table's partitioning — the right shape for "few
  *    queries vs 100 TB of vectors". Top-k per query is a window
  *    row_number; at extreme scale this becomes a partial top-k
  *    aggregate, but the per-query candidate set is already bounded
  *    by the broadcast side here.
  *  - [[knnLshBucketed]]: the scale path — candidates are restricted
  *    to vectors sharing at least one sign-LSH band bucket with the
  *    query (same banding as Dedup.embeddingNearDup), turning the
  *    cross join into an equi-join on (band, bucket) that Spark
  *    shuffles/broadcasts like any other join. Recall < 1 by design.
  *
  * All similarity math is exact-integer quantized cosine (see
  * VectorOps) so results hash-match the DuckDB oracle.
  */
object Similarity {

  private[operators] def quantized(embeddings: DataFrame): DataFrame =
    Partitioning.spread(embeddings)
      // Generate-bind (explode of a 1-element array): downstream
      // consumers reference qe many times (norms, per-centroid dots)
      // and project-collapse + filter-pushdown would otherwise
      // re-inline the quantize() HOF into every reference
      .select(col("vec_id"),
        explode(array(V.quantize(col("embedding")))).as("qe"))
      .select(col("vec_id"), col("qe"), V.qnorm2(col("qe")).as("qn"))
      .where(col("qn") > 0)

  /** Exact top-k cosine neighbors for each query vector (queries =
    * vec_id < nQueries; self-pairs excluded). */
  def knnBrute(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame =
    cosTopK(bruteScored(embeddings, nQueries), k)

  /** All-pairs exact scoring half of [[knnBrute]] — split out (r13)
    * so [[recallLadderPostDedup]] can score the corpus ONCE and
    * derive both halves' truth by endpoint restriction. */
  private def bruteScored(embeddings: DataFrame,
      nQueries: Int): DataFrame = {
    val base = quantized(embeddings)
    val queries = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("qq"), col("qn").as("nq"))
    base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        V.cosPpm(V.qdot(col("qq"), col("qe")), col("nq"), col("qn")).as("cos_ppm"))
  }

  /** HARD-NEGATIVE mining for contrastive / embedding-model training
    * (r13): for each anchor (vec_id < nQueries), the top-k corpus
    * vectors whose cosine lies in the HARD band [minPpm, maxPpm) —
    * above random similarity (informative, not trivially separable)
    * but BELOW the near-dup threshold the dedup family removes at
    * minCosPpm = 400000 (a false negative that is actually a
    * duplicate poisons the contrastive loss — the classic DPR/
    * in-batch-negatives failure, which is why the band's upper edge
    * is EXACTLY the dedup family's lower edge). Same exhaustive
    * anchor contract as [[knnBrute]] (anchors broadcast, corpus
    * streams once, one top-k window) — hard-negative mining runs
    * over anchor BATCHES in production, so per-batch brute scoring
    * is the deployed shape; band-filtering before the window keeps
    * the ranked state at the band's density, not the corpus's. */
  def hardNegatives(embeddings: DataFrame, nQueries: Int = 8,
                    k: Int = 5, minPpm: Long = 250000L,
                    maxPpm: Long = 400000L): DataFrame =
    cosTopK(bruteScored(embeddings, nQueries)
      .where(col("cos_ppm") >= minPpm && col("cos_ppm") < maxPpm), k)

  /** Shared per-query top-k tail over a (query_id, neighbor_id,
    * cos_ppm) scored set — the contract every cosine rung emits. */
  private def cosTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_ppm")
      .orderBy("query_id", "rank")
  }

  /** Metadata-FILTERED ANN (r11): top-k under a label predicate, the
    * pre-filter vs post-filter comparison every vector-store design
    * decides — run BOTH arms under one protocol:
    *  - `pre`: rank only same-label corpus vectors (the filter
    *    restricts the candidate set BEFORE ranking — always returns
    *    k hits when the stratum has them);
    *  - `post`: rank globally, THEN filter to the label (ranks keep
    *    their GLOBAL values, so dropped ranks are visible as gaps
    *    and a query may return < k hits — the recall loss the
    *    pre-filter arm exists to avoid).
    * Same queries, same tie-break (cos desc, neighbor asc), one
    * `arm` column. Scale shape: both arms broadcast the model-sized
    * query set and scan the corpus once each; at production scale
    * the pre-filter arm pushes `label = ?` into the scan (partition
    * prune on a label-partitioned store) — the plan this operator's
    * declared form demonstrates. */
  def knnFiltered(embeddings: DataFrame, nQueries: Int = 8,
                  k: Int = 5): DataFrame = {
    val base = quantized(embeddings)
      .join(embeddings.select("vec_id", "label"), "vec_id")
    val queries = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("qq"),
        col("qn").as("nq"), col("label").as("qlabel"))
    val scored = base.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"), col("label"),
        col("vec_id").as("neighbor_id"),
        V.cosPpm(V.qdot(col("qq"), col("qe")), col("nq"), col("qn"))
          .as("cos_ppm"))
    val order = Window.partitionBy("query_id")
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    val pre = scored.where(col("label") === col("qlabel"))
      .withColumn("rank", row_number().over(order).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), lit("pre").as("arm"), col("rank"),
        col("neighbor_id"), col("cos_ppm"))
    val post = scored
      .withColumn("rank", row_number().over(order).cast("long"))
      .where(col("rank") <= k && col("label") === col("qlabel"))
      .select(col("query_id"), lit("post").as("arm"), col("rank"),
        col("neighbor_id"), col("cos_ppm"))
    pre.unionByName(post).orderBy("query_id", "arm", "rank")
  }

  /** All-pairs k-NN GRAPH construction (r10) — the building block
    * SemDeDup-style semantic curation, label propagation, and
    * NN-descent all start from: EVERY corpus vector gets its top-k
    * cosine neighbors, not just a broadcast query set. Brute force
    * is |corpus|² and never survives scale, so candidates come from
    * the SAME sign-LSH band table the near-dup family uses
    * ([[Dedup.vectorBands]], occupancy-cappable) — cost is bounded
    * by band-bucket occupancy; recall < 1 by design and MEASURED by
    * dd_embed_blocker_recall (the sign-LSH row is this graph's
    * operating point). Exact integer-cosine scoring happens only on
    * candidate pairs, and the per-node top-k is a window over the
    * candidate list with a pinned tiebreak (cos desc, neighbor asc
    * — 10×-probe-stable). The undirected candidate pairs are scored
    * ONCE (a<b) and mirrored by a union: half the distinct/scoring
    * cost of a directed self-join, same directed output.
    *
    * SCALE RULE (r10, measured at the 10× probe): band-bucket
    * occupancy is N/2^bitsPerBand, so candidate volume per band is
    * ~2^bits·(N/2^bits)² = N²/2^bits — the band WIDTH must grow with
    * the corpus (bits ≈ log2(N/target_occupancy)), exactly the
    * dd_simhash_pairs → _wide lesson on the text side. The declared
    * default (4×4 over 16 of the 64 dims) is the ORACLE ANCHOR shared
    * with dd_embed_neardup's measured recall operating point; the
    * declared `sim_knn_graph_wide` twin (4×8, 256 buckets/band,
    * 11.9 → 2.7 s at the 10× probe, full 80k-node neighbor coverage
    * retained) pins the widened math. */
  def knnGraph(embeddings: DataFrame, k: Int = 4, nBands: Int = 4,
               bitsPerBand: Int = 4,
               maxBucketSize: Option[Int] = None): DataFrame =
    knnGraphFrom(quantized(embeddings), Dedup.capBuckets(
      Dedup.vectorBands(embeddings, nBands, bitsPerBand), maxBucketSize), k)

  /** The r10 banding rule, MECHANIZED (r11): band-bucket occupancy is
    * N/2^bits, so holding occupancy at a target makes candidate
    * volume ~N·occupancy — linear — where any FIXED width degrades
    * quadratically (measured: 4×4 at the 10× probe = 11.9 s vs the
    * hand-widened 4×8's 2.7 s). bits = clamp(⌈log₂(N/target)⌉,
    * minBits, maxBits); target 128 reproduces BOTH recorded
    * operating points exactly — bits(2000)=4 (the sf0.1 anchor,
    * dd_embed_blocker_recall's measured recall row) and
    * bits(20000)=8 (the probe-tuned wide twin) — so the auto path
    * IS the anchor at driver SFs and IS the wide twin at the probe,
    * not a third behavior. maxBits=16 is the embedding-dimension
    * ceiling (4 bands × 16 bits = 64 dims). The oracle derives the
    * same width with a scalar subquery over its base CTE
    * (dd_semdedup_auto's √N pattern).
    *
    * Stated in pure INTEGER arithmetic (r13, the autoBandRows
    * convention): the smallest w with target·2^w ≥ N, via Long
    * shifts. ⌈log₂⌉ through library transcendentals is not
    * bit-specified across engines — at an exact power-of-two
    * boundary (N = target·2^k) Math.log here and LOG2 in the oracle
    * could round to opposite sides of the integer, shifting the
    * width by one and failing the hash gate on a correct engine.
    * The oracle's abits CTE mirrors the same comparison chain as a
    * sum of (N > target·2^j) indicators — identical integer
    * semantics, no shared rounding assumption. */
  def autoBits(n: Long, targetOccupancy: Long = 128L,
               minBits: Int = 4, maxBits: Int = 16): Int = {
    val m = math.max(1L, n)
    var w = 0
    while (w < maxBits && (targetOccupancy << w) < m) w += 1
    math.max(minBits, w)
  }

  /** [[knnGraph]] with the band width derived from the corpus count
    * (declared sim_knn_graph_auto): N is read from the SAME
    * localCheckpoint the scoring joins reuse — one corpus scan plus
    * a count over the cached base, not a separate job. */
  def knnGraphAuto(embeddings: DataFrame, k: Int = 4, nBands: Int = 4,
                   targetOccupancy: Long = 128L,
                   maxBucketSize: Option[Int] = None): DataFrame = {
    val base = quantized(embeddings).localCheckpoint(true)
    val bits = autoBits(base.count(), targetOccupancy)
    knnGraphFrom(base, Dedup.capBuckets(
      Dedup.vectorBands(embeddings, nBands, bits), maxBucketSize), k)
  }

  private def knnGraphFrom(base: DataFrame, banded: DataFrame,
                           k: Int): DataFrame = {
    val pairs = banded.select(col("band"), col("bucket"), col("vec_id").as("vec_a"))
      .join(banded.select(col("band"), col("bucket"), col("vec_id").as("vec_b")),
        Seq("band", "bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    graphFromScored(scorePairs(pairs, base), k)
  }

  /** Exact quantized-cosine scoring of an undirected (vec_a < vec_b)
    * candidate pair set against the quantized base — the expensive
    * half of graph construction, split out so [[knnGraphReband]] can
    * SKIP it (migrated pairs carry their stored scores). */
  private[graft] def scorePairs(pairs: DataFrame, base: DataFrame): DataFrame =
    pairs
      .join(base.select(col("vec_id").as("vec_a"), col("qe").as("qa"),
        col("qn").as("na")), "vec_a")
      .join(base.select(col("vec_id").as("vec_b"), col("qe").as("qb"),
        col("qn").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        V.cosPpm(V.qdot(col("qa"), col("qb")), col("na"), col("nb"))
          .as("cos_ppm"))

  /** Mirror + per-node top-k tail over an already-scored undirected
    * pair set — shared by from-scratch, auto, and reband builds. */
  private[graft] def graphFromScored(scored: DataFrame, k: Int): DataFrame = {
    val directed = scored.select(col("vec_a").as("vec_id"),
        col("vec_b").as("neighbor_id"), col("cos_ppm"))
      .union(scored.select(col("vec_b").as("vec_id"),
        col("vec_a").as("neighbor_id"), col("cos_ppm")))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    directed.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("vec_id", "rank", "neighbor_id", "cos_ppm")
      .orderBy("vec_id", "rank")
  }

  /** Incremental k-NN graph MAINTENANCE (r11): fold an arriving
    * batch (vec_id % splitMod == 0 — [[graft.relational]] uses the
    * dd_incremental residue convention) into the store's existing
    * graph WITHOUT recomputing it, and return a result that is
    * byte-identical to the from-scratch graph — the declared oracle
    * IS `sim_knn_graph_wide`'s from-scratch SQL, so the hash PROVES
    * the merge exact, not approximately refreshed.
    *
    * Exactness argument (spec-pinned): band keys are per-vector
    * (width fixed — an auto width would shift with N and change the
    * candidate sets), so existing↔existing candidates are unchanged
    * by the batch; new candidate pairs all touch an incoming vector.
    * For an unaffected node nothing changed. For an affected node,
    * the true top-k draws from (all its old candidates ∪ its new
    * edges); any old candidate OUTSIDE its old top-k was already
    * beaten by k old edges that are all still present, so top-k of
    * (old top-k ∪ new edges) = top-k of the full candidate set, rank
    * values included (row_number over a superset containing the true
    * top-k under the shared (cos desc, neighbor asc) order).
    *
    * Scale shape: the maintenance cost is the INCOMING band join —
    * |batch| × bucket occupancy — plus a |affected|-keyed re-top-k;
    * corpus-sized work appears only in the stored graph it reuses.
    * This is the vector-store ingest loop: pay per batch, not per
    * corpus.
    *
    * Band width is [[autoBits]] of the usable corpus (r13, the
    * dd_lsh_upsert move mirrored): a store this size RUNS the auto
    * width, so the declared upsert exercises it too — the exactness
    * argument needs the width FIXED across store and batch, which
    * it is within one upsert; crossing a width boundary is
    * [[knnGraphReband]]'s job. The oracle derives the same width
    * from its base CTE (the sim_knn_graph_auto abits scalar).
    * Width from the COMBINED (post-batch) count, deliberately: this
    * declared query models the steady state a store reaches AFTER
    * absorbing the batch — the width its size now runs — and the
    * oracle derives from the same full-corpus CTE. A store caught
    * mid-growth at a width boundary is exactly the lifecycle case,
    * and [[knnStoreLifecycle]] models that side (width from the
    * pre-batch fold, migration via reband) — the two derivations
    * differ by design, each matching its own oracle (r14, ADVICE).
    * The quantized base is checkpointed ONCE here and reused for
    * the width count AND the merge (r14, ADVICE: the count was a
    * separate uncached quantize pass). */
  def knnGraphUpsert(embeddings: DataFrame, k: Int = 4, nBands: Int = 4,
                     targetOccupancy: Long = 128L,
                     splitMod: Int = 10): DataFrame = {
    val base = quantized(embeddings).localCheckpoint(true)
    val bits = autoBits(base.count(), targetOccupancy)
    knnGraphUpsertWith(embeddings, k,
      e => Dedup.vectorBands(e, nBands, bits), splitMod, Some(base))
  }

  /** [[knnGraphUpsert]] parameterized on the band-table builder, so
    * the anchored-layout lifecycle (upsert → [[knnGraphReband]] →
    * upsert, KnnRebandSpec) exercises the SAME merge under the
    * migratable banding. The exactness argument above only needs the
    * band key to be a fixed per-vector function — it holds for any
    * layout the builder pins. */
  private[graft] def knnGraphUpsertWith(embeddings: DataFrame, k: Int,
      bandFn: DataFrame => DataFrame, splitMod: Int,
      baseOpt: Option[DataFrame] = None): DataFrame = {
    val base = baseOpt.getOrElse(quantized(embeddings).localCheckpoint(true))
    val existing = embeddings
      .where(pmod(col("vec_id"), lit(splitMod)) =!= 0)
    // the stored graph's base is the checkpointed full base FILTERED
    // (quantized() commutes with the id filter) — not a second
    // corpus-sized quantize pass (r14 review finding)
    val gOld = knnGraphFrom(
      base.where(pmod(col("vec_id"), lit(splitMod)) =!= 0),
      bandFn(existing), k).localCheckpoint(true)
    val newIds = embeddings
      .where(pmod(col("vec_id"), lit(splitMod)) === 0).select("vec_id")
    graphMerge(gOld, newPairsScored(bandFn(embeddings), newIds, base), k)
  }

  /** The upsert's batch candidate join + exact scoring: normalized
    * pairs with at least one endpoint in `newIds`, scored against
    * the quantized base. |batch| × bucket occupancy — the
    * maintenance cost itself, never a corpus self-join. The result
    * is localCheckpointed: it is batch-sized and referenced by THREE
    * downstream consumers (both union arms and, via affected, the
    * anti-join) — without it the banded-join subtree re-executes per
    * reference (measured: 36 corpus scans in the un-checkpointed
    * plan). */
  private def newPairsScored(banded: DataFrame, newIds: DataFrame,
      base: DataFrame): DataFrame = {
    val pairs = banded.join(newIds, "vec_id")
      .select(col("band"), col("bucket"), col("vec_id").as("va"))
      .join(banded.select(col("band"), col("bucket"),
        col("vec_id").as("vb")), Seq("band", "bucket"))
      .where(col("va") =!= col("vb"))
      .select(least(col("va"), col("vb")).as("vec_a"),
        greatest(col("va"), col("vb")).as("vec_b"))
      .distinct()
    scorePairs(pairs, base).localCheckpoint(true)
  }

  /** The upsert MERGE tail: fold newly-scored edges into a stored
    * graph — affected nodes (any endpoint of a new edge) re-top-k
    * over (their stored edges ∪ new edges); unaffected nodes carried
    * through an anti-join untouched. Exact by the displacement
    * argument in [[knnGraphUpsert]]'s Scaladoc. */
  /** The AFFECTED-node half of [[graphMerge]] (r16): the re-top-k of
    * (the affected nodes' old rows ∪ the new directed edges) — only
    * these nodes' rows can change under a merge, so this IS the
    * graph DELTA a persisted store needs to write per batch.
    * `gOldRows` only needs to CONTAIN the affected nodes' old rows
    * (the inner join prunes anything else), which is what lets the
    * streaming fold feed it a store read pruned to the affected ids
    * instead of the whole graph. */
  private[graft] def graphMergeDelta(gOldRows: DataFrame,
      scored: DataFrame, k: Int): DataFrame = {
    val directedNew = scored.select(col("vec_a").as("vec_id"),
        col("vec_b").as("neighbor_id"), col("cos_ppm"))
      .union(scored.select(col("vec_b").as("vec_id"),
        col("vec_a").as("neighbor_id"), col("cos_ppm")))
    val affected = directedNew.select("vec_id").distinct()
    val merged = gOldRows.select("vec_id", "neighbor_id", "cos_ppm")
      .join(affected, "vec_id")
      .unionByName(directedNew)
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    merged
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("vec_id", "rank", "neighbor_id", "cos_ppm")
  }

  private[graft] def graphMerge(gOld: DataFrame, scored: DataFrame,
      k: Int): DataFrame = {
    val affected = scored.select(col("vec_a").as("vec_id"))
      .union(scored.select(col("vec_b").as("vec_id"))).distinct()
    gOld.join(affected, Seq("vec_id"), "left_anti")
      .unionByName(graphMergeDelta(gOld, scored, k))
      .orderBy("vec_id", "rank")
  }

  /** Anchored-stride dim-block width: 4 bands × 16-dim blocks = the
    * 64-dim embedding — bits per band can grow to 16 without any
    * band's block moving. */
  val AnchorStride: Int = 16

  /** Sign-LSH band table over the prefix-ANCHORED layout
    * ([[graft.functions.VectorOps.signBucketAnchored]]): band b reads
    * dims [b·16, b·16+bits). The packed [[Dedup.vectorBands]] layout
    * re-deals every band's dims when the width changes; anchoring
    * pins them, making wider buckets strict refinements of narrower
    * ones — the property a GROWABLE store needs (see
    * [[knnGraphReband]]). */
  private[graft] def vectorBandsAnchored(embeddings: DataFrame,
      nBands: Int, bits: Int): DataFrame =
    // deliberately NOT spread — same measured negative and corrected
    // mechanism as [[graft.operators.Dedup.vectorBands]] (r17: the
    // keyless exchange + its pre-sort per build cost more than the
    // single-task explode they parallelize; spreading both builders
    // regressed sim_knn_upsert/reband and pipeline_store_vec 1.2–1.4×)
    embeddings.select(col("vec_id"),
      posexplode(array((0 until nBands).map(b =>
          V.signBucketAnchored(col("embedding"), b, bits, AnchorStride)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** From-scratch k-NN graph over the anchored layout — the oracle
    * twin [[knnGraphReband]] must reproduce byte-identically, and the
    * from-scratch arm of KnnRebandSpec's lifecycle. */
  private[graft] def knnGraphAnchored(embeddings: DataFrame, k: Int = 4,
      nBands: Int = 4, bits: Int = 4): DataFrame =
    knnGraphFrom(quantized(embeddings),
      vectorBandsAnchored(embeddings, nBands, bits), k)

  /** Width MIGRATION for a growable k-NN store (r12): the auto-width
    * rule ([[autoBits]]) says band width must GROW with the corpus,
    * but [[knnGraphUpsert]]'s exactness requires a FIXED width — so a
    * long-lived store eventually crosses a width boundary and must
    * re-band. Under the ANCHORED layout the migration w → w' is a
    * pure candidate-set refinement, never a rebuild:
    *
    *   bucket_w'(v) = bucket_w(v) + ext(v)·2^w  (prefix anchoring)
    *   ⇒ co-bucketed at w' in band b ⟺ co-bucketed at w in band b
    *     AND agreeing on the extension bits [w, w') of band b
    *
    * so pairs(w') ⊆ pairs(w) EXACTLY, and every surviving pair's
    * cosine is already in the store. Migration = one id-keyed join of
    * the stored per-band candidate rows against each endpoint's
    * extension bits + the stored-score lookup + the shared top-k tail:
    * NO pair self-join, NO re-scoring — the two costs that make a
    * from-scratch rebuild at 100 TB a full-corpus job. The store here
    * is built inline at width w = autoBits(N) (what a store its size
    * would be running) and migrated to w+1 (what corpus growth is
    * about to demand); the declared oracle IS the from-scratch
    * anchored graph at w+1, so the hash PROVES the migration exact —
    * the [[knnGraphUpsert]] oracle-exactness pattern. At the width
    * ceiling (w = 16 = stride) the extension is empty and migration
    * degenerates to the identity on the candidate set.
    *
    * Store shape note: the migratable store keeps (vec_a, vec_b,
    * band) candidate rows PLUS the distinct scored pairs — the band
    * column is what lets the refinement check run per band without
    * re-deriving who co-bucketed where. Both are candidate-volume-
    * bounded (the same bound the blocker's occupancy cap enforces). */
  def knnGraphReband(embeddings: DataFrame, k: Int = 4, nBands: Int = 4,
                     targetOccupancy: Long = 128L): DataFrame = {
    val base = quantized(embeddings).localCheckpoint(true)
    val fromBits = autoBits(base.count(), targetOccupancy)
    val toBits = math.min(fromBits + 1, AnchorStride)
    val extBits = toBits - fromBits
    // --- the STORE a width-w deployment holds ---------------------
    val bandedOld = vectorBandsAnchored(embeddings, nBands, fromBits)
    // per-band candidate rows (band kept — the refinement key);
    // referenced once but the scored-pair build below re-reads it, so
    // materialize the one candidate fan-out
    val pairBands = pairBandsFrom(bandedOld).localCheckpoint(true)
    val storedScores = scorePairs(
      pairBands.select("vec_a", "vec_b").distinct(), base)
      .localCheckpoint(true)
    // --- the MIGRATION --------------------------------------------
    if (extBits == 0) graphFromScored(storedScores, k)
    else {
      // each vector's extension bits [w, w') per band — a row-local
      // projection over the corpus, the only new corpus-sized read
      val ext = extBitsOf(embeddings, nBands, fromBits, extBits)
      val survived = pairBands
        .join(ext.select(col("vec_id").as("vec_a"), col("band"),
          col("ext").as("ea")), Seq("vec_a", "band"))
        .join(ext.select(col("vec_id").as("vec_b"), col("band"),
          col("ext").as("eb")), Seq("vec_b", "band"))
        .where(col("ea") === col("eb"))
        .select("vec_a", "vec_b").distinct()
      graphFromScored(survived.join(storedScores, Seq("vec_a", "vec_b")), k)
    }
  }

  /** Normalized (vec_a < vec_b) candidate rows of a band table with
    * the band kept — the store's refinement key. Within one band a
    * pair co-buckets at most once, so rows are already distinct. */
  private def pairBandsFrom(banded: DataFrame): DataFrame =
    banded.select(col("band"), col("bucket"), col("vec_id").as("vec_a"))
      .join(banded.select(col("band"), col("bucket"),
        col("vec_id").as("vec_b")), Seq("band", "bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b", "band")

  /** Per-vector extension bits [w, w') per anchored band — the
    * row-local projection [[knnGraphReband]]'s refinement filter
    * reads; the only corpus-sized work in a migration. */
  private def extBitsOf(embeddings: DataFrame, nBands: Int,
      fromBits: Int, extBits: Int): DataFrame =
    embeddings.select(col("vec_id"),
      posexplode(array((0 until nBands).map(b =>
        V.signBucketAnchored(col("embedding"), b, extBits,
          AnchorStride, offset = fromBits)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "ext")

  /** The full vector-store LIFECYCLE as ONE oracle-checked composite
    * (r13 — VERDICT r12 #2, the text twin is
    * [[graft.operators.Dedup.minhashStoreLifecycle]]): BUILD the
    * anchored store over an initial corpus at the width [[autoBits]]
    * derives for it, UPSERT an arriving batch at that width, REBAND
    * w → w+1 (the migration corpus growth is about to demand), then
    * UPSERT a second batch at the migrated width. Folds are vec_id
    * mod 3: fold 0 = initial corpus, fold 1 = first batch, fold 2 =
    * second.
    *
    * The store maintained across stages is the shape the reband
    * Scaladoc declares: the (pair, band) candidate rows, the exact
    * scored pairs, and the graph view. Each stage consumes the
    * previous stage's store — the build's scores seed the first
    * merge, the upserted band rows + scores feed the migration's
    * extension filter and carried scores, the migrated graph absorbs
    * the final batch — so the declared oracle (the from-scratch
    * ANCHORED graph SQL over the FULL corpus at the final width,
    * width derived from the fold-0 count by the same integer
    * comparisons) hash-proves the four-stage COMPOSITION exact.
    *
    * Scale shape = the sum of its parts': upserts cost |batch| ×
    * occupancy, the migration one id-keyed extension join over the
    * stored candidate rows — a rebuild-free store lifetime. */
  def knnStoreLifecycle(embeddings: DataFrame, k: Int = 4,
                        nBands: Int = 4,
                        targetOccupancy: Long = 128L): DataFrame = {
    val fold = pmod(col("vec_id"), lit(3))
    val e0 = embeddings.where(fold === 0)
    val e01 = embeddings.where(fold =!= 2)
    val baseAll = quantized(embeddings).localCheckpoint(true)
    val w1 = autoBits(baseAll.where(fold === 0).count(), targetOccupancy)
    val w2 = math.min(w1 + 1, AnchorStride)
    // (1) BUILD over the initial corpus at the auto width: band rows
    // + exact scored pairs + the graph view, one candidate fan-out
    val pairBands0 = pairBandsFrom(vectorBandsAnchored(e0, nBands, w1))
      .localCheckpoint(true)
    val scores0 = scorePairs(
      pairBands0.select("vec_a", "vec_b").distinct(), baseAll)
      .localCheckpoint(true)
    val g0 = graphFromScored(scores0, k).localCheckpoint(true)
    // (2) UPSERT batch 1 at w1: new candidates all touch the batch —
    // band rows and scores extend by disjoint union, the graph by
    // the affected-node merge
    val banded01 = vectorBandsAnchored(e01, nBands, w1)
    val new1 = e01.where(fold === 1).select("vec_id")
    val newPB1 = banded01.join(new1, "vec_id")
      .select(col("band"), col("bucket"), col("vec_id").as("va"))
      .join(banded01.select(col("band"), col("bucket"),
        col("vec_id").as("vb")), Seq("band", "bucket"))
      .where(col("va") =!= col("vb"))
      .select(least(col("va"), col("vb")).as("vec_a"),
        greatest(col("va"), col("vb")).as("vec_b"), col("band"))
      .distinct()
      .localCheckpoint(true)
    val scoresNew1 = scorePairs(
      newPB1.select("vec_a", "vec_b").distinct(), baseAll)
      .localCheckpoint(true)
    val pairBands01 = pairBands0.unionByName(newPB1)
    // NOT checkpointed (r17): both arms are already checkpointed and
    // the union has exactly ONE consumer (the reband branch's carried-
    // score join; unused entirely when w2 == w1) — the checkpoint was
    // a pure extra action per run
    val scores01 = scores0.unionByName(scoresNew1)
    val g1 = graphMerge(g0, scoresNew1, k).localCheckpoint(true)
    // (3) REBAND w1 → w2: extension-bit agreement over the stored
    // band rows, scores carried — no pair self-join, no re-scoring
    val g2 =
      if (w2 == w1) g1
      else {
        val ext = extBitsOf(e01, nBands, w1, w2 - w1)
        val survived = pairBands01
          .join(ext.select(col("vec_id").as("vec_a"), col("band"),
            col("ext").as("ea")), Seq("vec_a", "band"))
          .join(ext.select(col("vec_id").as("vec_b"), col("band"),
            col("ext").as("eb")), Seq("vec_b", "band"))
          .where(col("ea") === col("eb"))
          .select("vec_a", "vec_b").distinct()
        graphFromScored(survived.join(scores01, Seq("vec_a", "vec_b")), k)
          .localCheckpoint(true)
      }
    // (4) UPSERT batch 2 at the migrated width
    val bandedAll = vectorBandsAnchored(embeddings, nBands, w2)
    val new2 = embeddings.where(fold === 2).select("vec_id")
    graphMerge(g2, newPairsScored(bandedAll, new2, baseAll), k)
  }

  /** Vector-store BUILD pipeline (r10): the retrieval-side composite
    * mirroring what `pipeline_curate` is for text — near-dup the
    * embedding corpus (sign-LSH banded candidates, exact cosine
    * verify, keep-min losers out: `dd_embed_neardup`'s chain), then
    * IVF-assign the SURVIVORS against the deterministic full-corpus
    * codebook, and emit the per-cell build manifest (occupancy, id
    * range, balance vs the survivor-uniform share) an index loader
    * consumes. Dedup-before-index is the production order for a
    * reason the recall ladder measured this round: duplicate-heavy
    * corpora make recall@k tie-break-noise, and every duplicate in a
    * cell is paid on every probe of that cell forever. Composite
    * cost = its parts'; the only new work is one id anti-join and
    * the |cells|-row manifest reduce. */
  def indexPipeline(embeddings: DataFrame, nCentroids: Int = 8): DataFrame =
    indexPipelineFrom(embeddings,
      graft.operators.Dedup.embeddingNearDup(embeddings), nCentroids)

  /** [[indexPipeline]] over the AUTO-width near-dup blocker (r11) —
    * the composite composes the SCALE path, the pipeline_curate
    * auto-k convention applied to the vector side: no hand-tuned
    * band width survives inside the flagship build. */
  def indexPipelineAuto(embeddings: DataFrame,
                        nCentroids: Int = 8): DataFrame =
    indexPipelineFrom(embeddings,
      graft.operators.Dedup.embeddingNearDupAuto(embeddings), nCentroids)

  private def indexPipelineFrom(embeddings: DataFrame, nearDup: DataFrame,
                                nCentroids: Int): DataFrame = {
    val losers = nearDup.select(col("vec_b").as("vec_id")).distinct()
    val full = quantized(embeddings)
    val surv = full.join(losers, Seq("vec_id"), "left_anti")
    val cents: Seq[(Long, Seq[Long], Long)] = full
      .where(col("vec_id") < nCentroids)
      .select("vec_id", "qe", "qn").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    // native argmin on the every-row assign (r16, the knnIvf change)
    surv.select(col("vec_id"),
        vectorNative.centroid_argmin(col("qe"), col("qn"),
          cents.map(_._1), cents.map(_._2.toSeq)).as("cid"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vectors"), min("vec_id").as("min_vec_id"),
        max("vec_id").as("max_vec_id"))
      .crossJoin(broadcast(surv.agg(count(lit(1)).as("total"))))
      .select(col("cid"), col("n_vectors"), col("min_vec_id"),
        col("max_vec_id"),
        expr(s"(1000000 * n_vectors * $nCentroids) div total")
          .as("balance_ppm"))
      .orderBy("cid")
  }

  /** IVF index-health report (r10): per-cell occupancy and balance —
    * the table an operator reads BEFORE trusting [[knnIvf]]-family
    * latency numbers, because IVF cost is gated by the largest probed
    * cell: a 10×-mean cell means 10×-tail queries and, at 100 TB, a
    * straggling scan per probe that hits it. balance_ppm = occupancy
    * relative to the uniform share (1e6 = perfectly balanced), the
    * [[graft.operators.Assembly.shardPlan]] convention on the index
    * side. One hash-agg over the row-local assignment — the report
    * costs one scan. */
  def ivfBalance(embeddings: DataFrame, nCentroids: Int = 8): DataFrame = {
    val base = quantized(embeddings)
    val cents: Seq[(Long, Seq[Long], Long)] = base
      .where(col("vec_id") < nCentroids)
      .select("vec_id", "qe", "qn").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    // native argmin on the every-row assign (r16, the knnIvf change)
    base.select(vectorNative.centroid_argmin(col("qe"), col("qn"),
      cents.map(_._1), cents.map(_._2.toSeq)).as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("total"))))
      .select(col("cid"), col("n_vectors"),
        expr(s"(1000000 * n_vectors * $nCentroids) div total")
          .as("balance_ppm"))
      .orderBy("cid")
  }

  /** One NN-DESCENT refinement round (r10) over [[knnGraph]] — the
    * algorithm (Dong et al., WWW'11) that makes approximate kNN
    * graphs converge: a neighbor's neighbor is likely a neighbor, so
    * each round re-ranks every node over its current edges PLUS its
    * neighbors-of-neighbors, exact-scored. One round is a DECLARED
    * superset re-rank (the candidate set per node contains the
    * current graph's edges, so per-node best cosine is monotonically
    * non-decreasing — spec-pinned), and iterating the operator is
    * the production convergence loop. Scale shape: the NoN expansion
    * is ONE self-equi-join of the k-bounded edge list (≤ N·k² rows,
    * k small by construction — never corpus²), then the same
    * exact-scoring joins and per-node top-k window every graph op
    * here uses. Banding recall gaps close precisely here: a pair the
    * bands missed is recovered through any shared neighbor. */
  def knnDescent(embeddings: DataFrame, k: Int = 4, nBands: Int = 4,
                 bitsPerBand: Int = 4): DataFrame = {
    val base = quantized(embeddings)
    val g = knnGraph(embeddings, k, nBands, bitsPerBand)
      .select("vec_id", "neighbor_id").localCheckpoint(true)
    val non = g.select(col("vec_id"), col("neighbor_id").as("mid"))
      .join(g.select(col("vec_id").as("mid"),
        col("neighbor_id").as("cand")), Seq("mid"))
      .select(col("vec_id"), col("cand").as("neighbor_id"))
      .where(col("vec_id") =!= col("neighbor_id"))
    val cands = g.unionByName(non).distinct()
    val scored = cands
      .join(base.select(col("vec_id"), col("qe").as("qa"),
        col("qn").as("na")), "vec_id")
      .join(base.select(col("vec_id").as("neighbor_id"),
        col("qe").as("qb"), col("qn").as("nb")), "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"),
        V.cosPpm(V.qdot(col("qa"), col("qb")), col("na"), col("nb"))
          .as("cos_ppm"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("vec_id", "rank", "neighbor_id", "cos_ppm")
      .orderBy("vec_id", "rank")
  }

  /** Mutual-kNN graph (r10): [[knnGraph]] edges kept only when BOTH
    * endpoints rank each other — the standard graph-denoising step
    * before clustering/label-propagation (SemDeDup-family pipelines
    * run exactly this filter: a hub that many nodes point at but
    * that points back at none of them contributes no mutual edge, so
    * hub-induced megaclusters dissolve). One self-equi-join of the
    * checkpointed graph on the undirected pair key — the graph feeds
    * two consumers, each side pre-filtered to half the edges
    * (a < b vs a > b), so the join is |edges|-sized, never N·k². */
  def mutualKnn(embeddings: DataFrame, k: Int = 4, nBands: Int = 4,
                bitsPerBand: Int = 4): DataFrame = {
    val g = knnGraph(embeddings, k, nBands, bitsPerBand)
      .localCheckpoint(true)
    val fwd = g.select(col("vec_id").as("vec_a"),
        col("neighbor_id").as("vec_b"), col("cos_ppm"),
        col("rank").as("rank_ab"))
      .where(col("vec_a") < col("vec_b"))
    val rev = g.select(col("neighbor_id").as("vec_a"),
        col("vec_id").as("vec_b"), col("rank").as("rank_ba"))
      .where(col("vec_a") < col("vec_b"))
    fwd.join(rev, Seq("vec_a", "vec_b"))
      .select("vec_a", "vec_b", "cos_ppm", "rank_ab", "rank_ba")
      .orderBy("vec_a", "vec_b")
  }

  /** Threshold RANGE search (r6 — the other similarity-query shape:
    * ALL corpus vectors within cosine ≥ τ of each query, not a fixed
    * top-k; the contract radius joins and near-dup admission want).
    * Brute variant: the query set broadcasts (model-sized, like
    * [[knnBrute]]'s) and the corpus streams through one row-local
    * scoring pass — zero shuffles, no window, output bounded by the
    * radius. At production query-set sizes the LSH-bucketed candidate
    * path ([[lshCandidates]]-style band join + this exact filter) is
    * the same contract with sub-linear candidates — but an
    * approximate candidate set can MISS in-radius neighbors, so the
    * exact scan is the declared (oracle-checkable) semantics. */
  def rangeSearch(embeddings: DataFrame, nQueries: Int = 8,
                  minCosPpm: Long = 300000L): DataFrame = {
    val base = quantized(embeddings)
    val queries = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("qq"),
        col("qn").as("nq"))
    base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        V.cosPpm(V.qdot(col("qq"), col("qe")), col("nq"), col("qn"))
          .as("cos_ppm"))
      .where(col("cos_ppm") >= minCosPpm)
      .orderBy("query_id", "neighbor_id")
  }

  /** IVF (inverted-file) top-k ANN — the codebook path:
    *  - coarse codebook = the quantized vectors of the first
    *    `nCentroids` ids (deterministic sampled training; a k-means
    *    fit would slot in the same place). The codebook is a tiny
    *    MODEL: collected once and re-broadcast as literals, like
    *    TextAnalysis.langId's profiles.
    *  - assignment: row-local exact-integer argmin of squared L2
    *    (‖a‖² + ‖c‖² − 2a·c) — zero shuffles, ties to lowest cid.
    *  - search: the query probes its `nProbe` nearest centroids and
    *    scans only those inverted lists (the join on cid IS the
    *    inverted-list scan), then exact quantized-cosine top-k.
    * Recall < 1 by design; candidates shrink by ~nProbe/nCentroids. */
  def knnIvf(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
             nCentroids: Int = 8, nProbe: Int = 2): DataFrame = {
    val base = quantized(embeddings)
    val cents: Seq[(Long, Seq[Long], Long)] = base
      .where(col("vec_id") < nCentroids)
      .select("vec_id", "qe", "qn").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    // assign runs on EVERY corpus row: the native argmin (one
    // codegen'd reference-object expression) replaces the r6 form
    // element_at(array_sort(array(k structs with aggregate/zip_with
    // dots)), 1) — higher-order functions are CodegenFallback, so
    // that form interpreted k dots per row (r16; same (dist, cid)
    // ranking, parity pinned in VectorNativeSpec). The sorted struct
    // array survives below ONLY for the probe lists, evaluated on
    // the nQueries-row filter.
    val assign = base.select(col("vec_id"), col("qe"), col("qn"),
      vectorNative.centroid_argmin(col("qe"), col("qn"),
        cents.map(_._1), cents.map(_._2.toSeq)).as("cid"))
    val distStructs = cents.map { case (cid, ce, cn) =>
      val dot = aggregate(zip_with(col("qe"), typedLit(ce), (x, y) => x * y),
        lit(0L), (a, v) => a + v)
      struct((col("qn") + cn - lit(2L) * dot).as("dist"), lit(cid).as("cid"))
    }
    val byDist = array_sort(array(distStructs: _*))
    val probes = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        explode(transform(slice(byDist, 1, nProbe), s => s.getField("cid")))
          .as("cid"))
    val scored = assign.join(broadcast(probes), Seq("cid"))
      .where(col("vec_id") =!= col("query_id"))
      .join(broadcast(base.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("qe").as("qq"),
          col("qn").as("nq"))), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        V.cosPpm(V.qdot(col("qq"), col("qe")), col("nq"), col("qn")).as("cos_ppm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_ppm")
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ top-k ANN — the compressed-representation path (the
    * FAISS IVF-PQ layout, re-expressed relationally): on top of
    * [[knnIvf]]'s inverted-file pruning, every base vector is stored
    * as `nSub` product-quantization codes (one codebook entry id per
    * subspace) and scored by asymmetric-distance computation (ADC):
    * approx_dot(q, x) = Σ_m T_q[m][code_m(x)] where T_q is the
    * query's precomputed dot-product table against the codebook.
    *
    * Why this is the 100 TB shape: a 64-dim float vector is 256
    * bytes; its PQ code is `nSub` small ints (8 here — 32×
    * compression), so the scan that scores candidates reads CODES,
    * not vectors — the full-precision embedding column is never
    * touched after encode. The codebook (nSub × nCodes sub-vectors)
    * and the per-query tables are model-sized driver literals, like
    * [[knnIvf]]'s centroids; encode and ADC are row-local
    * projections — the only shuffle-ish op is the broadcast probe
    * join, identical to IVF.
    *
    * Determinism: codebook = sub-vectors of the first `nCodes`
    * quantized ids (deterministic sampled training, same convention
    * as the IVF coarse codebook); encode argmin ranks by
    * (‖c‖² − 2·x_m·c, cid) — exact integers, ties to the lowest
    * sample id; ADC sums exact integer table entries; the final
    * cosine is one double division of exact ints (query side uses
    * its EXACT norm, neighbor side the PQ-reconstructed norm
    * Σ_m ‖c_{m,code}‖² — standard ADC asymmetry). Recall < 1 by
    * design; the exact re-rank of the returned page would slot in
    * as one more join against the full-precision column. */
  def knnIvfPq(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
               nCentroids: Int = 8, nProbe: Int = 2,
               nSub: Int = 8, nCodes: Int = 16,
               literalArgminMaxK: Int = 0): DataFrame = {
    val base = quantized(embeddings)
    // collect through nQueries too: `queries` in ivfPqSearch is sliced
    // from this same collect, and collecting only max(nCentroids,
    // nCodes) would silently drop queries when nQueries exceeds it
    val rows = fitRows(base, math.max(nQueries, math.max(nCentroids, nCodes)))
    if (rows.isEmpty) return emptyKnn(base)
    val sub = subWidth(rows, nSub)
    // PQ codebook keyed by SAMPLE ID (not dense position): a sample
    // excluded by the zero-norm guard must not shift the others'
    // codes, and the oracle addresses entries by vec_id.
    val cb: Seq[(Long, Array[Seq[Long]])] =
      rows.filter(_._1 < nCodes).map { case (id, qe, _) =>
        (id, Array.tabulate(nSub)(m => qe.slice(m * sub, (m + 1) * sub)))
      }
    ivfPqSearch(base, rows, cb, nQueries, k, nCentroids, nProbe, nSub, sub,
      literalArgminMaxK)
  }

  /** [[knnIvfPq]] with Lloyd-TRAINED per-subspace codebooks (the
    * production PQ fit): seeds are the sampled sub-vectors, then
    * `iters` distributed k-means rounds refine each subspace's
    * codebook independently — one (m, code, dim) partial aggregate
    * per round over the exploded sub-vector stream, model collected
    * like [[graft.operators.Cluster]]'s fit. Same deterministic
    * discipline (exact-integer assign, floor(mean) update, empty
    * cell keeps its centroid), but the trained centroids are no
    * longer corpus rows, so no SQL oracle pins it — declared
    * rows-only (x_ prefix), with recall in BASELINE.md "ANN recall
    * evidence". */
  def knnIvfPqTrained(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
                      nCentroids: Int = 8, nProbe: Int = 2,
                      nSub: Int = 8, nCodes: Int = 16,
                      iters: Int = 2,
                      literalArgminMaxK: Int = 0): DataFrame = {
    // the fit iterates over the quantized base: materialize it once
    val base = quantized(embeddings).localCheckpoint(true)
    // nQueries included for the same reason as knnIvfPq: the query
    // rows come out of this collect
    val rows = fitRows(base, math.max(nQueries, math.max(nCentroids, nCodes)))
    if (rows.isEmpty) return emptyKnn(base)
    val sub = subWidth(rows, nSub)
    val seed: Seq[(Long, Array[Seq[Long]])] =
      rows.filter(_._1 < nCodes).map { case (id, qe, _) =>
        (id, Array.tabulate(nSub)(m => qe.slice(m * sub, (m + 1) * sub)))
      }
    val cb = trainCodebooks(base, seed, nSub, sub, iters, literalArgminMaxK)
    ivfPqSearch(base, rows, cb, nQueries, k, nCentroids, nProbe, nSub, sub,
      literalArgminMaxK)
  }

  /** Distributed per-subspace Lloyd: ONE exploded (m, sv) stream
    * feeds every round; assign is a row-local argmin dispatched on m;
    * update is one partial-combinable (m, code, dim) sum/count
    * aggregate whose collected model is nSub × nCodes × sub longs.
    * Exact integer sums (order-independent) + floor(mean) keep the
    * fit rerun-deterministic. */
  private def trainCodebooks(base: DataFrame,
      seed: Seq[(Long, Array[Seq[Long]])], nSub: Int, sub: Int,
      iters: Int, litMaxK: Int): Seq[(Long, Array[Seq[Long]])] = {
    val subs = base.select(explode(array((0 until nSub).map(m =>
        struct(lit(m).as("m"),
          slice(col("qe"), m * sub + 1, sub).as("sv"))): _*)).as("e"))
      .select(col("e.m").as("m"), col("e.sv").as("sv"))
      .localCheckpoint(true)
    var cents: Map[Int, Seq[(Long, Seq[Long])]] = (0 until nSub).map(m =>
      m -> seed.map { case (id, svs) => (id, svs(m)) }).toMap
    for (_ <- 1 to iters) {
      val code = (0 until nSub).map { m =>
        // above litMaxK the per-subspace codebook rides as ONE native
        // reference object (same ceiling as Cluster.assign — k
        // plan-literal expressions stop codegen'ing near 10³);
        // ranking drops the candidate-constant ‖sv‖² in both forms
        m -> (if (cents(m).size > litMaxK)
          vectorNative.centroid_argmin(col("sv"), lit(0L),
            cents(m).map(_._1), cents(m).map(_._2))
        else {
          val ds = cents(m).map { case (cid, cv) =>
            val dot = aggregate(zip_with(col("sv"), typedLit(cv), (x, y) => x * y),
              lit(0L), (a, v) => a + v)
            // packed (dist·64 + id) argmin — see ivfPqSearch
            (lit(dotL(cv, cv)) - lit(2L) * dot) * 64L + cid
          }
          pmod(argminPacked(ds), lit(64L))
        })
      }.foldLeft(lit(null).cast("long")) { case (acc, (m, c)) =>
        when(col("m") === m, c).otherwise(acc)
      }
      // two projections, not one: a generator (posexplode) in the SAME
      // select triggers Spark's generator extraction to re-resolve the
      // sibling expressions, which re-derives the least()-over-structs
      // type with placeholder field names (col1/col2) and breaks the
      // getField("cid") — resolve the argmin first, then explode (the
      // optimizer collapses the projections after analysis anyway)
      val sums = subs.select(col("m"), code.as("cid"), col("sv"))
        .select(col("m"), col("cid"), posexplode(col("sv")))
        .groupBy("m", "cid", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("c"))
        .collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getInt(2),
          r.getLong(3), r.getLong(4)))
      val updated: Map[(Int, Long), Seq[Long]] = sums.groupBy(_._1)
        .map { case (key, rs) =>
          // floor(mean): sums stay far below 2^53 — exact in double
          key -> rs.sortBy(_._2)
            .map(t => math.floor(t._3.toDouble / t._4).toLong).toSeq
        }
      cents = cents.map { case (m, cs) => m -> cs.map { case (cid, old) =>
        (cid, updated.getOrElse((m, cid), old))
      } }
    }
    seed.map { case (id, _) =>
      (id, Array.tabulate(nSub)(m =>
        cents(m).collectFirst { case (cid, cv) if cid == id => cv }.get))
    }
  }

  private def dotL(a: Seq[Long], b: Seq[Long]): Long =
    a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum

  /** least() over packed (dist·64 + id) longs. */
  private def argminPacked(ds: Seq[Column]): Column =
    if (ds.size == 1) ds.head else least(ds: _*)

  /** Fit collect shared by the PQ paths (model-sized, like
    * [[knnIvf]]'s centroids). */
  private def fitRows(base: DataFrame, below: Int): Seq[(Long, Seq[Long], Long)] =
    base.where(col("vec_id") < below)
      .select("vec_id", "qe", "qn").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq, r.getLong(2)))
      .toSeq.sortBy(_._1)

  private def subWidth(rows: Seq[(Long, Seq[Long], Long)], nSub: Int): Int = {
    val dim = rows.head._2.length
    require(dim % nSub == 0, s"dim $dim not divisible by nSub $nSub")
    dim / nSub
  }

  private def emptyKnn(base: DataFrame): DataFrame =
    base.select(col("vec_id").as("query_id"), lit(0L).as("rank"),
      col("vec_id").as("neighbor_id"), lit(0L).as("cos_ppm")).limit(0)

  /** Search core shared by the sampled and trained PQ paths: coarse
    * assign + encode in one row-local projection, driver-side probe
    * lists and ADC tables, broadcast probe join, per-query top-k. */
  private def ivfPqSearch(base: DataFrame, rows: Seq[(Long, Seq[Long], Long)],
      cb: Seq[(Long, Array[Seq[Long]])], nQueries: Int, k: Int,
      nCentroids: Int, nProbe: Int, nSub: Int, sub: Int,
      litMaxK: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    // packed-argmin precondition: ids must fit the 6-bit slot — books
    // that exceed it (e.g. the 256-entry production default) ride the
    // native CentroidArgmin path, which has no id-range limit (r6:
    // was a hard require, making nCodes > 64 unusable at default
    // litMaxK; bit-parity of the two paths is spec-pinned)
    val packedCb = cb.size <= litMaxK &&
      cb.forall(e => e._1 >= 0 && e._1 < 64)
    val packedCents = nCentroids <= litMaxK && nCentroids <= 64
    val cents = rows.filter(_._1 < nCentroids)
    val cbNorm2: Array[Map[Long, Long]] =
      Array.tabulate(nSub)(m => cb.map { case (id, svs) =>
        id -> dotL(svs(m), svs(m))
      }.toMap)
    // ---- coarse assign (same shape as knnIvf) + PQ encode: ONE
    // row-local projection emits cid and the nSub codes. The argmin
    // packs (dist, id) into ONE long — dist·64 + id is monotone in
    // (dist, id) for id < 64, so least() over longs ranks exactly
    // like the oracle's ORDER BY dist, cid (ties to the lowest id)
    // at a fraction of the struct comparator's expression size.
    // No overflow: |dist| ≤ 3·dim·Q² ≈ 2^28, ×64 ≪ 2^63. ----
    val codeCols = (0 until nSub).map { m =>
      (if (!packedCb)
        // native codebook reference (offset selects subspace m in
        // qe directly — no slice materialization per row)
        vectorNative.centroid_argmin(col("qe"), lit(0L),
          cb.map(_._1), cb.map(_._2(m)), offset = m * sub)
      else {
        val ds = cb.map { case (id, svs) =>
          val cv = svs(m)
          val dot = aggregate(zip_with(
            slice(col("qe"), m * sub + 1, sub), typedLit(cv), (x, y) => x * y),
            lit(0L), (a, v) => a + v)
          // ‖x_m‖² is constant across candidates — rank by the reduced
          // (‖c‖² − 2·dot, id), exactly what the oracle orders by
          (lit(dotL(cv, cv)) - lit(2L) * dot) * 64L + id
        }
        pmod(argminPacked(ds), lit(64L))
      }).as(s"code$m")
    }
    val cidCol =
      if (!packedCents)
        vectorNative.centroid_argmin(col("qe"), col("qn"),
          cents.map(_._1), cents.map(_._2.toSeq))
      else {
        val coarsePacked = cents.map { case (cid, ce, cn) =>
          val dot = aggregate(zip_with(col("qe"), typedLit(ce), (x, y) => x * y),
            lit(0L), (a, v) => a + v)
          (col("qn") + cn - lit(2L) * dot) * 64L + cid
        }
        pmod(argminPacked(coarsePacked), lit(64L))
      }
    val assign = base.select(
      Seq(col("vec_id"), cidCol.as("cid")) ++ codeCols: _*)
    // ---- query-side models: probe lists + ADC tables (driver,
    // exact integer arithmetic mirroring the oracle) ----
    val queries = rows.filter(_._1 < nQueries)
    val probes = queries.flatMap { case (qid, qe, qn) =>
      cents.map { case (cid, ce, cn) => (qn + cn - 2L * dotL(qe, ce), cid) }
        .sorted.take(nProbe).map { case (_, cid) => (qid, cid) }
    }.toDF("query_id", "cid")
    val n2a = (0 until nSub).map(m =>
      element_at(typedlit(cbNorm2(m)), col(s"code$m"))).reduce(_ + _)
    val cosPq = queries.map { case (qid, qe, qn) =>
      val t: Array[Map[Long, Long]] = Array.tabulate(nSub)(m =>
        cb.map { case (id, svs) =>
          id -> dotL(qe.slice(m * sub, (m + 1) * sub), svs(m))
        }.toMap)
      val adot = (0 until nSub).map(m =>
        element_at(typedlit(t(m)), col(s"code$m"))).reduce(_ + _)
      (qid, floor((lit(1000000.0) * adot) / (sqrt(lit(qn)) * sqrt(col("n2a"))))
        .cast("long"))
    }.foldLeft(lit(null).cast("long")) { case (acc, (qid, c)) =>
      when(col("query_id") === qid, c).otherwise(acc)
    }
    val scored = assign.join(broadcast(probes), Seq("cid"))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("n2a", n2a).where(col("n2a") > 0)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosPq.as("cos_ppm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_ppm")
      .orderBy("query_id", "rank")
  }

  /** Two-stage retrieval: [[knnIvfPq]] produces a cheap candidate
    * PAGE (top-`page` by ADC over codes), then only those
    * `page × nQueries` rows are re-scored with the exact quantized
    * cosine from the full-precision column — the standard
    * compressed-index + exact-re-rank layout (how PQ indexes are
    * actually served). At 100 TB the first stage never touches the
    * vector column; the second is a point-lookup join whose input
    * cardinality is the page size, not the corpus. */
  def knnIvfPqRerank(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
                     page: Int = 20, nCodes: Int = 16): DataFrame =
    rerank(embeddings,
      knnIvfPq(embeddings, nQueries, k = page, nCodes = nCodes),
      nQueries, k)

  /** The exact re-rank stage alone: re-score any candidate page
    * (query_id, neighbor_id, …) with the TRUE quantized cosine from
    * the full-precision column and take top-k — a point-lookup join
    * whose input cardinality is the page size, not the corpus.
    * Composable over any first-stage index (sampled PQ, trained PQ,
    * LSH) — [[knnIvfPqRerank]] is this over [[knnIvfPq]]'s page. */
  def rerank(embeddings: DataFrame, page: DataFrame,
             nQueries: Int = 8, k: Int = 5): DataFrame = {
    val base = quantized(embeddings)
    val cand = page.select("query_id", "neighbor_id")
    val rescored = cand
      .join(base.select(col("vec_id").as("neighbor_id"),
        col("qe"), col("qn")), "neighbor_id")
      .join(broadcast(base.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("qe").as("qq"),
          col("qn").as("nq"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        V.cosPpm(V.qdot(col("qq"), col("qe")), col("nq"), col("qn")).as("cos_ppm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_ppm")
      .orderBy("query_id", "rank")
  }

  /** LSH-bucketed top-k: same contract as [[knnBrute]] but candidates
    * are limited to same-band-bucket vectors (approximate recall). */
  def knnLshBucketed(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
                     nBands: Int = 4, bitsPerBand: Int = 4): DataFrame =
    cosTopK(lshScored(embeddings, nQueries, nBands, bitsPerBand), k)

  /** Candidate generation + exact re-score half of [[knnLshBucketed]]
    * (r13 split, see [[bruteScored]]). Bucket keys are per-vector
    * functions of content alone, so a sub-corpus's candidate set is
    * exactly this one restricted to its endpoints. */
  private def lshScored(embeddings: DataFrame, nQueries: Int,
      nBands: Int, bitsPerBand: Int): DataFrame = {
    val base = quantized(embeddings)
    val banded = embeddings.select(col("vec_id"),
      posexplode(array((0 until nBands).map(b =>
        V.signBucket(col("embedding"), b, bitsPerBand)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val queryBands = banded.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band"), col("bucket"))
    val candidates = banded.join(broadcast(queryBands), Seq("band", "bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id")).distinct()
    // Re-score join: the broadcast side MUST be the query subset, not
    // the whole corpus — the equi-join on query_id keeps results
    // identical either way, but broadcasting the unfiltered base is an
    // OOM at any real scale (the filter below is what every sibling
    // path — knnBrute, ivfPqSearch, knnIvfPqRerank — already does).
    candidates
      .join(base.select(col("vec_id").as("neighbor_id"), col("qe"), col("qn")), "neighbor_id")
      .join(broadcast(base.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"),
          col("qe").as("qq"), col("qn").as("nq"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        V.cosPpm(V.qdot(col("qq"), col("qe")), col("nq"), col("qn")).as("cos_ppm"))
  }

  /** Packed-bit-signature kNN (r7 continuation): Charikar SimHash
    * applied to EMBEDDINGS — each vector compresses to the 64-bit
    * word of its first-64-component signs, and neighbor ranking is
    * Hamming distance via ONE xor + popcount (codegen'd `bit_count`).
    * The missing point in the ANN design space here: [[knnBrute]] is
    * exact but pays a 128-dim dot per pair; [[knnLshBucketed]] is
    * sublinear but recall < 1 by construction; THIS is compressed
    * brute force — still exhaustive (recall of the Hamming metric is
    * 1), but per-pair cost drops from 128 multiply-adds on 512 bytes
    * to one 8-byte xor+popcount, a ~64× arithmetic/bandwidth cut
    * that also makes the signature table small enough to CACHE where
    * the float matrix is not. Ranking ties break on neighbor_id; the
    * signature build is a row-local projection riding the scan. */
  def knnBitsig(embeddings: DataFrame, nQueries: Int = 8,
      k: Int = 5): DataFrame =
    hamTopK(bitsigScored(embeddings, nQueries), k)

  /** All-pairs Hamming scoring half of [[knnBitsig]] (r13 split, see
    * [[bruteScored]]) — signatures are per-vector content functions. */
  private def bitsigScored(embeddings: DataFrame,
      nQueries: Int): DataFrame = {
    val sig = Partitioning.spread(embeddings)
      .select(col("vec_id"),
        (0 until 64).map(i =>
          when(get(col("embedding"), lit(i)) > 0.0f, lit(1L << i))
            .otherwise(lit(0L))).reduce(_ + _).as("sig"))
    val queries = sig.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("sig").as("qsig"))
    sig.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        bit_count(col("sig").bitwiseXOR(col("qsig"))).cast("long")
          .as("hamming"))
  }

  /** [[cosTopK]]'s Hamming twin: ascending distance, same tie-break. */
  private def hamTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "hamming")
      .orderBy("query_id", "rank")
  }

  /** Scalar-quantized (SQ8) kNN — the int8-code rung of the
    * compression ladder between [[knnBitsig]] (1 bit/dim, Hamming
    * ranking) and [[knnIvfPq]] (sub-vector codebooks): each corpus
    * vector stores a per-vector affine int8 code
    * (code_i = ⌊(q_i − min)·255 / (max − min)⌋ — 4× smaller than the
    * fixed-point column, no training step, unlike PQ), and search is
    * ASYMMETRIC — the query stays full precision and scores against
    * the dequantized corpus code, so quantization error is paid once
    * per pair, not twice. This is the shape FAISS's SQ8 / production
    * vector stores default to when PQ's codebook fit is not worth it:
    * still exhaustive (no recall cliff, unlike banded LSH), memory
    * cut 4×, and the reconstruct + dot is one row-local projection
    * riding the scan — zero shuffles beyond [[knnBrute]]'s own.
    * All arithmetic is exact integers (code and reconstruction use
    * `div` on non-negative numerators, identical in both engines);
    * the degenerate constant vector (max == min) reconstructs as
    * itself. Ties break on neighbor_id; contract matches
    * [[knnBrute]]. */
  def knnSq8(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame =
    cosTopK(sq8Scored(embeddings, nQueries), k)

  /** All-pairs asymmetric SQ8 scoring half of [[knnSq8]] (r13 split,
    * see [[bruteScored]]) — the code and its reconstruction are
    * per-vector affine functions of content alone. */
  private def sq8Scored(embeddings: DataFrame,
      nQueries: Int): DataFrame = {
    val base = quantized(embeddings)
    val coded = base
      .withColumn("mn", array_min(col("qe")))
      .withColumn("mx", array_max(col("qe")))
      .withColumn("recon", expr(
        "CASE WHEN mx > mn THEN transform(qe, x -> mn + " +
          "((((x - mn) * 255) div (mx - mn)) * (mx - mn)) div 255) " +
          "ELSE qe END"))
      .withColumn("rn2", V.qnorm2(col("recon")))
      .where(col("rn2") > 0)
    val queries = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("qq"),
        col("qn").as("nq"))
    coded.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        V.cosPpm(V.qdot(col("qq"), col("recon")), col("nq"), col("rn2"))
          .as("cos_ppm"))
  }

  /** IVF + SQ8 — the FAISS `IndexIVFScalarQuantizer` shape: inverted-
    * file cell pruning ([[knnIvf]]'s assignment and probe rule,
    * unchanged) with cells storing SQ8 CODES instead of full vectors
    * ([[knnSq8]]'s per-vector affine int8 round-trip). This is the
    * production default when PQ's codebook fit isn't worth it: the
    * probe scan touches nProbe/nCentroids of the corpus AND reads 4×
    * fewer bytes per touched vector, the two savings compose
    * multiplicatively, and unlike PQ there is no training step to
    * keep in sync with corpus drift. Scoring stays ASYMMETRIC (full-
    * precision query × dequantized cell code, error paid once per
    * pair) and all reconstruction math is the exact-integer round
    * trip the SQ8 oracle pins, so both engines rank identically.
    * Shape: centroid table is a collected model artifact (bounded,
    * like every codebook here); assignment + reconstruction are one
    * row-local projection riding the scan; candidates ride a
    * broadcast (query, cell) probe join — zero shuffles. */
  def knnIvfSq8(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
                nCentroids: Int = 8, nProbe: Int = 2): DataFrame = {
    val base = quantized(embeddings)
    val cents: Seq[(Long, Seq[Long], Long)] = base
      .where(col("vec_id") < nCentroids)
      .select("vec_id", "qe", "qn").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    val distStructs = cents.map { case (cid, ce, cn) =>
      val dot = aggregate(zip_with(col("qe"), typedLit(ce), (x, y) => x * y),
        lit(0L), (a, v) => a + v)
      struct((col("qn") + cn - lit(2L) * dot).as("dist"), lit(cid).as("cid"))
    }
    val byDist = array_sort(array(distStructs: _*))
    // the cell's stored representation IS the code: reconstruct once
    // per stored vector, full-precision column never read again.
    // Native argmin on the every-row assign (r16, the knnIvf change);
    // byDist survives for the nQueries-row probe lists only.
    val assign = base
      .select(col("vec_id"), col("qe"),
        vectorNative.centroid_argmin(col("qe"), col("qn"),
          cents.map(_._1), cents.map(_._2.toSeq)).as("cid"))
      .withColumn("mn", array_min(col("qe")))
      .withColumn("mx", array_max(col("qe")))
      .withColumn("recon", expr(
        "CASE WHEN mx > mn THEN transform(qe, x -> mn + " +
          "((((x - mn) * 255) div (mx - mn)) * (mx - mn)) div 255) " +
          "ELSE qe END"))
      .withColumn("rn2", V.qnorm2(col("recon")))
      .where(col("rn2") > 0)
      .select("vec_id", "cid", "recon", "rn2")
    val probes = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        explode(transform(slice(byDist, 1, nProbe), s => s.getField("cid")))
          .as("cid"))
    val scored = assign.join(broadcast(probes), Seq("cid"))
      .where(col("vec_id") =!= col("query_id"))
      .join(broadcast(base.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("qe").as("qq"),
          col("qn").as("nq"))), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        V.cosPpm(V.qdot(col("qq"), col("recon")), col("nq"), col("rn2"))
          .as("cos_ppm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_ppm").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_ppm")
      .orderBy("query_id", "rank")
  }

  /** ANN recall ladder (r10): every approximate retrieval rung this
    * engine ships — bitsig (1 bit/dim Hamming), SQ8 (int8 affine),
    * sign-LSH banding, IVF (2-probe), IVF-SQ8, IVF-PQ — measured
    * against [[knnBrute]]'s exact top-k on the SAME queries, reduced
    * to per-method returned/hit counts and integer-ppm recall@k.
    * The retrieval twin of `dd_blocker_recall`: the blocker table
    * decides which candidate generator a dedup corpus gets; THIS
    * table decides which index shape a retrieval corpus gets — the
    * compression/recall trade read off one page, measured on the
    * actual corpus rather than assumed from FAISS folklore. Cost is
    * the sum of its rungs (the point of an eval); every rung is the
    * identical declared operator, so the ladder can never drift from
    * what production runs. Truth and the rung union are checkpointed
    * once (each feeds two consumers); the reduce is per-method
    * counts + one 1-row truth broadcast. */
  def recallLadder(embeddings: DataFrame, nQueries: Int = 8,
                   k: Int = 5): DataFrame = {
    val truth = knnBrute(embeddings, nQueries, k)
      .select("query_id", "neighbor_id").localCheckpoint(true)
    val arms: Seq[(String, DataFrame)] = Seq(
      "bitsig" -> knnBitsig(embeddings, nQueries, k),
      "ivf" -> knnIvf(embeddings, nQueries, k),
      "ivfpq" -> knnIvfPq(embeddings, nQueries, k),
      "ivfsq" -> knnIvfSq8(embeddings, nQueries, k),
      "lsh" -> knnLshBucketed(embeddings, nQueries, k),
      "sq8" -> knnSq8(embeddings, nQueries, k))
    ladderReduce(arms, truth)
  }

  /** The ladder's shared reduce: per-method returned/hit counts vs a
    * checkpointed truth set + the one-row truth-size broadcast. */
  private def ladderReduce(arms: Seq[(String, DataFrame)],
      truth: DataFrame): DataFrame = {
    val union = arms.map { case (m, df) =>
      df.select(lit(m).as("method"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _).localCheckpoint(true)
    val returned = union.groupBy("method").agg(count(lit(1)).as("n_returned"))
    val hits = union
      .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("method").agg(count(lit(1)).as("n_hits"))
    val nt = truth.agg(count(lit(1)).as("n_truth"))
    returned.join(hits, Seq("method"), "left")
      .na.fill(0L, Seq("n_hits"))
      .crossJoin(broadcast(nt))
      .select(col("method"), col("n_returned"), col("n_hits"), col("n_truth"),
        expr("1000000 * n_hits div n_truth").as("recall_ppm"))
      .orderBy("method")
  }

  /** Retrieval-after-dedup ladder (r11, VERDICT r10 #5): the r10
    * lesson "measure recall AFTER dedup, or the ladder lies in both
    * directions" (duplicate-heavy corpora turn recall@k into
    * tie-break noise: a missed twin of a returned duplicate counts
    * as a miss, a returned twin counts as a hit — neither says
    * anything about the index) made into a declared, measured query:
    * the SAME ladder protocol ([[recallLadder]] — per-method
    * approximate top-k scored against that corpus's own brute-force
    * truth) run on the raw corpus AND on the
    * [[Dedup.embeddingNearDup]] survivor set `pipeline_index`
    * actually indexes. Two corpora, one protocol — the delta between
    * the halves is the duplicate-induced distortion.
    *
    * IMPLEMENTATION HISTORY — measured, then simplified BACK (r14,
    * VERDICT r13 #4): r13 restructured this to share the four
    * content-only rungs (score once, checkpoint, endpoint-restrict
    * for the dedup half) on the argument that shared scoring scales
    * as nQueries × N while the unshareable parts do not. The r14
    * measurement at production nQueries (BASELINE.md r14 ledger
    * item 4, interleaved
    * best-of-2, shared vs this two-independent-ladders form) REFUTED
    * it at scale: 10× probe (20k vecs) nq=8 29.3 vs 24.8 s, nq=64
    * 33.5 vs 29.8, nq=256 71.1 vs 53.8 — the independent form wins
    * everywhere and the gap GROWS with nQueries, because the shared
    * form's localCheckpoint materialization of four nQueries×N
    * scored tables (write + re-read + the pinned storage) costs MORE
    * than the quantized-integer re-scoring it saves, and that
    * materialization scales with the same nQueries × N. (At sf0.1,
    * N=2k, the shared form edged ahead only at nq=256: 34.7 vs
    * 37.3 — a constant-factor trade that inverts as N grows, i.e.
    * exactly the wrong direction for production.) Per the r13
    * verdict's own decision rule — "if the shared form doesn't win
    * by nQueries = 256, simplify back" — this is the simple form
    * again: one full [[recallLadder]] per corpus, each rung's
    * scoring pipelined straight into its top-k with nothing
    * materialized. CodeAssemblySpec's definitional pin (raw + surv
    * ladders) is unchanged — the r13 form was proven row-identical
    * to this one, so declared hashes are identical too; walls in
    * BASELINE.md "r14 verdict-item ledger" #4. */
  def recallLadderPostDedup(embeddings: DataFrame, nQueries: Int = 8,
                            k: Int = 5): DataFrame = {
    val losers = graft.operators.Dedup.embeddingNearDup(embeddings)
      .select(col("vec_b").as("vec_id")).distinct()
    val surv = embeddings.join(losers, Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    recallLadder(embeddings, nQueries, k)
      .select(lit("raw").as("corpus"), col("*"))
      .unionByName(recallLadder(surv, nQueries, k)
        .select(lit("dedup").as("corpus"), col("*")))
      .orderBy("corpus", "method")
  }

  /** Maximum-inner-product top-k (MIPS) — retrieval by RAW integer
    * dot product, no normalization: the scoring a recommender or
    * learned-retrieval stack wants when vector norms carry signal
    * (popularity, confidence, term importance) that cosine's
    * normalization erases. Same plan shape as [[knnBrute]]
    * (broadcast model-sized query set, one row-local scoring pass,
    * per-query top-k window), but the score is [[V.qdot]]'s exact
    * integer — no sqrt anywhere on this path, so the oracle restates
    * it with pure integer ops. The shared [[quantized]] base drops
    * zero-norm vectors; for MIPS that exclusion is cosmetic (a zero
    * vector scores 0 against every query and cannot displace a
    * positive-dot neighbor). */
  def mipsBrute(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val base = quantized(embeddings)
    val queries = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("qq"))
    val scored = base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        V.qdot(col("qq"), col("qe")).as("dot_q"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot_q").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dot_q")
      .orderBy("query_id", "rank")
  }

  /** MIPS inverted-file ANN — the scale path for [[mipsBrute]]:
    * lists are built exactly like [[knnIvf]]'s (coarse codebook =
    * first `nCentroids` quantized ids, row-local exact-integer L2
    * argmin assignment — standard MIPS-IVF practice clusters by
    * geometry), but the QUERY ranks centroids by raw dot product
    * descending (ties to the lowest cid) and scans its `nProbe`
    * best inner-product lists; candidates then get the exact
    * integer dot. Same broadcast-probe join plan as IVF; recall < 1
    * by design — a high-norm outlier in an unprobed cell is missed,
    * the MIPS-specific failure mode that more probes buy back. */
  def mipsIvf(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5,
              nCentroids: Int = 8, nProbe: Int = 2): DataFrame = {
    val base = quantized(embeddings)
    val cents: Seq[(Long, Seq[Long], Long)] = base
      .where(col("vec_id") < nCentroids)
      .select("vec_id", "qe", "qn").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    def centDot(ce: Seq[Long]): Column =
      aggregate(zip_with(col("qe"), typedLit(ce), (x, y) => x * y),
        lit(0L), (a, v) => a + v)
    // native argmin on the every-row assign (r16, the knnIvf change)
    val assign = base.select(col("vec_id"), col("qe"),
      vectorNative.centroid_argmin(col("qe"), col("qn"),
        cents.map(_._1), cents.map(_._2.toSeq)).as("cid"))
    // probe ranking: (-dot, cid) ascending == dot descending, ties
    // to the lowest cid — the array_sort trick [[knnIvf]] uses for
    // L2, negated for inner product
    val probeStructs = cents.map { case (cid, ce, _) =>
      struct((-centDot(ce)).as("ndot"), lit(cid).as("cid"))
    }
    val byDot = array_sort(array(probeStructs: _*))
    val probes = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        explode(transform(slice(byDot, 1, nProbe), s => s.getField("cid")))
          .as("cid"))
    val scored = assign.join(broadcast(probes), Seq("cid"))
      .where(col("vec_id") =!= col("query_id"))
      .join(broadcast(base.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("qe").as("qq"))), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        V.qdot(col("qq"), col("qe")).as("dot_q"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot_q").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dot_q")
      .orderBy("query_id", "rank")
  }

  /** Embedding drift report (r11): per label, the cosine between the
    * centroids of two corpus halves (vec_id parity — the stand-in
    * for "yesterday's snapshot vs today's"; production passes real
    * snapshot tags). The monitoring primitive for an embedding
    * pipeline: a model/preprocessing regression shows up as a
    * centroid shift long before retrieval metrics move.
    *
    * Exactness discipline: the centroid is the per-dimension integer
    * floor-mean of the QUANTIZED vectors (sum div n) — components
    * return to |c| ≤ 1024, so the centroid dot products stay ≲ 2⁶,
    * exactly representable in an IEEE double on both engines (raw
    * component SUMS would cross 2⁵³ and put an inexact double dot
    * under the hash). Scale shape: one (label, half, dim) hash agg
    * over the exploded dims (map-side combinable, |labels|·2·dims
    * groups), one |labels|-sized join — the corpus is scanned once,
    * nothing collects. */
  def driftReport(embeddings: DataFrame): DataFrame = {
    val base = quantized(embeddings)
      .join(embeddings.select("vec_id", "label"), "vec_id")
      .select(col("label"), (col("vec_id") % 2).cast("long").as("half"),
        posexplode(col("qe")))
    val cent = base.groupBy("label", "half", "pos")
      .agg(sum("col").as("s"), count(lit(1)).as("n"))
      // floor of the IEEE double quotient, NOT integer `div`:
      // component sums go negative and trunc ≠ floor there (the
      // rel_slope lesson); both engines share IEEE division so the
      // floors agree exactly
      .select(col("label"), col("half"), col("pos"),
        floor(col("s") / col("n")).cast("long").as("c"), col("n"))
    // |labels|·2 rows, referenced by both join sides — materialize
    // once (model-sized checkpoint rule) or the corpus agg runs twice
    val packed = cent.groupBy("label", "half")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          e => e.getField("c")).as("cv"),
        max("n").as("n"))
      .localCheckpoint(true)
    val a = packed.where(col("half") === 0)
      .select(col("label"), col("cv").as("ca"), col("n").as("n_a"))
    val b = packed.where(col("half") === 1)
      .select(col("label"), col("cv").as("cb"), col("n").as("n_b"))
    val dot = aggregate(zip_with(col("ca"), col("cb"), (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)
    def n2(c: org.apache.spark.sql.Column) =
      aggregate(zip_with(c, c, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    a.join(b, "label")
      // degenerate all-zero centroid (possible only on adversarial
      // inputs — every floor-mean component 0) has no direction:
      // excluded identically on both engines rather than hashing an
      // engine-specific inf/NaN rendering
      .where(n2(col("ca")) > 0 && n2(col("cb")) > 0)
      .select(col("label"), col("n_a"), col("n_b"),
        floor(lit(1000000.0) * dot / (sqrt(n2(col("ca")))
          * sqrt(n2(col("cb"))))).cast("long").as("drift_cos_ppm"))
      .orderBy("label")
  }
}
