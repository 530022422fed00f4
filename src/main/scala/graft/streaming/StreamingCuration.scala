package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Streaming forms of the corpus-curation operators — the continuous-
  * ingest path of the training-data pipeline (documents arriving as a
  * stream get deduped / quality-gated / decontaminated before landing
  * in the corpus store). Stream shape: (ts: timestamp, doc_id: bigint,
  * text: string).
  *
  * Scale design per operator:
  *  - [[dedupStream]]: hash-exact dedup keyed on the 128-bit md5 of
  *    the text via dropDuplicatesWithinWatermark — state is ONE tiny
  *    row per distinct hash inside the watermark horizon (the hash,
  *    not the text, is the key: state size is bounded and the shuffle
  *    is on a uniform key, no text-length skew). 128 bits keep the
  *    birthday bound (~n²/2^129) negligible at any corpus size; a
  *    48-bit key would silently drop distinct colliding texts at the
  *    billions-of-docs scale this module targets.
  *  - [[qualityGate]]: stateless row-local filter — identical
  *    expressions to the batch TextAnalysis quality score, so the
  *    batch and streaming paths CANNOT diverge.
  *  - [[contaminationTag]]: the eval/benchmark shingle set is a tiny
  *    MODEL (like langId profiles) baked in as a literal array →
  *    row-local arrays_overlap, stateless — the streaming equivalent
  *    of the batch broadcast join in Dedup.contamination.
  */
object StreamingCuration {

  /** Exact streaming dedup: first arrival of each distinct text wins;
    * duplicates arriving within the watermark horizon are dropped.
    * State per key is evicted once the watermark passes it. */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs.withColumn("fp", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .select("ts", "doc_id", "text")

  /** Stateless quality gate: same formula as
    * TextAnalysis.qualityScore; keeps docs with quality ≥ minPpm. */
  def qualityGate(docs: DataFrame, minPpm: Long = 750000L): DataFrame = {
    val ws = TextOps.words(col("text"))
    val nTok = size(ws).cast("long")
    val nStop = aggregate(ws, lit(0L), (acc, w) =>
      acc + when(w.isin(graft.operators.TextAnalysis.Stopwords: _*), 1L)
        .otherwise(0L))
    val stopPpm = floor(lit(1000000.0) * nStop / greatest(nTok, lit(1L)))
      .cast("long")
    val quality = lit(1000000L) - floor(stopPpm / 2L).cast("long") -
      when(nTok < 20L, 250000L).otherwise(0L)
    docs.withColumn("quality_ppm", quality)
      .where(col("quality_ppm") >= minPpm)
  }

  /** Benchmark-decontamination tag: flags docs sharing any word
    * n-gram with the (small, literal) eval-set shingle collection. */
  def contaminationTag(docs: DataFrame, evalShingles: Seq[String],
                       n: Int = 5): DataFrame =
    docs.withColumn("contaminated",
      arrays_overlap(TextOps.wordShingles(col("text"), n),
        typedLit(evalShingles)))

  /** Streaming incremental-ingest admit: drop arriving docs whose
    * content hash already exists in the STATIC corpus — a
    * stream-static LEFT ANTI join (stateless on the stream side: the
    * static relation is joined per micro-batch, re-broadcast/reused
    * by Spark). The batch form with near-dup labeling is
    * Dedup.incremental; this is its always-on ingest gate. */
  def admitStream(docs: DataFrame, corpus: DataFrame): DataFrame = {
    val corpusFp = corpus.select(md5(col("text")).as("fp")).distinct()
    docs.withColumn("fp", md5(col("text")))
      .join(corpusFp, Seq("fp"), "left_anti")
      .select("ts", "doc_id", "text")
  }

  /** Streaming NEAR-DUP admit for text (r9, VERDICT r8 #8) — the
    * missing middle between [[admitStream]] (exact hash only) and
    * [[admitVectorStream]] (vectors): arriving documents are dropped
    * when the STATIC corpus already holds a syntactic near-duplicate.
    * Same inverted stateless layout as the vector twin:
    *  - each arriving doc computes its one-permutation MinHash
    *    signature as a row-local codegen'd PROJECTION
    *    (functions.textNative.oph_sig — one md5 per shingle, no
    *    explode, no shuffle, no state), exactly the
    *    [[graft.operators.Dedup.ophSignatures]] scale path;
    *  - the corpus is pre-aggregated ONCE per snapshot into a
    *    (band, bucket) → list<sig> lookup (the
    *    [[graft.operators.Dedup.ophLsh]] banding, bucket = ':'-joined
    *    slots; occupancy-capped upstream if a corpus has degenerate
    *    boilerplate buckets);
    *  - one stream-static LEFT join per band on the bucket string,
    *    then a row-local `exists` verify: signature agreement
    *    (matching slots / K, the MinHash Jaccard estimate in ppm —
    *    the same estimator ophLsh emits) ≥ `minEstJaccardPpm`.
    * LSH recall < 1 means rare near-dups slip through (the measured
    * operating point is dd_blocker_recall's minhash/oph rows); docs
    * with fewer than `shingleN` words have no signature and are
    * ADMITTED (nothing to compare — the batch family drops them from
    * pairing for the same reason). Stream shape:
    * (ts: timestamp, doc_id: bigint, text: string).
    *
    * Banding (r12): `bandsOverride = None` derives (b, r) from the
    * corpus snapshot count via the batch blocker's rule
    * ([[graft.operators.Dedup.autoBandRows]]) — one count on the
    * static side at stream-build time, the same move
    * [[admitVectorStream]] makes with autoBits. A gate pinned at the
    * hand-fixed 8×2 would probe 2-slot buckets long after the corpus
    * crossed the 10⁴ boundary where the measured banding table says
    * 4-slot buckets carry the same dup yield at a fraction of the
    * candidate volume. An explicit Some(bands) remains for parity
    * pinning against a fixed-banding batch twin. */
  def admitNearDupStream(docs: DataFrame, corpus: DataFrame,
                         shingleN: Int = 3,
                         bandsOverride: Option[Int] = None,
                         minEstJaccardPpm: Long = 500000L,
                         maxBucketSize: Option[Int] = None): DataFrame = {
    import graft.functions.{PortableHash => PH}
    val bands = bandsOverride.getOrElse {
      val n = corpus
        .where(length(col("text")) - length(replace(col("text"), lit(" ")))
          >= shingleN - 1).count()
      PH.MinhashK / graft.operators.Dedup.autoBandRows(n)
    }
    val corpusSigs = corpus.where(hasShingles(col("text"), shingleN))
      .select(graft.functions.textNative
        .oph_sig(col("text"), shingleN).as("sig"))
    // persist: the corpus snapshot really is built ONCE (r9 review
    // finding — without it each of the `bands` stream-static joins
    // re-executes the full corpus scan + md5-per-shingle signature
    // pass EVERY micro-batch; the cache lives for the streaming
    // query's lifetime, which is the snapshot's intended lifetime)
    val corpusBuckets = ophBucketsOf(corpusSigs, bands, maxBucketSize)
      .persist()
    val base = docs.withColumn("sig",
      when(hasShingles(col("text"), shingleN),
        graft.functions.textNative.oph_sig(col("text"), shingleN)))
    ophAdmit(base, corpusBuckets, bands, minEstJaccardPpm)
      .select("ts", "doc_id", "text")
  }

  /** ≥ shingleN words (so the doc has at least one shingle). */
  private[graft] def hasShingles(c: org.apache.spark.sql.Column,
      shingleN: Int): org.apache.spark.sql.Column =
    length(c) - length(replace(c, lit(" "))) >= shingleN - 1

  /** Band-b bucket key of an OPH signature: ':'-joined slot values —
    * the [[graft.operators.Dedup.ophLsh]] banding. */
  private[graft] def ophBucket(sig: org.apache.spark.sql.Column,
      b: Int, rowsPerBand: Int): org.apache.spark.sql.Column =
    concat_ws(":", (0 until rowsPerBand).map(r =>
      get(sig, lit(b * rowsPerBand + r)).cast("string")): _*)

  /** Signature-agreement MinHash Jaccard estimate in ppm. The agree
    * count is the native [[graft.functions.vectorNative.sig_agree]]
    * (r17) — this runs inside `exists(cands, …)` per candidate per
    * band, where the HOF `aggregate(zip_with(when))` form cost K=64
    * interpreted dispatches per candidate (parity pinned in
    * VectorNativeSpec). */
  private[graft] def ophEstPpm(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import graft.functions.{PortableHash => PH}
    floor(lit(1000000.0) * graft.functions.vectorNative.sig_agree(a, b)
      / PH.MinhashK).cast("long")
  }

  /** (band, bucket) → list<sig> lookup of a signature relation — the
    * gate snapshot shape, shared with the maintained-store loop
    * ([[StoreMaintenance]], which aggregates it from persisted band
    * rows instead of re-signing a corpus). `maxBucketSize` caps a
    * degenerate bucket with the batch family's semantics
    * ([[graft.operators.Dedup.capBuckets]]: occupancy > cap ⇒ the
    * bucket is dropped whole — it carries no discrimination signal,
    * and ONE crawl-scale boilerplate bucket would otherwise become
    * one unbounded candidate-array row = executor OOM, r15 VERDICT
    * r14 #2). The cap is a window count over the SAME (band, bucket)
    * key the aggregate shuffles on — the exchange is reused and the
    * oversized array is never materialized. */
  private[graft] def ophBucketsOf(sigs: DataFrame, bands: Int,
      maxBucketSize: Option[Int] = None): DataFrame = {
    import graft.functions.{PortableHash => PH}
    val rowsPerBand = PH.MinhashK / bands
    require(bands * rowsPerBand == PH.MinhashK)
    val banded = sigs.select(col("sig"),
        posexplode(array((0 until bands).map(b =>
          ophBucket(col("sig"), b, rowsPerBand)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    graft.operators.Dedup.capBuckets(banded, maxBucketSize)
      .groupBy("band", "bucket")
      .agg(collect_list(col("sig")).as("cands"))
  }

  /** The shared OPH admission core: per-band stream-static LEFT joins
    * of `base` (must carry a nullable `sig` column; sigless rows are
    * ADMITTED) against a (band, bucket, cands) lookup, then the
    * row-local signature-agreement verify. Returns base's columns. */
  private[graft] def ophAdmit(base: DataFrame, corpusBuckets: DataFrame,
      bands: Int, minEstJaccardPpm: Long): DataFrame = {
    import graft.functions.{PortableHash => PH}
    val rowsPerBand = PH.MinhashK / bands
    val outCols = base.columns.toSeq
    val joined = (0 until bands).foldLeft(base) { (df, b) =>
      df.join(corpusBuckets.where(col("band") === b)
          .select(col("bucket").as(s"bk$b"), col("cands").as(s"cands$b")),
        ophBucket(col("sig"), b, rowsPerBand) === col(s"bk$b"), "left")
    }
    val matched = (0 until bands).map { b =>
      coalesce(exists(col(s"cands$b"), c =>
        ophEstPpm(col("sig"), c) >= minEstJaccardPpm), lit(false))
    }.reduce(_ || _)
    joined.where(!matched).select(outCols.map(col): _*)
  }

  /** Streaming VECTOR admit (r5) — the streaming twin of
    * Dedup.embeddingIncremental: arriving embeddings are dropped when
    * a NEAR-duplicate (quantized cosine ≥ minCosPpm) exists in the
    * static corpus. Fully STATELESS on the stream side — the shapes
    * that need stream-side state (a candidate explode + re-aggregate,
    * or an anti-join back to the stream, which would be an
    * unsupported stream-stream join) are avoided by inverting the
    * layout:
    *  - the corpus is pre-aggregated ONCE per snapshot into a
    *    (band, bucket) → list<(qe, norm)> lookup table, with
    *    `maxBucketSize` capping degenerate buckets exactly like the
    *    batch LSH family (occupancy > cap ⇒ bucket dropped whole,
    *    via a window count so the oversized array never builds —
    *    r15, the cap this Scaladoc promised before it was plumbed);
    *  - each arriving vector computes its `nBands` bucket keys as
    *    plain columns and takes one stream-static LEFT join per band;
    *  - the verify is a row-local `exists` over the joined candidate
    *    lists — exact quantized cosine, no shuffle, no state.
    * LSH recall < 1 means rare near-dups slip through — the standard
    * ingest-gate trade, same as the batch twin. Stream shape:
    * (ts: timestamp, vec_id: bigint, embedding: array<float>).
    *
    * Band width (r12): `bitsPerBand = None` derives it from the
    * corpus snapshot count via the SAME rule the batch blocker uses
    * ([[graft.operators.Similarity.autoBits]]) — one count on the
    * static side at stream-build time, the knnGraphAuto shape. The
    * r11 batch side mechanized this width; a stream gate pinned at
    * the old fixed 4 would probe quadratic-occupancy buckets the
    * moment the corpus outgrows them. An explicit Some(bits) remains
    * for parity pinning against a fixed-width batch twin. */
  def admitVectorStream(vecs: DataFrame, corpus: DataFrame,
                        nBands: Int = 4, bitsPerBand: Option[Int] = None,
                        minCosPpm: Long = 400000L,
                        maxBucketSize: Option[Int] = None): DataFrame = {
    import graft.functions.{VectorOps => V}
    // width from the USABLE corpus (quantized norm > 0) — the same
    // count every batch autoBits derivation uses (r13 alignment; a
    // zero-norm-heavy corpus would otherwise run one bit wider than
    // its batch twin at the boundary)
    val bitsPB = bitsPerBand.getOrElse(
      graft.operators.Similarity.autoBits(corpus
        .where(V.qnorm2(V.quantize(col("embedding"))) > 0).count()))
    val corpusQ = corpus
      .select(col("vec_id"), V.quantize(col("embedding")).as("qb"))
      .select(col("vec_id"), col("qb"), V.qnorm2(col("qb")).as("nb"))
      .where(col("nb") > 0)
    // NOT persisted, unlike the text gate's corpusBuckets — measured
    // (BASELINE.md, "Streaming near-dup admit gate throughput (r9)"):
    // the static side here is a cheap quantize + tiny aggregate, and
    // caching it HALVED throughput (6.5k -> 3.2k rows/s; the cached
    // relation flips the per-band join off its broadcast plan), while
    // the text gate's md5-per-shingle pass gains +18% from its persist.
    // Rebuild-per-batch is the right trade when the snapshot build is
    // cheaper than the strategy distortion.
    val corpusBanded = corpus.select(col("vec_id"),
        posexplode(array((0 until nBands).map(b =>
          V.signBucket(col("embedding"), b, bitsPB)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .join(corpusQ, "vec_id")
    val corpusBuckets = graft.operators.Dedup
      .capBuckets(corpusBanded, maxBucketSize)
      .groupBy("band", "bucket")
      .agg(collect_list(struct(col("qb"), col("nb"))).as("cands"))
    val base = vecs.select(col("ts"), col("vec_id"), col("embedding"),
        V.quantize(col("embedding")).as("qa"))
      .withColumn("na", V.qnorm2(col("qa")))
    vecAdmit(base, corpusBuckets, nBands, bitsPB, minCosPpm)
      .select("ts", "vec_id", "embedding")
  }

  /** The shared vector admission core: per-band LEFT joins of `base`
    * (must carry `embedding`, quantized `qa` and its norm `na`)
    * against a (band, bucket, cands:list<(qb, nb)>) lookup, then the
    * row-local exact quantized-cosine verify. A zero-norm arrival has
    * no cosine to any candidate — ADMIT it without the verify (cosPpm
    * would divide by zero; the batch family excludes zero-norm rows
    * from pairing the same way — found by the r12 width-parity spec's
    * sin-generated vec 0). Returns base's columns. */
  private[graft] def vecAdmit(base: DataFrame, corpusBuckets: DataFrame,
      nBands: Int, bitsPB: Int, minCosPpm: Long): DataFrame = {
    import graft.functions.{VectorOps => V}
    val outCols = base.columns.toSeq
    val joined = (0 until nBands).foldLeft(base) { (df, b) =>
      df.join(corpusBuckets.where(col("band") === b)
          .select(col("bucket").as(s"bk$b"), col("cands").as(s"cands$b")),
        V.signBucket(col("embedding"), b, bitsPB) === col(s"bk$b"),
        "left")
    }
    val matched = col("na") > 0 && (0 until nBands).map { b =>
      coalesce(exists(col(s"cands$b"), c =>
        V.cosPpm(V.qdot(col("qa"), c.getField("qb")), col("na"),
          c.getField("nb")) >= minCosPpm), lit(false))
    }.reduce(_ || _)
    joined.where(!matched).select(outCols.map(col): _*)
  }

  /** Streaming model application (r11): score arriving docs with a
    * BATCH-fit classifier model — the batch-fit / stream-score loop
    * ([[graft.operators.TextAnalysis.sourceModel]] refreshes the
    * model offline; this query serves it continuously). The model is
    * vocabulary-sized so it is NOT collected: tokens explode
    * stateless, stream-static LEFT join on the token (absent tokens
    * keep the doc present with all-zero scores — argmax-neutral,
    * same law as the batch classifier), then ONE windowed stateful
    * agg per (window, doc_id) with the per-class score as a
    * conditional sum — the class list is the only collected piece
    * (|classes| rows, a model-sized literal like langId's profiles).
    * The argmax folds right-to-left over the sorted class list with
    * ≥, which lands ties on the alphabetically-first class — the
    * SAME pinned tie-break as the batch classifier. Emits on window
    * close (append mode): (window, doc_id, predicted_source, score).
    * State: |docs in window| × |classes| conditional sums inside the
    * watermark horizon — bounded, id-keyed, no text payload.
    * OPERATIONAL BOUNDARY: the per-label columns make the checkpoint
    * state schema a function of the label SET — a model refresh that
    * keeps the labels resumes in place (lifecycle spec), one that
    * GROWS them cannot; deployments that refresh label sets run
    * [[classifyStreamLong]] (labels as data, schema-stable across
    * growth) and derive this argmax downstream via
    * [[classifyArgmax]]. */
  def classifyStream(docs: DataFrame, model: DataFrame,
                     windowLen: String = "1 minute",
                     watermark: String = "1 hour"): DataFrame = {
    val labels = model.select("label").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    require(labels.nonEmpty, "classifyStream: empty model")
    val toks = docs.withWatermark("ts", watermark)
      .select(col("ts"), col("doc_id"),
        explode(TextOps.words(col("text"))).as("w"))
    val scored = toks.join(model, Seq("w"), "left")
    // score columns are INDEX-named over the sorted label list (r12,
    // review finding): a label value containing a dot, space, or
    // backtick would make a label-derived col(s"s_$label") fail to
    // resolve (Spark parses dots as struct access) — the label string
    // only ever appears as a literal, never as an identifier
    val perLabel = labels.zipWithIndex.map { case (l, i) =>
      sum(when(col("label") === l, col("weight_ppm")).otherwise(0L))
        .as(s"s_$i")
    }
    val agg = scored
      .groupBy(window(col("ts"), windowLen), col("doc_id"))
      .agg(perLabel.head, perLabel.tail: _*)
    val init = struct(col(s"s_${labels.size - 1}").as("score"),
      lit(labels.last).as("label"))
    val best = labels.zipWithIndex.dropRight(1).reverse
      .foldLeft(init) { case (acc, (l, i)) =>
        when(col(s"s_$i") >= acc.getField("score"),
          struct(col(s"s_$i").as("score"), lit(l).as("label")))
          .otherwise(acc)
      }
    agg.select(col("window"), col("doc_id"),
      best.getField("label").as("predicted_source"),
      best.getField("score").as("score"))
  }

  /** Schema-stable LONG-format streaming classifier (r14, VERDICT
    * r13 #2): [[classifyStream]]'s wide output is one conditional-sum
    * column PER LABEL, so its checkpoint state schema is a function
    * of the model's label SET — a refresh that GROWS the labels is a
    * schema change the stream cannot resume across (the r13
    * documented boundary). This variant closes it the way the
    * banding boundaries were closed: labels are DATA, not columns —
    * the stateful agg groups by (window, doc_id, label) and sums ONE
    * value column, so the state schema is label-set-INDEPENDENT and
    * a 3-label → 5-label model swap resumes from the same checkpoint
    * (new labels are just new grouping-key values;
    * StreamingCurationSpec drives the 3→5 refresh across a kill with
    * exactly-once). Emits on window close:
    * (window, doc_id, label, score_ppm); a token with no model hit
    * keeps its doc present through the NULL-label arm (score 0) —
    * the presence row [[classifyArgmax]] needs to reproduce the wide
    * form's zero-hit tie-break downstream. State per window:
    * |docs| × (|hit labels| + 1) sums inside the watermark horizon —
    * bounded, id-keyed, no text payload. */
  def classifyStreamLong(docs: DataFrame, model: DataFrame,
                         windowLen: String = "1 minute",
                         watermark: String = "1 hour"): DataFrame = {
    val toks = docs.withWatermark("ts", watermark)
      .select(col("ts"), col("doc_id"),
        explode(TextOps.words(col("text"))).as("w"))
    toks.join(model, Seq("w"), "left")
      .groupBy(window(col("ts"), windowLen), col("doc_id"), col("label"))
      .agg(coalesce(sum("weight_ppm"), lit(0L)).as("score_ppm"))
  }

  /** The argmax [[classifyStreamLong]]'s consumers derive DOWNSTREAM
    * (batch over the landed long rows — the wide form's
    * (score desc, label asc) tie-break reproduced exactly): absent
    * labels score 0, so the zero-hit fallback is the alphabetically
    * first MODEL label, injected as a synthetic candidate per
    * present (window, doc_id) — any real candidate beating (0,
    * firstLabel) under the shared order wins, exactly as it would
    * among the wide form's zero-filled columns. Assumes nonnegative
    * model weights (every trained model here emits floor-div ppm
    * shares ≥ 0). Output schema = [[classifyStream]]'s. */
  def classifyArgmax(scored: DataFrame, labels: Seq[String]): DataFrame = {
    require(labels.nonEmpty, "classifyArgmax: empty label set")
    val first = labels.sorted.head
    val synthetic = scored.select(col("window"), col("doc_id")).distinct()
      .select(col("window"), col("doc_id"), lit(first).as("label"),
        lit(0L).as("score_ppm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window", "doc_id")
      .orderBy(col("score_ppm").desc, col("label").asc)
    scored.where(col("label").isNotNull).unionByName(synthetic)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("window"), col("doc_id"),
        col("label").as("predicted_source"), col("score_ppm").as("score"))
  }

  /** Streaming drift monitor (r11): per (window, label), the cosine
    * between the arriving batch's centroid and the STATIC baseline
    * corpus centroid ([[graft.operators.Similarity.labelCentroids]]) —
    * the alert surface for an embedding-pipeline regression (the
    * batch form is `sim_drift_report`; this is its always-on twin
    * over windows instead of corpus halves).
    *
    * Stream shape: (ts: timestamp, vec_id: bigint, embedding:
    * array<float>, label: int). Design: ONE windowed stateful agg —
    * the per-dimension component sums are `dims` conditional sum
    * columns generated at PLAN time (dims read from one baseline
    * row, a model-sized lookup), so no explode-then-regroup and no
    * chained stateful operators; the centroid mean is the shared
    * floor-of-IEEE-quotient; the baseline joins in stream-static by
    * label after the agg (|labels|-sized). State per window:
    * |labels| × (dims + 1) longs — bounded, payload-free. Rows whose
    * quantized norm is zero are excluded exactly as the batch
    * quantized() gate does. */
  def driftStream(vecs: DataFrame, baseline: DataFrame,
                  windowLen: String = "1 minute",
                  watermark: String = "1 hour"): DataFrame = {
    import graft.functions.{VectorOps => V}
    val base = baseline.localCheckpoint(true)
    val dims = base.select(size(col("cv"))).head().getInt(0)
    val q = vecs.withWatermark("ts", watermark)
      .select(col("ts"), col("label"), V.quantize(col("embedding")).as("qe"))
      .withColumn("qn", V.qnorm2(col("qe")))
      .where(col("qn") > 0)
    val sums = (0 until dims).map(i =>
      sum(get(col("qe"), lit(i))).as(s"s_$i"))
    val agg = q.groupBy(window(col("ts"), windowLen), col("label"))
      .agg(count(lit(1)).as("n"), sums: _*)
    val cw = array((0 until dims).map(i =>
      floor(col(s"s_$i") / col("n")).cast("long")): _*)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    agg.withColumn("cw", cw)
      .where(dot(col("cw"), col("cw")) > 0)
      .join(base.select(col("label"), col("cv").as("cb")), "label")
      .select(col("window"), col("label"), col("n"),
        floor(lit(1000000.0) * dot(col("cw"), col("cb"))
          / (sqrt(dot(col("cw"), col("cw")))
            * sqrt(dot(col("cb"), col("cb"))))).cast("long")
          .as("drift_cos_ppm"))
  }
}
