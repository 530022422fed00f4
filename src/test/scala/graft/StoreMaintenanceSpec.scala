package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{StoreMaintenance, StreamingCuration}

/** r15 store-maintenance hardening (VERDICT r14 #1/#2/#3/#5 + all
  * three ADVICE items): fold pruning to batch-probed buckets,
  * degenerate-bucket caps, the persisted vector store's width
  * migration, in-generation auto-compaction, the superseded-`c`
  * crash window, cross-batch redelivery of gate-invisible rows, and
  * the deterministic within-batch representative. */
class StoreMaintenanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp((10000 + minute) * 60000L)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def vec(seed: Int): Seq[Float] =
    (0 until 64).map(d => math.sin((seed + 1) * (d + 1)).toFloat)
  private val zeroVec = Seq.fill(64)(0.0f)

  private def docIds(store: String): Seq[Long] =
    StoreMaintenance.textStoreDocs(spark, store).get
      .collect().map(_.getLong(1)).toSeq
  private def vecIds(store: String): Seq[Long] =
    StoreMaintenance.vecStoreVecs(spark, store).get
      .collect().map(_.getLong(1)).toSeq

  test("writeDocsWithBloom needs input it can recompute: a frame that is " +
    "not checkpointed or local is rejected before anything is written") {
    val ids = spark.range(0L, 6L, 1L, 2).select(col("id").as("vec_id"))
    val rejected = Seq(
      "a source scan" -> ids,
      "a lazy checkpoint" -> ids.localCheckpoint(false),
      "a nondeterministic projection" ->
        ids.localCheckpoint(true).withColumn("vec_id", (rand(7) * 10).cast("long")))
    rejected.foreach { case (what, docs) =>
      val dir = new java.io.File(tmp("graft-bloom-reject"), "seg").toString
      intercept[IllegalArgumentException](StoreMaintenance.writeDocsWithBloom(docs, "vec_id", dir))
      assert(!new java.io.File(dir).exists, s"$what: wrote $dir")
    }
    Seq("an eager checkpoint" -> ids.localCheckpoint(true),
      "local rows" -> Seq(1L, 2L, 3L).toDF("vec_id")).foreach { case (what, docs) =>
      val dir = new java.io.File(tmp("graft-bloom-accept"), "seg").toString
      StoreMaintenance.writeDocsWithBloom(docs, "vec_id", dir)
      assert(new java.io.File(dir, "_IDBLOOM").isFile, what)
      assert(spark.read.parquet(dir).count() == docs.count(), what)
    }
  }

  test("superseded-c crash window (r15, ADVICE): a manifested older c " +
    "segment lingering past a later rewrite is IGNORED by readers (no " +
    "double-counted docs) and reaped by the next compaction entry") {
    def textBatch(b: Int) = (0 until 30).map { j =>
      val i = b * 30 + j
      (ts(b), i.toLong,
        (0 until 8).map(t => s"w${i * 977 + t * 131}").mkString(" "))
    }.toDF("ts", "doc_id", "text")
    val store = tmp("graft-supc")
    for (b <- 0 until 3)
      StoreMaintenance.foldTextBatch(textBatch(b), b.toLong, store)
    assert(StoreMaintenance.compactStore(spark, store) == 3) // -> c2
    // keep the manifested c2 aside, then advance and compact again
    val aside = java.nio.file.Files.createTempDirectory("graft-supc-keep")
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(from).forEach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
        ()
      }
    }
    copyTree(java.nio.file.Paths.get(s"$store/rows/c2"),
      aside.resolve("rows"))
    copyTree(java.nio.file.Paths.get(s"$store/docs/c2"),
      aside.resolve("docs"))
    for (b <- 3 until 5)
      StoreMaintenance.foldTextBatch(textBatch(b), b.toLong, store)
    assert(StoreMaintenance.compactStore(spark, store) == 2) // -> c4
    val cleanIds = docIds(store)
    assert(cleanIds.size == cleanIds.distinct.size)
    // CRASH WINDOW: the new c4 manifest landed but the superseded c2
    // delete didn't — restore c2 alongside c4
    copyTree(aside.resolve("rows"), java.nio.file.Paths.get(s"$store/rows/c2"))
    copyTree(aside.resolve("docs"), java.nio.file.Paths.get(s"$store/docs/c2"))
    // readers must see the SAME store — c2's docs are a subset of c4's
    // and would double-count every one of them if read
    val ids = docIds(store)
    assert(ids.sorted == cleanIds.sorted,
      "a superseded manifested c segment double-counted its docs")
    assert(StoreMaintenance.committedBatches(store) == (0L to 4L),
      "committed ids must survive the lingering superseded manifest")
    // a fold against the lingering state admits identically
    StoreMaintenance.foldTextBatch(textBatch(5), 5L, store)
    assert(docIds(store).size == docIds(store).distinct.size)
    // the next compaction entry reaps the superseded dirs
    StoreMaintenance.compactStore(spark, store)
    assert(!new java.io.File(s"$store/rows/c2").exists &&
      !new java.io.File(s"$store/docs/c2").exists,
      "compactRecovery must reap superseded manifested c dirs")
  }

  test("compaction-retry and partial-rename crash arms (r15 review): a " +
    "retry after crash-mid-deletion must not read+overwrite its own c " +
    "segment (covered b leftovers are reaped first), and a reband crash " +
    "between the docs and rows renames completes forward — the docs " +
    "record survives") {
    def textBatch(b: Int) = (0 until 20).map { j =>
      val i = b * 20 + j
      (ts(b), i.toLong,
        (0 until 8).map(t => s"w${i * 977 + t * 131}").mkString(" "))
    }.toDF("ts", "doc_id", "text")
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(from).forEach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
        ()
      }
    }
    // --- compaction retry: crash after the c2 manifest landed but
    // before the covered b dirs were deleted; the retry used to pick
    // last == 2 again and overwrite rows/c2 while reading it
    val store = tmp("graft-cretry")
    for (b <- 0 until 3)
      StoreMaintenance.foldTextBatch(textBatch(b), b.toLong, store)
    val keep = java.nio.file.Files.createTempDirectory("graft-cretry-keep")
    for (k <- Seq("rows", "docs"))
      copyTree(java.nio.file.Paths.get(s"$store/$k/b1"), keep.resolve(k))
    assert(StoreMaintenance.compactStore(spark, store) == 3) // -> c2
    val before = docIds(store).sorted
    for (k <- Seq("rows", "docs")) // the crash leftover
      copyTree(keep.resolve(k), java.nio.file.Paths.get(s"$store/$k/b1"))
    // the retry (what the auto-compacting sink runs on restart) must
    // neither throw nor lose data, and must reap the covered leftover
    StoreMaintenance.compactStore(spark, store)
    assert(docIds(store).sorted == before)
    assert(!new java.io.File(s"$store/rows/b1").exists,
      "covered b leftover must be reaped by the retry")
    assert(StoreMaintenance.committedBatches(store) == (0L to 2L))

    // --- partial-rename reband crash: docs renamed forward, rows tmp
    // (the journal) still pending — recovery must complete FORWARD,
    // never roll the docs record back
    assert(StoreMaintenance.rebandTextStore(spark, store) == 4)
    val last = StoreMaintenance.committedBatches(store).max
    // reconstruct the mid-state: rows/c<last> (journal inside) back
    // into the pending tmp position
    val cDir = new java.io.File(s"$store/rows/c$last")
    val tmpDir = new java.io.File(s"$store/rows/.tmp_reband")
    assert(cDir.renameTo(tmpDir))
    StoreMaintenance.foldTextBatch(textBatch(9), 9L, store)
    assert(new java.io.File(s"$store/rows/c$last").exists &&
      !tmpDir.exists, "recovery must rename the pending rows forward")
    val ids = docIds(store)
    assert(ids.size == ids.distinct.size && ids.toSet.size >= 60,
      s"docs record lost across the partial-rename recovery: ${ids.size}")
  }

  test("cross-batch redelivery of gate-invisible rows (r15, ADVICE): a " +
    "SIGLESS doc / ZERO-NORM vector redelivered under a NEW batchId is " +
    "not duplicated — the stored-id guard covers what the near-dup gate " +
    "cannot see") {
    val store = tmp("graft-redeliver-text")
    val b0 = Seq((ts(0), 1L, "alpha beta gamma delta epsilon"),
      (ts(0), 9L, "hi")).toDF("ts", "doc_id", "text") // 9 sigless
    StoreMaintenance.foldTextBatch(b0, 0L, store)
    assert(docIds(store).sorted == Seq(1L, 9L))
    // at-least-once redelivery under a NEW batchId: doc 1 self-gates
    // (near-dups itself), doc 9 has no signature — only the id guard
    // protects it
    StoreMaintenance.foldTextBatch(b0, 1L, store)
    assert(docIds(store).sorted == Seq(1L, 9L),
      s"redelivered batch duplicated rows: ${docIds(store).sorted}")
    // a genuinely new sigless doc still admits
    StoreMaintenance.foldTextBatch(
      Seq((ts(2), 10L, "yo")).toDF("ts", "doc_id", "text"), 2L, store)
    assert(docIds(store).sorted == Seq(1L, 9L, 10L))

    val vstore = tmp("graft-redeliver-vec")
    val v0 = Seq((ts(0), 1L, vec(1)), (ts(0), 5L, zeroVec))
      .toDF("ts", "vec_id", "embedding")
    StoreMaintenance.foldVecBatch(v0, 0L, vstore)
    assert(vecIds(vstore).sorted == Seq(1L, 5L))
    StoreMaintenance.foldVecBatch(v0, 1L, vstore)
    assert(vecIds(vstore).sorted == Seq(1L, 5L),
      s"redelivered zero-norm vector duplicated: ${vecIds(vstore).sorted}")
    StoreMaintenance.foldVecBatch(
      Seq((ts(2), 6L, zeroVec)).toDF("ts", "vec_id", "embedding"),
      2L, vstore)
    assert(vecIds(vstore).sorted == Seq(1L, 5L, 6L))
  }

  test("deterministic within-batch representative (r15, ADVICE): a " +
    "vec_id repeated with DIFFERENT embeddings picks the content-hash " +
    "minimum regardless of row order, so a crash-before-commit replay " +
    "rebuilds the identical graph") {
    val rows = Seq((ts(0), 10L, vec(1)), (ts(0), 10L, vec(2)),
      (ts(0), 20L, vec(5)), (ts(0), 30L, vec(6)))
    def graphOf(data: Seq[(Timestamp, Long, Seq[Float])]): Seq[(Long, Long, Long, Long)] = {
      val s = tmp("graft-rep")
      StoreMaintenance.foldKnnGraphBatch(
        data.toDF("ts", "vec_id", "embedding").repartition(7), 0L, s)
      StoreMaintenance.knnGraphCurrent(spark, s).get
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq.sorted
    }
    val g1 = graphOf(rows)
    val g2 = graphOf(rows.reverse)
    assert(g1 == g2, "representative depended on arrival order")
    // the pick is the xxhash64-minimum embedding, pinned
    val picked = Seq(("a", vec(1)), ("b", vec(2))).toDF("tag", "e")
      .orderBy(xxhash64(col("e")).asc, hash(col("e")).asc)
      .limit(1).collect().head.getString(0)
    val expected = if (picked == "a") vec(1) else vec(2)
    val qeExpected = Seq(Tuple1(expected)).toDF("e")
      .select(graft.functions.VectorOps.quantize(col("e")))
      .collect().head.getSeq[Long](0)
    val s3 = tmp("graft-rep3")
    StoreMaintenance.foldKnnGraphBatch(
      rows.toDF("ts", "vec_id", "embedding"), 0L, s3)
    val storedQe = spark.read.parquet(s"$s3/rows/b0")
      .where(col("vec_id") === 10L).select("qe")
      .collect().head.getSeq[Long](0)
    assert(storedQe == qeExpected)
  }

  test("fold pruning is exact and the bucket cap has batch-family " +
    "semantics (r15, VERDICT #1/#2): pruned folds equal the UNPRUNED " +
    "lookup's admissions on a dense corpus; a degenerate bucket under " +
    "the cap stops gating (its arrivals admit) while healthy buckets " +
    "still gate") {
    // dense corpus: 120 docs in 4 batches, every 5th a near-dup of an
    // earlier doc — admissions exercise many buckets per fold
    def textBatch(b: Int) = (0 until 30).map { j =>
      val i = b * 30 + j
      val base = if (i % 5 == 0 && i > 0) i - 5 else i
      (ts(b), i.toLong,
        (0 until 8).map(t => s"w${base * 977 + t * 131}").mkString(" "))
    }
    val store = tmp("graft-pruned")
    var corpus = Seq.empty[(Timestamp, Long, String)]
    for (b <- 0 until 4) {
      val batch = textBatch(b)
      StoreMaintenance.foldTextBatch(
        batch.toDF("ts", "doc_id", "text"), b.toLong, store)
      // the UNPRUNED form: the full-corpus lookup aggregate the r14
      // fold built — ophBucketsOf over ALL admitted signatures
      val sigs = corpus.toDF("ts", "doc_id", "text")
        .where(StreamingCuration.hasShingles(col("text"), 3))
        .select(graft.functions.textNative.oph_sig(col("text"), 3).as("sig"))
      val lookup = StreamingCuration.ophBucketsOf(sigs, 8)
      val base = batch.toDF("ts", "doc_id", "text").withColumn("sig",
        when(StreamingCuration.hasShingles(col("text"), 3),
          graft.functions.textNative.oph_sig(col("text"), 3)))
      val admitted = StreamingCuration.ophAdmit(base, lookup, 8, 500000L)
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2)))
      corpus ++= admitted
    }
    assert(docIds(store).toSet == corpus.map(_._2).toSet,
      "bucket-pruned fold diverged from the unpruned lookup")

    // cap semantics, vector side: 6 all-positive vectors co-bucket in
    // every band (the degenerate boilerplate bucket); vec(40)/vec(41)
    // live in healthy buckets
    def posVec(seed: Int): Seq[Float] =
      (0 until 64).map(d => (0.1f + ((seed * 31 + d * 7) % 89) / 100.0f))
    val corpusV = ((0 until 6).map(i => (ts(0), i.toLong, posVec(i))) :+
      (ts(0), 40L, vec(40))).toDF("ts", "vec_id", "embedding")
    val arrivals = Seq((ts(1), 100L, posVec(2)), // dup inside degenerate bucket
      (ts(1), 101L, vec(40)), // dup of a healthy-bucket vector
      (ts(1), 102L, vec(55))) // genuinely new
      .toDF("ts", "vec_id", "embedding")
    val uncapped = StreamingCuration.admitVectorStream(arrivals, corpusV,
      bitsPerBand = Some(4)).collect().map(_.getLong(1)).toSet
    assert(uncapped == Set(102L))
    val capped = StreamingCuration.admitVectorStream(arrivals, corpusV,
      bitsPerBand = Some(4), maxBucketSize = Some(5))
      .collect().map(_.getLong(1)).toSet
    // the degenerate bucket (occupancy 6 > 5) stops gating -> 100
    // admits; the healthy bucket still gates -> 101 still dropped
    assert(capped == Set(100L, 102L),
      s"cap semantics wrong: $capped")
    // capped == uncapped on a healthy corpus (cap above any occupancy)
    val cappedHigh = StreamingCuration.admitVectorStream(arrivals, corpusV,
      bitsPerBand = Some(4), maxBucketSize = Some(100))
      .collect().map(_.getLong(1)).toSet
    assert(cappedHigh == uncapped)

    // text gate twin: 6 docs with identical text co-bucket everywhere
    val corpusT = ((0 until 6).map(i =>
      (ts(0), i.toLong, "alpha beta gamma delta epsilon")) :+
      (ts(0), 40L, "one two three four five"))
      .toDF("ts", "doc_id", "text")
    val arrivalsT = Seq((ts(1), 100L, "alpha beta gamma delta epsilon"),
      (ts(1), 101L, "one two three four five"),
      (ts(1), 102L, "red orange yellow green blue"))
      .toDF("ts", "doc_id", "text")
    def admitT(cap: Option[Int]) = StreamingCuration.admitNearDupStream(
      arrivalsT, corpusT, bandsOverride = Some(8), maxBucketSize = cap)
      .collect().map(_.getLong(1)).toSet
    assert(admitT(None) == Set(102L))
    assert(admitT(Some(5)) == Set(100L, 102L))
    assert(admitT(Some(100)) == Set(102L))

    // and through the persisted fold: the capped store admits the
    // degenerate-bucket dup, still gates the healthy one
    val storeCap = tmp("graft-capfold")
    StoreMaintenance.foldTextBatch(corpusT, 0L, storeCap,
      maxBucketSize = Some(5))
    StoreMaintenance.foldTextBatch(arrivalsT, 1L, storeCap,
      maxBucketSize = Some(5))
    assert(docIds(storeCap).toSet ==
      (0L until 6L).toSet + 40L + 100L + 102L)
  }

  test("rebandVecStore (r15, VERDICT #3): the persisted vector store " +
    "migrates to a wider band from its own docs record with CARRIED " +
    "quantization, subsequent folds pick the new width up from the " +
    "data, the chain equals the width-switching batch-fold oracle, and " +
    "the incomplete-journal crash arm rolls back") {
    import graft.functions.{VectorOps => V}
    def vecBatch(b: Int): Seq[(Timestamp, Long, Seq[Float])] =
      (0 until 20).map { j =>
        val i = b * 20 + j
        (ts(b), i.toLong, vec(if (i % 4 == 0 && i > 0) i - 4 else i))
      } ++ (if (b == 0) Seq((ts(0), 900L, zeroVec)) else Seq.empty)
    val store = tmp("graft-vreband")
    for (b <- 0 until 2)
      StoreMaintenance.foldVecBatch(
        vecBatch(b).toDF("ts", "vec_id", "embedding"), b.toLong, store)
    assert(StoreMaintenance.vecStoreWidth(spark, store).contains((4, 4)))
    assert(StoreMaintenance.rebandVecStore(spark, store) == 5)
    assert(StoreMaintenance.vecStoreWidth(spark, store).contains((4, 5)))
    // rows ≡ from-scratch banding of the admitted vectors at 5 bits,
    // quantization carried (zero-norm 900 stays docs-only)
    val fromScratch = StoreMaintenance.vecStoreVecs(spark, store).get
      .where(col("vec_id") =!= 900L)
      .select(col("vec_id"),
        posexplode(array((0 until 4).map(b =>
          V.signBucket(col("embedding"), b, 5)): _*)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(StoreMaintenance.textStoreRows(spark, store).get
      .select("vec_id", "band", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet == fromScratch)
    // folds continue at the migrated width with NO sink reconfig
    for (b <- 2 until 4)
      StoreMaintenance.foldVecBatch(
        vecBatch(b).toDF("ts", "vec_id", "embedding"), b.toLong, store)
    assert(StoreMaintenance.committedBatches(store) == (0L to 3L))
    assert(spark.read.parquet(s"$store/rows/b3")
      .select(max(col("bits"))).collect().head.getInt(0) == 5,
      "post-migration folds must band at the stored width")
    // oracle: the sequential batch fold whose static gate switches
    // width at the same point
    var corpus = Seq.empty[(Timestamp, Long, Seq[Float])]
    for (b <- 0 until 4) {
      val admitted = StreamingCuration.admitVectorStream(
        vecBatch(b).toDF("ts", "vec_id", "embedding"),
        corpus.toDF("ts", "vec_id", "embedding"),
        bitsPerBand = Some(if (b < 2) 4 else 5))
        .collect().map(r => (r.getTimestamp(0), r.getLong(1),
          r.getSeq[Float](2)))
      corpus ++= admitted
    }
    assert(vecIds(store).toSet == corpus.map(_._2).toSet,
      "rebanded vec store diverged from the width-switching oracle")
    // crash rollback: an INCOMPLETE journal rolls back on next entry
    val rowsTmp = new java.io.File(s"$store/rows/.tmp_reband")
    rowsTmp.mkdirs()
    java.nio.file.Files.writeString(rowsTmp.toPath.resolve("_SUCCESS"), "")
    StoreMaintenance.foldVecBatch(
      vecBatch(4).toDF("ts", "vec_id", "embedding"), 4L, store)
    assert(!rowsTmp.exists, "incomplete reband tmp must roll back")
    // a zero-norm-only batch leaves an empty rows segment; the width
    // read falls through to the last segment with rows
    StoreMaintenance.foldVecBatch(
      Seq((ts(9), 901L, zeroVec)).toDF("ts", "vec_id", "embedding"),
      5L, store)
    assert(StoreMaintenance.vecStoreWidth(spark, store).contains((4, 5)))
    // round-trip back to 4 preserves the corpus record
    val before = vecIds(store).toSet
    assert(StoreMaintenance.rebandVecStore(spark, store,
      toBits = Some(4)) == 4)
    assert(StoreMaintenance.vecStoreWidth(spark, store).contains((4, 4)))
    assert(vecIds(store).toSet == before)
  }

  test("rebandKnnGraphStore (r15): the graph store is self-contained — " +
    "its persisted docs record + carried qe/qn rebuild the graph at a " +
    "wider band as a store rewrite (no corpus re-read, no re-quantize); " +
    "subsequent folds pick the width up and the chain stays ≡ the " +
    "from-scratch graph at the new width; zero-norm redelivery guarded") {
    import graft.operators.Similarity
    def vecBatch(b: Int): Seq[(Timestamp, Long, Seq[Float])] =
      (0 until 20).map { j =>
        val i = b * 20 + j
        (ts(b), i.toLong, vec(if (i % 4 == 0 && i > 0) i - 4 else i))
      } ++ (if (b == 0) Seq((ts(0), 900L, zeroVec)) else Seq.empty)
    val store = tmp("graft-greband")
    for (b <- 0 until 3)
      StoreMaintenance.foldKnnGraphBatch(
        vecBatch(b).toDF("ts", "vec_id", "embedding"), b.toLong, store)
    assert(StoreMaintenance.vecStoreWidth(spark, store).contains((4, 4)))
    def graphOf(s: String) = StoreMaintenance.knnGraphCurrent(spark, s).get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    def freshAt(bits: Int, upTo: Int) = Similarity.knnGraph(
      (0 until upTo).flatMap(vecBatch).toDF("ts", "vec_id", "embedding")
        .select("vec_id", "embedding").dropDuplicates("vec_id"),
      bitsPerBand = bits)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(graphOf(store) == freshAt(4, 3))
    // zero-norm vec 900 is ingested into the DOCS record (edge-less);
    // its redelivery under a NEW batchId folds to nothing (the r15
    // docs-id guard — band rows alone cannot see it)
    val docsBefore = spark.read.parquet(
      s"$store/docs/b0", s"$store/docs/b1", s"$store/docs/b2")
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(docsBefore.contains(900L) &&
      docsBefore.size == docsBefore.distinct.size)
    StoreMaintenance.foldKnnGraphBatch(
      vecBatch(0).toDF("ts", "vec_id", "embedding"), 50L, store)
    val docsAfter = StoreMaintenance.committedBatches(store)
      .flatMap(i => spark.read.parquet(s"$store/docs/b$i")
        .collect().map(_.getLong(1))).sorted
    assert(docsAfter == docsBefore,
      "redelivered batch (incl. zero-norm) must ingest nothing")
    // MIGRATE 4 -> 5 bits: rewrite ≡ the from-scratch graph at 5 bits
    assert(StoreMaintenance.rebandKnnGraphStore(spark, store) == 5)
    assert(StoreMaintenance.vecStoreWidth(spark, store).contains((4, 5)))
    assert(graphOf(store) == freshAt(5, 3),
      "migrated graph diverged from the from-scratch build at the new width")
    // folds continue at the migrated width, upsert chain intact
    StoreMaintenance.foldKnnGraphBatch(
      vecBatch(3).toDF("ts", "vec_id", "embedding"), 51L, store)
    assert(spark.read.parquet(s"$store/rows/b51")
      .select(max(col("bits"))).collect().head.getInt(0) == 5)
    assert(graphOf(store) == freshAt(5, 4),
      "post-migration fold diverged from the from-scratch build")
    // incomplete-journal crash arm rolls back on the next entry
    val rowsTmp = new java.io.File(s"$store/rows/.tmp_reband")
    rowsTmp.mkdirs()
    java.nio.file.Files.writeString(rowsTmp.toPath.resolve("_SUCCESS"), "")
    StoreMaintenance.foldKnnGraphBatch(
      vecBatch(4).toDF("ts", "vec_id", "embedding"), 52L, store)
    assert(!rowsTmp.exists, "incomplete reband tmp must roll back")
    assert(graphOf(store) == freshAt(5, 5))
  }

  test("digest-pruned redelivery guard (r16, VERDICT r15 #2): every " +
    "committed docs segment carries _IDBLOOM; guard results ≡ the " +
    "scanning form with planted redelivery across a compaction AND a " +
    "migration; deleting the digests (legacy store) changes nothing") {
    val store = tmp("graft-digest-text")
    def b(m: Int, docs: (Long, String)*) =
      docs.map { case (i, t) => (ts(m), i, t) }.toDF("ts", "doc_id", "text")
    StoreMaintenance.foldTextBatch(
      b(0, 1L -> "alpha beta gamma delta epsilon", 2L -> "hi"), 0L, store)
    StoreMaintenance.foldTextBatch(
      b(1, 3L -> "one two three four five", 4L -> "yo"), 1L, store)
    assert(Seq("b0", "b1").forall(n =>
      new java.io.File(s"$store/docs/$n/_IDBLOOM").exists),
      "every committed docs segment must carry its id digest")
    StoreMaintenance.compactStore(spark, store)
    assert(new java.io.File(s"$store/docs/c1/_IDBLOOM").exists,
      "a compaction rewrite must carry the consolidated digest")
    assert(StoreMaintenance.rebandTextStore(spark, store) == 4)
    val cDocs = new java.io.File(s"$store/docs").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("c"))
    assert(cDocs.nonEmpty && cDocs.forall(d =>
      new java.io.File(d, "_IDBLOOM").exists),
      "a migration rewrite must carry the consolidated digest")
    // planted redelivery ACROSS compaction + migration: sigless id 2
    // redelivered under a new batchId must not duplicate
    StoreMaintenance.foldTextBatch(b(2, 2L -> "hi", 5L -> "sup"), 5L, store)
    assert(docIds(store).sorted == Seq(1L, 2L, 3L, 4L, 5L))
    // ≡ the scanning form: strip EVERY digest (the legacy store) —
    // the guard falls back to the scan and admits identically
    java.nio.file.Files.walk(java.nio.file.Paths.get(store))
      .filter(_.getFileName.toString == "_IDBLOOM")
      .forEach(p => { java.nio.file.Files.delete(p); () })
    StoreMaintenance.foldTextBatch(b(3, 4L -> "yo", 6L -> "ey"), 6L, store)
    assert(docIds(store).sorted == Seq(1L, 2L, 3L, 4L, 5L, 6L),
      "digest-less (legacy) guard must scan and admit identically")
    assert(new java.io.File(s"$store/docs/b6/_IDBLOOM").exists,
      "new folds must re-digest their own segment")

    // a CORRUPT sidecar degrades to the scan like a missing one —
    // never throws, never skips the guard (r16 self-review #2: a
    // truncated digest beside a committed segment would otherwise
    // wedge the sink permanently)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$store/docs/b6/_IDBLOOM"),
      Array[Byte](1, 2, 3))
    StoreMaintenance.foldTextBatch(b(4, 6L -> "ey", 7L -> "ok"), 7L, store)
    assert(docIds(store).sorted == Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L),
      "corrupt sidecar must scan-fallback: redelivered 6 guarded, 7 admitted")

    // knn: the every-batch guard across a compaction (zero-norm incl.)
    val g = tmp("graft-digest-knn")
    def vb(m: Int, ids: Range) = (ids.map(i => (ts(m), i.toLong, vec(i))) :+
      (ts(m), 90L, zeroVec)).toDF("ts", "vec_id", "embedding")
    StoreMaintenance.foldKnnGraphBatch(vb(0, 0 until 8), 0L, g)
    StoreMaintenance.foldKnnGraphBatch(
      (8 until 16).map(i => (ts(1), i.toLong, vec(i)))
        .toDF("ts", "vec_id", "embedding"), 1L, g)
    StoreMaintenance.compactStore(spark, g)
    val before = vecIds(g).sorted
    StoreMaintenance.foldKnnGraphBatch(vb(7, 0 until 8), 7L, g)
    assert(vecIds(g).sorted == before,
      "redelivery across a compaction must ingest nothing")
  }

  test("legacy-store consolidation keeps the width columns (r16, " +
    "ADVICE): a pre-r15 rows segment (no bits/nbands) mixed with " +
    "new-fold segments compacts under mergeSchema — the width survives " +
    "and null-width legacy rows never elect it") {
    val store = tmp("graft-legacy-vec")
    def vb(m: Int, ids: Range) = ids.map(i => (ts(m), i.toLong, vec(i)))
      .toDF("ts", "vec_id", "embedding")
    StoreMaintenance.foldVecBatch(vb(0, 0 until 10), 0L, store)
    // rewrite b0 as a LEGACY segment: drop the width columns
    val legacy = spark.read.parquet(s"$store/rows/b0")
      .drop("bits", "nbands").localCheckpoint(true)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(s"$store/rows/b0"))
    legacy.write.parquet(s"$store/rows/b0")
    assert(StoreMaintenance.vecStoreWidth(spark, store).isEmpty,
      "a legacy store self-describes no width")
    // a new fold lands width columns; mixed-schema reads must keep them
    StoreMaintenance.foldVecBatch(vb(1, 100 until 110), 1L, store)
    assert(StoreMaintenance.vecStoreWidth(spark, store).contains((4, 4)))
    val n0 = vecIds(store).size
    StoreMaintenance.compactStore(spark, store)
    val c = spark.read.parquet(s"$store/rows/c1")
    assert(c.columns.contains("bits") && c.columns.contains("nbands"),
      "compaction dropped the width columns from a mixed-schema store")
    assert(StoreMaintenance.vecStoreWidth(spark, store).contains((4, 4)),
      "null-width legacy rows must not elect the width")
    assert(vecIds(store).size == n0)
    // and the store keeps folding
    StoreMaintenance.foldVecBatch(vb(2, 200 until 205), 2L, store)
    assert(StoreMaintenance.committedBatches(store) == (0L to 2L))
  }

  test("rebandKnnGraphStore honors maxBucketSize (r16, ADVICE): the " +
    "migration's rebuild pair join caps degenerate buckets with the " +
    "fold family's semantics — capped ≡ the capped from-scratch graph " +
    "at the new width") {
    import graft.operators.Similarity
    def posVec(seed: Int): Seq[Float] =
      (0 until 64).map(d => (0.1f + ((seed * 31 + d * 7) % 89) / 100.0f))
    val rows = (0 until 6).map(i => (ts(0), i.toLong, posVec(i))) ++
      (40 until 45).map(i => (ts(0), i.toLong, vec(i)))
    def freshAt(bits: Int, cap: Option[Int]) = Similarity.knnGraph(
      rows.toDF("ts", "vec_id", "embedding").select("vec_id", "embedding"),
      bitsPerBand = bits, maxBucketSize = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    def graphOf(s: String) = StoreMaintenance.knnGraphCurrent(spark, s).get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    val capped = tmp("graft-grebandcap")
    StoreMaintenance.foldKnnGraphBatch(
      rows.toDF("ts", "vec_id", "embedding"), 0L, capped)
    assert(StoreMaintenance.rebandKnnGraphStore(spark, capped,
      maxBucketSize = Some(5)) == 5)
    assert(graphOf(capped) == freshAt(5, Some(5)),
      "capped migration diverged from the capped from-scratch graph")
    val uncapped = tmp("graft-grebanduncap")
    StoreMaintenance.foldKnnGraphBatch(
      rows.toDF("ts", "vec_id", "embedding"), 0L, uncapped)
    assert(StoreMaintenance.rebandKnnGraphStore(spark, uncapped) == 5)
    assert(graphOf(uncapped) == freshAt(5, None))
  }

  test("storeAdvisor (r16, VERDICT r15 #5): the recommendation flips " +
    "exactly at the growth rules' N-thresholds on the store's own " +
    "committed state, for both kinds; acting on it satisfies it") {
    // text: invS2=2 ⇒ r flips 2→4 (bands 8→4) exactly at N=16
    val tstore = tmp("graft-advise-text")
    def doc(i: Int) =
      (0 until 8).map(t => s"w${i * 977 + t * 131}").mkString(" ")
    StoreMaintenance.foldTextBatch(
      (0 until 15).map(i => (ts(0), i.toLong, doc(i)))
        .toDF("ts", "doc_id", "text"), 0L, tstore)
    val a15 = StoreMaintenance.storeAdvisor(spark, tstore, invS2 = 2L).get
    assert(a15.kind == "text" && a15.storedN == 15 && a15.current == 8 &&
      a15.recommended == 8 && !a15.migrate, s"below threshold: $a15")
    StoreMaintenance.foldTextBatch(
      Seq((ts(1), 15L, doc(15))).toDF("ts", "doc_id", "text"), 1L, tstore)
    val a16 = StoreMaintenance.storeAdvisor(spark, tstore, invS2 = 2L).get
    assert(a16.storedN == 16 && a16.recommended == 4 && a16.migrate,
      s"at threshold: $a16")
    // vector/graph: occupancy=2 ⇒ bits flips 4→5 exactly at N=33
    val g = tmp("graft-advise-knn")
    StoreMaintenance.foldKnnGraphBatch(
      (0 until 32).map(i => (ts(0), i.toLong, vec(i)))
        .toDF("ts", "vec_id", "embedding"), 0L, g)
    val v32 = StoreMaintenance.storeAdvisor(spark, g,
      targetOccupancy = 2L).get
    assert(v32.kind == "vector" && v32.storedN == 32 && v32.current == 4 &&
      v32.recommended == 4 && !v32.migrate, s"below threshold: $v32")
    StoreMaintenance.foldKnnGraphBatch(
      Seq((ts(1), 32L, vec(32))).toDF("ts", "vec_id", "embedding"), 1L, g)
    val v33 = StoreMaintenance.storeAdvisor(spark, g,
      targetOccupancy = 2L).get
    assert(v33.storedN == 33 && v33.recommended == 5 && v33.migrate,
      s"at threshold: $v33")
    assert(StoreMaintenance.rebandKnnGraphStore(spark, g,
      toBits = Some(v33.recommended)) == 5)
    assert(!StoreMaintenance.storeAdvisor(spark, g,
      targetOccupancy = 2L).get.migrate,
      "the advisor must be satisfied after its own migration")
    // an empty store: nothing to advise
    assert(StoreMaintenance.storeAdvisor(spark, tmp("graft-advise-empty"))
      .isEmpty)
  }

  test("graph DELTA segments (r16): a fold writes ONLY its affected " +
    "nodes' rows, latest-per-node resolution reconstructs the full " +
    "graph, and a knn compaction consolidates to the resolved graph") {
    import graft.operators.Similarity
    def posVec(seed: Int): Seq[Float] =
      (0 until 64).map(d => (0.1f + ((seed * 31 + d * 7) % 89) / 100.0f))
    def negVec(seed: Int): Seq[Float] = posVec(seed).map(-_)
    val store = tmp("graft-delta-knn")
    // group A (all-positive) and group B (all-negative) never share a
    // sign bucket, so batch 1 (B only) cannot affect A's nodes
    val b0 = Seq((ts(0), 1L, posVec(1)), (ts(0), 2L, posVec(2)),
      (ts(0), 10L, negVec(10)), (ts(0), 11L, negVec(11)))
    val b1 = Seq((ts(1), 12L, negVec(12)), (ts(1), 13L, negVec(13)))
    StoreMaintenance.foldKnnGraphBatch(
      b0.toDF("ts", "vec_id", "embedding"), 0L, store)
    StoreMaintenance.foldKnnGraphBatch(
      b1.toDF("ts", "vec_id", "embedding"), 1L, store)
    val seg1Ids = spark.read.parquet(s"$store/graph/b1")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!seg1Ids.contains(1L) && !seg1Ids.contains(2L),
      s"unaffected nodes must not be rewritten into the delta: $seg1Ids")
    assert(seg1Ids == Set(10L, 11L, 12L, 13L), s"affected set: $seg1Ids")
    def graphOf(s: String) = StoreMaintenance.knnGraphCurrent(spark, s).get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    val fresh = Similarity.knnGraph((b0 ++ b1)
      .toDF("ts", "vec_id", "embedding").select("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(graphOf(store) == fresh,
      "delta resolution diverged from the from-scratch graph")
    // compaction consolidates to the RESOLVED graph (total segment)
    assert(StoreMaintenance.compactStore(spark, store) == 2)
    assert(graphOf(store) == fresh, "compaction changed the graph")
    val cIds = spark.read.parquet(s"$store/graph/c1")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(cIds == Set(1L, 2L, 10L, 11L, 12L, 13L),
      s"the consolidated graph segment must be total: $cIds")
    // and folds continue on the compacted store
    StoreMaintenance.foldKnnGraphBatch(
      Seq((ts(2), 3L, posVec(3))).toDF("ts", "vec_id", "embedding"),
      2L, store)
    val fresh2 = Similarity.knnGraph((b0 ++ b1 :+ (ts(2), 3L, posVec(3)))
      .toDF("ts", "vec_id", "embedding").select("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(graphOf(store) == fresh2)
  }

  test("maintainedKnnGraphReplay (r16, VERDICT r15 #1): the declared " +
    "replay equals the from-scratch graph at the store width for any " +
    "batch split (the upsert-merge law under the persisted lifecycle), " +
    "zero-norm vectors edge-less, temp store reaped") {
    import graft.operators.Similarity
    val vecs = ((0 until 37).map(i =>
      (i.toLong, vec(if (i % 5 == 0 && i > 0) i - 5 else i))) :+
      (90L, zeroVec)).toDF("vec_id", "embedding")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    // at this N the auto width is the 4-bit floor — ≡ knnGraph(4×4)
    val fresh = rows(Similarity.knnGraph(vecs))
    assert(fresh.nonEmpty && !fresh.exists(_._1 == 90L))
    for (n <- Seq(1, 3, 5))
      assert(rows(StoreMaintenance.maintainedKnnGraphReplay(vecs, n)) ==
        fresh, s"replay at nBatches=$n diverged from the from-scratch graph")
    // across a width boundary (occupancy=2 ⇒ autoBits(37)=5): the
    // store is CREATED at the corpus's auto width and the replay
    // equals the auto builder at the same knob
    val freshAuto = rows(Similarity.knnGraphAuto(vecs, targetOccupancy = 2L))
    assert(freshAuto != fresh, "width boundary not exercised")
    assert(rows(StoreMaintenance.maintainedKnnGraphReplay(vecs, 3,
      targetOccupancy = 2L)) == freshAuto,
      "auto-width replay diverged from the auto from-scratch graph")
  }

  test("in-generation auto-compaction (r15, VERDICT #5): a maintained " +
    "sink with compactEvery consolidates its own segments inside the " +
    "foreachBatch serialization and stays ≡ the never-compacted twin " +
    "across a kill/resume") {
    implicit val sqlCtx = spark.sqlContext
    def textRows(b: Int) = (0 until 15).map { j =>
      val i = b * 15 + j
      val base = if (i % 5 == 0 && i > 0) i - 5 else i
      (ts(b), i.toLong,
        (0 until 8).map(t => s"w${base * 977 + t * 131}").mkString(" "))
    }
    val sPlain = tmp("graft-autoc-plain")
    for (b <- 0 until 6)
      StoreMaintenance.foldTextBatch(
        textRows(b).toDF("ts", "doc_id", "text"), b.toLong, sPlain)

    val sAuto = tmp("graft-autoc-auto")
    val cp = tmp("graft-autoc-cp")
    val mem = MemoryStream[(Timestamp, Long, String)]
    def start() = StoreMaintenance
      .maintainTextStore(mem.toDF().toDF("ts", "doc_id", "text"), sAuto,
        compactEvery = Some(3))
      .option("checkpointLocation", cp).start()
    val q1 = start()
    try {
      for (b <- 0 until 3) {
        mem.addData(textRows(b): _*); q1.processAllAvailable()
      }
    } finally q1.stop()
    // a kill landing mid-compaction: the parquet landed (_SUCCESS) but
    // the _COVERED manifest never committed — readers must ignore the
    // leftover and the next compaction entry reaps it
    val orphan = new java.io.File(s"$sAuto/rows/c99")
    orphan.mkdirs()
    java.nio.file.Files.writeString(
      orphan.toPath.resolve("_SUCCESS"), "")
    mem.addData(textRows(3): _*) // while down
    val q2 = start()
    try {
      q2.processAllAvailable()
      for (b <- 4 until 6) {
        mem.addData(textRows(b): _*); q2.processAllAvailable()
      }
    } finally q2.stop()
    assert(docIds(sAuto).sorted == docIds(sPlain).sorted,
      "auto-compacted store diverged from the never-compacted twin")
    assert(!orphan.exists,
      "an interrupted compaction's manifest-less leftover must be reaped")
    // the directory count stays bounded: compaction ran (a c segment
    // exists) and live b dirs never exceed compactEvery
    val names = new java.io.File(s"$sAuto/rows").listFiles()
      .map(_.getName).filter(n => n.startsWith("b") || n.startsWith("c"))
    assert(names.exists(_.startsWith("c")), s"no compaction ran: ${names.toSeq}")
    assert(names.count(_.startsWith("b")) < 3,
      s"live segment dirs unbounded: ${names.toSeq}")
  }
}
