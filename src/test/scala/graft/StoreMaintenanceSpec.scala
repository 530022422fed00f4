package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{PortableHash => PH}
import graft.streaming.StoreMaintenance

/** The persisted store folds the declared replays run: replay
  * idempotence per batch id, fold pruning to batch-probed buckets,
  * degenerate-bucket caps, cross-batch redelivery of gate-invisible
  * rows, the id digests, graph delta segments and the deterministic
  * within-batch representative. */
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
  private def textRows(store: String): Set[(Long, Int, String)] =
    StoreMaintenance.textStoreRows(spark, store).get
      .select("doc_id", "band", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
  private def graphOf(store: String): Seq[(Long, Long, Long, Long)] =
    StoreMaintenance.knnGraphCurrent(spark, store).get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted

  /** The UNPRUNED (band, bucket) → list<sig> lookup over a whole
    * signature relation — the reference the bucket-pruned
    * [[StoreMaintenance.foldTextBatch]] lookup is checked against. */
  private def ophBucketsOf(sigs: DataFrame, bands: Int): DataFrame = {
    val rowsPerBand = PH.MinhashK / bands
    sigs.select(col("sig"),
        posexplode(array((0 until bands).map(b =>
          StoreMaintenance.ophBucket(col("sig"), b, rowsPerBand)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .groupBy("band", "bucket")
      .agg(collect_list(col("sig")).as("cands"))
  }

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

  test("fold replay: a committed batch id is a no-op even with new " +
    "content, a replay after a crash before the commit marker rewrites " +
    "the same store (text and graph folds), and a zero-norm vector is " +
    "recorded without band rows") {
    val store = tmp("graft-replay-text")
    def tb(m: Int, docs: (Long, String)*) =
      docs.map { case (i, t) => (ts(m), i, t) }.toDF("ts", "doc_id", "text")
    StoreMaintenance.foldTextBatch(tb(0, 1L -> "alpha beta gamma delta epsilon",
      2L -> "one two three four five"), 0L, store)
    // doc 3 near-dups stored doc 1; doc 9 is sigless (< 3 words)
    val b1 = tb(1, 3L -> "alpha beta gamma delta epsilon",
      4L -> "six seven eight nine ten", 9L -> "hi")
    StoreMaintenance.foldTextBatch(b1, 1L, store)
    assert(docIds(store).sorted == Seq(1L, 2L, 4L, 9L))
    val rowsBefore = textRows(store)
    StoreMaintenance.foldTextBatch(
      tb(9, 999L -> "this must not land anywhere at all"), 0L, store)
    assert(docIds(store).sorted == Seq(1L, 2L, 4L, 9L) &&
      textRows(store) == rowsBefore, "a committed batch id folded again")
    new java.io.File(s"$store/rows/b1/_SUCCESS").delete()
    StoreMaintenance.foldTextBatch(b1, 1L, store)
    assert(docIds(store).sorted == Seq(1L, 2L, 4L, 9L) &&
      textRows(store) == rowsBefore,
      "a crash-before-commit replay must rewrite the same store")

    val g = tmp("graft-replay-knn")
    def vb(m: Int, ids: Range) = ids.map(i => (ts(m), i.toLong, vec(i)))
      .toDF("ts", "vec_id", "embedding")
    StoreMaintenance.foldKnnGraphBatch(vb(0, 0 until 12), 0L, g)
    StoreMaintenance.foldKnnGraphBatch(vb(1, 12 until 24), 1L, g)
    val graph = graphOf(g)
    StoreMaintenance.foldKnnGraphBatch(vb(0, 100 until 112), 0L, g)
    assert(graphOf(g) == graph, "a committed batch id folded again")
    new java.io.File(s"$g/rows/b1/_SUCCESS").delete()
    StoreMaintenance.foldKnnGraphBatch(vb(1, 12 until 24), 1L, g)
    assert(graphOf(g) == graph,
      "a crash-before-commit replay must rewrite the same graph")

    val v = tmp("graft-replay-vec")
    StoreMaintenance.foldVecBatch(Seq((ts(0), 1L, vec(1)), (ts(0), 5L, zeroVec))
      .toDF("ts", "vec_id", "embedding"), 0L, v)
    assert(vecIds(v).sorted == Seq(1L, 5L))
    assert(StoreMaintenance.textStoreRows(spark, v).get.select("vec_id")
      .distinct().collect().map(_.getLong(0)).toSeq == Seq(1L),
      "a zero-norm vector must contribute no candidate rows")
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
    // the zero-norm-only batch left an empty rows segment: the width
    // read falls through to the last segment with rows
    assert(StoreMaintenance.vecStoreWidth(spark, vstore).contains((4, 4)))
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
        .where(StoreMaintenance.hasShingles(col("text"), 3))
        .select(graft.functions.textNative.oph_sig(col("text"), 3).as("sig"))
      val lookup = ophBucketsOf(sigs, 8)
      val base = batch.toDF("ts", "doc_id", "text").withColumn("sig",
        when(StoreMaintenance.hasShingles(col("text"), 3),
          graft.functions.textNative.oph_sig(col("text"), 3)))
      val admitted = StoreMaintenance.ophAdmit(base, lookup, 8, 500000L)
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2)))
      corpus ++= admitted
    }
    assert(docIds(store).toSet == corpus.map(_._2).toSet,
      "bucket-pruned fold diverged from the unpruned lookup")

    // 6 docs with identical text co-bucket in every band (the
    // degenerate boilerplate bucket); doc 40 lives in healthy buckets
    val corpusT = ((0 until 6).map(i =>
      (ts(0), i.toLong, "alpha beta gamma delta epsilon")) :+
      (ts(0), 40L, "one two three four five"))
      .toDF("ts", "doc_id", "text")
    val arrivalsT = Seq((ts(1), 100L, "alpha beta gamma delta epsilon"),
      (ts(1), 101L, "one two three four five"),
      (ts(1), 102L, "red orange yellow green blue"))
      .toDF("ts", "doc_id", "text")
    // the capped store (occupancy 6 > 5) admits the degenerate-bucket
    // dup 100 and still gates 101, the healthy-bucket dup of 40
    val storeCap = tmp("graft-capfold")
    StoreMaintenance.foldTextBatch(corpusT, 0L, storeCap,
      maxBucketSize = Some(5))
    StoreMaintenance.foldTextBatch(arrivalsT, 1L, storeCap,
      maxBucketSize = Some(5))
    assert(docIds(storeCap).toSet ==
      (0L until 6L).toSet + 40L + 100L + 102L)
  }

  test("digest-pruned redelivery guard (r16, VERDICT r15 #2): every " +
    "committed docs segment carries _IDBLOOM; guard results ≡ the " +
    "scanning form with planted redelivery; deleting the digests " +
    "(legacy store) or corrupting one changes nothing") {
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
    // planted redelivery: sigless id 2 redelivered under a new batchId
    // must not duplicate
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

    // knn: the every-batch guard (zero-norm incl.)
    val g = tmp("graft-digest-knn")
    def vb(m: Int, ids: Range) = (ids.map(i => (ts(m), i.toLong, vec(i))) :+
      (ts(m), 90L, zeroVec)).toDF("ts", "vec_id", "embedding")
    StoreMaintenance.foldKnnGraphBatch(vb(0, 0 until 8), 0L, g)
    StoreMaintenance.foldKnnGraphBatch(
      (8 until 16).map(i => (ts(1), i.toLong, vec(i)))
        .toDF("ts", "vec_id", "embedding"), 1L, g)
    val before = vecIds(g).sorted
    StoreMaintenance.foldKnnGraphBatch(vb(7, 0 until 8), 7L, g)
    assert(vecIds(g).sorted == before,
      "a redelivered batch must ingest nothing")
  }

  test("legacy-store reads keep the width columns (r16, ADVICE): a " +
    "pre-r15 rows segment (no bits/nbands) mixed with new-fold segments " +
    "reads under mergeSchema — the width columns survive, legacy rows " +
    "read null widths, and the store keeps folding") {
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
    val rows = StoreMaintenance.textStoreRows(spark, store).get
    assert(rows.columns.contains("bits") && rows.columns.contains("nbands"),
      "the mixed-schema read dropped the width columns")
    assert(rows.where(col("bits").isNull).select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet == (0L until 10L).toSet,
      "legacy rows must read with null widths")
    // and the store keeps folding
    StoreMaintenance.foldVecBatch(vb(2, 200 until 205), 2L, store)
    assert((0 to 2).forall(b => new java.io.File(s"$store/rows/b$b/_SUCCESS").exists))
    assert(StoreMaintenance.vecStoreWidth(spark, store).contains((4, 4)))
  }

  test("graph DELTA segments (r16): a fold writes ONLY its affected " +
    "nodes' rows, and latest-per-node resolution reconstructs the full " +
    "graph across three folds") {
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
    val fresh = Similarity.knnGraph((b0 ++ b1)
      .toDF("ts", "vec_id", "embedding").select("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(graphOf(store) == fresh,
      "delta resolution diverged from the from-scratch graph")
    // a third fold touches group A only
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
}
