package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingCuration

/** Streaming curation operators over MemoryStream micro-batches:
  * dedup keeps first arrivals and drops in-horizon duplicates; the
  * quality gate and contamination tag are stateless and match their
  * batch formulas. */
class StreamingCurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // offset the time base: an event AT epoch 0 equals the initial
  // watermark (0) and is discarded as late by stateful operators
  private def ts(minute: Int) = new Timestamp((10000 + minute) * 60000L)

  test("dedupStream keeps first arrival, drops duplicate text across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingCuration.dedupStream(
        mem.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((ts(0), 1L, "alpha beta"), (ts(1), 2L, "gamma delta"))
      q.processAllAvailable()
      // batch 2: doc 3 duplicates doc 1's text -> dropped; doc 4 new
      mem.addData((ts(2), 3L, "alpha beta"), (ts(3), 4L, "epsilon"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(1)).toSet
      assert(ids == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("dedupStream semantics are state-store-provider independent: " +
    "RocksDB == default provider output (r7)") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    def runWith(provider: Option[String], name: String): Set[Long] = {
      provider match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
      val mem = MemoryStream[(Timestamp, Long, String)]
      val q = StreamingCuration.dedupStream(
          mem.toDF().toDF("ts", "doc_id", "text"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        mem.addData((ts(0), 1L, "alpha beta"), (ts(1), 2L, "gamma delta"))
        q.processAllAvailable()
        mem.addData((ts(2), 3L, "alpha beta"), (ts(3), 4L, "epsilon"),
          (ts(4), 5L, "gamma delta"))
        q.processAllAvailable()
        spark.table(name).collect().map(_.getLong(1)).toSet
      } finally q.stop()
    }
    try {
      val rocks = runWith(Some("org.apache.spark.sql.execution." +
        "streaming.state.RocksDBStateStoreProvider"), "dedup_rocks")
      val default = runWith(None, "dedup_default")
      assert(rocks == Set(1L, 2L, 4L))
      assert(rocks == default,
        "state semantics must not depend on the store provider")
    } finally prior match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("qualityGate matches the batch quality formula (stateless)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingCuration.qualityGate(
        mem.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.format("memory").queryName("quality_out")
      .outputMode(OutputMode.Append).start()
    try {
      val longGood = (1 to 25).map(i => s"w$i").mkString(" ")
      // 24 stopwords out of 25 tokens -> stop ratio 960000 ppm ->
      // quality 1e6 - 480000 = 520000 < 750000 -> dropped
      val stopped = (Seq.fill(24)("the") :+ "x").mkString(" ")
      val short = "tiny doc" // < 20 tokens -> 750000, kept (>=)
      mem.addData((ts(0), 1L, longGood), (ts(0), 2L, stopped),
        (ts(0), 3L, short))
      q.processAllAvailable()
      val out = spark.table("quality_out").collect()
        .map(r => r.getLong(1) -> r.getLong(3)).toMap
      assert(out.keySet == Set(1L, 3L))
      assert(out(1L) == 1000000L)
      assert(out(3L) == 750000L)
    } finally q.stop()
  }

  test("admitStream anti-joins arrivals against the static corpus") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((100L, "existing doc one"), (101L, "existing doc two"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.StreamingCuration.admitStream(
        mem.toDF().toDF("ts", "doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("admit_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (ts(0), 1L, "existing doc one"), // already in corpus -> dropped
        (ts(0), 2L, "genuinely new doc"))
      q.processAllAvailable()
      val ids = spark.table("admit_out").collect().map(_.getLong(1)).toSet
      assert(ids == Set(2L))
    } finally q.stop()
  }

  test("admitVectorStream drops near-dups of corpus vectors, admits novel ones") {
    implicit val sqlCtx = spark.sqlContext
    // 16-dim so the 4×4 sign bands have bits to read; corpus holds the
    // alternating pattern; arriving vec 100 is a near-copy (dropped),
    // vec 101 is blockwise-orthogonal (dot = 0 — admitted even where a
    // bucket might collide)
    val near = Array.tabulate(16)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val nearish = near.clone(); nearish(0) = 0.9f
    val ortho = Array.tabulate(16)(i => if (i % 4 < 2) 1.0f else -1.0f)
    val corpus = Seq(1L -> near, 2L -> near.map(_ * 2.0f))
      .toDF("vec_id", "embedding")
    val mem = MemoryStream[(Timestamp, Long, Array[Float])]
    val q = StreamingCuration.admitVectorStream(
        mem.toDF().toDF("ts", "vec_id", "embedding"), corpus)
      .writeStream.format("memory").queryName("vec_admit_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((ts(0), 100L, nearish), (ts(1), 101L, ortho))
      q.processAllAvailable()
      val ids = spark.table("vec_admit_out").collect()
        .map(_.getLong(1)).toSet
      assert(ids == Set(101L), s"expected only the novel vector, got $ids")
      // agreement with the batch twin on the union corpus: the batch
      // labels vec 7 (near-dup) admit=0 and vec 17 (novel) admit=1 —
      // same verdicts the stream just produced for the same geometry
      val batch = graft.operators.Dedup.embeddingIncremental(
        Seq(1L -> near, 2L -> near.map(_ * 2.0f), 7L -> nearish,
          17L -> ortho).toDF("vec_id", "embedding"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(batch == Map(7L -> 0L, 17L -> 1L))
    } finally q.stop()
  }

  test("admitVectorStream follows the batch blocker's auto width at " +
    "two corpus sizes (r12: the gate tracks autoBits, not a constant)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, lit, sequence, sin, transform => xform}
    def admitted(corpus: org.apache.spark.sql.DataFrame,
                 bits: Option[Int], name: String): Set[Long] = {
      val mem = MemoryStream[(Timestamp, Long, Array[Float])]
      val q = StreamingCuration.admitVectorStream(
          mem.toDF().toDF("ts", "vec_id", "embedding"), corpus,
          bitsPerBand = bits)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        // near-copy of a NONZERO corpus vector (vec 0 of the sin
        // corpus is all-zero), a novel vector, and a zero-norm
        // arrival (nothing to compare → admitted, never a crash)
        val near = corpus.where(col("vec_id") === 1).head()
          .getSeq[Float](1).toArray
        val novel = Array.tabulate(64)(i =>
          (((i * 7919 + 13) % 101) - 50).toFloat)
        val zero = Array.fill(64)(0.0f)
        mem.addData((ts(0), 9000L, near), (ts(0), 9001L, novel),
          (ts(0), 9002L, zero))
        q.processAllAvailable()
        spark.table(name).collect().map(_.getLong(1)).toSet
      } finally q.stop()
    }
    // size 1: the driver corpus (N=500 → the 4-bit anchor width)
    val small = graft.relational.Tables
      .embeddings(spark, "/root/testdata/sf0.001").localCheckpoint(true)
    val smallBits = graft.operators.Similarity.autoBits(small.count())
    assert(smallBits == 4)
    assert(admitted(small, None, "vw_auto_s") ==
      admitted(small, Some(smallBits), "vw_pin_s"))
    // size 2: past the 2048 boundary (N=3000 → 5 bits) — the gate
    // must follow the batch rule, not the old fixed default
    val big = spark.range(3000).select(col("id").as("vec_id"),
      xform(sequence(lit(0), lit(63)), d =>
        (sin(col("id") * (d + lit(1)))).cast("float")).as("embedding"))
      .localCheckpoint(true)
    assert(graft.operators.Similarity.autoBits(3000) == 5)
    assert(admitted(big, None, "vw_auto_b") ==
      admitted(big, Some(5), "vw_pin_b"))
  }

  test("admitNearDupStream follows the batch banding rule at two " +
    "corpus sizes (r12: the text gate tracks autoBandRows)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, concat, concat_ws, lit, when, length, replace}
    def admitted(corpus: org.apache.spark.sql.DataFrame, nearText: String,
                 bands: Option[Int], name: String): Set[Long] = {
      val mem = MemoryStream[(Timestamp, Long, String)]
      val q = StreamingCuration.admitNearDupStream(
          mem.toDF().toDF("ts", "doc_id", "text"), corpus,
          bandsOverride = bands)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        mem.addData((ts(0), 9000L, nearText),
          (ts(0), 9001L, "entirely novel arrival about glacier moraine " +
            "sediment cores and isotope chronology methods"))
        q.processAllAvailable()
        spark.table(name).collect().map(_.getLong(1)).toSet
      } finally q.stop()
    }
    // size 1: driver corpus (46 sig-bearing docs → the 8×2 point)
    val small = graft.relational.Tables
      .documents(spark, "/root/testdata/sf0.001").localCheckpoint(true)
    assert(graft.operators.Dedup.autoBandRows(
      small.where(length(col("text")) -
        length(replace(col("text"), lit(" "))) >= 2).count()) == 2)
    val smallNear = small.orderBy("doc_id").head().getAs[String]("text")
    assert(admitted(small, smallNear, None, "nd_auto_s") ==
      admitted(small, smallNear, Some(8), "nd_pin_s"))
    // size 2: past the 10^4 boundary → the gate must follow the rule
    // to (4, 4), not sit at the hand-fixed default
    def w(p: String, c: org.apache.spark.sql.Column) = concat(lit(p), c)
    val id = col("id")
    val big = spark.range(10500).select(id.as("doc_id"),
      when(id % 200 === 0, concat_ws(" ", w("f", id), w("g", id),
        w("h", id), w("i", id), w("j", id), lit("tail one common")))
        .otherwise(concat_ws(" ", w("a", id), w("b", id), w("c", id),
          w("d", id), w("e", id))).as("text")).localCheckpoint(true)
    assert(graft.operators.Dedup.autoBandRows(10500) == 4)
    val bigNear = big.where(col("doc_id") === 200).head()
      .getAs[String]("text")
    assert(admitted(big, bigNear, None, "nd_auto_b") ==
      admitted(big, bigNear, Some(4), "nd_pin_b"))
  }

  test("admitNearDupStream drops syntactic near-dups of corpus docs, " +
    "admits novel and short docs; verdicts agree with batch ophLsh") {
    implicit val sqlCtx = spark.sqlContext
    val corpusText = "the quick brown fox jumps over the lazy dog " +
      "while the calm cat naps near the warm stove in the old kitchen"
    val nearText = corpusText.replace("old kitchen", "new kitchen")
    val novelText = "entirely different subject matter covering ships " +
      "harbors tides cargo manifests and the economics of ocean freight"
    val corpus = Seq(1L -> corpusText,
      2L -> "another corpus document about gardening tomatoes soil")
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingCuration.admitNearDupStream(
        mem.toDF().toDF("ts", "doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("neardup_admit_out")
      .outputMode(OutputMode.Append).start()
    val streamAdmitted =
      try {
        mem.addData(
          (ts(0), 100L, corpusText), // exact dup -> dropped (est=1e6)
          (ts(0), 101L, nearText),   // near dup -> verdict from the estimator
          (ts(1), 102L, novelText),  // novel -> admitted
          (ts(1), 103L, "too short")) // no shingles -> admitted
        q.processAllAvailable()
        spark.table("neardup_admit_out").collect().map(_.getLong(1)).toSet
      } finally q.stop()
    assert(!streamAdmitted.contains(100L), "exact dup must be dropped")
    assert(streamAdmitted.contains(102L) && streamAdmitted.contains(103L))
    // batch twin on the union corpus: a new doc is dropped iff ophLsh
    // pairs it with a CORPUS doc at est >= 500000 — the same banding,
    // the same estimator, so per-doc verdicts must agree exactly
    val union = (Seq(1L -> corpusText,
      2L -> "another corpus document about gardening tomatoes soil",
      100L -> corpusText, 101L -> nearText, 102L -> novelText,
      103L -> "too short")).toDF("doc_id", "text")
    val corpusIds = Set(1L, 2L)
    val newIds = Set(100L, 101L, 102L, 103L)
    val batchDropped = graft.operators.Dedup.ophLsh(union).collect()
      .filter(_.getLong(3) >= 500000L)
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1),
        r.getLong(1) -> r.getLong(0)))
      .collect { case (nw, cp) if newIds(nw) && corpusIds(cp) => nw }
      .toSet
    val batchAdmitted = newIds -- batchDropped
    assert(streamAdmitted == batchAdmitted,
      s"stream $streamAdmitted != batch $batchAdmitted")
  }

  test("knnStream: per-arriving-query top-k matches a driver-side " +
    "replication of bucket-candidates + exact cosine + the stated " +
    "(cos desc, id asc) order; an exact copy ranks first at 1e6") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new java.util.Random(5)
    def vec(seed: Int): Array[Float] = {
      val r = new java.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val corpusRows = (100L until 140L).map(i => i -> vec(i.toInt))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val q0 = corpusRows.head._2.clone() // exact copy of corpus vec 100
    val q1 = vec(9001)
    val mem = MemoryStream[(Timestamp, Long, Array[Float])]
    val q = graft.streaming.StreamKnn.knnStream(
        mem.toDF().toDF("ts", "vec_id", "embedding"), corpus, k = 3)
      .writeStream.format("memory").queryName("knn_out")
      .outputMode(OutputMode.Append).start()
    val got =
      try {
        mem.addData((ts(0), 0L, q0), (ts(0), 1L, q1))
        q.processAllAvailable()
        spark.table("knn_out").collect()
          .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .groupBy(_._1).view
          .mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
      } finally q.stop()
    // exact copy: top-1 is the copied corpus vector at cos 1,000,000
    assert(got(0L).head == (100L, 1000000L),
      s"exact copy should rank first at 1e6, got ${got(0L)}")
    // driver-side reference: same quantize, same 4x4 sign buckets,
    // same exact integer cosine, same (cos desc, id asc) order
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1024).toLong)
    def bucket(v: Array[Float], b: Int): Long =
      (0 until 4).map(k => (if (v(b * 4 + k) > 0) 1L else 0L) << k).sum
    def cosPpm(a: Array[Long], b: Array[Long]): Long = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = a.map(x => x * x).sum; val nb = b.map(x => x * x).sum
      math.floor(1000000.0 * dot / (math.sqrt(na.toDouble) *
        math.sqrt(nb.toDouble))).toLong
    }
    for ((qid, qv) <- Seq(0L -> q0, 1L -> q1)) {
      val cands = corpusRows.filter { case (_, cv) =>
        (0 until 4).exists(b => bucket(cv, b) == bucket(qv, b)) &&
          quant(cv).map(x => x * x).sum > 0
      }
      val expect = cands
        .map { case (cid, cv) => (cid, cosPpm(quant(qv), quant(cv))) }
        .sortBy { case (cid, c) => (-c, cid) }.take(3)
      assert(got.getOrElse(qid, Seq.empty) == expect,
        s"query $qid: ${got.get(qid)} != $expect")
    }
  }

  test("contaminationTag flags docs sharing a 5-gram with the eval set") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val evalShingles = Seq("a b c d e", "q r s t u")
    val q = StreamingCuration.contaminationTag(
        mem.toDF().toDF("ts", "doc_id", "text"), evalShingles)
      .writeStream.format("memory").queryName("contam_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (ts(0), 1L, "x a b c d e y"), // contains eval 5-gram
        (ts(0), 2L, "a b c x d e"),   // shares words but no 5-gram
        (ts(0), 3L, "clean text entirely"))
      q.processAllAvailable()
      val out = spark.table("contam_out").collect()
        .map(r => r.getLong(1) -> r.getBoolean(3)).toMap
      assert(out == Map(1L -> true, 2L -> false, 3L -> false))
    } finally q.stop()
  }

  test("classifyStream scores arrivals with the batch-fit model; " +
    "tie-break and unseen-token laws match the batch classifier") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.lit
    // batch fit: alpha vocabulary {aa, bb}, beta vocabulary {cc, dd}
    // (train ids 1-4; % 5 split as in the batch classifier)
    val fitDocs = Seq(
      (1L, "aa bb aa", "alpha"), (2L, "aa bb", "alpha"),
      (3L, "cc dd cc", "beta"), (4L, "cc dd", "beta"))
      .toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
    val model = graft.operators.TextAnalysis.sourceModel(fitDocs)
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingCuration.classifyStream(
        mem.toDF().toDF("ts", "doc_id", "text"), model,
        windowLen = "1 minute", watermark = "1 minute")
      .writeStream.format("memory").queryName("classify_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (ts(0), 100L, "aa bb aa"),  // clean alpha vocabulary
        (ts(0), 101L, "cc cc"),     // clean beta vocabulary
        (ts(0), 102L, "zz yy"),     // no vocabulary hit -> all-zero
        (ts(0), 103L, "aa zz zz"))  // one alpha hit + unseen noise
      q.processAllAvailable()
      // advance the watermark past window end + horizon to close it
      mem.addData((ts(5), 999L, "flush"))
      q.processAllAvailable()
      val got = spark.table("classify_out").collect()
        .map(r => r.getLong(1) -> r.getString(2)).toMap
      assert(got(100L) == "alpha")
      assert(got(101L) == "beta")
      // all-zero scores fall to the alphabetically-first class --
      // the SAME pinned tie-break as the batch grid
      assert(got(102L) == "alpha")
      // unseen tokens are argmax-neutral
      assert(got(103L) == "alpha")
      assert(!got.contains(999L)) // flush window not yet closed
    } finally q.stop()
  }

  test("classifyStream survives label values that are not valid " +
    "column identifiers (dots, spaces, backticks)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.lit
    // label-derived column names would make col("s_web.en") parse as
    // struct access and crash planning (r12 review finding) — score
    // columns are index-named, labels only ever appear as literals
    val fitDocs = Seq(
      (1L, "aa bb aa", "web.en"), (2L, "aa bb", "web.en"),
      (3L, "cc dd cc", "lab data"), (4L, "cc dd", "lab data"))
      .toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
    val model = graft.operators.TextAnalysis.sourceModel(fitDocs)
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingCuration.classifyStream(
        mem.toDF().toDF("ts", "doc_id", "text"), model,
        windowLen = "1 minute", watermark = "1 minute")
      .writeStream.format("memory").queryName("classify_dotted_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((ts(0), 100L, "aa bb"), (ts(0), 101L, "cc dd"),
        (ts(0), 102L, "zz"))
      q.processAllAvailable()
      mem.addData((ts(5), 999L, "flush"))
      q.processAllAvailable()
      val got = spark.table("classify_dotted_out").collect()
        .map(r => r.getLong(1) -> r.getString(2)).toMap
      assert(got(100L) == "web.en")
      assert(got(101L) == "lab data")
      // all-zero tie falls to the alphabetically-first label
      assert(got(102L) == "lab data")
    } finally q.stop()
  }

  test("driftStream: window centroids vs the static baseline, " +
    "batch floor/cosine arithmetic shared") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.lit
    // static baseline: label 1 -> [1, 0], label 2 -> [0, 1]
    // ([1,0] quantizes to [1024, 0]: perfect-square norm -> exact 1e6
    // on an identical window centroid)
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f), 1), (2L, Seq(1.0f, 0.0f), 1),
      (3L, Seq(0.0f, 1.0f), 2), (4L, Seq(0.0f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val baseline = graft.operators.Similarity.labelCentroids(corpus)
    val mem = MemoryStream[(Timestamp, Long, Seq[Float], Int)]
    val q = StreamingCuration.driftStream(
        mem.toDF().toDF("ts", "vec_id", "embedding", "label"), baseline,
        windowLen = "1 minute", watermark = "1 minute")
      .writeStream.format("memory").queryName("drift_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (ts(0), 100L, Seq(1.0f, 0.0f), 1),  // on-baseline for label 1
        (ts(0), 101L, Seq(0.0f, 1.0f), 1),  // drifted arrival, label 1
        (ts(0), 102L, Seq(0.0f, 1.0f), 2))  // on-baseline for label 2
      q.processAllAvailable()
      mem.addData((ts(5), 999L, Seq(1.0f, 1.0f), 1)) // close the window
      q.processAllAvailable()
      val got = spark.table("drift_out").collect()
        .map(r => r.getInt(1) -> (r.getLong(2), r.getLong(3))).toMap
      // label 1 window centroid = floor-mean of [1024,0] and [0,1024]
      // = [512, 512]; cos vs [1024, 0] = 1/sqrt(2) -> 707106 ppm
      assert(got(1) == ((2L, 707106L)))
      // label 2 window centroid equals its baseline exactly -> 1e6
      assert(got(2) == ((1L, 1000000L)))
    } finally q.stop()
  }

  test("text gate LIFECYCLE across the banding boundary (r13, VERDICT " +
    "r12 #1): kill at the 8×2 snapshot, re-derive 4×4 from the grown " +
    "corpus, resume from the SAME checkpoint — restarted gate ≡ a " +
    "fresh gate at the new banding, while-down arrivals exactly once") {
    // Both admission gates derive banding from the corpus snapshot at
    // stream-BUILD time; a long-lived stream's corpus GROWS past the
    // 10⁴ arm boundary mid-deployment. The migration story is the
    // reference's uncaught-exception contract
    // (UncaughtExceptionHandlerConfig.java:19 — stop cleanly, resume
    // without duplicates): kill the gate, re-derive (b, r) from the
    // new snapshot, resume from checkpoint. The gate is STATELESS
    // (stream-static joins only), so the plan swap is
    // restart-compatible; carried offsets give exactly-once.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, concat, concat_ws, lit}
    def w(p: String, c: org.apache.spark.sql.Column) = concat(lit(p), c)
    def corpusOf(n: Long): DataFrame = spark.range(n)
      .select(col("id").as("doc_id"),
        concat_ws(" ", w("a", col("id")), w("b", col("id")),
          w("c", col("id")), w("d", col("id")), w("e", col("id")))
          .as("text")).localCheckpoint(true)
    def textOf(c: DataFrame, id: Long): String =
      c.where(col("doc_id") === id).head().getAs[String]("text")
    val small = corpusOf(500)   // autoBandRows = 2 → the 8×2 gate
    val grown = corpusOf(15000) // past 10⁴ → the 4×4 gate
    assert(graft.operators.Dedup.autoBandRows(500) == 2 &&
      graft.operators.Dedup.autoBandRows(15000) == 4)

    val mem = MemoryStream[(Timestamp, Long, String)]
    val collected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val cp = java.nio.file.Files
      .createTempDirectory("graft-gate-cp").toString
    def start(corpus: DataFrame) = StreamingCuration
      .admitNearDupStream(mem.toDF().toDF("ts", "doc_id", "text"), corpus)
      .writeStream.option("checkpointLocation", cp)
      .outputMode(OutputMode.Append)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.collect().map(_.getLong(1))
        collected.synchronized { collected ++= rows }
        ()
      }.start()

    // phase 1: the 8×2 gate over the small snapshot
    val q1 = start(small)
    try {
      mem.addData(
        (ts(0), 9001L, textOf(small, 42L)), // corpus dup → dropped
        (ts(1), 9002L, "entirely novel arrival about glacier moraine " +
          "sediment cores and isotope chronology"))
      q1.processAllAvailable()
    } finally q1.stop() // the kill — clean-shutdown semantics
    assert(collected.toSet == Set(9002L))
    val phase1 = collected.size

    // while DOWN: the corpus grew past the arm boundary; arrivals
    // keep queueing at the source
    mem.addData(
      (ts(2), 9003L, textOf(grown, 12000L)), // dup only in the GROWN
                                             // snapshot → dropped by
                                             // the re-derived gate
      (ts(3), 9004L, textOf(small, 7L)),     // still a dup
      (ts(4), 9005L, "second novel document with wholly fresh " +
        "vocabulary of tidal estuary sediments"))

    // phase 2: re-derive from the grown snapshot, resume from the
    // SAME checkpoint
    val q2 = start(grown)
    try {
      q2.processAllAvailable()
      mem.addData(
        (ts(5), 9006L, textOf(grown, 14321L)), // dropped at 4×4
        (ts(6), 9007L, "third novel document describing basalt " +
          "column jointing and lava cooling rates"))
      q2.processAllAvailable()
    } finally q2.stop()

    // exactly-once across the restart: every arrival decided ONCE,
    // verdicts per the gate active at processing time
    val ids = collected.toSeq
    assert(ids.size == ids.distinct.size, s"re-emission: $ids")
    assert(ids.toSet == Set(9002L, 9005L, 9007L))

    // restarted gate ≡ a FRESH gate built at the new banding: the
    // same post-kill arrivals through a pinned-(4,4) gate on a fresh
    // checkpoint admit exactly the same ids
    val postKill = ids.drop(phase1).toSet
    val mem2 = MemoryStream[(Timestamp, Long, String)]
    val q3 = StreamingCuration.admitNearDupStream(
        mem2.toDF().toDF("ts", "doc_id", "text"), grown,
        bandsOverride = Some(4))
      .writeStream.format("memory").queryName("gate_fresh_44")
      .outputMode(OutputMode.Append).start()
    try {
      mem2.addData(
        (ts(2), 9003L, textOf(grown, 12000L)),
        (ts(3), 9004L, textOf(small, 7L)),
        (ts(4), 9005L, "second novel document with wholly fresh " +
          "vocabulary of tidal estuary sediments"),
        (ts(5), 9006L, textOf(grown, 14321L)),
        (ts(6), 9007L, "third novel document describing basalt " +
          "column jointing and lava cooling rates"))
      q3.processAllAvailable()
      val fresh = spark.table("gate_fresh_44").collect()
        .map(_.getLong(1)).toSet
      assert(fresh == postKill,
        s"restarted gate diverged from fresh gate: $fresh vs $postKill")
    } finally q3.stop()
  }

  test("vector gate LIFECYCLE across the width boundary (r13): kill " +
    "at the 4-bit snapshot, re-derive 5 bits from the grown corpus, " +
    "resume from checkpoint — restarted ≡ fresh at the new width, " +
    "exactly-once across the restart") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit, sequence, sin, transform => xform}
    def corpusOf(n: Long): DataFrame = spark.range(n)
      .select(col("id").as("vec_id"),
        xform(sequence(lit(0), lit(63)), d =>
          sin(col("id") * (d + lit(1))).cast("float")).as("embedding"))
      .localCheckpoint(true)
    val small = corpusOf(500)  // autoBits = 4 (the floor)
    val grown = corpusOf(3000) // past 128·2⁴ → 5 bits
    assert(graft.operators.Similarity.autoBits(500) == 4 &&
      graft.operators.Similarity.autoBits(3000) == 5)
    def vecOf(c: DataFrame, id: Long): Seq[Float] =
      c.where(col("vec_id") === id).head().getSeq[Float](1)
    val zero = Seq.fill(64)(0.0f) // zero-norm → always admitted (r12
                                  // law): the deterministic sentinel

    val mem = MemoryStream[(Timestamp, Long, Seq[Float])]
    val collected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val cp = java.nio.file.Files
      .createTempDirectory("graft-vgate-cp").toString
    def start(corpus: DataFrame) = StreamingCuration
      .admitVectorStream(
        mem.toDF().toDF("ts", "vec_id", "embedding"), corpus)
      .writeStream.option("checkpointLocation", cp)
      .outputMode(OutputMode.Append)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.collect().map(_.getLong(1))
        collected.synchronized { collected ++= rows }
        ()
      }.start()

    // phase 1: the 4-bit gate
    val q1 = start(small)
    try {
      mem.addData((ts(0), 9001L, vecOf(small, 123L)), // dup → dropped
        (ts(1), 9002L, zero))                         // admitted
      q1.processAllAvailable()
    } finally q1.stop()
    assert(collected.toSet == Set(9002L))
    val phase1 = collected.size

    // while DOWN: corpus grows past the width boundary
    mem.addData(
      (ts(2), 9003L, vecOf(grown, 2500L)), // dup only in the GROWN
                                           // snapshot → dropped
      (ts(3), 9004L, zero))                // admitted

    // phase 2: re-derived width, same checkpoint
    val q2 = start(grown)
    try {
      q2.processAllAvailable()
      mem.addData((ts(4), 9005L, vecOf(grown, 2999L)), // dropped
        (ts(5), 9006L, zero))                          // admitted
      q2.processAllAvailable()
    } finally q2.stop()

    val ids = collected.toSeq
    assert(ids.size == ids.distinct.size, s"re-emission: $ids")
    assert(ids.toSet == Set(9002L, 9004L, 9006L))

    // restarted ≡ fresh at the new width (pinned Some(5), fresh cp)
    val postKill = ids.drop(phase1).toSet
    val mem2 = MemoryStream[(Timestamp, Long, Seq[Float])]
    val q3 = StreamingCuration.admitVectorStream(
        mem2.toDF().toDF("ts", "vec_id", "embedding"), grown,
        bitsPerBand = Some(5))
      .writeStream.format("memory").queryName("vgate_fresh_5")
      .outputMode(OutputMode.Append).start()
    try {
      mem2.addData(
        (ts(2), 9003L, vecOf(grown, 2500L)), (ts(3), 9004L, zero),
        (ts(4), 9005L, vecOf(grown, 2999L)), (ts(5), 9006L, zero))
      q3.processAllAvailable()
      val fresh = spark.table("vgate_fresh_5").collect()
        .map(_.getLong(1)).toSet
      assert(fresh == postKill,
        s"restarted gate diverged from fresh gate: $fresh vs $postKill")
    } finally q3.stop()
  }

  test("classifyStream MODEL-REFRESH lifecycle (r13): kill, swap in the " +
    "re-fit model (same label set), resume from checkpoint — closed " +
    "windows are not re-emitted, in-flight window STATE survives the " +
    "swap, while-down arrivals score under the refreshed model") {
    // The admit gates' lifecycle story extended to the STATEFUL
    // serving stream: the batch-fit/stream-score loop refreshes the
    // model offline, and the swap is restart-compatible iff the label
    // SET is unchanged (the windowed agg's schema is one conditional
    // sum per label, index-named over the sorted label list — same
    // labels ⇒ same state schema; a GROWN label set changes the agg
    // schema and needs a fresh checkpoint, the documented operational
    // boundary). Each doc's score is computed whole in its arrival
    // micro-batch, so a mid-window swap never mixes models within one
    // document — only across documents, which is the semantics a
    // rolling model deployment wants.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    val model1 = Seq(
      ("aa", "alpha", 500000L), ("bb", "alpha", 500000L),
      ("cc", "beta", 500000L), ("dd", "beta", 500000L))
      .toDF("w", "label", "weight_ppm").localCheckpoint(true)
    // re-fit on the grown corpus: SAME labels, beta vocabulary moved
    val model2 = Seq(
      ("aa", "alpha", 500000L), ("bb", "alpha", 500000L),
      ("ee", "beta", 500000L), ("ff", "beta", 500000L))
      .toDF("w", "label", "weight_ppm").localCheckpoint(true)

    val mem = MemoryStream[(Timestamp, Long, String)]
    val collected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val cp = java.nio.file.Files
      .createTempDirectory("graft-classify-cp").toString
    def start(model: DataFrame) = StreamingCuration
      .classifyStream(mem.toDF().toDF("ts", "doc_id", "text"), model,
        windowLen = "1 minute", watermark = "1 minute")
      .writeStream.option("checkpointLocation", cp)
      .outputMode(OutputMode.Append)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.collect().map(r => (r.getLong(1), r.getString(2)))
        collected.synchronized { collected ++= rows }
        ()
      }.start()

    // run 1 under model1: window W0 fills and closes (the ts(5)
    // arrival advances the watermark past W0's end); the flush doc's
    // own window W5 stays OPEN — its state must survive the restart
    val q1 = start(model1)
    try {
      mem.addData((ts(0), 100L, "aa bb aa"), (ts(0), 101L, "cc cc"))
      q1.processAllAvailable()
      mem.addData((ts(5), 999L, "flush"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(collected.toSet == Set((100L, "alpha"), (101L, "beta")))

    // while DOWN: an arrival only the REFRESHED model recognizes —
    // under model1 "ee ff ee" is a zero-hit (tie-break → alpha),
    // under model2 it is clean beta vocabulary: the verdict observes
    // which model scored it
    mem.addData((ts(7), 200L, "ee ff ee"))

    // run 2 under model2, same checkpoint; ts(12) closes W5 and W7
    val q2 = start(model2)
    try {
      q2.processAllAvailable()
      mem.addData((ts(12), 998L, "flush again"))
      q2.processAllAvailable()
    } finally q2.stop()

    val all = collected.toSeq
    assert(all.size == all.distinct.size, s"re-emission: $all")
    assert(all.toSet == Set(
      (100L, "alpha"), (101L, "beta"),
      // W5's state was built in run 1 and emitted in run 2: restored
      // stateful window state, not a recompute ("flush" is zero-hit
      // → the pinned alphabetically-first tie-break)
      (999L, "alpha"),
      // the while-down arrival scored under the REFRESHED model
      (200L, "beta")))
  }

  test("classifyStreamLong GROWN-label-set lifecycle (r14, VERDICT r13 " +
    "#2): a 3-label → 5-label model refresh resumes from the SAME " +
    "checkpoint with exactly-once — labels are data, so the state " +
    "schema survives label-set growth the wide form cannot") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    // 3 labels
    val model3 = Seq(
      ("aa", "alpha", 500000L), ("bb", "alpha", 500000L),
      ("cc", "beta", 500000L), ("gg", "gamma", 500000L))
      .toDF("w", "label", "weight_ppm").localCheckpoint(true)
    // refreshed on the grown taxonomy: GROWN to 5 labels (delta,
    // epsilon are new; the wide form's agg schema would change here
    // and refuse the old checkpoint)
    val model5 = Seq(
      ("aa", "alpha", 500000L), ("bb", "alpha", 500000L),
      ("cc", "beta", 500000L), ("gg", "gamma", 500000L),
      ("ee", "delta", 500000L), ("ff", "epsilon", 500000L))
      .toDF("w", "label", "weight_ppm").localCheckpoint(true)
    val labels5 = Seq("alpha", "beta", "gamma", "delta", "epsilon")

    val mem = MemoryStream[(Timestamp, Long, String)]
    val collected = scala.collection.mutable
      .ArrayBuffer.empty[(Long, String, Long)]
    val cp = java.nio.file.Files
      .createTempDirectory("graft-classify-long-cp").toString
    def start(model: DataFrame) = StreamingCuration
      .classifyStreamLong(mem.toDF().toDF("ts", "doc_id", "text"), model,
        windowLen = "1 minute", watermark = "1 minute")
      .writeStream.option("checkpointLocation", cp)
      .outputMode(OutputMode.Append)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.collect().map(r =>
          (r.getLong(1), Option(r.getString(2)).getOrElse("∅"),
            r.getLong(3)))
        collected.synchronized { collected ++= rows }
        ()
      }.start()

    // run 1 under the 3-label model: W0 closes; the flush doc's own
    // window W5 stays open — its state must survive the restart
    val q1 = start(model3)
    try {
      mem.addData((ts(0), 100L, "aa bb aa"), (ts(0), 101L, "cc xx"))
      q1.processAllAvailable()
      mem.addData((ts(5), 999L, "flush"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(collected.toSet == Set(
      (100L, "alpha", 1500000L),          // 3 hits
      (101L, "beta", 500000L), (101L, "∅", 0L))) // xx missed → null arm
    val run1 = collected.size

    // while DOWN: a doc only the GROWN label set can classify
    mem.addData((ts(7), 200L, "ee ee ff"))

    // run 2 under the 5-label model, SAME checkpoint — the wide form
    // dies here; the long form resumes and the new labels appear as
    // new grouping-key values
    val q2 = start(model5)
    try {
      q2.processAllAvailable()
      mem.addData((ts(12), 998L, "flush again"))
      q2.processAllAvailable()
    } finally q2.stop()

    val all = collected.toSeq
    assert(all.size == all.distinct.size, s"re-emission: $all")
    assert(all.drop(run1).toSet == Set(
      (999L, "∅", 0L),                    // run-1 state, run-2 emit
      (200L, "delta", 1000000L), (200L, "epsilon", 500000L)))

    // argmax derivability: reducing the landed long rows reproduces
    // the wide form's contract, incl. the zero-hit tie-break (999 →
    // alphabetically-first model label)
    val landed = all.map { case (id, l, s) =>
      (id, if (l == "∅") null else l, s)
    }.toDF("doc_id", "label", "score_ppm")
      .withColumn("window", org.apache.spark.sql.functions
        .lit("w")) // window identity is irrelevant to the reduce here
    val pred = StreamingCuration.classifyArgmax(landed, labels5)
      .collect().map(r => r.getLong(1) -> (r.getString(2), r.getLong(3)))
      .toMap
    assert(pred == Map(
      100L -> ("alpha", 1500000L), 101L -> ("beta", 500000L),
      999L -> ("alpha", 0L), 200L -> ("delta", 1000000L)))

    // batch/stream parity at BOTH label sets: the same function over
    // a STATIC frame (watermark is a no-op in batch) + the argmax
    // equals the wide batch classifier row for row
    for (m <- Seq(model3, model5)) {
      val static = Seq((ts(0), 100L, "aa bb aa"), (ts(0), 101L, "cc xx"),
        (ts(7), 200L, "ee ee ff")).toDF("ts", "doc_id", "text")
      val ls = m.select("label").distinct()
        .collect().map(_.getString(0)).toSeq
      val viaLong = StreamingCuration.classifyArgmax(
        StreamingCuration.classifyStreamLong(static, m), ls)
        .collect().map(r => (r.get(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSet
      val wide = StreamingCuration.classifyStream(static, m)
        .collect().map(r => (r.get(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSet
      assert(viaLong == wide, s"long+argmax diverged from wide: $ls")
    }
  }

  test("maintained TEXT store (r14, VERDICT r13 #3): the foreachBatch " +
    "ingest loop gates each micro-batch against the store it maintains; " +
    "after N batches (incl. a kill/resume) the store ≡ the sequential " +
    "batch-fold oracle, band rows ≡ from-scratch signatures, and a " +
    "replayed batchId is a no-op") {
    import graft.streaming.StoreMaintenance
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files
      .createTempDirectory("graft-text-store").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft-text-store-cp").toString
    val b0 = Seq((ts(0), 1L, "alpha beta gamma delta epsilon"),
      (ts(0), 2L, "one two three four five"))
    // doc 3 duplicates doc 1 (gated by the STORE built from b0);
    // doc 9 is sigless (< 3 words) → admitted, contributes no rows
    val b1 = Seq((ts(1), 3L, "alpha beta gamma delta epsilon"),
      (ts(1), 4L, "six seven eight nine ten"), (ts(1), 9L, "hi"))
    // arrives while the query is DOWN: doc 5 duplicates doc 4 —
    // only a store that RETAINED b1's fold can drop it after resume
    val b2 = Seq((ts(2), 5L, "six seven eight nine ten"),
      (ts(2), 6L, "red orange yellow green blue"))
    val b3 = Seq((ts(3), 7L, "red orange yellow green blue"),
      (ts(3), 8L, "zeta eta theta iota kappa"))

    val mem = MemoryStream[(Timestamp, Long, String)]
    def start() = StoreMaintenance
      .maintainTextStore(mem.toDF().toDF("ts", "doc_id", "text"), store)
      .option("checkpointLocation", cp).start()
    val q1 = start()
    try {
      mem.addData(b0: _*); q1.processAllAvailable()
      mem.addData(b1: _*); q1.processAllAvailable()
    } finally q1.stop()
    mem.addData(b2: _*) // while down
    val q2 = start()
    try {
      q2.processAllAvailable()
      mem.addData(b3: _*); q2.processAllAvailable()
    } finally q2.stop()

    val ids = StoreMaintenance.textStoreDocs(spark, store).get
      .collect().map(_.getLong(1)).toSeq
    assert(ids.size == ids.distinct.size,
      s"a batch was folded twice across the restart: $ids")
    assert(ids.toSet == Set(1L, 2L, 4L, 9L, 6L, 8L))

    // ORACLE: the sequential batch fold through the STATIC admission
    // gate (re-signs the accumulated corpus from scratch each step —
    // the path the maintained store's carried signatures must match)
    var corpus = Seq.empty[(Timestamp, Long, String)]
    for (b <- Seq(b0, b1, b2, b3)) {
      val admitted = StreamingCuration.admitNearDupStream(
        b.toDF("ts", "doc_id", "text"),
        corpus.toDF("ts", "doc_id", "text"), bandsOverride = Some(8))
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2)))
      corpus ++= admitted
    }
    assert(ids.toSet == corpus.map(_._2).toSet,
      "stream-maintained store diverged from the batch-fold oracle")

    // the store's carried band rows ≡ from-scratch signatures of the
    // admitted corpus (no incremental signature drift)
    val storedRows = StoreMaintenance.textStoreRows(spark, store).get
      .select("doc_id", "band", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val fromScratch = StoreMaintenance.textStoreDocs(spark, store).get
      .where(col("doc_id") =!= 9L) // sigless
      .select(col("doc_id"), graft.functions.textNative
        .oph_sig(col("text"), 3).as("sig"))
      .select(col("doc_id"), org.apache.spark.sql.functions.posexplode(
        org.apache.spark.sql.functions.array((0 until 8).map(b =>
          StreamingCuration.ophBucket(col("sig"), b, 2)): _*)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(storedRows == fromScratch)

    // replay safety: a committed batchId is a no-op even with
    // DIFFERENT content (the engine replays the SAME content; this is
    // strictly stronger), and a crash-before-commit replay rewrites
    // deterministically
    val before = storedRows
    StoreMaintenance.foldTextBatch(
      Seq((ts(9), 999L, "this must not land anywhere"))
        .toDF("ts", "doc_id", "text"), 0L, store)
    assert(StoreMaintenance.textStoreRows(spark, store).get
      .select("doc_id", "band", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet == before)
    val lastId = StoreMaintenance.committedBatches(store).max
    new java.io.File(s"$store/rows/b$lastId/_SUCCESS").delete()
    StoreMaintenance.foldTextBatch(b3.toDF("ts", "doc_id", "text"),
      lastId, store)
    assert(StoreMaintenance.textStoreRows(spark, store).get
      .select("doc_id", "band", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet == before)
  }

  test("maintained VECTOR store (r14): dup vectors dropped against the " +
    "maintained snapshot across batches, zero-norm arrivals admitted " +
    "with no candidate rows, final store ≡ the batch-fold oracle") {
    import graft.streaming.StoreMaintenance
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files
      .createTempDirectory("graft-vec-store").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft-vec-store-cp").toString
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(d => math.sin((seed + 1) * (d + 1)).toFloat)
    val zero = Seq.fill(64)(0.0f)
    val b0 = Seq((ts(0), 1L, vec(1)), (ts(0), 2L, vec(2)))
    val b1 = Seq((ts(1), 3L, vec(1)), // dup of stored 1 → dropped
      (ts(1), 4L, vec(4)), (ts(1), 5L, zero)) // zero-norm → admitted
    val b2 = Seq((ts(2), 6L, vec(4)), (ts(2), 7L, vec(7)))

    val mem = MemoryStream[(Timestamp, Long, Seq[Float])]
    val q = StoreMaintenance
      .maintainVecStore(mem.toDF().toDF("ts", "vec_id", "embedding"), store)
      .option("checkpointLocation", cp).start()
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val ids = StoreMaintenance.vecStoreVecs(spark, store).get
      .collect().map(_.getLong(1)).toSet
    assert(ids == Set(1L, 2L, 4L, 5L, 7L))

    // the batch-fold oracle through the static vector gate
    var corpus = Seq.empty[(Timestamp, Long, Seq[Float])]
    for (b <- Seq(b0, b1, b2)) {
      val admitted = StreamingCuration.admitVectorStream(
        b.toDF("ts", "vec_id", "embedding"),
        corpus.toDF("ts", "vec_id", "embedding"), bitsPerBand = Some(4))
        .collect().map(r => (r.getTimestamp(0), r.getLong(1),
          r.getSeq[Float](2)))
      corpus ++= admitted
    }
    assert(ids == corpus.map(_._2).toSet)

    // zero-norm vec 5 is IN the corpus record but contributes no
    // candidate rows (it can never gate anything out)
    val rowIds = spark.read.parquet(
      StoreMaintenance.committedBatches(store)
        .map(i => s"$store/rows/b$i"): _*)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rowIds == Set(1L, 2L, 4L, 7L))
  }

  test("maintained k-NN GRAPH (r14): each micro-batch folds into the " +
    "persisted graph via the upsert merge; after three batches (incl. a " +
    "kill/resume) the current graph ≡ the from-scratch knnGraph of all " +
    "arrivals, and replayed batchIds are no-ops") {
    import graft.streaming.StoreMaintenance
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files
      .createTempDirectory("graft-knn-store").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft-knn-store-cp").toString
    // the REAL corpus, arriving as three residue-class batches — the
    // lifecycle fold convention, so the equality is over a corpus
    // with genuine cross-batch neighborhoods (incl. its zero-norm vec)
    val all = graft.relational.Tables
      .embeddings(spark, "/root/testdata/sf0.001")
    val batches = (0 until 3).map(m => all
      .where(org.apache.spark.sql.functions
        .pmod(col("vec_id"), org.apache.spark.sql.functions.lit(3)) === m)
      .collect().map(r => (ts(m), r.getLong(0), r.getSeq[Float](1))).toSeq)

    val mem = MemoryStream[(Timestamp, Long, Seq[Float])]
    def start() = StoreMaintenance
      .maintainKnnGraph(mem.toDF().toDF("ts", "vec_id", "embedding"), store)
      .option("checkpointLocation", cp).start()
    val q1 = start()
    try {
      mem.addData(batches(0): _*); q1.processAllAvailable()
      mem.addData(batches(1): _*); q1.processAllAvailable()
    } finally q1.stop()
    mem.addData(batches(2): _*) // while down
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    def graphRows() = StoreMaintenance.knnGraphCurrent(spark, store).get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    val got = graphRows()
    val fresh = graft.operators.Similarity.knnGraph(all)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(got == fresh,
      "stream-maintained graph diverged from the from-scratch build")

    // replay safety: committed batchId → no-op, even with content that
    // would change every neighborhood
    StoreMaintenance.foldKnnGraphBatch(
      batches(0).map { case (t, id, e) => (t, id + 9000L, e) }
        .toDF("ts", "vec_id", "embedding"), 0L, store)
    assert(graphRows() == fresh)
    // crash-before-commit replay: deterministic rewrite
    val lastId = StoreMaintenance.committedBatches(store).max
    new java.io.File(s"$store/rows/b$lastId/_SUCCESS").delete()
    StoreMaintenance.foldKnnGraphBatch(
      batches(2).toDF("ts", "vec_id", "embedding"), lastId, store)
    assert(graphRows() == fresh)
    // redelivery guard (r14 review finding): the same vectors arriving
    // under a NEW batchId fold to nothing — ids are immutable once
    // ingested, so no stored edge is ever duplicated into a top-k
    StoreMaintenance.foldKnnGraphBatch(
      batches(0).toDF("ts", "vec_id", "embedding"), 99L, store)
    assert(graphRows() == fresh,
      "a redelivered vec_id must not duplicate stored edges")
  }

  test("store COMPACTION (r14): consolidating per-batch dirs changes " +
    "NOTHING observable — subsequent folds admit identically, covered " +
    "batchIds stay committed (replays no-op), the maintained graph is " +
    "preserved, and a lingering covered dir (the crash window) is a " +
    "harmless double-count") {
    import graft.streaming.StoreMaintenance
    import org.apache.spark.sql.functions.col
    def textBatch(b: Int) = (0 until 40).map { j =>
      val i = b * 40 + j
      val base = if (i % 5 == 0) i / 2 else i
      (ts(b), i.toLong,
        (0 until 8).map(t => s"w${base * 977 + t * 131}").mkString(" "))
    }.toDF("ts", "doc_id", "text")
    def docsOf(s: String) = StoreMaintenance.textStoreDocs(spark, s).get
      .collect().map(_.getLong(1)).toSet
    def rowsOf(s: String) = StoreMaintenance.textStoreRows(spark, s).get
      .select("doc_id", "band", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // twin stores: A stays per-batch, B compacts after 3 folds
    val sA = java.nio.file.Files.createTempDirectory("graft-cmp-a").toString
    val sB = java.nio.file.Files.createTempDirectory("graft-cmp-b").toString
    for (b <- 0 until 3; s <- Seq(sA, sB))
      StoreMaintenance.foldTextBatch(textBatch(b), b.toLong, s)
    // keep a covered dir aside to simulate the crash-window leftover
    val aside = java.nio.file.Files.createTempDirectory("graft-cmp-keep")
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(from).forEach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
        ()
      }
    }
    copyTree(java.nio.file.Paths.get(s"$sB/rows/b1"), aside)
    assert(StoreMaintenance.compactStore(spark, sB) == 3)
    // one segment left, every id still committed, payload identical
    assert(new java.io.File(s"$sB/rows").listFiles().map(_.getName).toSeq
      == Seq("c2"))
    assert(StoreMaintenance.committedBatches(sB) == Seq(0L, 1L, 2L))
    assert(docsOf(sB) == docsOf(sA) && rowsOf(sB) == rowsOf(sA))
    // a replayed covered batchId is STILL a no-op after its dir is gone
    StoreMaintenance.foldTextBatch(
      Seq((ts(9), 7777L, "w1 w2 w3 w4")).toDF("ts", "doc_id", "text"),
      1L, sB)
    assert(docsOf(sB) == docsOf(sA))
    // the crash window: restore a covered b dir alongside the c segment
    // -> rows double-count, but admission semantics are idempotent
    copyTree(aside, java.nio.file.Paths.get(s"$sB/rows/b1"))
    for (s <- Seq(sA, sB))
      StoreMaintenance.foldTextBatch(textBatch(3), 3L, s)
    assert(docsOf(sB) == docsOf(sA),
      "post-compaction fold diverged from the uncompacted twin")

    // graph store: compaction preserves the maintained graph and the
    // next fold lands identically
    def vec(i: Int) = (0 until 64).map(d =>
      math.sin((i + 1) * (d + 1)).toFloat)
    def vecBatch(b: Int) = (0 until 30).map { j =>
      val i = b * 30 + j; (ts(b), i.toLong, vec(if (i % 6 == 0) i / 2 else i))
    }.toDF("ts", "vec_id", "embedding")
    val gA = java.nio.file.Files.createTempDirectory("graft-cmpg-a").toString
    val gB = java.nio.file.Files.createTempDirectory("graft-cmpg-b").toString
    for (b <- 0 until 3; s <- Seq(gA, gB))
      StoreMaintenance.foldKnnGraphBatch(vecBatch(b), b.toLong, s)
    def g(s: String) = StoreMaintenance.knnGraphCurrent(spark, s).get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(StoreMaintenance.compactStore(spark, gB) == 3)
    assert(g(gB) == g(gA))
    for (s <- Seq(gA, gB))
      StoreMaintenance.foldKnnGraphBatch(vecBatch(3), 3L, s)
    assert(g(gB) == g(gA),
      "post-compaction graph fold diverged from the uncompacted twin")
  }

  test("persisted-store ARM migration (r14): rebandTextStore rewrites " +
    "the store at the doubled rows-per-band from the CARRIED sigs (no " +
    "re-sign), subsequent folds pick the new arm up from the data, the " +
    "whole chain equals the arm-switching batch-fold oracle, and both " +
    "crash arms of the two-phase rename recover") {
    import graft.streaming.{StoreMaintenance, StreamingCuration}
    import org.apache.spark.sql.functions.col
    def batchOf(b: Int) = (0 until 40).map { j =>
      val i = b * 40 + j
      val base = if (i % 5 == 0) i / 2 else i
      (ts(b), i.toLong,
        (0 until 10).map(t => s"w${base * 977 + t * 131}").mkString(" "))
    }
    val store = java.nio.file.Files
      .createTempDirectory("graft-reband-store").toString
    // two folds at arm 8 (r = 2), MIGRATE to arm 4 (r = 4), two more
    for (b <- 0 until 2)
      StoreMaintenance.foldTextBatch(batchOf(b).toDF("ts", "doc_id", "text"),
        b.toLong, store)
    assert(StoreMaintenance.storeArm(spark, store).contains(8))
    assert(StoreMaintenance.rebandTextStore(spark, store) == 4)
    assert(StoreMaintenance.storeArm(spark, store).contains(4))
    // stored rows ≡ from-scratch banding of the admitted docs at the
    // new arm — the carried-signature migration cannot drift
    val fromScratch = StoreMaintenance.textStoreDocs(spark, store).get
      .select(col("doc_id"), graft.functions.textNative
        .oph_sig(col("text"), 3).as("sig"))
      .select(col("doc_id"), org.apache.spark.sql.functions.posexplode(
        org.apache.spark.sql.functions.array((0 until 4).map(b =>
          StreamingCuration.ophBucket(col("sig"), b, 4)): _*)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(StoreMaintenance.textStoreRows(spark, store).get
      .select("doc_id", "band", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet == fromScratch)
    for (b <- 2 until 4)
      StoreMaintenance.foldTextBatch(batchOf(b).toDF("ts", "doc_id", "text"),
        b.toLong, store)
    assert(StoreMaintenance.committedBatches(store) == Seq(0L, 1L, 2L, 3L))
    // oracle: the sequential batch fold whose static gate switches arm
    // at the same point
    var corpus = Seq.empty[(Timestamp, Long, String)]
    for (b <- 0 until 4) {
      val admitted = StreamingCuration.admitNearDupStream(
        batchOf(b).toDF("ts", "doc_id", "text"),
        corpus.toDF("ts", "doc_id", "text"),
        bandsOverride = Some(if (b < 2) 8 else 4))
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2)))
      corpus ++= admitted
    }
    assert(StoreMaintenance.textStoreDocs(spark, store).get
      .collect().map(_.getLong(1)).toSet == corpus.map(_._2).toSet,
      "rebanded store diverged from the arm-switching batch-fold oracle")

    // crash rollback: an INCOMPLETE reband journal (no _TARGET) must
    // roll back on the next store entry, leaving folds unaffected
    val rowsTmp = new java.io.File(s"$store/rows/.tmp_reband")
    rowsTmp.mkdirs()
    java.nio.file.Files.writeString(
      rowsTmp.toPath.resolve("_SUCCESS"), "")
    StoreMaintenance.foldTextBatch(
      batchOf(4).toDF("ts", "doc_id", "text"), 4L, store)
    assert(!rowsTmp.exists, "incomplete reband tmp must roll back")
    // (the COMPLETE-journal arm is the normal commit path: every
    // successful reband goes journal → recoverReband rename)
    val docsAfter = StoreMaintenance.textStoreDocs(spark, store).get
      .collect().map(_.getLong(1)).toSet
    // round-trip migration back to arm 8 preserves the corpus record
    assert(StoreMaintenance.rebandTextStore(spark, store,
      toBands = Some(8)) == 8)
    assert(StoreMaintenance.storeArm(spark, store).contains(8))
    assert(StoreMaintenance.textStoreDocs(spark, store).get
      .collect().map(_.getLong(1)).toSet == docsAfter,
      "round-trip reband must preserve the corpus record")
  }
}
