package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.StreamingCuration

/** Streaming-throughput micro-bench (dev tool — the r6 evidence row
  * VERDICT r5 asked for): events/s through the two always-on ingest
  * pipelines, driven by MemoryStream micro-batches on the Bench
  * session shape (`graft.Session`: local[cores], shuffle partitions =
  * cores).
  *
  *  - text path: dedupStream (stateful, watermark 1 h) → qualityGate
  *    (stateless) → admitStream (stream-static anti-join against the
  *    sf0.1 corpus, 5 000 docs) — synthetic docs, ~25 tokens each,
  *    30 % in-stream duplicate rate, event time advancing 1 min per
  *    micro-batch so the pinned watermark holds all state.
  *  - vector path: admitVectorStream (fully stream-stateless
  *    LSH-bucket lookup + row-local exists-verify) against the
  *    sf0.1 embeddings corpus (2 000 × dim-64).
  *
  * Prints one CSV row per pipeline: rows in, wall s (from first
  * addData to the final processAllAvailable), rows/s, state rows at
  * the end (from the last progress's stateOperators), output rows.
  * MemoryStream is driver-resident — this measures the ENGINE's
  * micro-batch path (planning + state store + shuffle), not a source;
  * a Kafka source adds its own consumer throughput in front. */
object StreamBench {

  /** State-wall probe (r9, VERDICT r7 #3 / r8 #7): find the regime
    * where RocksDB OVERTAKES the in-memory provider. The r7 rows
    * showed RocksDB 8-12% behind when state fits in heap — its
    * advantage regime is retained state ≫ heap, where the
    * HDFSBacked provider's on-heap maps hit GC walls and finally
    * OOM while RocksDB keeps state off-heap. Isolates the stateful
    * stage (dedupStream only, ALL-distinct keys so every row inserts
    * state, no corpus join) and prints ONE CSV row PER BATCH — wall,
    * cumulative state rows, used heap after a forced GC — so the
    * crossover is read directly from the two runs' per-batch
    * trajectories. Run BOUNDED-HEAP via a direct `java -Xmx…` launch
    * (the recipe is in BASELINE.md):
    *   java -Xmx1200m -cp "SPARK_JARS_GLOB:target/scala-2.13/classes"
    *     graft.tools.StreamBench statewall
    * (SPARK_JARS_GLOB = the /opt/spark/jars wildcard; spelled out in
    * BASELINE.md — a literal glob here would nest-open this comment)
    * env: STREAMBENCH_PROVIDER, STREAMBENCH_BATCHES (default 16),
    * STREAMBENCH_ROWS_PER_BATCH (default 250000). */
  private def statewallMain(): Unit = {
    val batches = sys.env.getOrElse("STREAMBENCH_BATCHES", "16").toInt
    val perBatch =
      sys.env.getOrElse("STREAMBENCH_ROWS_PER_BATCH", "250000").toInt
    val (spark, provider) = providerSession()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(minute: Int) = new Timestamp((100000 + minute) * 60000L)
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingCuration
      .dedupStream(mem.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.format("noop").outputMode(OutputMode.Append).start()
    println("mode,provider,batch,wall_s,state_rows,used_heap_mb")
    try {
      (0 until batches).foreach { b =>
        // all-distinct ~60-char texts: every row inserts a state key
        val rows = (0 until perBatch).map { j =>
          val i = b.toLong * perBatch + j
          (ts(b), i, s"doc $i " + ("x" * 40) + s" tail ${i * 31}")
        }
        mem.addData(rows)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val wall = (System.nanoTime() - t0) / 1e9
        System.gc()
        val used = (Runtime.getRuntime.totalMemory() -
          Runtime.getRuntime.freeMemory()) / (1024 * 1024)
        val sr = {
          val p = q.lastProgress
          if (p == null || p.stateOperators.isEmpty) -1L
          else p.stateOperators.map(_.numRowsTotal).sum
        }
        println(f"statewall,$provider,$b,$wall%.2f,$sr,$used")
      }
    } finally q.stop()
    spark.stop()
  }

  /** r14 maintained-store fold cost (VERDICT r13 #3 evidence row):
    * per-batch wall of [[graft.streaming.StoreMaintenance]]'s text
    * and k-NN-graph folds as the persisted store GROWS — the claim
    * under test is pay-per-batch: the fold should cost |batch| ×
    * bucket occupancy, with occupancy (and so per-batch wall)
    * growing only linearly in the store at a fixed arm/width (the
    * boundary where that stops being acceptable is exactly when the
    * offline reband migration runs). Direct fold calls (no
    * MemoryStream in front) so the row measures the MAINTENANCE
    * cost itself. `runMain graft.tools.StreamBench maintain`; env
    * STREAMBENCH_BATCHES (default 8), STREAMBENCH_ROWS_PER_BATCH
    * (default 2500), STREAMBENCH_KIND (text|vec|knn|all, default all
    * — r15: the probe-scale slope legs run one kind at a time so the
    * text store can grow to 10⁶ band rows without waiting on the
    * quadratically-busier knn leg at the same N).
    * STREAMBENCH_SIGLESS=1 (r16) makes one doc per text batch sigless
    * ("hi dN"), so the redelivery GUARD fires on every fold — the leg
    * that shows the digest-pruned guard's cost flat vs docs-record
    * growth (VERDICT r15 #2's evidence row). */
  private def maintainMain(): Unit = {
    val batches = sys.env.getOrElse("STREAMBENCH_BATCHES", "8").toInt
    val perBatch =
      sys.env.getOrElse("STREAMBENCH_ROWS_PER_BATCH", "2500").toInt
    val kind = sys.env.getOrElse("STREAMBENCH_KIND", "all")
    val spark = graft.Session()
    import spark.implicits._
    import graft.streaming.StoreMaintenance
    def ts(minute: Int) = new Timestamp((100000 + minute) * 60000L)
    println("mode,batch,rows_in,store_rows_before,wall_s,admitted")
    // ---- text store fold ----
    if (kind == "all" || kind == "text") {
    val tDir = java.nio.file.Files
      .createTempDirectory("sb-maintain-text").toString
    // wide-stride vocab so distinct docs share ~no shingles (the
    // admitStream generator's small arithmetic-progression vocab
    // makes EVERYTHING a near-dup of something — here the store must
    // actually GROW for the cost-vs-store-size trend to mean
    // anything); 20% exact dups of earlier docs exercise the drop arm
    // vocab space 10⁷ (r15; the r14 run's 10⁵ vocab saturated near 4k
    // docs — every late doc near-dupped something, so the store never
    // grew past ~100k band rows and the slope leg measured nothing)
    val sigless = sys.env.get("STREAMBENCH_SIGLESS").contains("1")
    def text(i: Int): String =
      // one sigless (< 3-word) doc per batch when the guard leg is on
      if (sigless && i % perBatch == 0) s"hi d$i"
      else {
        val base = if (i % 10 < 2) i / 2 else i
        (0 until 24).map(t => s"w${(base * 9973 + t * 131) % 9999991}")
          .mkString(" ") + s" d$base"
      }
    (0 until batches).foreach { b =>
      val rows = (0 until perBatch).map { j =>
        val i = b * perBatch + j; (ts(b), i.toLong, text(i))
      }.toDF("ts", "doc_id", "text")
      val before = StoreMaintenance.textStoreRows(spark, tDir)
        .map(_.count()).getOrElse(0L)
      val t0 = System.nanoTime()
      StoreMaintenance.foldTextBatch(rows, b.toLong, tDir)
      val wall = (System.nanoTime() - t0) / 1e9
      val admitted = spark.read.parquet(s"$tDir/docs/b$b").count()
      println(f"text_fold,$b,$perBatch,$before,$wall%.2f,$admitted")
    }
    }
    // hash-spread vectors (r15; the sin generator's vectors correlate
    // so strongly that the vector gate dropped EVERY post-batch-0
    // arrival — the store never grew and the slope leg measured
    // nothing): splitmix-mixed, near-uniform in [-1, 1]
    def mix(x: Long): Long = {
      var z = x * 0x9E3779B97F4A7C15L
      z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L; z ^= (z >>> 27); z
    }
    def vec(i: Int): Seq[Float] = {
      val base = if (i % 10 < 2) i / 2 else i // 20% exact dups
      (0 until 64).map { d =>
        (((mix(base * 64L + d) & 0x7fffffffL) % 2001L) - 1000L) / 1000.0f
      }
    }
    // ---- vector ADMISSION store fold (r15: the third fold shape) --
    if (kind == "all" || kind == "vec") {
      val vDir = java.nio.file.Files
        .createTempDirectory("sb-maintain-vec").toString
      (0 until batches).foreach { b =>
        val rows = (0 until perBatch).map { j =>
          val i = b * perBatch + j; (ts(b), i.toLong, vec(i))
        }.toDF("ts", "vec_id", "embedding")
        val before = StoreMaintenance.textStoreRows(spark, vDir)
          .map(_.count()).getOrElse(0L)
        val t0 = System.nanoTime()
        // width 8 = what autoBits runs at this scale; gate pinned at
        // 0.9 so only the exact-dup arm drops — candidates sharing an
        // 8-bit sign band have their cos conditioned UP (~+0.09 for
        // uniform vectors), and at the default 0.4 that drops most
        // arrivals; the slope leg measures fold COST on a growing
        // store, so the threshold is pinned where semantics demand
        StoreMaintenance.foldVecBatch(rows, b.toLong, vDir,
          bitsPerBand = 8, minCosPpm = 900000L)
        val wall = (System.nanoTime() - t0) / 1e9
        val admitted = spark.read.parquet(s"$vDir/docs/b$b").count()
        println(f"vec_fold,$b,$perBatch,$before,$wall%.2f,$admitted")
      }
    }
    // ---- k-NN graph fold ----
    if (kind == "all" || kind == "knn") {
    val gDir = java.nio.file.Files
      .createTempDirectory("sb-maintain-knn").toString
    (0 until batches).foreach { b =>
      val rows = (0 until perBatch).map { j =>
        val i = b * perBatch + j; (ts(b), i.toLong, vec(i))
      }.toDF("ts", "vec_id", "embedding")
      val before = StoreMaintenance.committedBatches(gDir).size.toLong
      val t0 = System.nanoTime()
      // width 8 = what autoBits runs at this store scale (~10-20k)
      StoreMaintenance.foldKnnGraphBatch(rows, b.toLong, gDir,
        bitsPerBand = 8)
      val wall = (System.nanoTime() - t0) / 1e9
      val edges = StoreMaintenance.knnGraphCurrent(spark, gDir)
        .map(_.count()).getOrElse(0L)
      println(f"knn_fold,$b,$perBatch,$before,$wall%.2f,$edges")
    }
    }
    spark.stop()
  }

  /** r16 (VERDICT r15 #5): a full store GENERATION cycle —
    * fold → [[graft.streaming.StoreMaintenance.storeAdvisor]] →
    * migrate per its advice → fold — on the k-NN graph store (the
    * fold whose cost actually grows with occupancy at fixed width),
    * measuring the occupancy reset the migration buys. Env:
    * STREAMBENCH_BATCHES per generation (default 6),
    * STREAMBENCH_ROWS_PER_BATCH (default 2500). */
  private def cycleMain(): Unit = {
    val batches = sys.env.getOrElse("STREAMBENCH_BATCHES", "6").toInt
    val perBatch =
      sys.env.getOrElse("STREAMBENCH_ROWS_PER_BATCH", "2500").toInt
    val spark = graft.Session()
    import spark.implicits._
    import graft.streaming.StoreMaintenance
    def ts(minute: Int) = new Timestamp((100000 + minute) * 60000L)
    def mix(x: Long): Long = {
      var z = x * 0x9E3779B97F4A7C15L
      z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L; z ^= (z >>> 27); z
    }
    def vec(i: Int): Seq[Float] = (0 until 64).map { d =>
      (((mix(i * 64L + d) & 0x7fffffffL) % 2001L) - 1000L) / 1000.0f
    }
    val dir = java.nio.file.Files
      .createTempDirectory("sb-cycle-knn").toString
    println("mode,phase,batch,store_n,bits,wall_s")
    var next = 0L
    def fold(phase: String, b: Int): Unit = {
      val rows = (0 until perBatch).map { j =>
        val i = next * perBatch + j
        (ts(b), i.toLong, vec(i.toInt))
      }.toDF("ts", "vec_id", "embedding")
      val n = next * perBatch
      val bits = StoreMaintenance.vecStoreWidth(spark, dir)
        .map(_._2).getOrElse(4)
      val t0 = System.nanoTime()
      StoreMaintenance.foldKnnGraphBatch(rows, next, dir)
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"cycle,$phase,$next,$n,$bits,$wall%.2f")
      next += 1
    }
    (0 until batches).foreach(b => fold("gen1", b))
    val advice = StoreMaintenance.storeAdvisor(spark, dir).get
    println(s"cycle,advise,-,${advice.storedN},${advice.recommended}," +
      s"0.00  # ${advice.reason}")
    if (advice.migrate) {
      val t0 = System.nanoTime()
      StoreMaintenance.rebandKnnGraphStore(spark, dir,
        toBits = Some(advice.recommended))
      println(f"cycle,migrate,-,${advice.storedN},${advice.recommended}," +
        f"${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    (0 until batches).foreach(b => fold("gen2", b))
    spark.stop()
  }

  /** r16 (VERDICT r15 #6): the degenerate-bucket cap measured at
    * PROBE scale — plant a boilerplate bucket of S members (all-
    * positive vectors co-bucket in every band) in the store, fold an
    * arrival batch that probes it, capped vs uncapped, recording wall
    * and max task peakExecutionMemory. Env: STREAMBENCH_BUCKET
    * (comma list of S, default "1000,10000,100000"),
    * STREAMBENCH_CAP (default 1000). */
  private def bucketcapMain(): Unit = {
    val sizes = sys.env.getOrElse("STREAMBENCH_BUCKET",
      "1000,10000,100000").split(',').map(_.trim.toInt).toSeq
    val cap = sys.env.getOrElse("STREAMBENCH_CAP", "1000").toInt
    val spark = graft.Session()
    import spark.implicits._
    import graft.streaming.StoreMaintenance
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) {
            peak.getAndUpdate(p => math.max(p, m.peakExecutionMemory)); ()
          }
        }
      })
    def ts(minute: Int) = new Timestamp((100000 + minute) * 60000L)
    def mix(x: Long): Long = {
      var z = x * 0x9E3779B97F4A7C15L
      z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L; z ^= (z >>> 27); z
    }
    // boilerplate member: strictly positive in every dim — all such
    // vectors share EVERY sign bucket at any width
    def posVec(i: Long): Seq[Float] = (0 until 64).map { d =>
      (1L + ((mix(i * 64L + d) & 0x7fffffffL) % 999L)) / 1000.0f
    }
    def spreadVec(i: Long): Seq[Float] = (0 until 64).map { d =>
      (((mix(i * 64L + d) & 0x7fffffffL) % 2001L) - 1000L) / 1000.0f
    }
    println("mode,bucket_s,arm,wall_s,peak_task_mb,admitted")
    sizes.foreach { s =>
      // the arrival batch: 24 probes into the boilerplate bucket +
      // 476 spread rows (the healthy-path ballast)
      val arrivals = ((0 until 24).map(j =>
        (ts(1), 2000000L + j, posVec(5000000L + j))) ++
        (24 until 500).map(j => (ts(1), 2000000L + j, spreadVec(j))))
        .toDF("ts", "vec_id", "embedding")
      Seq(None, Some(cap)).foreach { capOpt =>
        val dir = java.nio.file.Files
          .createTempDirectory(s"sb-bucketcap-$s").toString
        // batch 0 on an empty store ingests unconditionally: S
        // boilerplate members -> an S-occupancy bucket in every band
        val store = (0 until s).map(i =>
          (ts(0), i.toLong, posVec(i))).toDF("ts", "vec_id", "embedding")
        StoreMaintenance.foldVecBatch(store, 0L, dir,
          minCosPpm = 999999L, maxBucketSize = capOpt)
        peak.set(0L)
        val t0 = System.nanoTime()
        StoreMaintenance.foldVecBatch(arrivals, 1L, dir,
          minCosPpm = 999999L, maxBucketSize = capOpt)
        val wall = (System.nanoTime() - t0) / 1e9
        val admitted = spark.read.parquet(s"$dir/docs/b1").count()
        val arm = capOpt.map(c => s"cap$c").getOrElse("uncapped")
        println(f"bucketcap,$s,$arm,$wall%.2f," +
          f"${peak.get / (1024.0 * 1024.0)}%.1f,$admitted")
      }
    }
    spark.stop()
  }

  /** The shared session with the state-store provider
    * STREAMBENCH_PROVIDER names (r7): "rocksdb" measures the production
    * provider (bundled rocksdbjni; state off-heap, incremental
    * snapshots), default "hdfs" is the in-memory map provider the
    * earlier rows used. Set before any query starts, which is when a
    * query reads it. */
  private def providerSession(): (SparkSession, String) = {
    val provider = sys.env.getOrElse("STREAMBENCH_PROVIDER", "hdfs")
    val spark = graft.Session()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      if (provider == "rocksdb")
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      else
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    (spark, provider)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("maintain")) { maintainMain(); return }
    if (args.headOption.contains("cycle")) { cycleMain(); return }
    if (args.headOption.contains("bucketcap")) { bucketcapMain(); return }
    if (args.headOption.contains("statewall")) { statewallMain(); return }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nText = sys.env.getOrElse("STREAMBENCH_TEXT_ROWS", "200000").toInt
    val nVec = sys.env.getOrElse("STREAMBENCH_VEC_ROWS", "50000").toInt
    val batches = sys.env.getOrElse("STREAMBENCH_BATCHES", "20").toInt
    val (spark, provider) = providerSession()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ts(minute: Int) = new Timestamp((100000 + minute) * 60000L)

    def stateRows(q: StreamingQuery): Long = {
      val p = q.lastProgress
      if (p == null || p.stateOperators.isEmpty) -1L
      else p.stateOperators.map(_.numRowsTotal).sum
    }

    // cumulative state-store cost over ALL batches (recentProgress
    // keeps the last 100 — covers every configuration here): commit
    // is the per-batch store checkpoint, updates the put/merge path.
    // These are the two numbers that attribute a streaming ceiling to
    // state persistence vs everything else (shuffle, planning, source).
    def stateTimes(q: StreamingQuery): (Long, Long) = {
      val ps = q.recentProgress
      (ps.flatMap(_.stateOperators.map(_.commitTimeMs)).sum,
        ps.flatMap(_.stateOperators.map(_.allUpdatesTimeMs)).sum)
    }

    println("pipeline,provider,rows_in,batches,wall_s,rows_per_s," +
      "state_rows,commit_ms,update_ms,rows_out")

    // ---- text path ----
    {
      val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      val mem = MemoryStream[(Timestamp, Long, String)]
      val out = StreamingCuration.admitStream(
        StreamingCuration.qualityGate(
          StreamingCuration.dedupStream(
            mem.toDF().toDF("ts", "doc_id", "text"))),
        corpus)
      val q = out.writeStream.format("memory").queryName("sb_text")
        .outputMode(OutputMode.Append).start()
      try {
        // ~25 tokens/doc; 30% duplicate the text of an earlier doc
        def text(i: Int): String = {
          val base = if (i % 10 < 3) i / 2 else i
          (0 until 24).map(t => s"w${(base * 31 + t * 7) % 5000}")
            .mkString(" ") + s" d$base"
        }
        val perBatch = nText / batches
        val t0 = System.nanoTime()
        (0 until batches).foreach { b =>
          val rows = (0 until perBatch).map { j =>
            val i = b * perBatch + j
            (ts(b), i.toLong, text(i))
          }
          mem.addData(rows)
          q.processAllAvailable()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val outRows = spark.table("sb_text").count()
        val in = perBatch.toLong * batches
        val (commitMs, updateMs) = stateTimes(q)
        println(f"text_dedup_quality_admit,$provider,$in,$batches,$wall%.1f," +
          f"${in / wall}%.0f,${stateRows(q)},$commitMs,$updateMs,$outRows")
      } finally q.stop()
    }

    // ---- text NEAR-DUP admit path (r9): the stateless OPH gate ----
    {
      val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      val mem = MemoryStream[(Timestamp, Long, String)]
      val out = StreamingCuration.admitNearDupStream(
        mem.toDF().toDF("ts", "doc_id", "text"), corpus)
      val q = out.writeStream.format("memory").queryName("sb_neardup")
        .outputMode(OutputMode.Append).start()
      try {
        // 30% of arrivals are light edits of REAL corpus docs (one
        // appended token — high estimated jaccard, the gate must
        // drop them), the rest synthetic novel text
        val corpusTexts = corpus.select("text").limit(1000).collect()
          .map(_.getString(0))
        def text(i: Int): String =
          if (i % 10 < 3)
            corpusTexts(i % corpusTexts.length) + s" tail$i"
          else
            (0 until 24).map(t => s"w${(i * 7919L * 31 + t * 7) % 500000}")
              .mkString(" ") + s" d$i"
        val perBatch = nText / batches
        val t0 = System.nanoTime()
        (0 until batches).foreach { b =>
          val rows = (0 until perBatch).map { j =>
            val i = b * perBatch + j
            (ts(b), i.toLong, text(i))
          }
          mem.addData(rows)
          q.processAllAvailable()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val outRows = spark.table("sb_neardup").count()
        val in = perBatch.toLong * batches
        val (commitMs, updateMs) = stateTimes(q)
        println(f"text_neardup_admit,$provider,$in,$batches,$wall%.1f," +
          f"${in / wall}%.0f,${stateRows(q)},$commitMs,$updateMs,$outRows")
      } finally q.stop()
    }

    // ---- vector path ----
    {
      val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val mem = MemoryStream[(Timestamp, Long, Array[Float])]
      val out = StreamingCuration.admitVectorStream(
        mem.toDF().toDF("ts", "vec_id", "embedding"), corpus)
      val q = out.writeStream.format("memory").queryName("sb_vec")
        .outputMode(OutputMode.Append).start()
      try {
        def vec(i: Int): Array[Float] = {
          val rnd = new java.util.Random(31L * i + 5)
          Array.fill(64)(rnd.nextGaussian().toFloat)
        }
        val perBatch = nVec / batches
        val t0 = System.nanoTime()
        (0 until batches).foreach { b =>
          val rows = (0 until perBatch).map { j =>
            val i = b * perBatch + j
            (ts(b), i.toLong, vec(i))
          }
          mem.addData(rows)
          q.processAllAvailable()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val outRows = spark.table("sb_vec").count()
        val in = perBatch.toLong * batches
        val (commitMs, updateMs) = stateTimes(q)
        println(f"vector_admit,$provider,$in,$batches,$wall%.1f," +
          f"${in / wall}%.0f,${stateRows(q)},$commitMs,$updateMs,$outRows")
      } finally q.stop()
    }

    spark.stop()
  }
}
