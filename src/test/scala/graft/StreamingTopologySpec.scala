package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingTopology

/** Streaming-shell integration: MemoryStream drives the same topology
  * through foreachBatch (the analog of the reference's EmbeddedKafka
  * layer — SURVEY.md §5). */
class StreamingTopologySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def beInt(n: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(n).array()

  /** Twelve records keyed `<tag>-<i>`, three per branch under a
    * `maxRequestSize` of [[Max]]. */
  private val Max = 200
  private def mix(tag: String): Seq[(Array[Byte], Array[Byte])] = (0 until 12).map { i =>
    s"$tag-$i".getBytes("UTF-8") -> (i % 4 match {
      case 0 => beInt(i)
      case 1 => beInt(-i)
      case 2 => "x".getBytes("UTF-8")
      case _ => beInt(Max + i) // over the size guard
    })
  }

  /** Ids of the RDDs whose blocks the block manager keeps. */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the checkpointed RDDs `df` reads. */
  private def checkpointsRead(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.id }

  /** Whether `df` reads a checkpoint whose blocks are still kept. */
  private def readsCheckpoint(df: DataFrame): Boolean = checkpointsRead(df).exists(persisted.contains)

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("all four sinks receive their branches from a single streamed read") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Array[Byte], Array[Byte])]
    val collected = scala.collection.mutable.Map[String, Seq[Row]]()
    // (checkpoint id, whether its blocks were kept) per sink call
    val read = new ConcurrentLinkedQueue[(Int, Boolean)]()
    def sink(name: String): DataFrame => Unit = { df =>
      checkpointsRead(df).foreach(id => read.add(id -> persisted.contains(id)))
      collected.synchronized {
        collected(name) = collected.getOrElse(name, Seq.empty) ++ df.collect().toSeq
      }
    }
    val records = input.toDF().toDF("key", "value")
    val cp = java.nio.file.Files.createTempDirectory("graft-cp").toString
    // AvailableNow snapshots the source's end offset at query START —
    // data must be in the MemoryStream before start() or the one-shot
    // trigger sees an empty source (a race this test lost under load)
    input.addData(
      "key".getBytes("UTF-8") -> beInt(2),
      "key".getBytes("UTF-8") -> beInt(-1),
      "key".getBytes("UTF-8") -> "10".getBytes("UTF-8"),
      "key".getBytes("UTF-8") -> beInt(2000000))
    val before = persisted
    val q = StreamingTopology.start(records,
      StreamingTopology.Sinks(
        output = sink("output"),
        processDlt = sink("processDlt"),
        deserializationDlt = sink("deserDlt"),
        productionDlt = sink("prodDlt")),
      checkpointDir = cp)
    try q.processAllAvailable() finally q.stop()

    assert(collected("output").length == 1)
    assert(new String(collected("output").head.getAs[Array[Byte]]("value"), "UTF-8").length == 2)
    assert(collected("processDlt").length == 1)
    assert(collected("processDlt").head.getAs[Array[Byte]]("value").toSeq == beInt(-1).toSeq)
    assert(collected("deserDlt").length == 1)
    assert(collected("deserDlt").head.getAs[Array[Byte]]("value").toSeq == "10".getBytes("UTF-8").toSeq)
    assert(collected("prodDlt").length == 1)
    assert(collected("prodDlt").head.getAs[Array[Byte]]("value").isEmpty)
    // every branch read the batch's one checkpoint while it was kept, and
    // the batch freed it
    assert(read.size == 4 && read.asScala.map(_._1).toSet.size == 1 && read.asScala.forall(_._2),
      read)
    assert((persisted -- before).isEmpty, s"the batch left ${persisted -- before} persisted")
  }

  test("a DLT sink that throws on epoch N terminates the query with that cause; " +
    "a restart on the checkpoint redelivers epoch N byte-identically to all four sinks") {
    import org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    import graft.operators.ErrorHandlingTopology
    implicit val sqlCtx = spark.sqlContext
    val max = Max
    val failEpoch = 1L
    val boom = new IllegalStateException("production DLT unavailable")
    def epochData(e: Int): Seq[(Array[Byte], Array[Byte])] = mix(s"e$e")
    def render(df: DataFrame): Seq[String] = df.collect().map(ErrorChannelStages.render).toSeq.sorted
    // (run, epoch, sink) -> rendered records
    val seen = scala.collection.mutable.Map[(Int, Long, String), Seq[String]]()
    var run = 1
    var routedCheckpoint: Seq[(Int, Boolean)] = Nil
    def sink(name: String): DataFrame => Unit = { df =>
      val epoch = spark.sparkContext.getLocalProperty(MicroBatchExecution.BATCH_ID_KEY).toLong
      val rows = render(df)
      seen.synchronized { seen((run, epoch, name)) = rows }
      if (run == 1 && epoch == failEpoch && name == "production") {
        // the branch reads the routed checkpoint; remember which one that is
        routedCheckpoint = checkpointsRead(df).map(id => id -> persisted.contains(id))
        throw boom
      }
    }
    val sinks = StreamingTopology.Sinks(output = sink("output"), processDlt = sink("process"),
      deserializationDlt = sink("deser"), productionDlt = sink("production"))
    val input = MemoryStream[(Array[Byte], Array[Byte])]
    val cp = java.nio.file.Files.createTempDirectory("graft-dlt-fail-cp").toString
    def start() = StreamingTopology.start(input.toDF().toDF("key", "value"), sinks, cp,
      maxRequestSize = max, trigger = Trigger.ProcessingTime(0L))

    // run 1: epoch 0 commits, epoch 1 dies in the production DLT sink
    val before = persisted
    val q1 = start()
    try {
      input.addData(epochData(0))
      q1.processAllAvailable()
      input.addData(epochData(1))
      intercept[StreamingQueryException](q1.awaitTermination(120000L))
    } finally q1.stop()
    assert(!q1.isActive)
    assert(causes(q1.exception.get).exists(_ eq boom), s"terminated by ${q1.exception}")
    assert(routedCheckpoint.size == 1 && routedCheckpoint.head._2,
      s"the failing sink read no kept routed checkpoint: $routedCheckpoint")
    assert((persisted -- before).isEmpty,
      s"routed checkpoint still kept after the failed epoch: ${persisted -- before}")

    // run 2 on the same checkpoint: epoch 1 is replayed, then epoch 2 runs
    run = 2
    val q2 = start()
    try {
      q2.processAllAvailable()
      input.addData(epochData(2))
      q2.processAllAvailable()
    } finally q2.stop()

    val names = Seq("deser", "process", "output", "production")
    names.foreach { n =>
      assert(seen.contains((1, 0L, n)) && seen.contains((2, failEpoch, n)) &&
        seen.contains((2, 2L, n)), s"$n deliveries: ${seen.keys.toSeq.sorted}")
      assert(!seen.contains((2, 0L, n)), s"committed epoch 0 replayed to $n")
    }
    // every other sink completed epoch 1 in run 1 too, and saw it again
    // byte for byte
    names.init.foreach(n => assert(seen((1, failEpoch, n)) == seen((2, failEpoch, n)), n))
    // every replayed branch equals a batch recompute of epoch 1's input
    val recompute = ErrorHandlingTopology(
      epochData(failEpoch.toInt).toDF("key", "value"), max)
    Seq("output" -> recompute.output, "process" -> recompute.processDlt,
      "deser" -> recompute.deserializationDlt, "production" -> recompute.productionDlt)
      .foreach { case (n, df) =>
        assert(seen((2, failEpoch, n)) == render(df), n)
      }
    // no input record is lost; only epoch 1's records are delivered twice
    val delivered = seen.values.toSeq.flatten.map(_.takeWhile(_ != '|'))
    def inputKeys(e: Int) = epochData(e).map(_._1.map("%02x".format(_)).mkString)
    assert(delivered.toSet == (0 to 2).flatMap(inputKeys).toSet)
    val twice = delivered.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(twice.nonEmpty && twice.toSet.subsetOf(inputKeys(failEpoch.toInt).toSet), twice)
  }

  test("one batch's four sink calls are in flight together") {
    val together = new CountDownLatch(4)
    def sink: DataFrame => Unit = { df =>
      together.countDown()
      if (!together.await(30, TimeUnit.SECONDS))
        throw new AssertionError("a sink call ran while another had not started")
      df.collect()
    }
    StreamingTopology.processBatch(mix("b").toDF("key", "value"),
      StreamingTopology.Sinks(sink, sink, sink, sink), Max)
    assert(together.getCount == 0)
  }

  test("every sink call reads its own micro-batch id from the local properties") {
    import org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    // (sink, batch id property, tags of the keys it received)
    val seen = new ConcurrentLinkedQueue[(String, Option[String], Set[String])]()
    def sink(name: String): DataFrame => Unit = { df =>
      val batch = Option(spark.sparkContext.getLocalProperty(MicroBatchExecution.BATCH_ID_KEY))
      val tags = df.collect().map(r => new String(r.getAs[Array[Byte]]("key"), "UTF-8")
        .takeWhile(_ != '-')).toSet
      seen.add((name, batch, tags))
    }
    val input = MemoryStream[(Array[Byte], Array[Byte])]
    val cp = java.nio.file.Files.createTempDirectory("graft-batch-id-cp").toString
    val q = StreamingTopology.start(input.toDF().toDF("key", "value"),
      StreamingTopology.Sinks(sink("output"), sink("process"), sink("deser"), sink("production")),
      cp, Max, Trigger.ProcessingTime(0L))
    try (0 until 3).foreach { e =>
      input.addData(mix(e.toString))
      q.processAllAvailable()
    } finally q.stop()
    val calls = seen.asScala.toSeq
    assert(calls.size == 12, calls)
    calls.foreach { case (name, batch, tags) =>
      assert(batch.isDefined && tags == Set(batch.get), s"$name read batch $batch for $tags")
    }
  }

  test("two sinks throw: the batch fails with one of their exceptions, after every " +
    "call has finished and while the routed frame was still cached") {
    import org.apache.spark.SparkThrowable
    import org.apache.spark.sql.streaming.StreamingQueryException
    implicit val sqlCtx = spark.sqlContext
    val boomDeser = new IllegalStateException("deserialization DLT unavailable")
    val boomProduction = new IllegalStateException("production DLT unavailable")
    val running = new AtomicInteger()
    val finished = new ConcurrentLinkedQueue[(String, Boolean)]()
    def failing(boom: Throwable): DataFrame => Unit = _ => throw boom
    def slow(name: String): DataFrame => Unit = { df =>
      running.incrementAndGet()
      try {
        Thread.sleep(1500)
        val cached = readsCheckpoint(df)
        df.collect()
        finished.add(name -> cached)
      } finally running.decrementAndGet()
    }
    val input = MemoryStream[(Array[Byte], Array[Byte])]
    input.addData(mix("f"))
    val cp = java.nio.file.Files.createTempDirectory("graft-two-fail-cp").toString
    val q = StreamingTopology.start(input.toDF().toDF("key", "value"),
      StreamingTopology.Sinks(output = slow("output"), processDlt = slow("process"),
        deserializationDlt = failing(boomDeser), productionDlt = failing(boomProduction)),
      cp, Max)
    try intercept[StreamingQueryException](q.awaitTermination(120000L))
    finally q.stop()
    assert(running.get == 0, "a sink call outlived the failed batch")
    assert(finished.asScala.toMap == Map("output" -> true, "process" -> true),
      "the slow calls must finish, reading the routed checkpoint")
    // below Spark's own wrappers, the sink's exception itself
    val thrown = causes(q.exception.get).find(!_.isInstanceOf[SparkThrowable])
    assert(thrown.exists(t => (t eq boomDeser) || (t eq boomProduction)),
      s"terminated by ${causes(q.exception.get)}")
  }

  test("stop() during a batch cancels a sink's running Spark job through the " +
    "query's job group") {
    implicit val sqlCtx = spark.sqlContext
    val outcome = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val blocked: DataFrame => Unit = { df =>
      try df.rdd.mapPartitions(StopProbe.block).count()
      catch { case t: Throwable => outcome.set(t); throw t }
    }
    val quick: DataFrame => Unit = _.collect()
    // the fan-out threads now exist, made outside any query: only the
    // captured properties can give the query's sink calls its job group
    StreamingTopology.processBatch(mix("w").toDF("key", "value"),
      StreamingTopology.Sinks(quick, quick, quick, quick), Max)
    val input = MemoryStream[(Array[Byte], Array[Byte])](1)
    input.addData(mix("s"))
    val cp = java.nio.file.Files.createTempDirectory("graft-stop-cp").toString
    val q = StreamingTopology.start(input.toDF().toDF("key", "value"),
      StreamingTopology.Sinks(output = blocked, processDlt = quick,
        deserializationDlt = quick, productionDlt = quick), cp, Max)
    val stopS = try {
      assert(StopProbe.entered.await(60, TimeUnit.SECONDS), "the output job never started")
      val t0 = System.nanoTime()
      q.stop()
      (System.nanoTime() - t0) / 1e9
    } finally q.stop()
    assert(stopS < 30, s"stop() took $stopS s")
    assert(!q.isActive)
    assert(outcome.get != null && outcome.get.getMessage.contains("cancel"),
      s"the blocked job ended with ${outcome.get}")
  }

  test("kill/resume from checkpoint: a clean restart re-emits no committed " +
    "epoch, delivers each record that arrived while down to its branch " +
    "exactly once, and continues the batch ids") {
    // The reference's uncaught-exception contract is SHUTDOWN_APPLICATION
    // precisely so a clean restart resumes WITHOUT duplicates
    // (UncaughtExceptionHandlerConfig.java:19, README.md:31). The
    // failing-DLT-sink test above pins terminate-on-failure and replay
    // of the failed epoch; this pins the other half: a restart on the
    // checkpoint resumes from the committed source offsets.
    import org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.ErrorHandlingTopology
    implicit val sqlCtx = spark.sqlContext
    // (epoch, sink, rendered record), one entry per delivery
    val seen = new ConcurrentLinkedQueue[(Long, String, String)]()
    def sink(name: String): DataFrame => Unit = { df =>
      val epoch = spark.sparkContext.getLocalProperty(MicroBatchExecution.BATCH_ID_KEY).toLong
      df.collect().foreach(r => seen.add((epoch, name, ErrorChannelStages.render(r))))
    }
    val sinks = StreamingTopology.Sinks(output = sink("output"), processDlt = sink("process"),
      deserializationDlt = sink("deser"), productionDlt = sink("production"))
    val input = MemoryStream[(Array[Byte], Array[Byte])]
    val cp = java.nio.file.Files.createTempDirectory("graft-resume-cp").toString
    def start() = StreamingTopology.start(input.toDF().toDF("key", "value"), sinks, cp,
      maxRequestSize = Max, trigger = Trigger.ProcessingTime(0L))
    /** Each record of `data` on the branch a batch recompute routes it to. */
    def expected(data: Seq[(Array[Byte], Array[Byte])]): Seq[(String, String)] = {
      val t = ErrorHandlingTopology(data.toDF("key", "value"), Max)
      Seq("output" -> t.output, "process" -> t.processDlt,
        "deser" -> t.deserializationDlt, "production" -> t.productionDlt)
        .flatMap { case (n, df) => df.collect().map(r => n -> ErrorChannelStages.render(r)) }
        .sorted
    }
    def deliveries(run: Seq[(Long, String, String)]) = run.map(d => (d._2, d._3)).sorted

    // run 1: two epochs, then a clean stop
    val q1 = start()
    try {
      input.addData(mix("a")); q1.processAllAvailable()
      input.addData(mix("b")); q1.processAllAvailable()
    } finally q1.stop()
    val run1 = seen.asScala.toSeq
    assert(run1.map(_._1).toSet == Set(0L, 1L), run1.map(_._1).distinct)
    assert(deliveries(run1) == expected(mix("a") ++ mix("b")))

    // while DOWN: more records arrive
    input.addData(mix("down"))

    // run 2 on the same checkpoint
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val run2 = seen.asScala.toSeq.drop(run1.size)
    assert(run2.map(_._1).toSet == Set(2L),
      s"batch ids must continue, not replay: ${run2.map(_._1).distinct}")
    assert(deliveries(run2) == expected(mix("down")),
      "run 2 must deliver exactly the while-down records, each once, on its branch")
  }
}

/** Task side of the stop() spec: local-mode tasks run in the test JVM. */
object StopProbe {
  val entered = new CountDownLatch(1)
  /** Blocks the task until it is interrupted (a cancelled job's tasks
    * are), or for 90 s. */
  val block: Iterator[Row] => Iterator[Row] = { rows =>
    entered.countDown()
    Thread.sleep(90000L)
    rows
  }
}
