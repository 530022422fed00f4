package graft.streaming

import java.util.concurrent.{CompletableFuture, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.graftbridge.StorageBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.operators.{ErrorChannel, ErrorHandlingTopology}

/** Structured-Streaming shell around the batch topology.
  *
  * Kafka Streams' `split()` fans one consumed stream into several sinks
  * inside one task (reference: .../topology/ErrorHandlingTopology.java:32-44).
  * Structured Streaming allows one sink per query, so the faithful
  * single-read fan-out is `foreachBatch` + one materialization + one
  * write per branch (SURVEY.md §2.1 #4): the micro-batch is routed once
  * (`ErrorHandlingTopology.route`: decode, mapper and size guard, one
  * narrow projection), one job checkpoints the routed sink-shaped rows
  * into executor blocks (`localCheckpoint`), and the four branches are
  * label filters over that checkpoint. The checkpoint cuts the source
  * off the branches' lineage, so a sink task carries a block index, not
  * the batch's rows (a `MemoryStream` partition holds its rows), and the
  * mapper runs once per record. The four sink writes are independent,
  * so they run concurrently, each on its own thread carrying the
  * caller's Spark local properties and active session: the batch's jobs
  * share the cores a source with few partitions leaves idle, and the
  * driver plans one sink while another runs. All four writes share one
  * epoch: the batch returns only after all of them have finished, and
  * failure of any write fails the batch and replays it to all four
  * sinks, preserving the reference's at-least-once semantics
  * (reference: README.md:31).
  *
  * Fault tolerance: a local checkpoint cannot be recomputed. If an
  * executor holding its blocks is lost mid-batch, the sink job reading
  * them fails, so the batch fails and the epoch replays from the source,
  * the same contract as a failing sink. The routed frame is a pure
  * function of the batch (the mapper is seeded per row), so the replay
  * writes the same bytes (the D-Streams recompute-from-source argument),
  * whatever order the writes ran in.
  */
object StreamingTopology {

  /** Sink callbacks, one per topic analog; injectable so tests collect
    * in memory while production writes Kafka/parquet.
    *
    * Contract: one batch's four callbacks may run concurrently, on
    * different threads, each with its own frame. Each call sees the
    * caller's Spark local properties (the micro-batch id, the streaming
    * query's job group, so `stop()` cancels the call's Spark jobs; a call
    * blocked outside Spark is waited for) and its active session. A
    * callback must therefore be thread-safe and must not assume another
    * branch was written first. The epoch commits only after all four
    * have returned. */
  final case class Sinks(
      output: DataFrame => Unit,
      processDlt: DataFrame => Unit,
      deserializationDlt: DataFrame => Unit,
      productionDlt: DataFrame => Unit)

  /** Daemon threads for the sink fan-out, shared by every query;
    * cached, so a batch's calls never queue behind one another. */
  private lazy val fanOut: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-sink-fanout")
    t.setDaemon(true)
    t
  }

  /** Run one micro-batch (also directly usable in batch tests). Returns,
    * normally or by throwing, only after all four sink calls have
    * finished; if any failed, throws the first failure as the sink
    * threw it. */
  def processBatch(batch: DataFrame, sinks: Sinks,
                   maxRequestSize: Int = ErrorChannel.DefaultMaxRequestSize): Unit = {
    // a checkpoint job that fails leaves its partial blocks to the
    // ContextCleaner, which drops them once the RDD is unreachable
    val routed = ErrorHandlingTopology.route(batch, maxRequestSize)
      .localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK)
    try {
      val b = ErrorHandlingTopology.branchesOf(routed, batch.columns.contains("headers"))
      val session = SparkSession.getActiveSession.getOrElse(batch.sparkSession)
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val failure = new AtomicReference[Throwable]()
      val calls = Seq(sinks.deserializationDlt -> b.deserializationDlt,
        sinks.processDlt -> b.processDlt, sinks.output -> b.output,
        sinks.productionDlt -> b.productionDlt).map { case (sink, frame) =>
          SQLExecution.withThreadLocalCaptured(session, fanOut) {
            try sink(frame) catch { case t: Throwable => failure.compareAndSet(null, t); () }
          }
        }
      // join() ignores interrupts: a stop() cancels the calls' jobs
      // through their job group, and the blocks outlive every call
      CompletableFuture.allOf(calls: _*).join()
      val first = failure.get
      if (first != null) throw first
    } finally routed.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(StorageBridge.unpersist)
  }

  /** Start the streaming query over a streaming Kafka-shaped DataFrame. */
  def start(records: DataFrame, sinks: Sinks, checkpointDir: String,
            maxRequestSize: Int = ErrorChannel.DefaultMaxRequestSize,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    records.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, sinks, maxRequestSize)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
