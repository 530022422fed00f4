package graft.streaming

import java.util.concurrent.{CompletableFuture, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.operators.{ErrorChannel, ErrorHandlingTopology}

/** Structured-Streaming shell around the batch topology.
  *
  * Kafka Streams' `split()` fans one consumed stream into several sinks
  * inside one task (reference: .../topology/ErrorHandlingTopology.java:32-44).
  * Structured Streaming allows one sink per query, so the faithful
  * single-read fan-out is `foreachBatch` + `persist()` + one write per
  * branch (SURVEY.md §2.1 #4): the micro-batch is routed once
  * (`ErrorHandlingTopology.route`: decode, mapper and size guard, one
  * narrow projection), the routed sink-shaped records are cached, and
  * the four branches are label filters over that cache. The four sink
  * writes are independent, so they run concurrently, each on its own
  * thread carrying the caller's Spark local properties and active
  * session: the batch's jobs share the cores a source with few
  * partitions leaves idle, and the driver plans one sink while another
  * runs. The first job to reach a routed partition computes it; the
  * others wait on its block lock and read the cached block, so the
  * mapper still runs once per record. The routed frame is a pure
  * function of the batch, so a replay recomputes the same bytes (the
  * D-Streams recompute-from-source argument), whatever order the writes
  * ran in. All four writes share one epoch: the batch returns only
  * after all of them have finished, and failure of any write fails the
  * batch and replays it to all four sinks, preserving the reference's
  * at-least-once semantics (reference: README.md:31).
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
    val routed = ErrorHandlingTopology.route(batch, maxRequestSize)
      .persist(StorageLevel.MEMORY_AND_DISK)
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
      // through their job group, and the cache outlives every call
      CompletableFuture.allOf(calls: _*).join()
      val first = failure.get
      if (first != null) throw first
    } finally routed.unpersist()
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
