package graft.streaming

import org.apache.spark.sql.DataFrame
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
  * the four branches are label filters over that cache. The routed
  * frame is a pure function of the batch, so a replay recomputes the
  * same bytes (the D-Streams recompute-from-source argument). All four
  * writes share one epoch — failure of any write fails the batch and
  * replays it, preserving the reference's at-least-once semantics
  * (reference: README.md:31).
  */
object StreamingTopology {

  /** Sink callbacks, one per topic analog; injectable so tests collect
    * in memory while production writes Kafka/parquet. */
  final case class Sinks(
      output: DataFrame => Unit,
      processDlt: DataFrame => Unit,
      deserializationDlt: DataFrame => Unit,
      productionDlt: DataFrame => Unit)

  /** Run one micro-batch (also directly usable in batch tests). */
  def processBatch(batch: DataFrame, sinks: Sinks,
                   maxRequestSize: Int = ErrorChannel.DefaultMaxRequestSize): Unit = {
    val routed = ErrorHandlingTopology.route(batch, maxRequestSize)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val b = ErrorHandlingTopology.branchesOf(routed, batch.columns.contains("headers"))
      sinks.deserializationDlt(b.deserializationDlt)
      sinks.processDlt(b.processDlt)
      sinks.output(b.output)
      sinks.productionDlt(b.productionDlt)
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
