package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.TopicConfig

/** Kafka source/sink wiring — the engine's edge to the reference's
  * only I/O system (reference: ErrorHandlingTopology.java:30,38,44
  * consumes `input` and produces `output` + the DLTs; topic names in
  * config/TopicConfig.java:6-12 + application.yml:14-19).
  *
  * Spark's Kafka connector always delivers/accepts BINARY key/value
  * plus an optional `headers array<struct<key:string,value:binary>>`
  * column — serdes become explicit plan expressions
  * (graft.functions.BinaryCodecExpressions). This module only shapes
  * DataFrames and option maps; it is broker-free unit-testable, and
  * the same shaping is exercised end-to-end by the MemoryStream
  * streaming specs (no broker exists in this environment).
  */
object KafkaEdge {

  /** The record schema every consumer-side transform can rely on —
    * mirrors the connector's fixed output schema. */
  val recordSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType)))))))

  /** Streaming read of the input topic (includeHeaders on, matching
    * the reference's header-carrying contract). */
  def readStream(spark: SparkSession, bootstrap: String,
                 topics: TopicConfig): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topics.input)
      .option("includeHeaders", "true")
      .option("startingOffsets", "earliest")
      .load()

  /** Shape a branch DataFrame for the Kafka sink: exactly the
    * columns the connector consumes. `headers` is passed through
    * when present (the DLT branches carry `error.message`). */
  def toSinkShape(df: DataFrame, topic: String): DataFrame = {
    val base = df
      .withColumn("topic", lit(topic))
      .withColumn("key", col("key").cast("binary"))
      .withColumn("value", col("value").cast("binary"))
    val cols = Seq("topic", "key", "value") ++
      (if (df.columns.contains("headers")) Seq("headers") else Nil)
    base.select(cols.map(col): _*)
  }

  /** Write a (batch) branch to Kafka — called from inside the
    * foreachBatch fan-out (StreamingTopology.Sinks). */
  def writeBatch(df: DataFrame, bootstrap: String, topic: String,
                 maxRequestSize: Int = 1048576): Unit =
    toSinkShape(df, topic).write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("kafka.max.request.size", maxRequestSize.toString)
      .save()

  /** One-record send attempt: `Some(producerMessage)` on failure, None
    * on success. Injectable because no broker/kafka-clients exist in
    * this environment; the production implementation wraps a pooled
    * KafkaProducer whose send callback records the exception message
    * per record (standard Spark-distribution classpath). Must be
    * Serializable — it ships to executors. */
  trait RecordSender extends Serializable {
    def send(key: Array[Byte], value: Array[Byte]): Option[String]
  }

  /** Residual (non-size) production failures at RECORD granularity —
    * the reference DLQs ANY producer exception with its message and
    * continues (DeadLetterProductionExceptionHandler.java:26-45).
    * Spark's Kafka sink has no per-record failure callback (one failed
    * send fails the whole batch), so parity needs a per-record send
    * path: every partition attempts its records through `sender` and
    * emits only the failures, which are header-enriched exactly like
    * the reference's handler (original key/value preserved,
    * `error.message` = producer message) — sink-ready for the
    * production DLT. Fully distributed: failures stay a DataFrame, no
    * driver collect; sends execute when the returned frame is
    * materialized, so consume it EXACTLY ONCE (at-least-once under
    * task retry, matching the reference's replay model). */
  def sendWithFallback(df: DataFrame, sender: RecordSender): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val failures = df
      .select(col("key").cast("binary"), col("value").cast("binary"))
      .as[(Array[Byte], Array[Byte])]
      .mapPartitions(_.flatMap { case (k, v) =>
        sender.send(k, v).map(err => (k, v, err)).iterator
      })
      .toDF("key", "value", "err")
    graft.operators.ErrorChannel
      .withErrorHeader(failures, col("err"))
      .select(col("key"), col("value"), col("headers"))
  }

  /** Send `df` through `sender` and route the residual failures to the
    * production DLT via `dltSink` (one materialization = one send per
    * record per attempt). */
  def sendWithDltFallback(df: DataFrame, sender: RecordSender,
                          dltSink: DataFrame => Unit): Unit =
    dltSink(sendWithFallback(df, sender))

  /** Production wiring: the four-branch sink set of the dead-letter
    * topology (graft.streaming.StreamingTopology.Sinks), each branch
    * writing its topic (reference topology: output +
    * process/deserialization/production DLTs). The four are independent
    * `writeBatch` calls sharing no state, so they are safe to run
    * concurrently, as `processBatch` runs them. */
  def sinks(bootstrap: String, topics: TopicConfig,
            maxRequestSize: Int = 1048576): graft.streaming.StreamingTopology.Sinks =
    graft.streaming.StreamingTopology.Sinks(
      output = df => writeBatch(df, bootstrap, topics.output, maxRequestSize),
      processDlt = df => writeBatch(df, bootstrap, topics.processDlt, maxRequestSize),
      deserializationDlt =
        df => writeBatch(df, bootstrap, topics.deserializationDlt, maxRequestSize),
      productionDlt =
        df => writeBatch(df, bootstrap, topics.productionDlt, maxRequestSize))
}
