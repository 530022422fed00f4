package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.codecs

/** Columnar building blocks of the dead-letter topology, composed by
  * `ErrorHandlingTopology.route`. Every stage is a pure
  * `DataFrame => DataFrame` or `Column` builder, so identical code runs
  * in batch (for tests + oracle) and inside `foreachBatch` under
  * Structured Streaming
  * — the same testability trick the reference gets from building its
  * topology through an injectable `StreamsBuilder`
  * (reference: .../topology/ErrorHandlingTopology.java:27-44).
  *
  * All stages are narrow (no shuffle): at 100 TB the whole error-channel
  * pipeline is a single map stage over the source partitions — the scan
  * partitioning is carried through untouched, and whole-stage codegen
  * fuses decode→map→branch→project into one loop per partition.
  */
object ErrorChannel {

  /** Kafka wire shape for record headers: the exact column type the
    * Spark Kafka sink accepts (`headers array<struct<key,value>>`). */
  val HeaderType: DataType =
    ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType))))

  val ErrorHeaderKey = "error.message" // reference: ErrorMessageMapper.java:12

  /** Kafka's IntegerDeserializer failure text — the deserialization-DLT
    * header asserted by the reference integration test
    * (reference: .../ErrorHandlingTopologyIntegrationTest.java:103). */
  val IntegerDeserError = "Size of data received by IntegerDeserializer is not 4"

  /** `(key, byte[])` framing overhead observed by the reference: input
    * length 2,000,000 + key "key" (3 bytes) serialized to 2,000,091
    * bytes (reference: ErrorHandlingTopologyIntegrationTest.java:111,119). */
  val RecordOverheadBytes = 88

  /** Kafka producer default `max.request.size`
    * (reference: README.md:366-367). */
  val DefaultMaxRequestSize = 1048576

  private def emptyHeaders: Column = array().cast(HeaderType)

  /** `error.message` header struct carrying `msg` as UTF-8 bytes
    * (reference: ErrorMessageMapper.java:32-36). */
  def errorHeader(msg: Column): Column =
    struct(lit(ErrorHeaderKey).as("key"), encode(msg, "UTF-8").as("value"))

  /** `existing` headers (NULL counts as none) with an `error.message`
    * header appended (the reference appends to the record's mutable
    * header list). */
  def appendErrorHeader(existing: Column, msg: Column): Column =
    concat(coalesce(existing, emptyHeaders), array(errorHeader(msg)))

  /** Append an `error.message` header, preserving any existing headers. */
  def withErrorHeader(df: DataFrame, msg: Column): DataFrame = {
    val existing =
      if (df.columns.contains("headers")) col("headers") else lit(null).cast(HeaderType)
    df.withColumn("headers", appendErrorHeader(existing, msg))
  }

  // ---------------------------------------------------------------------
  // Stage #10 — safe decode (deserialization-DLT routing)
  // ---------------------------------------------------------------------

  /** Decode the Kafka-shaped `(key: binary, value: binary)` edge with
    * Option semantics: `key_str` (UTF-8) and `value_int` (4-byte
    * big-endian), NULL `value_int` on undecodable non-null input.
    * Spark's Kafka source never deserializes, so the reference's
    * consumer-side hook (DeadLetterDeserializationExceptionHandler.java:29-49)
    * becomes this explicit, codegen'd plan operator. */
  def safeDecode(records: DataFrame): DataFrame =
    records
      .withColumn("key_str", col("key").cast("string"))
      .withColumn("value_int", codecs.be_int4_decode(col("value")))

  // ---------------------------------------------------------------------
  // Stage #2/#3 — wrapping mapper (Integer n -> random [a-z] string of
  // length n, failure captured as a sum-type struct, never thrown)
  // ---------------------------------------------------------------------

  /** Columnar wrap-map (reference: ErrorHandlingMapper.java:12-27).
    * Adds `wrapper: struct(originalValue int, mappedValue string,
    * error string)`. Negative length reproduces the reference's
    * `java.lang.IllegalArgumentException: <n>` error rendering
    * (asserted at ErrorHandlingTopologyTest.java:58). The generator is
    * seeded per row (key ⊕ value) so task retries are deterministic —
    * mandatory at cluster scale, where speculative/retried tasks must
    * not fork the data. A caller that will not emit the mapped string
    * (an oversized record) passes `generate` false and gets a NULL
    * `mappedValue` without building it. */
  def wrapMap(decoded: DataFrame, generate: Column = lit(true)): DataFrame = {
    val n = col("value_int")
    val seed = xxhash64(col("key"), n)
    decoded.withColumn("wrapper",
      when(n >= 0,
        struct(
          n.as("originalValue"),
          when(generate, codecs.rand_lowercase(seed, n)).as("mappedValue"),
          lit(null).cast(StringType).as("error")))
      .otherwise(
        struct(
          n.as("originalValue"),
          lit(null).cast(StringType).as("mappedValue"),
          concat(lit("java.lang.IllegalArgumentException: "),
                 n.cast(StringType)).as("error"))))
  }

  // ---------------------------------------------------------------------
  // Stage #4/#5 — split (branch + complement under hasError)
  // ---------------------------------------------------------------------

  /** `hasError` predicate (reference: MessageWrapper.java:5-7). */
  def hasError: Column = col("wrapper.error").isNotNull

  // ---------------------------------------------------------------------
  // Stage #11 — pre-sink size guard (production-DLT routing)
  // ---------------------------------------------------------------------

  /** Estimated serialized record size (key + value + framing) of a
    * record whose value is `valueBytes` long (NULL: no value), matching
    * the reference's measured 2,000,091 bytes for a 2,000,000-char value
    * under key "key". Long arithmetic: a value near 2^31 bytes plus its
    * framing overflows an int. Spark's Kafka sink has no per-record
    * failure callback, so the reference's producer hook
    * (DeadLetterProductionExceptionHandler.java:26-45,59-67) becomes a
    * pre-emptive guard on this size (SURVEY.md §2.1 #11). */
  def recordSize(key: Column, valueBytes: Column): Column =
    coalesce(valueBytes.cast(LongType), lit(0L)) +
      coalesce(octet_length(key), lit(0)) + lit(RecordOverheadBytes)
}
