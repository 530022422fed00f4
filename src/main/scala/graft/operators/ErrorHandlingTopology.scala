package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.codecs

/** Whole-topology assembly: Kafka-shaped records in, four sink-ready
  * DataFrames out (reference dataflow, SURVEY.md §2.1):
  *
  * {{{
  * input ── safeDecode ──┬─ deser failure ───────────────→ deserializationDlt
  *                       └─ wrapMap ── split ─┬─ error ──→ processDlt
  *                                            └─ ok ── sizeGuard ─┬─ fits → output
  *                                                                └─ big  → productionDlt
  * }}}
  *
  * The whole diagram is one narrow projection, [[route]]: each record
  * leaves it sink-shaped (`key`, `value`, `headers`) with a `branch`
  * label, the mapper and the size guard evaluated once per record. The
  * four sinks are then label filters over the routed frame
  * ([[branchesOf]]). A caller that materializes more than one branch
  * checkpoints the ROUTED frame once (see
  * `graft.streaming.StreamingTopology`), so the scan, the decode and the
  * mapper run once per batch, and each branch reads the checkpoint.
  */
object ErrorHandlingTopology {

  /** Branch labels, one per sink (the reference's topic names). */
  val Output = "output"
  val ProcessDlt = "process-exception.DLT"
  val DeserializationDlt = "deserialization-exception.DLT"
  val ProductionDlt = "production-exception.DLT"

  /** The four sink-ready record sets of one pass over the input. */
  final case class Branches(
      output: DataFrame,
      processDlt: DataFrame,
      deserializationDlt: DataFrame,
      productionDlt: DataFrame)

  /** Full pipeline over a batch (or foreachBatch micro-batch) of
    * Kafka-shaped records `(key binary, value binary[, headers])`. */
  def apply(records: DataFrame,
            maxRequestSize: Int = ErrorChannel.DefaultMaxRequestSize): Branches =
    branchesOf(route(records, maxRequestSize), records.columns.contains("headers"))

  /** The one routing definition. Every record comes out sink-shaped for
    * its branch, with `branch` naming it:
    *  - deserialization DLT: undecodable value, raw bytes kept;
    *  - process DLT: mapper error, the ORIGINAL int re-encoded
    *    big-endian (`Produced.with(String(), Integer())`,
    *    reference: ErrorMessageMapper.java:21-38);
    *  - production DLT: output-shaped record over `maxRequestSize`,
    *    value EMPTIED so the DLT record itself fits
    *    (reference: DeadLetterProductionExceptionHandler.java:59-67);
    *  - output: value := mapped string as UTF-8 bytes; tombstones (NULL
    *    value) stay NULL (reference: ErrorHandlingTopology.java:43-44).
    * DLT records get an `error.message` header appended to any existing
    * headers; output records keep the input's `headers` (NULL when the
    * input has none). Keys are never altered. */
  def route(records: DataFrame,
            maxRequestSize: Int = ErrorChannel.DefaultMaxRequestSize): DataFrame = {
    // the mapped string is n one-byte [a-z] chars, so the size guard is
    // decided from n, and only a record that fits has its string built
    val sized = ErrorChannel.safeDecode(records)
      .withColumn("size", ErrorChannel.recordSize(col("key"), col("value_int")))
    val mapped = ErrorChannel.wrapMap(sized, generate = col("size") <= maxRequestSize)
      .withColumn("mapped", col("wrapper.mappedValue").cast(BinaryType))
      .withColumn("branch",
        when(col("value").isNotNull && col("value_int").isNull, DeserializationDlt)
          .when(ErrorChannel.hasError, ProcessDlt)
          .when(col("size") > maxRequestSize, ProductionDlt)
          .otherwise(Output))
    def is(label: String) = col("branch") === label
    val existing =
      if (records.columns.contains("headers")) col("headers")
      else lit(null).cast(ErrorChannel.HeaderType)
    val message =
      when(is(DeserializationDlt), lit(ErrorChannel.IntegerDeserError))
        .when(is(ProcessDlt), col("wrapper.error"))
        .otherwise(concat(
          lit("The message is "), col("size").cast(StringType),
          lit(" bytes when serialized which is larger than "),
          lit(maxRequestSize.toString),
          lit(", which is the value of the max.request.size configuration.")))
    mapped.select(
      col("key"),
      when(is(Output), col("mapped"))
        .when(is(ProcessDlt), codecs.be_int4_encode(col("wrapper.originalValue")))
        .when(is(ProductionDlt), lit(Array.empty[Byte]))
        .otherwise(col("value")).as("value"),
      when(is(Output), existing)
        .otherwise(ErrorChannel.appendErrorHeader(existing, message)).as("headers"),
      col("branch"))
  }

  /** The four sink frames of a [[route]]d frame: one label filter each.
    * The output branch carries `headers` only when the input did. */
  def branchesOf(routed: DataFrame, outputHeaders: Boolean): Branches = {
    def branch(label: String, headers: Boolean = true): DataFrame =
      routed.filter(col("branch") === label)
        .select(Seq(col("key"), col("value")) ++ (if (headers) Seq(col("headers")) else Nil): _*)
    Branches(branch(Output, outputHeaders), branch(ProcessDlt), branch(DeserializationDlt),
      branch(ProductionDlt))
  }

  /** One-pass branch bookkeeping: each record's key and the branch
    * [[route]] sends it to. Branch statistics are then one scan plus a
    * |branches|-row aggregate instead of four scans over the same
    * lineage prefix (the flagship entry's accounting path). */
  def branchTag(records: DataFrame,
                maxRequestSize: Int = ErrorChannel.DefaultMaxRequestSize): DataFrame =
    route(records, maxRequestSize).select(col("key"), col("branch"))
}
