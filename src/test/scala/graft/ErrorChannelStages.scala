package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.codecs
import graft.operators.{ErrorChannel, ErrorHandlingTopology}
import graft.operators.ErrorChannel._

/** Executable specification of the dead-letter topology as a
  * composition of per-stage DataFrame transforms, one filter per split
  * (reference: ErrorHandlingTopology.java:27-44):
  *
  * {{{
  * safeDecode ─┬─ deserFailures                          → deserializationDlt
  *             └─ decodeOk ─ wrapMap ─┬─ errorBranch ─ toProcessDlt → processDlt
  *                                    └─ okBranch ─ toOutput ─┬─ sizeOk → output
  *                                                            └─ toProductionDlt
  * }}}
  *
  * `ErrorHandlingTopology.route` computes the same four branches as one
  * projection; `ErrorChannelSpec` asserts the two agree byte for byte. */
object ErrorChannelStages {

  /** The four branches, stage by stage. */
  def branches(records: DataFrame,
               maxRequestSize: Int = DefaultMaxRequestSize): ErrorHandlingTopology.Branches = {
    val decoded = safeDecode(records)
    val mapped = wrapMap(decodeOk(decoded))
    val outAll = toOutput(okBranch(mapped))
    ErrorHandlingTopology.Branches(
      output = sizeOk(outAll, maxRequestSize),
      processDlt = toProcessDlt(errorBranch(mapped)),
      deserializationDlt = deserFailures(decoded),
      productionDlt = toProductionDlt(outAll, maxRequestSize))
  }

  /** Records whose value failed to decode → deserialization DLT: raw
    * bytes pass through untouched + diagnostic header
    * (reference contract SURVEY.md §2.3-5). */
  def deserFailures(decoded: DataFrame): DataFrame =
    withErrorHeader(
      decoded.filter(col("value").isNotNull && col("value_int").isNull),
      lit(IntegerDeserError))
      .select(col("key"), col("value"), col("headers"))

  /** Records that decoded (or were null tombstones, which Kafka's
    * IntegerDeserializer passes through as null without error). */
  def decodeOk(decoded: DataFrame): DataFrame =
    decoded.filter(col("value").isNull || col("value_int").isNotNull)

  /** Error branch (reference: ErrorHandlingTopology.java:32-37). */
  def errorBranch(mapped: DataFrame): DataFrame = mapped.filter(hasError)

  /** Default branch (reference: ErrorHandlingTopology.java:42-44). */
  def okBranch(mapped: DataFrame): DataFrame = mapped.filter(!hasError)

  /** Render the error into an `error.message` header, swap the value
    * back to the ORIGINAL input (re-encoded as 4-byte big-endian int,
    * matching `Produced.with(String(), Integer())`), key untouched
    * (reference: ErrorMessageMapper.java:21-38 + ErrorHandlingTopology.java:38). */
  def toProcessDlt(errors: DataFrame): DataFrame =
    withErrorHeader(errors, col("wrapper.error"))
      .select(
        col("key"),
        codecs.be_int4_encode(col("wrapper.originalValue")).as("value"),
        col("headers"))

  /** Success path: value := mappedValue as UTF-8 bytes
    * (reference: ErrorHandlingTopology.java:43-44). Headers pass
    * through if present. */
  def toOutput(ok: DataFrame): DataFrame = {
    val base = Seq(col("key"), col("wrapper.mappedValue").cast(BinaryType).as("value"))
    val cols =
      if (ok.columns.contains("headers")) base :+ col("headers") else base
    ok.select(cols: _*)
  }

  private def size: org.apache.spark.sql.Column =
    ErrorChannel.recordSize(col("key"), octet_length(col("value")))

  /** Records that fit under `maxRequestSize`. */
  def sizeOk(outRecords: DataFrame, maxRequestSize: Int = DefaultMaxRequestSize): DataFrame =
    outRecords.filter(size <= maxRequestSize)

  /** Oversized records → production DLT with the value EMPTIED so the
    * DLT record itself fits, plus the producer's size message
    * (reference: DeadLetterProductionExceptionHandler.java:26-45,59-67). */
  def toProductionDlt(outRecords: DataFrame,
                      maxRequestSize: Int = DefaultMaxRequestSize): DataFrame = {
    val oversized = outRecords.filter(size > maxRequestSize)
    val msg = concat(
      lit("The message is "), size.cast(StringType),
      lit(" bytes when serialized which is larger than "),
      lit(maxRequestSize.toString),
      lit(", which is the value of the max.request.size configuration."))
    withErrorHeader(oversized, msg)
      .select(col("key"), lit(Array.empty[Byte]).as("value"), col("headers"))
  }

  private def hex(b: Array[Byte]): String =
    if (b == null) "null" else b.map("%02x".format(_)).mkString

  /** One comparable line per sink row: `key|value|headers` in hex, with
    * headers `-` when the row has no such column and `null` when NULL. */
  def render(r: Row): String = {
    val hs = if (!r.schema.fieldNames.contains("headers")) "-"
      else if (r.isNullAt(r.fieldIndex("headers"))) "null"
      else r.getAs[Seq[Row]]("headers")
        .map(h => s"${h.getString(0)}=${hex(h.getAs[Array[Byte]](1))}").mkString(";")
    s"${hex(r.getAs[Array[Byte]]("key"))}|${hex(r.getAs[Array[Byte]]("value"))}|$hs"
  }
}
