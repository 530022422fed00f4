package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd Catalyst expressions replacing the reference's Kafka
  * Serdes (reference: .../topology/ErrorHandlingTopology.java:30 uses
  * `Serdes.Integer()` — a 4-byte big-endian codec — and
  * `Serdes.String()`).
  *
  * Spark's Kafka source always delivers `binary` key/value columns, so
  * deserialization becomes an explicit plan operator (SURVEY.md §2.1
  * #10). These are native `Expression`s with `doGenCode` (not UDFs) so
  * they stay inside whole-stage codegen — at 100 TB the decode sits on
  * every row of the hot path and must not break the codegen span.
  */

/** Safe big-endian 4-byte → Int decode. Returns NULL when the payload
  * is not exactly 4 bytes — the Option-returning analog of Kafka's
  * `IntegerDeserializer`, whose failure ("Size of data received by
  * IntegerDeserializer is not 4") is the deserialization-DLT trigger
  * (reference: .../errorhandling/DeadLetterDeserializationExceptionHandler.java:29-49).
  */
case class BigEndianInt4Decode(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "be_int4_decode"

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    if (b.length != 4) null
    else ((b(0) & 0xff) << 24) | ((b(1) & 0xff) << 16) | ((b(2) & 0xff) << 8) | (b(3) & 0xff)
  }

  // Static-helper call, NOT inlined bit arithmetic (r16): janino
  // misparses `(($c[1] & 0xff) << 16)` when `$c` is a mutable-state
  // array reference (a binary-literal child gets hoisted to
  // `project_mutableStateArray_0[0]`, and janino then reads the
  // parenthesized operand of `<<` as a cast type — "Expression …
  // is not a type"), failing whole-stage compilation and silently
  // dropping the stage to interpreted execution. The helper-call
  // pattern every other expression here uses sidesteps the parser
  // bug and keeps the decode inside codegen in every shape.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      if ($c.length == 4) {
        ${ev.value} = graft.functions.GraftExprs.beInt4($c);
      } else {
        ${ev.isNull} = true;
      }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Int → big-endian 4-byte binary encode (the producer-side
  * `IntegerSerializer` analog; the process-DLT sink re-encodes the
  * original Integer this way — reference: ErrorHandlingTopology.java:38,
  * `Produced.with(String(), Integer())`). */
case class IntToBigEndian4(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "be_int4_encode"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[Int]
    Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = new byte[] {
        (byte)($c >>> 24), (byte)($c >>> 16), (byte)($c >>> 8), (byte)($c) };""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Deterministic pseudo-random lowercase string: `len` chars drawn from
  * [a-z] (codepoints 97..122) via xorshift64 seeded per row, six letters
  * per generator step by multiply-shift, with no division
  * ([[GraftExprs.randLowercase]]).
  *
  * The reference generates `Random.ints(97, 123).limit(n)`
  * (reference: .../topology/ErrorHandlingMapper.java:14-18); its tests
  * assert only length and charset, never content (SURVEY.md §2.3-4), so
  * a per-row-seeded deterministic generator preserves the whole
  * observable contract while staying reproducible across retries — a
  * hard requirement at scale, where task retries must not produce
  * different data.
  *
  * Negative `len` yields NULL (the caller maps that to the error branch,
  * matching the reference's IllegalArgumentException on `limit(-1)`).
  */
case class RandLowercase(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "rand_lowercase"

  override def nullSafeEval(seed: Any, len: Any): Any =
    GraftExprs.randLowercase(seed.asInstanceOf[Long], len.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (seed, len) => s"""
      ${ev.value} = graft.functions.GraftExprs.randLowercase($seed, $len);
      ${ev.isNull} = (${ev.value} == null);""")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Static helpers callable from generated Java code. */
object GraftExprs {
  /** Big-endian 4-byte decode (callers check length == 4). */
  def beInt4(b: Array[Byte]): Int =
    ((b(0) & 0xff) << 24) | ((b(1) & 0xff) << 16) |
      ((b(2) & 0xff) << 8) | (b(3) & 0xff)

  /** xorshift64-based [a-z] string; null for negative length. Each
    * step yields six letters, the first three base-26 digits of each
    * 32-bit half of the state read as a fraction of 2^32: multiplying the
    * fraction by 26 lifts the next digit above bit 32 (multiply-shift
    * range reduction, Lemire, ACM TOMACS 2019), so no letter costs a
    * division. */
  def randLowercase(seed: Long, len: Int): UTF8String = {
    if (len < 0) return null
    if (len == 0) return UTF8String.EMPTY_UTF8
    val bytes = new Array[Byte](len)
    var x = seed * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL
    var i = 0
    while (i + 6 <= len) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      var h = (x >>> 32) * 26; bytes(i) = (97 + (h >>> 32)).toByte
      h = (h & Low32) * 26; bytes(i + 1) = (97 + (h >>> 32)).toByte
      h = (h & Low32) * 26; bytes(i + 2) = (97 + (h >>> 32)).toByte
      h = (x & Low32) * 26; bytes(i + 3) = (97 + (h >>> 32)).toByte
      h = (h & Low32) * 26; bytes(i + 4) = (97 + (h >>> 32)).toByte
      h = (h & Low32) * 26; bytes(i + 5) = (97 + (h >>> 32)).toByte
      i += 6
    }
    if (i < len) { // the last one to five letters: a prefix of one step's six
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      var h = x >>> 32
      var k = 0
      while (i < len) {
        if (k == 3) h = x & Low32
        h *= 26
        bytes(i) = (97 + (h >>> 32)).toByte
        h &= Low32
        i += 1; k += 1
      }
    }
    UTF8String.fromBytes(bytes)
  }

  private final val Low32 = 0xFFFFFFFFL
}

/** Column-level API over the expressions above, plus SQL registration. */
object codecs {
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def ex(c: Column): Expression = ColumnBridge.expression(c)

  /** binary (4-byte big-endian) → int, NULL on wrong length. */
  def be_int4_decode(c: Column): Column = col(BigEndianInt4Decode(ex(c)))
  /** int → binary (4-byte big-endian). */
  def be_int4_encode(c: Column): Column = col(IntToBigEndian4(ex(c)))
  /** deterministic [a-z] string of length `len`, seeded per row. */
  def rand_lowercase(seed: Column, len: Column): Column =
    col(RandLowercase(ex(seed), ex(len)))

  /** Register the expressions for `spark.sql` use. Idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("be_int4_decode",
      es => BigEndianInt4Decode(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("be_int4_encode",
      es => IntToBigEndian4(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("rand_lowercase",
      es => RandLowercase(es.head, es(1)), "scala_udf")
  }
}
