package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** The engine's SparkSessionExtensions hook — the standard way a
  * third-party Spark library ships Catalyst extensions:
  *
  *   spark.sql.extensions=graft.plans.GraftExtensions
  *
  * (or a session builder's `.withExtensions(new GraftExtensions)`).
  * Injects every native expression as a SQL function so `spark.sql`
  * users get the same codegen'd hot paths as the DataFrame API.
  *
  * No custom optimizer Rule or SparkStrategy is injected — by design:
  * the whole declared surface plans through Catalyst built-ins
  * (SURVEY.md §4.2 documents why reference parity needs zero engine
  * surgery), and every custom operation is expression-level. This is
  * the seam where a Rule/Strategy would plug in if one were needed.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  /** (identifier, info, builder) triples — shared by the extensions
    * hook and by [[register]] for an already-running session. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("be_int4_decode"),
      info("be_int4_decode", "binary big-endian 4 bytes -> int (NULL otherwise)"),
      (es: Seq[Expression]) => BigEndianInt4Decode(es.head)),
    (FunctionIdentifier("be_int4_encode"),
      info("be_int4_encode", "int -> binary big-endian 4 bytes"),
      (es: Seq[Expression]) => IntToBigEndian4(es.head)),
    (FunctionIdentifier("rand_lowercase"),
      info("rand_lowercase", "deterministic seeded [a-z] string of given length"),
      (es: Seq[Expression]) => RandLowercase(es.head, es(1))),
    (FunctionIdentifier("word_shingles"),
      info("word_shingles", "distinct word n-gram shingles (n literal)"),
      (es: Seq[Expression]) => WordShingles(es.head,
        es(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("char_trigrams"),
      info("char_trigrams", "distinct character trigrams"),
      (es: Seq[Expression]) => CharTrigrams(es.head)),
    (FunctionIdentifier("quantize_vector"),
      info("quantize_vector", "array<float> -> array<long> floor(x*Q), Q literal"),
      (es: Seq[Expression]) => QuantizeVector(es.head,
        es(1).eval().asInstanceOf[Number].intValue())),
    // aggregate: the analyzer wraps a raw AggregateFunction builder
    // result in AggregateExpression itself
    (FunctionIdentifier("mg_topk"),
      info("mg_topk", "Misra-Gries heavy hitters: (term, capacity, k) " +
        "-> array<struct<term,est>> by (est DESC, term)"),
      (es: Seq[Expression]) => MisraGriesTopK(es.head,
        es(1).eval().asInstanceOf[Number].intValue(),
        es(2).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("qdot"),
      info("qdot", "exact integer dot product of two array<long>"),
      (es: Seq[Expression]) => QDotLong(es.head, es(1))),
    (FunctionIdentifier("deflate_size"),
      info("deflate_size", "DEFLATE-compressed byte count of a string (level literal)"),
      (es: Seq[Expression]) => DeflateSize(es.head,
        es(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("simhash48"),
      info("simhash48", "48-bit SimHash fingerprint of space-tokenized text"),
      (es: Seq[Expression]) => Simhash48(es.head)),
    (FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "MinHash signature array over word n-gram shingles (n literal)"),
      (es: Seq[Expression]) => MinhashSig(es.head,
        es(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "Unicode NFC canonical composition of a string"),
      (es: Seq[Expression]) => NfcNormalize(es.head)),
    (FunctionIdentifier("oph_sig"),
      info("oph_sig", "one-permutation-hashing MinHash signature over " +
        "word n-gram shingles (n literal)"),
      (es: Seq[Expression]) => OphSig(es.head,
        es(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("kmv_kmin"),
      info("kmv_kmin", "KMV distinct sketch: k smallest distinct BIGINTs, " +
        "sorted ascending (k literal)"),
      (es: Seq[Expression]) => KmvKMin(es.head,
        es(1).eval().asInstanceOf[Number].intValue())),
    // the codebook arguments are evaluated ONCE at resolution time
    // into the single reference object the expression ships to
    // executors — the SQL route to the same O(1)-plan-size argmin the
    // DataFrame API gets (see CentroidModel)
    (FunctionIdentifier("centroid_argmin"),
      info("centroid_argmin", "(vec array<long>, norm long, cids array<long>, " +
        "cents array<array<long>>[, offset]) -> cid minimizing " +
        "(norm + dot(c,c) - 2*dot(vec,c), cid); codebook args literal"),
      (es: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.util.ArrayData
        val cids = es(2).eval().asInstanceOf[ArrayData].toLongArray()
        val centsAd = es(3).eval().asInstanceOf[ArrayData]
        val cents = Array.tabulate(centsAd.numElements())(i =>
          centsAd.getArray(i).toLongArray())
        val off = if (es.length > 4)
          es(4).eval().asInstanceOf[Number].intValue() else 0
        CentroidArgmin(es.head, es(1), new CentroidModel(cids, cents, off))
      }))

  /** Register the same functions on an already-built session (tests,
    * notebooks); extensions-based injection is the production path. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, _, builder) =>
      reg.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
  }
}
