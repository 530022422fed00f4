package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.operators.ErrorChannel
import graft.sources.KafkaEdge

/** Executable Kafka-connector contract as DATA (golden fixtures).
  *
  * No broker or connector jars exist in this environment, so the
  * connector boundary is pinned the only verifiable way: byte-exact
  * fixtures checked into src/test/resources/kafka_golden/, against
  * which [[KafkaEdge.recordSchema]] and [[KafkaEdge.toSinkShape]]
  * output are compared. A future environment WITH the Kafka connector
  * can validate the same fixtures unchanged against a real round-trip.
  *
  * Fixture provenance (public): the source-row schema and sink-row
  * contract are transcribed from the Spark Structured Streaming +
  * Kafka Integration Guide (spark.apache.org/docs/latest/
  * structured-streaming-kafka-integration.html — "Each row in the
  * source has the following schema" / "Each row being written to
  * Kafka has the following schema"), headers shape per
  * `includeHeaders`. The four sink records replay the reference's
  * canonical test inputs (FIXTURES.md §1: happy-path, process-error,
  * deserialization-error, production-error).
  *
  * Regenerate with GOLDEN_REGEN=1 (writes the files, then passes);
  * default mode is a strict byte compare.
  */
class KafkaGoldenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = Paths.get("src/test/resources/kafka_golden")
  private val regen = sys.env.get("GOLDEN_REGEN").contains("1")

  private def check(file: String, content: String): Unit = {
    val p = dir.resolve(file)
    if (regen) {
      Files.createDirectories(dir)
      Files.write(p, content.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    } else {
      assert(Files.exists(p), s"golden fixture $p missing — run with GOLDEN_REGEN=1")
      val want = new String(Files.readAllBytes(p), "UTF-8")
      assert(content == want, s"$file drifted from golden fixture")
    }
  }

  private def hex(b: Array[Byte]): String =
    if (b == null) "∅" else b.map("%02x".format(_)).mkString

  /** Deterministic one-line render of a sink row (topic|key|value|headers). */
  private def render(r: Row): String = {
    val headers =
      if (r.schema.fieldNames.contains("headers") && !r.isNullAt(r.fieldIndex("headers")))
        r.getSeq[Row](r.fieldIndex("headers"))
          .map(h => s"${h.getString(0)}=${hex(h.getAs[Array[Byte]](1))}")
          .mkString(";")
      else ""
    s"${r.getString(r.fieldIndex("topic"))}|" +
      s"${hex(r.getAs[Array[Byte]](r.fieldIndex("key")))}|" +
      s"${hex(r.getAs[Array[Byte]](r.fieldIndex("value")))}|$headers"
  }

  test("source schema matches the documented connector row schema") {
    check("source_schema.json", KafkaEdge.recordSchema.prettyJson + "\n")
  }

  test("sink rows for the four canonical reference records are byte-stable") {
    import graft.functions.codecs
    // 1. happy path ("key", 2) -> output topic, no headers
    val ok = Seq(("key".getBytes("UTF-8"), "gz".getBytes("UTF-8")))
      .toDF("key", "value")
    // 2. process error ("key", -1) -> process DLT: ORIGINAL int bytes +
    //    rendered `<FQN>: <msg>` header (reference contract §2.3)
    val processDlt = ErrorChannel.withErrorHeader(
      Seq(("key".getBytes("UTF-8"), -1)).toDF("key", "n")
        .select(col("key"), codecs.be_int4_encode(col("n")).as("value")),
      lit("java.lang.IllegalArgumentException: -1"))
    // 3. deserialization error ("key", "10" as raw bytes)
    val deserDlt = ErrorChannelStages.deserFailures(
      ErrorChannel.safeDecode(
        Seq(("key".getBytes("UTF-8"), "10".getBytes("UTF-8")))
          .toDF("key", "value")))
    // 4. production error -> EMPTY value + size-guard header
    val prodDlt = ErrorChannelStages.toProductionDlt(
      Seq(("key".getBytes("UTF-8"), Array.fill[Byte](2000000)(97)))
        .toDF("key", "value"))

    val lines = Seq(
      KafkaEdge.toSinkShape(ok, "output"),
      KafkaEdge.toSinkShape(processDlt, "process-exception.DLT"),
      KafkaEdge.toSinkShape(deserDlt, "deserialization-exception.DLT"),
      KafkaEdge.toSinkShape(prodDlt, "production-exception.DLT"))
      .flatMap(_.collect().map(render))
    check("sink_records.golden", lines.mkString("", "\n", "\n"))
  }

  test("the four canonical records through StreamingTopology.processBatch " +
    "match the golden DLT lines") {
    import graft.streaming.StreamingTopology
    def beInt(n: Int) = java.nio.ByteBuffer.allocate(4).putInt(n).array()
    val input = Seq[Array[Byte]](beInt(2), beInt(-1), "10".getBytes("UTF-8"), beInt(2000000))
      .map("key".getBytes("UTF-8") -> _).toDF("key", "value")
    val got = collection.concurrent.TrieMap[String, Seq[Row]]()
    def sink(topic: String): org.apache.spark.sql.DataFrame => Unit =
      df => got(topic) = KafkaEdge.toSinkShape(df, topic).collect().toSeq
    StreamingTopology.processBatch(input, StreamingTopology.Sinks(
      output = sink("output"),
      processDlt = sink("process-exception.DLT"),
      deserializationDlt = sink("deserialization-exception.DLT"),
      productionDlt = sink("production-exception.DLT")))

    // the DLT lines are exactly the golden ones; the output value is
    // random content, so only its contract is checked
    val golden = new String(Files.readAllBytes(dir.resolve("sink_records.golden")), "UTF-8")
      .split("\n").toSeq
    val dlt = Seq("process-exception.DLT", "deserialization-exception.DLT",
      "production-exception.DLT").flatMap(t => got(t).map(render))
    assert(dlt == golden.filterNot(_.startsWith("output|")))
    val out = got("output")
    assert(out.length == 1)
    assert(out.head.getAs[Array[Byte]]("key").toSeq == "key".getBytes("UTF-8").toSeq)
    val value = new String(out.head.getAs[Array[Byte]]("value"), "UTF-8")
    assert(value.length == 2 && value.forall(c => c >= 'a' && c <= 'z'), value)
  }
}
