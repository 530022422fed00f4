package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ErrorChannel, ErrorHandlingTopology}
import graft.streaming.StreamingTopology

/** The reference's observable behavioral contract (SURVEY.md §2.3,
  * FIXTURES.md §1) replayed through the batch topology — the analog of
  * the reference's TopologyTestDriver unit layer
  * (reference: src/test/java/.../ErrorHandlingTopologyTest.java). */
class ErrorChannelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def beInt(n: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(n).array()

  private def records(rows: (String, Array[Byte])*): DataFrame =
    rows.map { case (k, v) => (k.getBytes("UTF-8"), v) }.toDF("key", "value")

  private def run(rows: (String, Array[Byte])*): ErrorHandlingTopology.Branches =
    ErrorHandlingTopology(records(rows: _*))

  private def headerMap(r: Row): Map[String, String] =
    r.getAs[Seq[Row]]("headers")
      .map(h => h.getAs[String]("key") -> new String(h.getAs[Array[Byte]]("value"), "UTF-8"))
      .toMap

  test("happy path ('key', 2): one output record, 2-char [a-z] value, key unchanged") {
    // reference: ErrorHandlingTopologyTest.java:42-48
    val b = run("key" -> beInt(2))
    val out = b.output.collect()
    assert(out.length == 1)
    assert(new String(out(0).getAs[Array[Byte]]("key"), "UTF-8") == "key")
    val value = new String(out(0).getAs[Array[Byte]]("value"), "UTF-8")
    assert(value.length == 2)
    assert(value.forall(c => c >= 'a' && c <= 'z'))
    assert(b.processDlt.isEmpty && b.deserializationDlt.isEmpty && b.productionDlt.isEmpty)
  }

  test("process error ('key', -1): no output; DLT has ORIGINAL value and rendered header") {
    // reference: ErrorHandlingTopologyTest.java:50-59
    val b = run("key" -> beInt(-1))
    assert(b.output.isEmpty, "a failing record produces nothing on output")
    val dlt = b.processDlt.collect()
    assert(dlt.length == 1)
    assert(new String(dlt(0).getAs[Array[Byte]]("key"), "UTF-8") == "key")
    // DLT carries the original Integer, re-encoded big-endian (§2.3-1)
    assert(dlt(0).getAs[Array[Byte]]("value").toSeq == beInt(-1).toSeq)
    assert(headerMap(dlt(0))(ErrorChannel.ErrorHeaderKey)
      == "java.lang.IllegalArgumentException: -1") // §2.3-2
  }

  test("deserialization error ('key', \"10\"): raw bytes preserved + deserializer message") {
    // reference: ErrorHandlingTopologyIntegrationTest.java:86-104
    val raw = "10".getBytes("UTF-8")
    val b = run("key" -> raw)
    assert(b.output.isEmpty && b.processDlt.isEmpty)
    val dlt = b.deserializationDlt.collect()
    assert(dlt.length == 1)
    assert(dlt(0).getAs[Array[Byte]]("value").toSeq == raw.toSeq, "§2.3-5 pass-through")
    assert(headerMap(dlt(0))(ErrorChannel.ErrorHeaderKey)
      == "Size of data received by IntegerDeserializer is not 4")
  }

  test("production error ('key', 2,000,000): DLT value EMPTY, size message, 2,000,091 bytes") {
    // reference: ErrorHandlingTopologyIntegrationTest.java:106-122
    val b = run("key" -> beInt(2000000))
    assert(b.output.isEmpty, "oversized record never reaches output")
    val dlt = b.productionDlt.collect()
    assert(dlt.length == 1)
    assert(dlt(0).getAs[Array[Byte]]("value").length == 0, "§2.3-6 truncation")
    val msg = headerMap(dlt(0))(ErrorChannel.ErrorHeaderKey)
    assert(msg.contains("2000091 bytes"), s"size matches the reference measurement: $msg")
    assert(msg.contains("larger than 1048576"))
  }

  test("the size guard is decided from n: values decoding near 2^31 route to the " +
    "production DLT without building their mapped string") {
    // any 4-byte value decodes: ASCII "1000" is n = 825,241,648, and an
    // n near 2^31 is past the JVM's array limit
    val ascii = "1000".getBytes("UTF-8")
    val n = Seq(java.nio.ByteBuffer.wrap(ascii).getInt, Int.MaxValue)
    assert(n.head == 825241648)
    val t0 = System.nanoTime()
    val dlt = run("key" -> ascii, "key" -> beInt(Int.MaxValue)).productionDlt.collect()
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(seconds < 30, s"routing two records took $seconds s")
    val size = n.map(_.toLong + "key".length + ErrorChannel.RecordOverheadBytes)
    assert(dlt.map(headerMap(_)(ErrorChannel.ErrorHeaderKey)).toSeq.sorted == size.map(s =>
      s"The message is $s bytes when serialized which is larger than 1048576, " +
        "which is the value of the max.request.size configuration.").sorted)
    assert(dlt.forall(_.getAs[Array[Byte]]("value").isEmpty))
  }

  test("routing totality: every record lands in exactly one branch") {
    // FIXTURES.md §2 — n in [-50, 50] plus undecodable payloads
    val rows = (-50 to 50).map(n => s"k$n" -> beInt(n)) ++
      Seq("bad1" -> "xx".getBytes("UTF-8"), "bad2" -> Array[Byte](1, 2, 3, 4, 5))
    val b = run(rows: _*)
    val total = b.output.count() + b.processDlt.count() +
      b.deserializationDlt.count() + b.productionDlt.count()
    assert(total == rows.length)
    assert(b.output.count() == 51)             // n in [0, 50]
    assert(b.processDlt.count() == 50)         // n in [-50, -1]
    assert(b.deserializationDlt.count() == 2)
  }

  test("output value length equals the decoded input integer (contract §2.3-4)") {
    val b = run((0 to 20).map(n => s"k$n" -> beInt(n)): _*)
    val lens = b.output.collect()
      .map(r => new String(r.getAs[Array[Byte]]("key"), "UTF-8").drop(1).toInt ->
                r.getAs[Array[Byte]]("value").length).toMap
    (0 to 20).foreach(n => assert(lens(n) == n))
  }

  test("key is never altered on any path (contract §2.3-7)") {
    val rows = Seq("a" -> beInt(3), "b" -> beInt(-2), "c" -> "zz".getBytes("UTF-8"))
    val b = run(rows: _*)
    val keys = (b.output.collect() ++ b.processDlt.collect() ++
      b.deserializationDlt.collect())
      .map(r => new String(r.getAs[Array[Byte]]("key"), "UTF-8")).sorted.toSeq
    assert(keys == Seq("a", "b", "c"))
  }

  test("branchTag (one-pass) counts match the four-branch topology exactly") {
    // the flagship entry's single-scan accounting path must agree with
    // the materialized branches on every route, incl. the size guard
    val rows = (-50 to 50).map(n => s"k$n" -> beInt(n)) ++
      Seq("bad1" -> "xx".getBytes("UTF-8"),
          "big" -> beInt(2000000)) // routes to output shape, then trips the guard
    val df = records(rows: _*)
    val b = ErrorHandlingTopology(df)
    val tagged = ErrorHandlingTopology.branchTag(df)
      .groupBy("branch").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tagged.values.sum == rows.length, "split totality under tagging")
    assert(tagged("output") == b.output.count())
    assert(tagged("process-exception.DLT") == b.processDlt.count())
    assert(tagged("deserialization-exception.DLT") == b.deserializationDlt.count())
    assert(tagged("production-exception.DLT") == b.productionDlt.count())
  }

  test("existing headers are preserved when the error header is appended") {
    import org.apache.spark.sql.functions._
    val base = records("key" -> beInt(-1))
      .withColumn("headers",
        array(struct(lit("trace").as("key"), lit("t1".getBytes("UTF-8")).as("value"))))
    val dlt = ErrorHandlingTopology(base).processDlt.collect()
    val hs = headerMap(dlt(0))
    assert(hs("trace") == "t1" && hs(ErrorChannel.ErrorHeaderKey).nonEmpty)
  }

  test("route-derived branches equal the stage composition byte for byte") {
    import org.apache.spark.sql.functions._
    val max = 400
    val rng = new scala.util.Random(20261018L)
    // value sizes exactly at the limit and one past it: the output-shaped
    // record is key + n mapped bytes + framing
    def fitting(key: String) = max - key.length - ErrorChannel.RecordOverheadBytes
    val rows: Seq[(String, Array[Byte])] = (0 until 400).map { i =>
      val k = s"r$i"
      k -> (rng.nextInt(10) match {
        case 0 => beInt(-(1 + rng.nextInt(1000)))                  // process DLT
        case 1 => Array.fill(Seq(0, 1, 2, 3, 5, 7)(rng.nextInt(6)))(
          rng.nextInt(256).toByte)                                  // undecodable
        case 2 => null                                              // tombstone
        case 3 => beInt(fitting(k) + rng.nextInt(3) - 1)            // around the limit
        case 4 => beInt(max + rng.nextInt(2000))                    // oversized
        case _ => beInt(rng.nextInt(300))                           // valid
      })
    } ++ Seq("edge" -> beInt(fitting("edge")), "edge1" -> beInt(fitting("edge1") + 1))
    // repartitioned: a local relation would be folded at planning, and
    // the codegen'd path would go untested
    val plain = records(rows: _*).repartition(3)
    val header = struct(lit("trace").as("key"), encode(col("key").cast("string"), "UTF-8")
      .as("value"))
    val withHeaders = plain.withColumn("headers",
      when(pmod(xxhash64(col("key")), lit(3L)) === 0, lit(null).cast(ErrorChannel.HeaderType))
        .when(pmod(xxhash64(col("key")), lit(3L)) === 1, array().cast(ErrorChannel.HeaderType))
        .otherwise(array(header, header)))

    def render(rows: Seq[Row]): Seq[String] = rows.map(ErrorChannelStages.render).sorted
    def sinks(into: collection.mutable.Map[String, Seq[Row]]) = {
      def sink(name: String): DataFrame => Unit = df => into(name) = df.collect().toSeq
      StreamingTopology.Sinks(sink("output"), sink("process"), sink("deser"), sink("production"))
    }
    def named(b: ErrorHandlingTopology.Branches): Map[String, DataFrame] =
      Map("output" -> b.output, "process" -> b.processDlt,
        "deser" -> b.deserializationDlt, "production" -> b.productionDlt)

    Seq(plain, withHeaders).foreach { input =>
      val spec = named(ErrorChannelStages.branches(input, max))
      val routed = named(ErrorHandlingTopology(input, max))
      val fanned = collection.concurrent.TrieMap[String, Seq[Row]]()
      StreamingTopology.processBatch(input, sinks(fanned), max)
      spec.foreach { case (name, want) =>
        val expected = render(want.collect().toSeq)
        assert(routed(name).columns.toSeq == want.columns.toSeq, name)
        assert(render(routed(name).collect().toSeq) == expected, s"$name via apply")
        assert(render(fanned(name)) == expected, s"$name via processBatch")
      }
      val counts = spec.map { case (n, df) => n -> df.count() }
      assert(counts.values.sum == rows.length && counts.values.forall(_ > 0), counts)
    }
    // the boundary pair splits across the guard
    val b = ErrorChannelStages.branches(plain, max)
    def keys(df: DataFrame) = df.select(col("key").cast("string")).collect().map(_.getString(0))
    assert(keys(b.output).contains("edge") && keys(b.productionDlt).contains("edge1"))
    // tombstones route to output with a NULL value
    assert(b.output.filter(col("value").isNull).count() ==
      rows.count(_._2 == null))
  }
}
