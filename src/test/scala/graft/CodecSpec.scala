package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{codecs, GraftExprs}

/** Round-trip laws for the serde-analog expressions (SURVEY.md §5
  * property layer): decode(encode(n)) == n; decode rejects wrong
  * lengths; rand_lowercase length/charset contract
  * (reference charset [a-z]: ErrorHandlingMapper.java:14-15), the
  * digits its kernel draws, and their letter frequencies. */
class CodecSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rng = new scala.util.Random(42)

  test("decode(encode(n)) == n across the int range (columnar round trip)") {
    val ns = Seq(Int.MinValue, -1000000, -1, 0, 1, 42, 1048576, Int.MaxValue) ++
      Seq.fill(200)(rng.nextInt())
    val got = ns.toDF("n")
      .select(codecs.be_int4_decode(codecs.be_int4_encode(col("n"))).as("rt"))
      .as[Int].collect().toSeq
    assert(got == ns)
  }

  test("decode returns NULL unless payload is exactly 4 bytes") {
    val rows = Seq(
      Array[Byte](),
      Array[Byte](1),
      Array[Byte](1, 2, 3),
      Array[Byte](1, 2, 3, 4, 5),
      "10".getBytes("UTF-8") // the reference's deserialization fixture
    ).toDF("b").select(codecs.be_int4_decode(col("b")).as("d"))
    assert(rows.collect().forall(_.isNullAt(0)))
  }

  test("decode codegen compiles in the literal/hoisted-child shape (no fallback)") {
    // r16: janino misparses `((c[1] & 0xff) << 16)` when the child is
    // a mutable-state array reference (binary-literal children get
    // hoisted), so the inlined-arithmetic doGenCode failed whole-stage
    // compilation and the stage silently ran interpreted. Disabling
    // the fallback makes that failure FATAL, so this test fails on the
    // inlined form and passes on the static-helper form. The driving
    // plan is the flagship entry at sf0.001 — the exact shape that
    // logged `CodeGenerator: Failed to compile` in the r16 test run —
    // plus a direct literal-child decode.
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try {
      val branches = graft.SparkEntry.entry(spark).collect()
      assert(branches.nonEmpty)
      val lits = spark.range(1).select(
        codecs.be_int4_decode(lit(Array[Byte](0, 0, 1, 0))).as("a"),
        codecs.be_int4_decode(codecs.be_int4_encode(lit(-7))).as("b"))
        .collect().head
      assert(lits.getInt(0) == 256 && lits.getInt(1) == -7)
    } finally spark.conf.set(key, prev)
  }

  test("decode is big-endian (matches java.nio / Kafka IntegerDeserializer)") {
    val ns = Seq.fill(200)(rng.nextInt())
    ns.foreach { n =>
      val bytes = java.nio.ByteBuffer.allocate(4).putInt(n).array()
      val got = Seq(bytes).toDF("b")
        .select(codecs.be_int4_decode(col("b")).as("d")).as[Int].head()
      assert(got == n)
    }
  }

  /** The kernel's contract spelled out with BigInt: each xorshift64
    * step gives six letters, the first three base-26 digits of its high
    * 32-bit half, then of its low half, each half read as a fraction
    * of 2^32. */
  private def referenceLetters(seed: Long, len: Int): String = {
    var x = seed * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL
    (0 until len).grouped(6).flatMap { step =>
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      val halves = Seq(x >>> 32, x & 0xFFFFFFFFL).map(BigInt(_))
      step.indices.map { k =>
        val digit = (halves(k / 3) * BigInt(26).pow(k % 3 + 1) >> 32) % 26
        ('a' + digit.toInt).toChar
      }
    }.mkString
  }

  test("rand_lowercase: length == n, charset [a-z], deterministic in seed") {
    // every length through 100, so 0-13 and both sides of each multiple
    // of 6, checked against the digits each generator step must yield
    val edgeSeeds = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue)
    for (n <- (0 to 100) ++ Seq(511, 512, 513); seed <- rng.nextLong() +: edgeSeeds) {
      val s1 = GraftExprs.randLowercase(seed, n)
      val s2 = GraftExprs.randLowercase(seed, n)
      assert(s1 == s2, "deterministic per (seed, n)")
      val str = s1.toString
      assert(str.length == n && s1.numBytes == n, s"($seed, $n): $str")
      assert(str.forall(c => c >= 'a' && c <= 'z'), s"($seed, $n): $str")
      assert(str == referenceLetters(seed, n), s"($seed, $n)")
    }
  }

  test("rand_lowercase: interpreted eval equals the generated code") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{IntegerType, LongType}
    import graft.functions.RandLowercase
    val e = Seq(RandLowercase(BoundReference(0, LongType, nullable = true),
      BoundReference(1, IntegerType, nullable = true)))
    val generated = GenerateUnsafeProjection.generate(e)
    val interpreted = InterpretedUnsafeProjection.createProjection(e)
    val inputs = Seq[(Any, Any)]((null, 3), (5L, null), (7L, -1)) ++
      (0 to 40).map(n => (rng.nextLong(), n))
    inputs.foreach { case (seed, n) =>
      val row = InternalRow(seed, n)
      val g = generated(row).copy()
      val i = interpreted(row).copy()
      assert(g.isNullAt(0) == i.isNullAt(0), s"($seed, $n)")
      if (!g.isNullAt(0)) assert(g.getUTF8String(0) == i.getUTF8String(0), s"($seed, $n)")
    }
  }

  test("rand_lowercase: letter frequencies over 1.2M letters pass a chi-square " +
    "bound, overall and at each of a step's six digit positions") {
    // consecutive seeds, the least mixed input a caller could give; 52.62
    // is the 0.999 quantile of chi-square with 25 degrees of freedom
    val len = 60
    val counts = Array.ofDim[Long](6, 26)
    (0L until 20000L).foreach { seed =>
      val b = GraftExprs.randLowercase(seed, len).getBytes
      b.indices.foreach(j => counts(j % 6)(b(j) - 'a') += 1)
    }
    def chiSquare(c: Seq[Long]): Double = {
      val expected = c.sum.toDouble / 26
      c.map(o => (o - expected) * (o - expected) / expected).sum
    }
    val overall = (0 until 26).map(l => counts.map(_(l)).sum)
    assert(overall.sum == 1200000L)
    assert(chiSquare(overall) < 52.62, s"overall: $overall")
    counts.zipWithIndex.foreach { case (c, k) =>
      assert(chiSquare(c.toSeq) < 52.62, s"digit position $k: ${c.toSeq}")
    }
  }

  test("rand_lowercase: negative length -> NULL (maps to error branch)") {
    assert(GraftExprs.randLowercase(7L, -1) == null)
    val viaCol = Seq((7L, -1)).toDF("s", "n")
      .select(codecs.rand_lowercase(col("s"), col("n")).as("g"))
    assert(viaCol.collect()(0).isNullAt(0))
  }

  test("SQL registration exposes the functions to spark.sql") {
    codecs.register(spark)
    val r = spark.sql(
      "SELECT be_int4_decode(be_int4_encode(7)) AS n, length(rand_lowercase(1L, 5)) AS l")
      .collect()(0)
    assert(r.getInt(0) == 7 && r.getInt(1) == 5)
  }
}
