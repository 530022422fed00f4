package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** [[graft.streaming.StreamKnn.knnStream]] over MemoryStream
  * micro-batches: each arriving query gets the top-k of its bucket
  * candidates by exact quantized cosine. */
class StreamKnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp((10000 + minute) * 60000L)

  test("knnStream: per-arriving-query top-k matches a driver-side " +
    "replication of bucket-candidates + exact cosine + the stated " +
    "(cos desc, id asc) order; an exact copy ranks first at 1e6") {
    implicit val sqlCtx = spark.sqlContext
    def vec(seed: Int): Array[Float] = {
      val r = new java.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val corpusRows = (100L until 140L).map(i => i -> vec(i.toInt))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val q0 = corpusRows.head._2.clone() // exact copy of corpus vec 100
    val q1 = vec(9001)
    val mem = MemoryStream[(Timestamp, Long, Array[Float])]
    val q = graft.streaming.StreamKnn.knnStream(
        mem.toDF().toDF("ts", "vec_id", "embedding"), corpus, k = 3)
      .writeStream.format("memory").queryName("knn_out")
      .outputMode(OutputMode.Append).start()
    val got =
      try {
        mem.addData((ts(0), 0L, q0), (ts(0), 1L, q1))
        q.processAllAvailable()
        spark.table("knn_out").collect()
          .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .groupBy(_._1).view
          .mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
      } finally q.stop()
    // exact copy: top-1 is the copied corpus vector at cos 1,000,000
    assert(got(0L).head == (100L, 1000000L),
      s"exact copy should rank first at 1e6, got ${got(0L)}")
    // driver-side reference: same quantize, same 4x4 sign buckets,
    // same exact integer cosine, same (cos desc, id asc) order
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1024).toLong)
    def bucket(v: Array[Float], b: Int): Long =
      (0 until 4).map(k => (if (v(b * 4 + k) > 0) 1L else 0L) << k).sum
    def cosPpm(a: Array[Long], b: Array[Long]): Long = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = a.map(x => x * x).sum; val nb = b.map(x => x * x).sum
      math.floor(1000000.0 * dot / (math.sqrt(na.toDouble) *
        math.sqrt(nb.toDouble))).toLong
    }
    for ((qid, qv) <- Seq(0L -> q0, 1L -> q1)) {
      val cands = corpusRows.filter { case (_, cv) =>
        (0 until 4).exists(b => bucket(cv, b) == bucket(qv, b)) &&
          quant(cv).map(x => x * x).sum > 0
      }
      val expect = cands
        .map { case (cid, cv) => (cid, cosPpm(quant(qv), quant(cv))) }
        .sortBy { case (cid, c) => (-c, cid) }.take(3)
      assert(got.getOrElse(qid, Seq.empty) == expect,
        s"query $qid: ${got.get(qid)} != $expect")
    }
  }
}
