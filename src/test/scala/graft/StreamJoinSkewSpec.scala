package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewJoin

class StreamJoinSkewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("saltedInner == plain inner join on skewed data") {
    val probe = (1 to 5000).map(i => (if (i % 10 == 0) 7L else i.toLong, i))
      .toDF("k", "pv")
    val build = Seq((7L, "hot"), (5L, "a"), (20L, "b")).toDF("k", "bv")
    val plain = probe.join(build, "k").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    val salted = SkewJoin.saltedInner(probe, build, "k").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(salted == plain && plain.nonEmpty)
  }
}
