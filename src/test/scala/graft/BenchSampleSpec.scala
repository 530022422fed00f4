package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's estimator never records a thrown exception as a timing: a
  * query that throws in its warm-up or in a timed sample comes out
  * failed, with no samples, while the others are timed as usual. */
class BenchSampleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("a throwing query comes out failed, not fast") {
    var calls = 0
    val queries: Seq[(String, Bench.Query)] = Seq(
      "ok" -> ((s, _) => s.range(1000).toDF("id")),
      "throws_in_warmup" -> ((_, _) => sys.error("boom")),
      // builds fine for the warm-up and the first sample, then throws
      "throws_in_sample" -> { (s, _) =>
        calls += 1
        if (calls > 2) sys.error("boom") else s.range(10).toDF("id")
      },
      // builds, but the materializing job throws
      "throws_in_job" -> ((s, _) =>
        s.range(10).selectExpr(
          "CASE WHEN id >= 0 THEN raise_error('boom') ELSE id END AS a")))
    val (samples, failed) = Bench.sample(spark, "unused", queries, reps = 3)
    assert(failed == Seq("throws_in_warmup", "throws_in_sample",
      "throws_in_job"))
    assert(samples.keySet == Set("ok"))
    assert(samples("ok").size == 3 && samples("ok").forall(_._1 > 0))
    // a failed query runs no further samples
    assert(calls == 3)
  }
}
