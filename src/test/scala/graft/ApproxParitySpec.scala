package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.relational.{RelQueries, Tables}

/** Accuracy contracts for the engine-specific sketch queries (the x_
  * rows-only surface): the driver can only check their shape, so the
  * error bound each sketch advertises is asserted here against the
  * exact twin on the same corpus.
  *
  *  - x_median_approx (GK sketch, accuracy 10000): rank error is at
  *    most n/10000, so the approx median must lie inside the exact
  *    [p49, p51] value envelope — a rank-based tolerance, matching
  *    the sketch's own guarantee rather than an ad-hoc value epsilon.
  *  - x_approx_users (HLL++, default rsd 5%): relative error vs the
  *    exact distinct count within 3×rsd. HLL is deterministic for a
  *    given input, so this is a stable assertion, not a flaky one.
  */
class ApproxParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  test("x_median_approx lies inside the exact [p49, p51] envelope per type") {
    val envelope = Tables.events(spark, sfDir)
      .select(col("event_type"),
        floor(col("value") * 100).cast("long").as("value_c"))
      .groupBy("event_type")
      .agg(expr("percentile(value_c, array(0.49D, 0.51D))").as("env"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val approx = RelQueries.medianValueApproxByType(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(2)))
    assert(approx.nonEmpty)
    approx.foreach { case (tpe, medApprox) =>
      val Seq(lo, hi) = envelope(tpe).toSeq
      assert(medApprox >= lo - 1 && medApprox <= hi + 1,
        s"$tpe: approx median $medApprox outside [$lo, $hi]")
    }
  }

  test("x_winsorize_approx: counts match the exact anchor and the " +
    "approx bounds sit inside GK rank-error envelopes (r7)") {
    val exact = RelQueries.winsorize(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = RelQueries.winsorizeApprox(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(approx.nonEmpty && approx.keySet == exact.keySet)
    // rank-error envelope: GK at accuracy 10000 is within n/10000
    // ranks, so the approx p5/p95 bound lies inside the exact
    // [p4, p6] / [p94, p96] value envelope per type
    val env = Tables.events(spark, sfDir)
      .select(col("event_type"),
        floor(col("value") * 100).cast("long").as("v_c"))
      .groupBy("event_type")
      .agg(expr(
        "percentile(v_c, array(0.04D, 0.06D, 0.94D, 0.96D))").as("e"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    approx.foreach { case (tpe, a) =>
      assert(a.getLong(1) == exact(tpe).getLong(1), s"$tpe: n differs")
      val Seq(p4, p6, p94, p96) = env(tpe).toSeq
      // clip counts bounded by the envelope's implied rank windows:
      // approx clip fractions must stay near 5% (within [4%, 6%] + 1)
      val n = a.getLong(1).toDouble
      assert(a.getLong(2) / n <= 0.061 && a.getLong(3) / n <= 0.061,
        s"$tpe: clip fractions ${a.getLong(2) / n} / ${a.getLong(3) / n}")
      // winsorized sum within the worst-case bound-shift envelope
      val exS = exact(tpe).getLong(4).toDouble
      val gotS = a.getLong(4).toDouble
      val slack = n * (math.abs(p6 - p4) + math.abs(p96 - p94) + 2)
      assert(math.abs(gotS - exS) <= slack,
        s"$tpe: winsorized sum $gotS vs $exS beyond $slack")
    }
  }

  test("x_rfm_approx: same customers, scores within one bin of the " +
    "exact quintile anchor, boundary drift only (r12)") {
    val exact = RelQueries.rfmSegments(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val approx = RelQueries.rfmSegmentsApprox(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // identical customer set and identical R/F/M FEATURES — the
    // sketch only moves thresholds, never the per-customer values
    assert(approx.nonEmpty && approx.keySet == exact.keySet)
    var moved = 0
    approx.foreach { case (ck, a) =>
      val e = exact(ck)
      assert((1 to 3).forall(i => a.getLong(i) == e.getLong(i)),
        s"$ck: features differ")
      // GK rank error at accuracy 10000 is n/10000 ranks — far under
      // one quintile's width, so each score may shift at most ONE bin
      (4 to 6).foreach { i =>
        assert(math.abs(a.getLong(i) - e.getLong(i)) <= 1,
          s"$ck: score col $i ${a.getLong(i)} vs ${e.getLong(i)}")
      }
      if (a.getLong(7) != e.getLong(7)) moved += 1
    }
    // drift is the exception, not the rule: the overwhelming majority
    // of customers land in their exact segment
    assert(moved <= exact.size / 10,
      s"$moved of ${exact.size} customers moved segments")
  }

  test("x_knn_pq_trained recall@5 vs brute force meets the measured " +
    "floor (r9 — the sketch family's last unspec'd accuracy)") {
    // Lloyd fit and search are fully deterministic on a fixed corpus
    // (integer-exact assign, floor-mean update, id tiebreaks), so the
    // recall is a CONSTANT for this fixture — the floor is a real
    // contract, not a flaky statistical bound. BASELINE.md "ANN recall
    // evidence" records the operating curve; this pins the shipped
    // defaults.
    val e = graft.relational.Tables.embeddings(spark, sfDir)
    val brute = graft.operators.Similarity.knnBrute(e).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pq = graft.operators.Similarity.knnIvfPqTrained(e).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(brute.nonEmpty && pq.keySet == brute.keySet)
    val recalls = brute.keys.toSeq.sorted.map(q =>
      (pq(q) & brute(q)).size.toDouble / brute(q).size)
    val mean = recalls.sum / recalls.size
    info(f"per-query recall@5: ${recalls.map(r => f"$r%.2f").mkString(",")} mean=$mean%.3f")
    // measured operating point at the shipped defaults on this corpus:
    // mean 0.25 (nProbe=2 of 8 cells + 16-code PQ on near-random
    // 64-dim vectors is a coarse sketch — the rerank variant exists
    // for exactly this reason). The floor pins determinism drift,
    // not aspiration.
    assert(mean >= 0.2, f"mean recall@5 $mean%.3f below the measured 0.2 floor")
    // training on the corpus must not do WORSE than the untrained
    // corpus-row codebooks at the same parameters — the contract that
    // justifies the Lloyd fit's cost. Asserted at sf0.01: on the
    // 500-vector sf0.001 fixture the comparison INVERTS (0.25 vs
    // 0.40 — corpus-row codebooks happen to coincide with planted
    // near-dup codes), a small-corpus artifact, not a training bug;
    // measured trained-vs-untrained: sf0.01 0.350/0.275,
    // sf0.1 0.250/0.175.
    val e01 = graft.relational.Tables
      .embeddings(spark, "/root/testdata/sf0.01")
    val brute01 = graft.operators.Similarity.knnBrute(e01).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def mean01(m: Map[Long, Set[Long]]) = brute01.keys.toSeq.sorted.map(q =>
      (m.getOrElse(q, Set.empty[Long]) & brute01(q)).size.toDouble /
        brute01(q).size).sum / brute01.size
    val tr = graft.operators.Similarity.knnIvfPqTrained(e01).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val un = graft.operators.Similarity.knnIvfPq(e01).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    info(f"sf0.01 trained=${mean01(tr)}%.3f untrained=${mean01(un)}%.3f")
    assert(mean01(tr) >= mean01(un) - 1e-9,
      f"trained ${mean01(tr)}%.3f worse than untrained ${mean01(un)}%.3f at sf0.01")
  }

  test("x_compress_ratio sits inside the DEFLATE worst-case envelope " +
    "and ratio_ppm restates the byte counts exactly (r9)") {
    val out = graft.operators.TextAnalysis.compressRatio(
      graft.relational.Tables.documents(spark, sfDir)).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (orig, defl, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // zlib worst case for incompressible input: 5 bytes per 16 KiB
      // stored block + 6 bytes of header/adler — the envelope the
      // rows-only check cannot see
      val worst = orig + 6 + 5 * ((orig / 16383) + 1)
      assert(defl >= 1 && defl <= worst,
        s"doc ${r.getLong(0)}: deflate $defl outside [1, $worst] for $orig bytes")
      assert(ppm == math.floor(1000000.0 * defl / math.max(orig, 1)).toLong,
        s"doc ${r.getLong(0)}: ratio_ppm $ppm inconsistent")
    }
  }

  test("x_approx_users within 3x the advertised HLL rsd of the exact count") {
    val exact = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_users"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(approx_count_distinct("user_id").as("approx_users"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(approx.nonEmpty)
    approx.foreach { case (tpe, got) =>
      val ex = exact(tpe).toDouble
      assert(math.abs(got - ex) / ex <= 0.15,
        s"$tpe: approx $got vs exact $ex beyond 15%")
    }
  }
}
