package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{VectorOps => V}
import graft.operators.Similarity
import graft.relational.Tables

/** r12: width migration for a growable k-NN store (VERDICT r11 #3).
  * The anchored band layout pins each band's dim block by the STRIDE
  * (max width), so wider buckets strictly refine narrower ones —
  * pairs(w+1) ⊆ pairs(w) — and a width migration is a candidate-set
  * filter over the stored per-band rows plus a stored-score lookup:
  * no pair self-join, no re-scoring. This spec pins (a) the
  * refinement law itself, (b) reband == from-scratch at the migrated
  * width (the declared query's oracle restates this in DuckDB), and
  * (c) the upsert → reband → upsert LIFECYCLE: each step equals the
  * from-scratch graph of its corpus/width, so the chain composes —
  * the store a deployment passes between steps is provably the same
  * table a from-scratch build would hand it. */
class KnnRebandSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def pairSet(e: org.apache.spark.sql.DataFrame,
                      bits: Int): Set[(Long, Long)] = {
    val b = Similarity.vectorBandsAnchored(e, 4, bits)
    b.select(col("band"), col("bucket"), col("vec_id").as("a"))
      .join(b.select(col("band"), col("bucket"), col("vec_id").as("b")),
        Seq("band", "bucket"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("anchored buckets refine: bucket(w+1) = bucket(w) + bit_w·2^w, " +
    "so pairs(w+1) ⊆ pairs(w)") {
    val e = Tables.embeddings(spark, sf)
    // bucket arithmetic law, checked per (vector, band) on the corpus
    val chk = e.select(
      (0 until 4).map { b =>
        (V.signBucketAnchored(col("embedding"), b, 5, 16) ===
          V.signBucketAnchored(col("embedding"), b, 4, 16) +
            V.signBucketAnchored(col("embedding"), b, 1, 16, offset = 4)
              * lit(16L)).as(s"ok$b")
      }: _*)
    assert(chk.where((0 until 4).map(b => !col(s"ok$b")).reduce(_ || _))
      .count() == 0)
    // the set-level consequence the migration relies on
    val wide = pairSet(e, 5)
    val narrow = pairSet(e, 4)
    assert(wide.nonEmpty && wide.subsetOf(narrow) && wide != narrow)
  }

  test("knnGraphReband == from-scratch anchored graph at the migrated " +
    "width (driver corpus: 4 → 5 bits)") {
    val e = Tables.embeddings(spark, sf)
    assert(Similarity.autoBits(e.count()) == 4)
    val migrated = Similarity.knnGraphReband(e).collect().toSeq
    val scratch = Similarity.knnGraphAnchored(e, bits = 5).collect().toSeq
    assert(migrated == scratch && migrated.nonEmpty)
  }

  test("lifecycle: upsert at w, reband w → w+1, upsert at w+1 — every " +
    "step equals its from-scratch twin, so the chain composes") {
    val all = Tables.embeddings(spark, sf).localCheckpoint(true)
    // the corpus as it stood before the final ingest batch
    val before = all.where(pmod(col("vec_id"), lit(10)) =!= 0)
      .localCheckpoint(true)
    // (1) ingest into the width-4 anchored store: merge exact
    val up1 = Similarity.knnGraphUpsertWith(before, 4,
      Similarity.vectorBandsAnchored(_, 4, 4), splitMod = 7)
      .collect().toSeq
    assert(up1 == Similarity.knnGraphAnchored(before, bits = 4)
      .collect().toSeq)
    // (2) growth crosses the width boundary: migrate the store 4 → 5
    //     (knnGraphReband's store is by construction the from-scratch
    //     width-4 state — which step (1) just proved the upsert path
    //     maintains)
    val rb = Similarity.knnGraphReband(before).collect().toSeq
    assert(Similarity.autoBits(before.count()) == 4)
    assert(rb == Similarity.knnGraphAnchored(before, bits = 5)
      .collect().toSeq)
    // (3) ingest continues at the migrated width: merge exact again
    val up2 = Similarity.knnGraphUpsertWith(all, 4,
      Similarity.vectorBandsAnchored(_, 4, 5), splitMod = 10)
      .collect().toSeq
    assert(up2 == Similarity.knnGraphAnchored(all, bits = 5)
      .collect().toSeq)
    assert(up1.nonEmpty && rb.nonEmpty && up2.nonEmpty)
  }

  test("width ceiling: at w = stride the extension is empty and " +
    "migration is the identity on the candidate set") {
    // the rule can only demand toBits = w+1 ≤ 16; at the ceiling the
    // reband degenerates (extBits == 0) — pinned arithmetically here,
    // the branch itself needs a 2^16-occupancy corpus to reach
    assert(math.min(Similarity.autoBits(Long.MaxValue) + 1, 16) == 16)
  }

  // ---- the TEXT-side store (r12): same laws, free refinement ------

  test("minhash half-band refinement: pairs(4,4) ⊆ pairs(8,2), and " +
    "reband == from-scratch at the migrated arm") {
    val d = graft.relational.Tables.documents(spark, sf)
    def pairsAt(b: Int, r: Int): Set[(Long, Long)] =
      graft.operators.Dedup.minhashLsh(d, bands = b, rowsPerBand = r)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val narrow = pairsAt(8, 2)
    val wide = pairsAt(4, 4)
    assert(wide.nonEmpty && wide.subsetOf(narrow))
    val migrated = graft.operators.Dedup.minhashReband(d).collect().toSeq
    val scratch = graft.operators.Dedup
      .minhashLsh(d, bands = 4, rowsPerBand = 4).collect().toSeq
    assert(migrated == scratch)
  }

  test("lifecycle COMPOSITES (r13): the chained build → upsert → " +
    "reband → upsert equals the from-scratch result over the full " +
    "corpus at the final arm/width on both modalities") {
    val D = graft.operators.Dedup
    // text: fold 0 is < 10^4 docs ⇒ build at (8,2), migrate to (4,4)
    val d = graft.relational.Tables.documents(spark, sf)
    assert(D.minhashStoreLifecycle(d).collect().toSeq ==
      D.minhashLsh(d, bands = 4, rowsPerBand = 4).collect().toSeq)
    // vector: fold 0 clamps to the 4-bit floor ⇒ build at 4, migrate
    // to 5 — the reband stage is NON-trivial at the gate by design
    val e = Tables.embeddings(spark, sf)
    assert(Similarity.knnStoreLifecycle(e).collect().toSeq ==
      Similarity.knnGraphAnchored(e, 4, 4, 5).collect().toSeq)
  }
}
