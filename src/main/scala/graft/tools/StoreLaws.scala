package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.relational.Tables

/** 100×-probe LAW verification for the two queries whose full DuckDB
  * oracles do not fit the gate box at sf10full (VERDICT r11 #5):
  *
  *  - sim_knn_upsert: the from-scratch oracle needs a ~349M-pair
  *    DuckDB build. Instead dump (a) the upsert output, (b) the
  *    stored pre-batch graph, (c) the INDEPENDENTLY-derived affected
  *    id set (the batch band join — the maintenance cost itself),
  *    and law-check in DuckDB: nodes outside (c) byte-identical
  *    between (a) and (b); rank-wise cosine monotone on affected
  *    nodes; batch nodes only inside (c).
  *  - dd_minhash_bands_sweep: the b=16 arm is ~1.5G candidate pairs.
  *    Instead compute every arm's candidate count via the occupancy
  *    identity (Σ c·(c−1)/2 — integer DIV), verified-dup counts via
  *    real pair joins for the b ≤ 8 arms, and pin the two laws the
  *    sweep's shape implies: counts monotone in b, and
  *    n_dup_pairs(16) = n_dup_pairs(8) — a pair at est ≥ 12/16
  *    matching slots has ≤ 4 mismatching slots, which can break at
  *    most 4 of the 8 two-slot bands, so at least one full band
  *    survives (pigeonhole): the b=16 arm can surface NO dup the
  *    b=8 arm misses.
  *
  * `runMain graft.tools.StoreLaws <sfDir> <outDir>`; the DuckDB side
  * is driven by tools/store_laws_check.py over the dumps.
  */
object StoreLaws {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = graft.Session()

    // ---- sim_knn_upsert law dumps ---------------------------------
    val emb = Tables.embeddings(spark, sfDir).localCheckpoint(true)
    // the upsert's stored width is autoBits(N) since r13 — the law
    // arms must be derived at the SAME width or the affected set and
    // the stored graph describe a different store than the one the
    // upsert maintained
    val bits = Similarity.autoBits(emb
      .where(graft.functions.VectorOps.qnorm2(
        graft.functions.VectorOps.quantize(col("embedding"))) > 0)
      .count())
    System.err.println(s"[laws] autoBits width = $bits")
    time("upsert") {
      Similarity.knnGraphUpsert(emb)
        .write.mode("overwrite").parquet(s"$outDir/upsert")
    }
    time("stored") {
      Similarity.knnGraph(emb.where(pmod(col("vec_id"), lit(10)) =!= 0),
          k = 4, nBands = 4, bitsPerBand = bits)
        .write.mode("overwrite").parquet(s"$outDir/stored")
    }
    time("affected") {
      // the affected set, derived the way the merge derives it: every
      // endpoint of a candidate pair touching the batch
      val banded = Dedup.vectorBands(emb, 4, bits)
      val newIds = emb.where(pmod(col("vec_id"), lit(10)) === 0)
        .select("vec_id")
      val bn = banded.join(newIds, "vec_id")
      bn.select(col("band"), col("bucket"), col("vec_id").as("va"))
        .join(banded.select(col("band"), col("bucket"),
          col("vec_id").as("vb")), Seq("band", "bucket"))
        .where(col("va") =!= col("vb"))
        .select(explode(array(col("va"), col("vb"))).as("vec_id"))
        .distinct()
        .write.mode("overwrite").parquet(s"$outDir/affected")
    }

    // ---- bands-sweep law record -----------------------------------
    val docs = Tables.documents(spark, sfDir)
    println("arm,bands,rows_per_band,n_candidates_occupancy,n_dup_pairs")
    Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1)).foreach { case (b, r) =>
      val banded = Dedup.minhashBands(docs, 3, b, r)
      val cand = banded.groupBy("band", "bucket")
        .agg(count(lit(1)).as("c"))
        .agg(sum(expr("c * (c - 1) DIV 2")).cast("long")).head().getLong(0)
      // real pair join + verified-dup count for the affordable arms;
      // b=16 is the quadratic arm — its dup count equals b=8's by the
      // pigeonhole argument in the Scaladoc, printed as -1 here
      val dups = if (b <= 8) time(s"dups b=$b") {
        Dedup.minhashLsh(docs, bands = b, rowsPerBand = r)
          .where(col("est_jaccard_ppm") >= 750000L).count()
      } else -1L
      println(s"arm,$b,$r,$cand,$dups")
    }
    spark.stop()
  }

  private def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(f"[laws] $label ${(System.nanoTime() - t0) / 1e9}%.1fs")
    r
  }
}
