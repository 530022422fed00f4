package graft.tools

import org.apache.spark.sql.functions._

/** Builder-side probe-corpus generator (dev tool, not product
  * surface): synthesizes an ~Nx larger documents + embeddings pair
  * from an existing SF directory so scale measurements (Bench,
  * Verify, `Probe`; the BASELINE.md "scale evidence, one order
  * further" entries) can run one order of magnitude past the driver
  * testdata. Deterministic: copy c of a doc appends the token " v<c>"
  * (a one-token near-duplicate — the worst case for LSH blockers:
  * every base doc gains `copies-1` high-Jaccard variants, making the
  * corpus strictly MORE boilerplate-heavy than the source); copy c of
  * an embedding perturbs one component by 0.001*c (keeps variants
  * inside the same cosine neighborhoods). Output under target/probe/
  * (gitignored) — never under /root/testdata.
  */
object ProbeGen {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("clustered")) { clustered(args); return }
    if (args.headOption.contains("full")) { full(args); return }
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "target/probe/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session()

    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until copies).map { c =>
      if (c == 0) docs
      else docs.select(
        (col("doc_id") + lit(c * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" v$c")).as("text"),
        col("lang"), col("source"),
        (col("n_chars") + lit(s" v$c".length.toLong)).as("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until copies).map { c =>
      if (c == 0) emb
      else emb.select(
        (col("vec_id") + lit(c * 1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === pmod(lit(c), size(col("embedding"))),
            x + lit(0.001f * c)).otherwise(x)).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"[probegen] wrote ${copies}x $src -> $out")
    spark.stop()
  }

  /** `ProbeGen full [src] [out] [copies]` — the FULL-surface probe SF
    * (r6): every table the 92-query bench reads, with FACTS scaled
    * `copies`× and DIMENSIONS kept as-is — exactly how a bigger SF
    * behaves (dims grow sublinearly). Key discipline: primary keys
    * shift by c·10⁹ so fact-fact joins (orders↔lineitem on orderkey,
    * dedup families on doc_id) stay consistent across copies, while
    * FOREIGN keys into dimensions (custkey, partkey, suppkey,
    * user_id) are left unchanged — each dim row simply serves 10×
    * the fact rows, the realistic skew direction. Text/embedding
    * copies perturb like the default mode (one-token suffix /
    * one-component nudge) so the dedup/ANN fit costs see genuinely
    * larger corpora, not byte-identical clones. */
  private def full(args: Array[String]): Unit = {
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = if (args.length > 2) args(2) else "target/probe/sf1full"
    val copies = if (args.length > 3) args(3).toInt else 10
    val spark = graft.Session()
    val shift = 1000000000L

    def scaled(table: String, keyShifts: Seq[String]): Unit = {
      val df = spark.read.parquet(s"$src/$table.parquet")
      (0 until copies).map { c =>
        if (c == 0) df
        else keyShifts.foldLeft(df) { (d, k) =>
          d.withColumn(k, col(k) + lit(c * shift)) }
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    def copied(table: String): Unit =
      spark.read.parquet(s"$src/$table.parquet")
        .write.mode("overwrite").parquet(s"$out/$table.parquet")

    // facts: pk shifted, dimension fks unchanged
    scaled("orders", Seq("o_orderkey"))
    scaled("lineitem", Seq("l_orderkey"))
    scaled("events", Seq("event_id"))
    // dims as-is
    Seq("customer", "supplier", "part", "nation", "region").foreach(copied)

    // documents/embeddings: same perturbed-copy recipe as the default
    // mode (shifted ids + near-dup text variants / nudged vectors)
    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until copies).map { c =>
      if (c == 0) docs
      else docs.select(
        (col("doc_id") + lit(c * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" v$c")).as("text"),
        col("lang"), col("source"),
        (col("n_chars") + lit(s" v$c".length.toLong)).as("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until copies).map { c =>
      if (c == 0) emb
      else emb.select(
        (col("vec_id") + lit(c * 1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === pmod(lit(c), size(col("embedding"))),
            x + lit(0.001f * c)).otherwise(x)).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"[probegen] wrote full ${copies}x $src -> $out")
    spark.stop()
  }

  /** `ProbeGen clustered [out] [n] [nClusters] [sigma]` — embeddings
    * with PLANTED Gaussian cluster structure (r5): vector i = center
    * (i mod k) + N(0, sigma) per component, centers ~ N(0, 1),
    * everything seeded from ids so the corpus is rerun-identical.
    * This is the distribution family real text/image embeddings live
    * in and the one PQ training exploits — the driver corpus's
    * ~isotropic vectors made trained-vs-sampled codebooks an honest
    * wash (BASELINE.md r4); this probe supplies the positive case. */
  private def clustered(args: Array[String]): Unit = {
    val out = if (args.length > 1) args(1) else "target/probe/clustered"
    val n = if (args.length > 2) args(2).toLong else 2000L
    val nClusters = if (args.length > 3) args(3).toInt else 16
    val sigma = if (args.length > 4) args(4).toDouble else 0.2
    val dim = 64
    val spark = graft.Session()
    import spark.implicits._
    val centers = Array.tabulate(nClusters) { j =>
      val rnd = new java.util.Random(7919L * (j + 1))
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    val bc = spark.sparkContext.broadcast(centers)
    spark.range(0L, n, 1L, 32).map { i =>
      val rnd = new java.util.Random(31L * i + 17)
      val c = bc.value((i % nClusters).toInt)
      val v = Array.tabulate(dim)(d => c(d) + (rnd.nextGaussian() * sigma).toFloat)
      (i, v, (i % nClusters).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[probegen] wrote clustered n=$n k=$nClusters sigma=$sigma -> $out")
    spark.stop()
  }
}
