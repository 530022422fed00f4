package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{VectorOps => V}

/** Streaming approximate-nearest-neighbor retrieval (r9): each
  * arriving QUERY vector gets its top-k corpus neighbors in the same
  * micro-batch — the online-retrieval shape (ingest-time near-dup
  * attribution, retrieval-augmented labeling, "what does this new
  * doc look like" routing) that the batch `sim_` family answers only
  * offline.
  *
  * A fully stream-STATELESS inverted layout (the shapes needing
  * stream-side state — a candidate explode + per-query re-aggregate —
  * are avoided so no watermark, no state store, no late-data
  * semantics enter the picture):
  *  - the corpus snapshot is pre-aggregated ONCE into a
  *    (band, bucket) → list<(vid, qe, norm)> lookup (sign-LSH bands,
  *    the [[graft.operators.Similarity.knnLshBucketed]] blocking);
  *  - each arriving vector computes its `nBands` bucket keys as plain
  *    columns and takes one stream-static LEFT join per band;
  *  - candidate lists merge row-locally (array_distinct over the
  *    concatenated band hits), each candidate is scored with the
  *    EXACT quantized cosine, and the top-k is a row-local
  *    array_sort + slice with the family's stated total order
  *    (cos_ppm desc, neighbor_id asc) — no shuffle, no window.
  * LSH recall < 1 by design: a neighbor sharing no band bucket is
  * missed (the measured operating point is dd_embed_blocker_recall's
  * signlsh row); queries land with FEWER than k rows when the
  * buckets hold fewer candidates. Stream shape:
  * (ts timestamp, vec_id bigint, embedding array<float>) → one output
  * row per (query, rank). */
object StreamKnn {

  def knnStream(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                nBands: Int = 4, bitsPerBand: Int = 4): DataFrame = {
    val corpusQ = corpus
      .select(col("vec_id").as("vid"), V.quantize(col("embedding")).as("qb"))
      .select(col("vid"), col("qb"), V.qnorm2(col("qb")).as("nb"))
      .where(col("nb") > 0)
    val corpusBuckets = corpus.select(col("vec_id").as("vid"),
        posexplode(array((0 until nBands).map(b =>
          V.signBucket(col("embedding"), b, bitsPerBand)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .join(corpusQ, "vid")
      .groupBy("band", "bucket")
      .agg(collect_list(struct(col("vid"), col("qb"), col("nb")))
        .as("cands"))
    val base = queries.select(col("ts"), col("vec_id"), col("embedding"),
        V.quantize(col("embedding")).as("qa"))
      .withColumn("na", V.qnorm2(col("qa")))
    val joined = (0 until nBands).foldLeft(base) { (df, b) =>
      df.join(corpusBuckets.where(col("band") === b)
          .select(col("bucket").as(s"bk$b"), col("cands").as(s"cands$b")),
        V.signBucket(col("embedding"), b, bitsPerBand) === col(s"bk$b"),
        "left")
    }
    // a band with no bucket match joins NULL; drop the nulls before
    // flattening (a typed empty-array literal cannot be cast in place)
    val merged = array_distinct(flatten(filter(
      array((0 until nBands).map(b => col(s"cands$b")): _*),
      _.isNotNull)))
    val scored = transform(merged, c => struct(
      V.cosPpm(V.qdot(col("qa"), c.getField("qb")), col("na"),
        c.getField("nb")).as("cos_ppm"),
      c.getField("vid").as("neighbor_id")))
    // the family's stated total order: cos desc, neighbor id asc
    val cmp = (l: Column, r: Column) =>
      when(l.getField("cos_ppm") > r.getField("cos_ppm"), -1)
        .when(l.getField("cos_ppm") < r.getField("cos_ppm"), 1)
        .when(l.getField("neighbor_id") < r.getField("neighbor_id"), -1)
        .when(l.getField("neighbor_id") > r.getField("neighbor_id"), 1)
        .otherwise(0)
    joined
      .withColumn("topk", slice(array_sort(scored, cmp), 1, k))
      .select(col("ts"), col("vec_id").as("query_id"),
        posexplode(col("topk")))
      .select(col("ts"), col("query_id"),
        (col("pos") + 1L).cast("long").as("rank"),
        col("col.neighbor_id").as("neighbor_id"),
        col("col.cos_ppm").as("cos_ppm"))
  }
}
