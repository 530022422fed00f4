package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bpe, Cluster, Dedup, RangeJoin, Similarity, TextAnalysis}

/** Degenerate-input hardening: every operator family must handle an
  * EMPTY corpus and single/short documents without crashing — on a
  * real lake, partition subsets and filtered branches are routinely
  * empty, and a pipeline that dies on them is not deployable. */
class EdgeCasesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String, String)]
    .toDF("doc_id", "text", "lang")
  private def tinyDocs = Seq((1L, "a", "en"), (2L, "", "de"))
    .toDF("doc_id", "text", "lang")
  private def emptyEmb = Seq.empty[(Long, Seq[Float])]
    .toDF("vec_id", "embedding")

  test("dedup family: empty and sub-shingle-length corpora") {
    assert(Dedup.exact(emptyDocs).count() == 0)
    assert(Dedup.minhashLsh(emptyDocs).count() == 0)
    assert(Dedup.simhashPairs(emptyDocs).count() == 0)
    assert(Dedup.contamination(emptyDocs).count() == 0)
    // docs shorter than the shingle width produce no pairs, no crash
    assert(Dedup.minhashLsh(tinyDocs).count() == 0)
    assert(Dedup.ngramJaccard(tinyDocs).count() == 0)
  }

  test("text family: empty corpus and empty-string documents") {
    assert(TextAnalysis.tokenCounts(emptyDocs).count() == 0)
    assert(TextAnalysis.repetition(emptyDocs).count() == 0)
    assert(TextAnalysis.topTerms(emptyDocs).count() == 0)
    assert(TextAnalysis.tfidf(emptyDocs).count() == 0)
    assert(TextAnalysis.qualityFilter(emptyDocs).count() == 0)
    assert(TextAnalysis.sampleMix(emptyDocs).count() == 0)
    // empty text: split(" ") yields [""] -> 1 whitespace token; no NPE
    val tc = TextAnalysis.tokenCounts(tinyDocs).collect()
    assert(tc.length == 2)
    // single-char docs carry no bigram -> repetition drops them
    assert(TextAnalysis.repetition(tinyDocs).count() == 0)
  }

  test("BPE: empty corpus fits zero merges; encode of tiny docs works") {
    assert(Bpe.fit(emptyDocs).isEmpty)
    val merges = Bpe.fit(tinyDocs)
    val out = Bpe.encodeCounts(tinyDocs, merges).collect()
    assert(out.nonEmpty)
  }

  test("similarity/clustering: empty embeddings") {
    assert(Similarity.knnBrute(emptyEmb).count() == 0)
    assert(Similarity.knnLshBucketed(emptyEmb).count() == 0)
    assert(Cluster.kmeansAssign(emptyEmb).count() == 0)
    assert(Cluster.semDedup(emptyEmb).count() == 0)
  }

  test("r4 operators: empty and degenerate inputs") {
    // containment: empty and sub-shingle corpora produce no pairs
    assert(Dedup.containment(emptyDocs).count() == 0)
    assert(Dedup.containment(tinyDocs).count() == 0)
    // distributed bloom build: empty corpus → empty eval set → no hits
    assert(Dedup.contaminationBloomDist(emptyDocs).count() == 0)
    // word familiarity survives empty corpora and empty strings
    assert(TextAnalysis.wordFamiliarity(emptyDocs).count() == 0)
    assert(TextAnalysis.wordFamiliarity(tinyDocs).count() == 2)
    // PQ paths: empty embeddings and fewer vectors than codebook slots
    assert(Similarity.knnIvfPq(emptyEmb).count() == 0)
    assert(Similarity.knnIvfPqRerank(emptyEmb).count() == 0)
    assert(Similarity.knnIvfPqTrained(emptyEmb).count() == 0)
    val fewEmb = (0L to 4L).map(i =>
      (i, Seq.tabulate(16)(d => (math.cos(i * 3 + d)).toFloat)))
      .toDF("vec_id", "embedding")
    // 5 vectors < nCodes=16: the codebook is just smaller, search runs
    assert(Similarity.knnIvfPq(fewEmb, nQueries = 2, k = 3,
      nCentroids = 4, nSub = 4).count() > 0)
    // retention on an empty frame
    assert(graft.relational.RelQueries.retentionOf(
      Seq.empty[(Long, Long)].toDF("user_id", "ts")).count() == 0)
  }

  test("range join: no clicks still reports zero-count purchases") {
    val events = Seq(
      ("purchase", 1L, 10L, 2000000000000000L * 1000L))
      .toDF("event_type", "user_id", "event_id", "ts")
    val out = RangeJoin.clicksBefore(events).collect()
    assert(out.length == 1 && out(0).getLong(3) == 0L)
    val none = events.where($"event_type" === "click")
    assert(RangeJoin.clicksBefore(none).count() == 0)
  }
}
