package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.{functions => F}
import graft.functions.{PortableHash => PH}
import graft.operators.{Assembly, Bpe, Cluster, CodeCuration, CuratePipeline, Dedup, Multimodal, Similarity, TextAnalysis}

/** Extension query surface (SURVEY.md §2.5): the training-data
  * pipeline operators (dedup / similarity / text analysis /
  * multimodal) plus relational scale demos, each paired with a
  * DuckDB-dialect oracle that reproduces the Spark computation
  * EXACTLY (same hashes, same quantization, same tiebreaks — see
  * PortableHash / VectorOps for the cross-engine determinism rules).
  *
  * The oracle SQL is built programmatically so the literal constants
  * (minhash coefficients, moduli, quantization scale) are shared with
  * the Scala operators — one source of truth.
  */
object ExtQueries {

  // ---------------------------------------------------------------
  // shared DuckDB SQL fragments
  // ---------------------------------------------------------------

  private val P = PH.P31

  /** words CTE body: doc_id + list of space tokens. */
  private val wordsCte =
    "SELECT doc_id, string_split(text, ' ') AS w FROM documents"

  /** DuckDB fragment: ALL word n-gram occurrences from `w`
    * (non-distinct — multiplicity preserved for repetition stats). */
  private def shingleListAll(n: Int): String = {
    val gram = (0 until n).map {
      case 0 => "w[i]"
      case k => s"w[i+$k]"
    }.mkString(" || ' ' || ")
    s"list_filter(list_transform(" +
      s"range(1, greatest(len(w) - ${n - 1}, 1) + 1), i -> $gram), " +
      "g -> g IS NOT NULL)"
  }

  /** DuckDB fragment: distinct word n-gram shingle list from `w`. */
  private def shingleList(n: Int): String =
    s"list_distinct(${shingleListAll(n)})"

  /** Exploded distinct shingles CTE (doc_id, sh). */
  private def shinglesCte(n: Int): String =
    s"ws AS ($wordsCte), " +
      s"sh AS (SELECT doc_id, unnest(${shingleList(n)}) AS sh FROM ws)"

  /** Quantized embedding CTEs: q(vec_id, qe list<bigint>, n bigint>0).
    * Integer dot products via list_dot_product are exact: every
    * partial sum is an integer far below 2^53. */
  private val quantCte =
    "q AS (SELECT vec_id, list_transform(embedding, " +
      "x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qe " +
      "FROM embeddings), " +
      "base AS (SELECT vec_id, qe, CAST(list_dot_product(" +
      "list_transform(qe, x -> CAST(x AS DOUBLE)), " +
      "list_transform(qe, x -> CAST(x AS DOUBLE))) AS BIGINT) AS n " +
      "FROM q WHERE CAST(list_dot_product(" +
      "list_transform(qe, x -> CAST(x AS DOUBLE)), " +
      "list_transform(qe, x -> CAST(x AS DOUBLE))) AS BIGINT) > 0)"

  private def dotSql(a: String, b: String): String =
    s"CAST(list_dot_product(list_transform($a, x -> CAST(x AS DOUBLE)), " +
      s"list_transform($b, x -> CAST(x AS DOUBLE))) AS BIGINT)"

  private def cosPpmSql(dot: String, na: String, nb: String): String =
    s"CAST(FLOOR((1000000.0 * $dot) / (sqrt($na) * sqrt($nb))) AS BIGINT)"

  /** Sign-LSH bands CTE over embeddings (vec_id, band, bucket). */
  private def signBandsCte(nBands: Int, bitsPerBand: Int): String = {
    val selects = (0 until nBands).map { b =>
      val bucket = (0 until bitsPerBand).map { k =>
        val dim = b * bitsPerBand + k + 1 // DuckDB lists are 1-based
        s"(CAST(embedding[$dim] > 0 AS BIGINT) * ${1L << k})"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band, $bucket AS bucket FROM embeddings"
    }
    s"bands AS (${selects.mkString(" UNION ALL ")})"
  }

  // ---------------------------------------------------------------
  // dedup
  // ---------------------------------------------------------------

  private val ddExactSql =
    "SELECT min(doc_id) AS doc_id, count(*) AS n_dups FROM documents " +
      "GROUP BY text ORDER BY doc_id"

  /** MinHash SQL fragments shared by the self-join (dd_minhash_lsh)
    * and cross-join (dd_incremental) oracles. */
  private val minhashCols: String = (0 until PH.MinhashK).map { j =>
    s"list_min(list_transform(hl, h -> ${PH.affineSql(j)("h")})) AS m$j"
  }.mkString(", ")

  private def bandSelectsFrom(src: String): String =
    (0 until 8).map { b =>
      val bucket = (0 until 2).map(r => s"CAST(m${b * 2 + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"SELECT doc_id, $b AS band, $bucket AS bucket FROM $src"
    }.mkString(" UNION ALL ")

  private val minhashMatches: String = (0 until PH.MinhashK)
    .map(j => s"CAST(x.m$j = y.m$j AS BIGINT)").mkString(" + ")

  /** ws/hs/minh CTE chain ending in minh(doc_id, m0..m15). */
  private val minhashCteChain: String =
    s"ws AS ($wordsCte), " +
      s"hs AS (SELECT doc_id, list_transform(${shingleList(3)}, " +
      s"g -> ${PH.h31Sql("g")}) AS hl FROM ws), " +
      s"minh AS (SELECT doc_id, $minhashCols FROM hs)"

  /** [[graft.operators.TextAnalysis.dsirWeights]]: the hashed-bucket
    * fit restated as CTEs (the oracle joins the 64-row dist table
    * where Spark bakes it into a literal — same values), then the
    * same integer likelihood-ratio score. */
  private val txDsirSql: String = {
    val b = graft.operators.TextAnalysis.DsirBuckets
    "WITH ws2 AS (SELECT doc_id, source, string_split(text, ' ') AS w " +
      "FROM documents), " +
      "bk AS (SELECT doc_id, source, " +
      s"${PH.h31Sql("wd")} % $b AS bb " +
      "FROM (SELECT doc_id, source, unnest(w) AS wd FROM ws2)), " +
      "cnt AS (SELECT bb, count(*) AS n_all, " +
      "sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS n_tgt " +
      "FROM bk GROUP BY bb), " +
      "tot AS (SELECT greatest(sum(n_all), 1) AS ta, " +
      "greatest(sum(n_tgt), 1) AS tt FROM cnt), " +
      "dist AS (SELECT bb, " +
      "1 + (1000000 * n_tgt) // (SELECT tt FROM tot) AS p1, " +
      "1 + (1000000 * n_all) // (SELECT ta FROM tot) AS q1 FROM cnt), " +
      "sc AS (SELECT doc_id, sum(p1) AS num, sum(q1) AS den " +
      "FROM bk JOIN dist USING (bb) GROUP BY doc_id) " +
      // HUGEINT widening mirrors the Spark side's decimal(38,0)
      // ratio (r14 ADVICE: 10⁶·num wrapped Long past ~9.2M tokens)
      "SELECT doc_id, CAST((1000000 * CAST(num AS HUGEINT)) // den " +
      "AS BIGINT) AS weight_ppm, " +
      "((1000000 * CAST(num AS HUGEINT)) // den) >= 1000000 AS selected " +
      "FROM sc ORDER BY doc_id"
  }

  /** [[graft.operators.TextAnalysis.dsirSample]]: the weights SQL
    * wrapped in the shared salted-hash acceptance gate. */
  private val txDsirSampleSql: String =
    s"SELECT doc_id, weight_ppm FROM ($txDsirSql) " +
      s"WHERE ${PH.h31Sql("'dsir:' || CAST(doc_id AS VARCHAR)")} " +
      "% 2000000 < weight_ppm ORDER BY doc_id"

  private val ddMinhashSql: String = {
    val matches = minhashMatches
    s"WITH $minhashCteChain, " +
      s"bandtab AS (${bandSelectsFrom("minh")}), " +
      "pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM bandtab a JOIN bandtab b ON a.band = b.band AND a.bucket = b.bucket " +
      "AND a.doc_id < b.doc_id), " +
      s"m AS (SELECT p.doc_a, p.doc_b, ($matches) AS n_matching " +
      "FROM pairs p JOIN minh x ON x.doc_id = p.doc_a " +
      "JOIN minh y ON y.doc_id = p.doc_b) " +
      "SELECT doc_a, doc_b, n_matching, " +
      s"CAST(FLOOR(1000000.0 * n_matching / ${PH.MinhashK}) AS BIGINT) " +
      "AS est_jaccard_ppm FROM m ORDER BY doc_a, doc_b"
  }

  /** [[graft.operators.Dedup.minhashLshAuto]]: the banding derived
    * from the corpus count by autoBandRows' INTEGER thresholds
    * (r = 4 iff N ≥ 10⁴, 8 iff N ≥ 10⁸, 16 iff N ≥ 10¹⁶, else 2 —
    * the 1/s₂ = 10 LSH parameter rule, no transcendentals so both
    * engines pick identically), N counted over the SIGNATURE-BEARING
    * docs (m0 NULL ⟺ fewer than shingleN words — the Spark side's
    * pre-filter); one guarded arm per (b, r) factorization, exactly
    * one survives the scalar predicate (the signBandsAutoCte
    * pattern), then the shared pair/estimator tail. */
  /** autoBandRows restated as pure integer thresholds — shared by the
    * auto blocker and the reband oracle. */
  private val autoRowsCte: String =
    "arr AS (SELECT CASE WHEN count(*) >= 10000000000000000 THEN 16 " +
      "WHEN count(*) >= 100000000 THEN 8 WHEN count(*) >= 10000 THEN 4 " +
      "ELSE 2 END AS rr FROM minh WHERE m0 IS NOT NULL)"

  /** Distinct-pair + estimator tail over a prebuilt `bandtab`. */
  private val minhashPairTailSql: String =
    "pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM bandtab a JOIN bandtab b ON a.band = b.band AND a.bucket = b.bucket " +
      "AND a.doc_id < b.doc_id), " +
      s"m AS (SELECT p.doc_a, p.doc_b, ($minhashMatches) AS n_matching " +
      "FROM pairs p JOIN minh x ON x.doc_id = p.doc_a " +
      "JOIN minh y ON y.doc_id = p.doc_b) " +
      "SELECT doc_a, doc_b, n_matching, " +
      s"CAST(FLOOR(1000000.0 * n_matching / ${PH.MinhashK}) AS BIGINT) " +
      "AS est_jaccard_ppm FROM m ORDER BY doc_a, doc_b"

  private val ddMinhashAutoSql: String = {
    val bandArms = Seq((8, 2), (4, 4), (2, 8), (1, 16)).map { case (b, r) =>
      s"SELECT doc_id, band, bucket FROM (${bandSelectsGen("minh", b, r)}) " +
        s"WHERE (SELECT rr FROM arr) = $r"
    }.mkString(" UNION ALL ")
    s"WITH $minhashCteChain, $autoRowsCte, " +
      s"bandtab AS ($bandArms), $minhashPairTailSql"
  }

  /** [[graft.operators.Dedup.minhashReband]]: from-scratch pairs at
    * the MIGRATED banding — rows_per_band = least(2·autoBandRows, 16)
    * — so the hash proves the half-band refinement with carried
    * estimates exact (the sim_knn_reband pattern on the text side). */
  private val ddMinhashRebandSql: String = {
    val bandArms = Seq((4, 4), (2, 8), (1, 16)).map { case (b, r) =>
      s"SELECT doc_id, band, bucket FROM (${bandSelectsGen("minh", b, r)}) " +
        s"WHERE least(2 * (SELECT rr FROM arr), 16) = $r"
    }.mkString(" UNION ALL ")
    s"WITH $minhashCteChain, $autoRowsCte, " +
      s"bandtab AS ($bandArms), $minhashPairTailSql"
  }

  /** [[graft.operators.Dedup.minhashStoreLifecycle]]: the oracle is
    * the FROM-SCRATCH LSH over the FULL corpus at the lifecycle's
    * final arm — rows_per_band = least(2·autoBandRows(|fold 0|), 16),
    * fold 0 = the initial corpus the store was built over (doc_id %
    * 3 = 0, counted over signature-bearing docs exactly as the Scala
    * side counts them). The hash therefore proves the whole build →
    * upsert → reband → upsert chain exact end-to-end. */
  /** [[graft.streaming.StoreMaintenance.maintainedTextStoreReplay]]:
    * the sequential gated admission restated — batch 0 admits whole,
    * batch b drops any doc sharing a band bucket with a previously-
    * ADMITTED doc at ≥ 8/16 agreeing slots (est ≥ 500,000 ppm at
    * K=16, the exact integer threshold), then the from-scratch OPH
    * banding of the admitted set; sigless docs (NULL m0 — empty
    * shingle list) admit unconditionally and surface as the (-1, '')
    * sentinel. NULL bucket strings (sigless) never join, mirroring
    * the engine's empty-probe convention. */
  private val pipelineStoreMaintainedSql: String = {
    val matches = minhashMatches
    def dropCte(b: Int, admSrc: String): String =
      s"drop$b AS (SELECT DISTINCT a.doc_id FROM bt a " +
        "JOIN bt s ON s.band = a.band AND s.bucket = a.bucket " +
        s"JOIN $admSrc p ON p.doc_id = s.doc_id " +
        "JOIN minh x ON x.doc_id = a.doc_id " +
        "JOIN minh y ON y.doc_id = s.doc_id " +
        s"WHERE a.doc_id % 3 = $b AND ($matches) >= 8)"
    s"WITH $ophMinhChain, " +
      s"bt AS (${bandSelectsGen("minh", 8, 2)}), " +
      "adm0 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0), " +
      dropCte(1, "adm0") + ", " +
      "adm1 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1 " +
      "AND doc_id NOT IN (SELECT doc_id FROM drop1)), " +
      "adm01 AS (SELECT doc_id FROM adm0 " +
      "UNION ALL SELECT doc_id FROM adm1), " +
      dropCte(2, "adm01") + ", " +
      "adm2 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2 " +
      "AND doc_id NOT IN (SELECT doc_id FROM drop2)), " +
      "adm AS (SELECT doc_id FROM adm01 " +
      "UNION ALL SELECT doc_id FROM adm2) " +
      "SELECT t.doc_id, CAST(t.band AS BIGINT) AS band, t.bucket " +
      "FROM bt t JOIN adm p ON p.doc_id = t.doc_id " +
      "JOIN minh m ON m.doc_id = t.doc_id WHERE m.m0 IS NOT NULL " +
      "UNION ALL " +
      "SELECT m.doc_id, CAST(-1 AS BIGINT) AS band, '' AS bucket " +
      "FROM minh m JOIN adm p ON p.doc_id = m.doc_id " +
      "WHERE m.m0 IS NULL " +
      "ORDER BY doc_id, band, bucket"
  }

  /** [[graft.streaming.StoreMaintenance.maintainedVecStoreReplay]]:
    * the vector twin — batch b drops a non-zero vector iff a
    * previously-admitted NON-ZERO vector shares a 4×4 sign bucket at
    * quantized cos ≥ 400,000 ppm; zero-norm vectors admit
    * unconditionally (absent from `base`, which carries n > 0 only)
    * and surface as the (-1, -1) sentinel. */
  private val pipelineStoreMaintainedVecSql: String = {
    def dropCte(b: Int, admSrc: String): String =
      s"drop$b AS (SELECT DISTINCT a.vec_id FROM bands a " +
        "JOIN bands s ON s.band = a.band AND s.bucket = a.bucket " +
        s"JOIN $admSrc p ON p.vec_id = s.vec_id " +
        "JOIN base x ON x.vec_id = a.vec_id " +
        "JOIN base y ON y.vec_id = s.vec_id " +
        s"WHERE a.vec_id % 3 = $b AND " +
        s"${cosPpmSql(dotSql("x.qe", "y.qe"), "x.n", "y.n")} >= 400000)"
    s"WITH $quantCte, ${signBandsCte(4, 4)}, " +
      "adm0 AS (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 0), " +
      dropCte(1, "adm0") + ", " +
      "adm1 AS (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 1 " +
      "AND vec_id NOT IN (SELECT vec_id FROM drop1)), " +
      "adm01 AS (SELECT vec_id FROM adm0 " +
      "UNION ALL SELECT vec_id FROM adm1), " +
      dropCte(2, "adm01") + ", " +
      "adm2 AS (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 2 " +
      "AND vec_id NOT IN (SELECT vec_id FROM drop2)), " +
      "adm AS (SELECT vec_id FROM adm01 " +
      "UNION ALL SELECT vec_id FROM adm2) " +
      "SELECT t.vec_id, CAST(t.band AS BIGINT) AS band, t.bucket " +
      "FROM bands t JOIN adm p ON p.vec_id = t.vec_id " +
      "JOIN base bb ON bb.vec_id = t.vec_id " +
      "UNION ALL " +
      "SELECT e.vec_id, CAST(-1 AS BIGINT) AS band, " +
      "CAST(-1 AS BIGINT) AS bucket " +
      "FROM embeddings e JOIN adm p ON p.vec_id = e.vec_id " +
      "WHERE e.vec_id NOT IN (SELECT vec_id FROM base) " +
      "ORDER BY vec_id, band, bucket"
  }

  private val pipelineStoreTextSql: String = {
    val arr0 =
      "arr AS (SELECT CASE WHEN count(*) >= 10000000000000000 THEN 16 " +
        "WHEN count(*) >= 100000000 THEN 8 WHEN count(*) >= 10000 THEN 4 " +
        "ELSE 2 END AS rr FROM minh " +
        "WHERE m0 IS NOT NULL AND doc_id % 3 = 0)"
    val bandArms = Seq((4, 4), (2, 8), (1, 16)).map { case (b, r) =>
      s"SELECT doc_id, band, bucket FROM (${bandSelectsGen("minh", b, r)}) " +
        s"WHERE least(2 * (SELECT rr FROM arr), 16) = $r"
    }.mkString(" UNION ALL ")
    s"WITH $minhashCteChain, $arr0, " +
      s"bandtab AS ($bandArms), $minhashPairTailSql"
  }

  /** [[graft.operators.Dedup.ophLsh]]: the one-permutation-hashing
    * signature restated — per-bin list minima (empty bin → NULL),
    * then rotation densification as a 16-way COALESCE with the
    * shared t·OphC offset, then the SAME banding/pair/estimator SQL
    * as the K-affine oracle. A densification desync (wrong rotation
    * direction, missing offset, truncating mod) changes bucket
    * strings and fails the pair set. */
  /** ws/hs/bins/minh CTE chain for the ONE-PERMUTATION-HASHING
    * signature (per-bin list minima, rotation densification) — shared
    * by dd_oph and the maintained-store replay oracle. */
  private lazy val ophMinhChain: String = {
    val k = PH.MinhashK
    val binCols = (0 until k).map { b =>
      s"list_min(list_filter(hl, h -> h % $k = $b)) AS mb$b"
    }.mkString(", ")
    val slotCols = (0 until k).map { j =>
      val arms = (0 until k).map { t =>
        s"((mb${(j + t) % k} + ${t * graft.operators.Dedup.OphC}) % $P)"
      }.mkString(", ")
      s"COALESCE($arms) AS m$j"
    }.mkString(", ")
    s"ws AS ($wordsCte), " +
      s"hs AS (SELECT doc_id, list_transform(${shingleList(3)}, " +
      s"g -> ${PH.h31Sql("g")}) AS hl FROM ws), " +
      s"bins AS (SELECT doc_id, $binCols FROM hs), " +
      s"minh AS (SELECT doc_id, $slotCols FROM bins)"
  }

  private val ddOphSql: String = {
    val matches = minhashMatches
    s"WITH $ophMinhChain, " +
      s"bandtab AS (${bandSelectsFrom("minh")}), " +
      "pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM bandtab a JOIN bandtab b ON a.band = b.band AND a.bucket = b.bucket " +
      "AND a.doc_id < b.doc_id), " +
      s"m AS (SELECT p.doc_a, p.doc_b, ($matches) AS n_matching " +
      "FROM pairs p JOIN minh x ON x.doc_id = p.doc_a " +
      "JOIN minh y ON y.doc_id = p.doc_b) " +
      "SELECT doc_a, doc_b, n_matching, " +
      s"CAST(FLOOR(1000000.0 * n_matching / ${PH.MinhashK}) AS BIGINT) " +
      "AS est_jaccard_ppm FROM m ORDER BY doc_a, doc_b"
  }

  private val ddSimhashSql: String = {
    val bits = 48
    val sums = (0 until bits).map { b =>
      s"sum(((h // ${1L << b}) % 2) * 2 - 1) AS s$b"
    }.mkString(", ")
    val pack = (0 until bits).map { b =>
      s"(CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")
    "WITH wh AS (SELECT doc_id, " +
      s"${PH.h48Sql("w")} AS h FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)), " +
      s"s AS (SELECT doc_id, $sums FROM wh GROUP BY doc_id) " +
      s"SELECT doc_id, $pack AS simhash48 FROM s ORDER BY doc_id"
  }

  private val ddSimhashPairsSql: String = {
    val chunkBits = 12
    val nBands = 48 / chunkBits
    val bandSelects = (0 until nBands).map { b =>
      s"SELECT doc_id, simhash48, $b AS band, " +
        s"(simhash48 // ${1L << (b * chunkBits)}) % ${1L << chunkBits} AS chunk FROM fp"
    }.mkString(" UNION ALL ")
    "WITH fp AS (SELECT doc_id, simhash48 FROM (" + ddSimhashSql + ")), " +
      s"banded AS ($bandSelects), " +
      "pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "a.simhash48 AS fa, b.simhash48 AS fb " +
      "FROM banded a JOIN banded b ON a.band = b.band AND a.chunk = b.chunk " +
      "AND a.doc_id < b.doc_id), " +
      "h AS (SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming FROM pairs) " +
      "SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= 8 " +
      "ORDER BY doc_a, doc_b"
  }

  /** Wide-blocker oracle: Dedup.simhashPairsWide's triple blocking is
    * EXACT for hamming <= 3 (Manku-style pigeonhole), so the oracle is
    * the brute-force all-pairs hamming filter — it checks the recall
    * GUARANTEE itself, not a replication of the banding. */
  private val ddSimhashPairsWideSql: String =
    "WITH fp AS (SELECT doc_id, simhash48 FROM (" + ddSimhashSql + ")), " +
      "h AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "CAST(bit_count(xor(a.simhash48, b.simhash48)) AS BIGINT) AS hamming " +
      "FROM fp a JOIN fp b ON a.doc_id < b.doc_id) " +
      "SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= 3 " +
      "ORDER BY doc_a, doc_b"

  /** Incremental dedup oracle: new batch = doc_id % 10 = 0, corpus =
    * the rest; cross-LSH near check + exact text check. */
  private val ddIncrementalSql: String =
    s"WITH $minhashCteChain, " +
      "newm AS (SELECT * FROM minh WHERE doc_id % 10 = 0), " +
      "corpm AS (SELECT * FROM minh WHERE doc_id % 10 != 0), " +
      s"bandn AS (${bandSelectsFrom("newm")}), " +
      s"bandc AS (${bandSelectsFrom("corpm")}), " +
      "pairs AS (SELECT DISTINCT n.doc_id AS doc_id, c.doc_id AS corpus_id " +
      "FROM bandn n JOIN bandc c ON n.band = c.band AND n.bucket = c.bucket), " +
      s"m AS (SELECT p.doc_id, ($minhashMatches) AS n_matching " +
      "FROM pairs p JOIN minh x ON x.doc_id = p.doc_id " +
      "JOIN minh y ON y.doc_id = p.corpus_id), " +
      "near AS (SELECT DISTINCT doc_id FROM m " +
      s"WHERE CAST(FLOOR(1000000.0 * n_matching / ${PH.MinhashK}) AS BIGINT) >= 750000), " +
      "ex AS (SELECT DISTINCT d.doc_id FROM documents d " +
      "JOIN documents c ON c.text = d.text AND c.doc_id % 10 != 0 " +
      "WHERE d.doc_id % 10 = 0) " +
      "SELECT d.doc_id, " +
      "CAST(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_dup, " +
      "CAST(CASE WHEN near.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS near_dup, " +
      "CAST(CASE WHEN ex.doc_id IS NULL AND near.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS admit " +
      "FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d " +
      "LEFT JOIN ex ON ex.doc_id = d.doc_id " +
      "LEFT JOIN near ON near.doc_id = d.doc_id ORDER BY d.doc_id"

  /** Recursive transitive-closure CTE chain shared by the clusters
    * oracle and the leakage-guarded split oracle. */
  private val ddClustersCtes: String =
    "p AS (SELECT doc_a, doc_b FROM (" + ddMinhashSql + ") " +
      "WHERE est_jaccard_ppm >= 750000), " +
      "e AS (SELECT doc_a AS s, doc_b AS d FROM p " +
      "UNION ALL SELECT doc_b, doc_a FROM p), " +
      "walk(node, reach) AS (" +
      "SELECT doc_id, doc_id FROM documents " +
      "UNION " +
      "SELECT w.node, e.d FROM walk w JOIN e ON e.s = w.reach)"

  /** [[Dedup.clusterStats]]: the same recursive closure, reduced to
    * the size histogram and keep-one yield counts. */
  private val ddClusterStatsSql: String =
    s"WITH RECURSIVE $ddClustersCtes, " +
      "cl AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk " +
      "GROUP BY node), " +
      "sz AS (SELECT cluster_id, COUNT(*) AS size FROM cl GROUP BY 1) " +
      "SELECT size, COUNT(*) AS n_clusters, " +
      "CAST(size * COUNT(*) AS BIGINT) AS n_docs, " +
      "CAST((size - 1) * COUNT(*) AS BIGINT) AS n_removable " +
      "FROM sz GROUP BY size ORDER BY size"

  private val ddClustersSql: String =
    s"WITH RECURSIVE $ddClustersCtes " +
      "SELECT node AS doc_id, min(reach) AS cluster_id FROM walk " +
      "GROUP BY node ORDER BY doc_id"

  /** [[Dedup.canonicalByQuality]] (r7): the same recursive closure
    * composed with the quality oracle; canonical = argmax quality per
    * cluster (doc_id ASC tiebreak — stated explicitly after the r7
    * probe lesson that underdetermined orders are bugs in waiting). */
  // lazy: txQualitySql is declared later in this object — an eager
  // val here would concatenate null at initialization order
  private lazy val ddCanonicalQualitySql: String =
    s"WITH RECURSIVE $ddClustersCtes, " +
      "cl AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk " +
      "GROUP BY node), " +
      "q AS (SELECT doc_id, quality_ppm FROM (" + txQualitySql + ")), " +
      "r AS (SELECT cl.doc_id, cl.cluster_id, q.quality_ppm, " +
      "row_number() OVER (PARTITION BY cl.cluster_id " +
      "ORDER BY q.quality_ppm DESC, cl.doc_id ASC) AS rk " +
      "FROM cl JOIN q ON q.doc_id = cl.doc_id), " +
      "canon AS (SELECT cluster_id, doc_id AS canonical_id FROM r " +
      "WHERE rk = 1) " +
      "SELECT r.doc_id, r.cluster_id, canon.canonical_id, " +
      "r.quality_ppm, r.doc_id = canon.canonical_id AS is_canonical " +
      "FROM r JOIN canon ON canon.cluster_id = r.cluster_id " +
      "ORDER BY r.doc_id"

  /** Leakage-guarded split oracle: cluster labels (same recursive
    * closure as dd_clusters), split decided by the portable h31 of the
    * CLUSTER id — the invariant under test is that near-dup cluster
    * members share a side, which the shared key makes structural. */
  private val ddLeakSplitSql: String =
    s"WITH RECURSIVE $ddClustersCtes, " +
      "cl AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk " +
      "GROUP BY node) " +
      "SELECT doc_id, cluster_id, " +
      s"CASE WHEN ${PH.h31Sql("'split:' || CAST(cluster_id AS VARCHAR)")} " +
      "% 100 < 10 THEN 'val' ELSE 'train' END AS split " +
      "FROM cl ORDER BY doc_id"

  private val ddLshVerifiedSql: String =
    s"WITH $minhashCteChain, " +
      s"bandtab AS (${bandSelectsFrom("minh")}), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM bandtab a JOIN bandtab b ON a.band = b.band " +
      "AND a.bucket = b.bucket AND a.doc_id < b.doc_id), " +
      s"sh AS (SELECT doc_id, unnest(${shingleList(3)}) AS sh FROM ws), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), " +
      "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c " +
      "JOIN sh a ON a.doc_id = c.doc_a " +
      "JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh GROUP BY 1, 2), " +
      "j AS (SELECT i.doc_a, i.doc_b, i.n_inter, " +
      "na.n + nb.n - i.n_inter AS n_union, " +
      "CAST(FLOOR(1000000.0 * i.n_inter / (na.n + nb.n - i.n_inter)) AS BIGINT) " +
      "AS jaccard_ppm FROM inter i " +
      "JOIN sizes na ON na.doc_id = i.doc_a " +
      "JOIN sizes nb ON nb.doc_id = i.doc_b) " +
      "SELECT doc_a, doc_b, n_inter, n_union, jaccard_ppm FROM j " +
      "WHERE jaccard_ppm >= 500000 ORDER BY doc_a, doc_b"

  /** [[Dedup.minhashCalibration]] oracle — both signature families'
    * candidate pairs rebuilt from their OWN declared oracle SQL,
    * exact Jaccard re-derived for each candidate set, errors reduced
    * to the same integer stats; pairs sharing zero shingles drop
    * from BOTH engines via the inner intersection join. Lazy: the
    * composed SQL vals are declared across this object. */
  private lazy val ddMinhashCalibrationSql: String =
    s"WITH ${shinglesCte(3)}, " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "mh AS (SELECT doc_a, doc_b, est_jaccard_ppm FROM (" + ddMinhashSql + ")), " +
      "op AS (SELECT doc_a, doc_b, est_jaccard_ppm FROM (" + ddOphSql + ")), " +
      "im AS (SELECT m.doc_a, m.doc_b, count(*) AS n_inter FROM mh m " +
      "JOIN sh a ON a.doc_id = m.doc_a " +
      "JOIN sh b ON b.doc_id = m.doc_b AND b.sh = a.sh GROUP BY 1, 2), " +
      "io AS (SELECT o.doc_a, o.doc_b, count(*) AS n_inter FROM op o " +
      "JOIN sh a ON a.doc_id = o.doc_a " +
      "JOIN sh b ON b.doc_id = o.doc_b AND b.sh = a.sh GROUP BY 1, 2), " +
      "em AS (SELECT abs(m.est_jaccard_ppm - " +
      "CAST(FLOOR(1000000.0 * i.n_inter / (na.n + nb.n - i.n_inter)) AS BIGINT)) " +
      "AS err FROM mh m JOIN im i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b " +
      "JOIN sizes na ON na.doc_id = m.doc_a " +
      "JOIN sizes nb ON nb.doc_id = m.doc_b), " +
      "eo AS (SELECT abs(o.est_jaccard_ppm - " +
      "CAST(FLOOR(1000000.0 * i.n_inter / (na.n + nb.n - i.n_inter)) AS BIGINT)) " +
      "AS err FROM op o JOIN io i ON i.doc_a = o.doc_a AND i.doc_b = o.doc_b " +
      "JOIN sizes na ON na.doc_id = o.doc_a " +
      "JOIN sizes nb ON nb.doc_id = o.doc_b) " +
      "SELECT 'minhash16' AS method, CAST(count(*) AS BIGINT) AS n_pairs, " +
      "CAST(SUM(err) // count(*) AS BIGINT) AS mean_err_ppm, " +
      "CAST(max(err) AS BIGINT) AS max_err_ppm FROM em " +
      "UNION ALL SELECT 'oph16', CAST(count(*) AS BIGINT), " +
      "CAST(SUM(err) // count(*) AS BIGINT), CAST(max(err) AS BIGINT) FROM eo " +
      "ORDER BY method"

  /** [[Dedup.containmentBlocked]] oracle — bottom-k sketch keys from
    * the pinned (h31(sh), sh) order, candidate join, exact
    * containment re-verified on candidates only; a wrong sketch
    * order, a size computed over the sketch instead of the full
    * shingle set, or jaccard-instead-of-containment math fails the
    * hash. */
  private val ddContainmentBlockedSql: String =
    s"WITH ${shinglesCte(3)}, " +
      "keys0 AS (SELECT doc_id, sh FROM (SELECT doc_id, sh, " +
      s"row_number() OVER (PARTITION BY doc_id ORDER BY ${PH.h31Sql("sh")}, sh) " +
      "AS rk FROM sh) WHERE rk <= 4), " +
      // r15: the blocking-key df cap (Dedup.containmentBlocked's
      // maxKeyDf = 50 hot-key guard, restated)
      "keys AS (SELECT doc_id, sh FROM (SELECT doc_id, sh, " +
      "count(*) OVER (PARTITION BY sh) AS df FROM keys0) WHERE df <= 50), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM keys a JOIN keys b ON a.sh = b.sh AND a.doc_id < b.doc_id), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c " +
      "JOIN sh a ON a.doc_id = c.doc_a " +
      "JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh GROUP BY 1, 2), " +
      "j AS (SELECT i.doc_a, i.doc_b, i.n_inter, " +
      "CAST(FLOOR(1000000.0 * i.n_inter / least(na.n, nb.n)) AS BIGINT) " +
      "AS contain_ppm FROM inter i " +
      "JOIN sizes na ON na.doc_id = i.doc_a " +
      "JOIN sizes nb ON nb.doc_id = i.doc_b) " +
      "SELECT doc_a, doc_b, n_inter, contain_ppm FROM j " +
      "WHERE contain_ppm >= 600000 ORDER BY doc_a, doc_b"

  /** [[Dedup.thresholdCurve]] oracle — the identical LSH-verified
    * pair chain built at the 300k floor, swept across the 7-point
    * threshold dim; a wrong loser rule (doc_a instead of doc_b), a
    * non-distinct loser count, or an off-by-one threshold comparison
    * fails the hash. */
  private val ddThresholdCurveSql: String =
    s"WITH $minhashCteChain, " +
      s"bandtab AS (${bandSelectsFrom("minh")}), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM bandtab a JOIN bandtab b ON a.band = b.band " +
      "AND a.bucket = b.bucket AND a.doc_id < b.doc_id), " +
      s"sh AS (SELECT doc_id, unnest(${shingleList(3)}) AS sh FROM ws), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), " +
      "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c " +
      "JOIN sh a ON a.doc_id = c.doc_a " +
      "JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh GROUP BY 1, 2), " +
      "j AS (SELECT i.doc_a, i.doc_b, " +
      "CAST(FLOOR(1000000.0 * i.n_inter / (na.n + nb.n - i.n_inter)) AS BIGINT) " +
      "AS jaccard_ppm FROM inter i " +
      "JOIN sizes na ON na.doc_id = i.doc_a " +
      "JOIN sizes nb ON nb.doc_id = i.doc_b), " +
      "vp AS (SELECT doc_b, jaccard_ppm FROM j WHERE jaccard_ppm >= 300000), " +
      "thr AS (SELECT unnest([300000, 400000, 500000, 600000, 700000, " +
      "800000, 900000]) AS threshold_ppm), " +
      "att AS (SELECT t.threshold_ppm, v.doc_b FROM thr t " +
      "JOIN vp v ON v.jaccard_ppm >= t.threshold_ppm), " +
      "np AS (SELECT threshold_ppm, count(*) AS n_pairs FROM att GROUP BY 1), " +
      "lo AS (SELECT DISTINCT threshold_ppm, doc_b FROM att), " +
      "tokd AS (SELECT doc_id, len(string_split(text, ' ')) AS t FROM documents), " +
      "rm AS (SELECT threshold_ppm, CAST(count(*) AS BIGINT) AS docs_removed, " +
      "CAST(SUM(tokd.t) AS BIGINT) AS tokens_removed FROM lo " +
      "JOIN tokd ON tokd.doc_id = lo.doc_b GROUP BY 1), " +
      "tot AS (SELECT CAST(SUM(t) AS BIGINT) AS tot FROM tokd) " +
      "SELECT CAST(thr.threshold_ppm AS BIGINT) AS threshold_ppm, " +
      "CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs, " +
      "CAST(COALESCE(rm.docs_removed, 0) AS BIGINT) AS docs_removed, " +
      "CAST(COALESCE(rm.tokens_removed, 0) AS BIGINT) AS tokens_removed, " +
      "(1000000 * CAST(COALESCE(rm.tokens_removed, 0) AS BIGINT)) // tot " +
      "AS tokens_removed_ppm " +
      "FROM thr LEFT JOIN np USING (threshold_ppm) " +
      "LEFT JOIN rm USING (threshold_ppm), tot ORDER BY threshold_ppm"

  /** [[Dedup.lshRecallReport]]: ground truth (exact Jaccard ≥ 750k
    * ppm) and the banded candidate set rebuilt from the shared CTE
    * fragments, reduced to the four counts + ppm ratios. */
  private val ddLshRecallSql: String =
    s"WITH $minhashCteChain, " +
      s"bandtab AS (${bandSelectsFrom("minh")}), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM bandtab a JOIN bandtab b ON a.band = b.band " +
      "AND a.bucket = b.bucket AND a.doc_id < b.doc_id), " +
      s"sh AS (SELECT doc_id, unnest(${shingleList(3)}) AS sh FROM ws), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "count(*) AS n_inter FROM sh a JOIN sh b ON a.sh = b.sh " +
      "AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "truth AS (SELECT doc_a, doc_b FROM inter " +
      "JOIN sizes na ON na.doc_id = doc_a " +
      "JOIN sizes nb ON nb.doc_id = doc_b " +
      "WHERE CAST(FLOOR(1000000.0 * n_inter / (na.n + nb.n - n_inter)) " +
      "AS BIGINT) >= 750000), " +
      "t AS (SELECT count(*) AS n_truth FROM truth), " +
      "c AS (SELECT count(*) AS n_candidates FROM cand), " +
      "h AS (SELECT count(*) AS n_hits FROM truth " +
      "JOIN cand USING (doc_a, doc_b)) " +
      "SELECT CAST(n_truth AS BIGINT) AS n_truth, " +
      "CAST(n_candidates AS BIGINT) AS n_candidates, " +
      "CAST(n_hits AS BIGINT) AS n_hits, " +
      "CAST(CASE WHEN n_truth = 0 THEN 1000000 " +
      "ELSE (n_hits * 1000000) // n_truth END AS BIGINT) AS recall_ppm, " +
      "CAST(CASE WHEN n_candidates = 0 THEN 1000000 " +
      "ELSE (n_hits * 1000000) // n_candidates END AS BIGINT) " +
      "AS precision_ppm FROM t, c, h"

  /** [[Similarity.knnBitsig]]: the sign-bit signature rebuilt as a
    * 64-term CASE sum with PRECOMPUTED power-of-two literals (never
    * `1 << 63` in-dialect — shift overflow semantics differ; the
    * 2⁶³ term is the negative literal and the partial sums provably
    * stay in BIGINT range in any addition order), then xor +
    * bit_count + the same (hamming, neighbor) window. */
  private val simKnnBitsigSql: String = {
    val sigExpr = (0 until 64).map(i =>
      s"(CASE WHEN embedding[${i + 1}] > 0.0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    s"WITH s AS (SELECT vec_id, CAST($sigExpr AS BIGINT) AS sig " +
      "FROM embeddings), " +
      "q AS (SELECT vec_id AS query_id, sig AS qsig FROM s " +
      "WHERE vec_id < 8), " +
      "sc AS (SELECT q.query_id, s.vec_id AS neighbor_id, " +
      "bit_count(xor(s.sig, q.qsig)) AS hamming FROM s, q " +
      "WHERE s.vec_id <> q.query_id), " +
      "r AS (SELECT query_id, neighbor_id, hamming, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rnk " +
      "FROM sc) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, " +
      "CAST(hamming AS BIGINT) AS hamming FROM r WHERE rnk <= 5 " +
      "ORDER BY query_id, rank"
  }

  private val ddNgramJaccardSql: String =
    s"WITH ${shinglesCte(3)}, " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter " +
      "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "j AS (SELECT doc_a, doc_b, n_inter, na.n + nb.n - n_inter AS n_union, " +
      "CAST(FLOOR(1000000.0 * n_inter / (na.n + nb.n - n_inter)) AS BIGINT) AS jaccard_ppm " +
      "FROM inter JOIN sizes na ON na.doc_id = doc_a JOIN sizes nb ON nb.doc_id = doc_b) " +
      "SELECT * FROM j WHERE jaccard_ppm >= 500000 ORDER BY doc_a, doc_b"

  private val ddContainmentSql: String =
    s"WITH ${shinglesCte(3)}, " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter " +
      "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "j AS (SELECT doc_a, doc_b, n_inter, " +
      "CAST(FLOOR(1000000.0 * n_inter / least(na.n, nb.n)) AS BIGINT) AS contain_ppm " +
      "FROM inter JOIN sizes na ON na.doc_id = doc_a JOIN sizes nb ON nb.doc_id = doc_b) " +
      "SELECT * FROM j WHERE contain_ppm >= 600000 ORDER BY doc_a, doc_b"

  /** df-CAPPED shingle CTE chain (r8): the [[Dedup.dfCapShingles]]
    * cap restated as `HAVING count(*) <= cap` on the shingle
    * inverted index — ends in `sh(doc_id, sh)` holding only shingles
    * whose document frequency is within the cap. */
  private def cappedShinglesCte(n: Int, cap: Int): String =
    s"ws AS ($wordsCte), " +
      s"sh0 AS (SELECT doc_id, unnest(${shingleList(n)}) AS sh FROM ws), " +
      s"dfok AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= $cap), " +
      "sh AS (SELECT s.doc_id, s.sh FROM sh0 s JOIN dfok USING (sh))"

  /** [[Dedup.ngramJaccardCapped]]: identical verify algebra as
    * dd_ngram_jaccard over the df-capped shingle universe. */
  private val ddNgramJaccardCappedSql: String =
    s"WITH ${cappedShinglesCte(3, 50)}, " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter " +
      "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "j AS (SELECT doc_a, doc_b, n_inter, na.n + nb.n - n_inter AS n_union, " +
      "CAST(FLOOR(1000000.0 * n_inter / (na.n + nb.n - n_inter)) AS BIGINT) AS jaccard_ppm " +
      "FROM inter JOIN sizes na ON na.doc_id = doc_a JOIN sizes nb ON nb.doc_id = doc_b) " +
      "SELECT * FROM j WHERE jaccard_ppm >= 500000 ORDER BY doc_a, doc_b"

  /** [[Dedup.containmentCapped]]: df-capped containment twin. */
  private val ddContainmentCappedSql: String =
    s"WITH ${cappedShinglesCte(3, 50)}, " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter " +
      "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "j AS (SELECT doc_a, doc_b, n_inter, " +
      "CAST(FLOOR(1000000.0 * n_inter / least(na.n, nb.n)) AS BIGINT) AS contain_ppm " +
      "FROM inter JOIN sizes na ON na.doc_id = doc_a JOIN sizes nb ON nb.doc_id = doc_b) " +
      "SELECT * FROM j WHERE contain_ppm >= 600000 ORDER BY doc_a, doc_b"

  /** Salted-hash doc-sample CTE shared by the sampled eval oracles:
    * the IDENTICAL h31("recall:" || doc_id) % 100 predicate the Spark
    * operators apply. */
  private def recallSampCte(pct: Int): String =
    "samp AS MATERIALIZED (SELECT doc_id FROM documents WHERE " +
      s"${PH.h31Sql("'recall:' || CAST(doc_id AS VARCHAR)")} % 100 < $pct)"

  /** Auto-sized eval sample (r11): pct = clamp(⌈100·150/N⌉, 1, 100)
    * — the scalar-subquery twin of Dedup.autoSamplePct(N, 150),
    * holding the all-pairs truth at ~150² regardless of corpus
    * size (and reproducing the pinned 30% exactly at the N=500
    * gate corpus). */
  private val recallSampAutoCte: String =
    "spct AS (SELECT greatest(1, least(100, " +
      "CAST(CEIL(100.0 * 150 / greatest(count(*), 1)) AS BIGINT))) AS pct " +
      "FROM documents), " +
      "samp AS MATERIALIZED (SELECT doc_id FROM documents WHERE " +
      s"${PH.h31Sql("'recall:' || CAST(doc_id AS VARCHAR)")} % 100 " +
      "< (SELECT pct FROM spct))"

  /** Sampled exact-Jaccard ground-truth CTE chain: shingle verify
    * restricted to sampled docs only, ending in truth(doc_a, doc_b).
    * Requires [[recallSampCte]] earlier in the WITH chain. */
  private def sampledTruthCtes(minJaccardPpm: Long): String =
    "wss AS (SELECT d.doc_id, string_split(d.text, ' ') AS w " +
      "FROM documents d JOIN samp USING (doc_id)), " +
      s"shs AS (SELECT doc_id, unnest(${shingleList(3)}) AS sh FROM wss), " +
      "tsizes AS (SELECT doc_id, count(*) AS n FROM shs GROUP BY 1), " +
      "tinter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "count(*) AS n_inter FROM shs a JOIN shs b ON a.sh = b.sh " +
      "AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "truth AS MATERIALIZED (SELECT doc_a, doc_b FROM tinter " +
      "JOIN tsizes na ON na.doc_id = doc_a " +
      "JOIN tsizes nb ON nb.doc_id = doc_b " +
      "WHERE CAST(FLOOR(1000000.0 * n_inter / (na.n + nb.n - n_inter)) " +
      s"AS BIGINT) >= $minJaccardPpm)"

  /** [[Dedup.lshRecallSampled]]: full-corpus MinHash banding under
    * eval, ground truth and candidate restriction on the sampled doc
    * set, the same four-count reduce as dd_lsh_recall. */
  private val ddLshRecallSampledSql: String =
    s"WITH $minhashCteChain, " +
      s"bandtab AS (${bandSelectsFrom("minh")}), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM bandtab a JOIN bandtab b ON a.band = b.band " +
      "AND a.bucket = b.bucket AND a.doc_id < b.doc_id), " +
      s"${recallSampCte(30)}, " +
      s"${sampledTruthCtes(750000L)}, " +
      "cs AS MATERIALIZED (SELECT c.doc_a, c.doc_b FROM cand c " +
      "JOIN samp a ON a.doc_id = c.doc_a " +
      "JOIN samp b ON b.doc_id = c.doc_b), " +
      "t AS (SELECT count(*) AS n_truth FROM truth), " +
      "c2 AS (SELECT count(*) AS n_candidates FROM cs), " +
      "h AS (SELECT count(*) AS n_hits FROM truth " +
      "JOIN cs USING (doc_a, doc_b)) " +
      "SELECT CAST(n_truth AS BIGINT) AS n_truth, " +
      "CAST(n_candidates AS BIGINT) AS n_candidates, " +
      "CAST(n_hits AS BIGINT) AS n_hits, " +
      "CAST(CASE WHEN n_truth = 0 THEN 1000000 " +
      "ELSE (n_hits * 1000000) // n_truth END AS BIGINT) AS recall_ppm, " +
      "CAST(CASE WHEN n_candidates = 0 THEN 1000000 " +
      "ELSE (n_hits * 1000000) // n_candidates END AS BIGINT) " +
      "AS precision_ppm FROM t, c2, h"

  /** One blocker's sampled count row for [[ddBlockerRecallSql]]:
    * counts + ppm ratios against the shared `truth` CTE. */
  private def blockerCountSelect(name: String, candCte: String): String =
    s"SELECT '$name' AS blocker, CAST(t.n AS BIGINT) AS n_truth, " +
      "CAST(c.n AS BIGINT) AS n_candidates, " +
      "CAST(h.n AS BIGINT) AS n_hits, " +
      "CAST(CASE WHEN t.n = 0 THEN 1000000 " +
      "ELSE (h.n * 1000000) // t.n END AS BIGINT) AS recall_ppm, " +
      "CAST(CASE WHEN c.n = 0 THEN 1000000 " +
      "ELSE (h.n * 1000000) // c.n END AS BIGINT) AS precision_ppm " +
      "FROM (SELECT count(*) AS n FROM truth) t, " +
      s"(SELECT count(*) AS n FROM $candCte) c, " +
      s"(SELECT count(*) AS n FROM truth JOIN $candCte " +
      "USING (doc_a, doc_b)) h"

  /** [[Dedup.blockerRecallReport]] (r8): all four blocking families
    * rebuilt from their own oracle SQL (nested WITH subqueries, the
    * pipelineCurateSql pattern), each restricted to sampled ends and
    * scored against the SAME sampled exact ground truth. lazy: the
    * SNM oracle is declared later in this object. */
  private lazy val ddBlockerRecallSql: String = {
    def restricted(cteName: String, sql: String): String =
      s"$cteName AS MATERIALIZED (SELECT c.doc_a, c.doc_b FROM " +
        s"(SELECT doc_a, doc_b FROM ($sql)) c " +
        "JOIN samp a ON a.doc_id = c.doc_a " +
        "JOIN samp b ON b.doc_id = c.doc_b)"
    s"WITH $recallSampAutoCte, " +
      s"${sampledTruthCtes(750000L)}, " +
      s"${restricted("mh", ddMinhashSql)}, " +
      s"${restricted("oph", ddOphSql)}, " +
      s"${restricted("snm", ddSortedNeighborhoodSql)}, " +
      s"${restricted("win", ddWinnowPairsSql)} " +
      s"SELECT * FROM (${blockerCountSelect("minhash", "mh")} " +
      s"UNION ALL ${blockerCountSelect("oph", "oph")} " +
      s"UNION ALL ${blockerCountSelect("snm", "snm")} " +
      s"UNION ALL ${blockerCountSelect("winnow", "win")}) " +
      "ORDER BY blocker"
  }

  /** [[Dedup.videoNearDup]] over [[Multimodal.videoFrameSigs]] (r9):
    * the oracle re-renders every sampled frame's bytes from the
    * group fixture formula (never seeing a container byte), packs
    * the same byte_sum·65536 + wsum signature, and reruns the exact
    * Jaccard CTE chain — a wrong movi walk, frame index, stride or
    * signature pack on the Spark side fails the hash. Truncated
    * (doc_id % 13 = 0) containers are excluded exactly as the
    * fail-closed parser contributes no signatures. */
  private val ddVideoNearDupSql: String =
    "WITH d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m " +
      "FROM documents WHERE doc_id % 13 <> 0), " +
      "p AS (SELECT doc_id, g, m, 120 + g % 120 AS nf FROM d), " +
      "sf AS (SELECT doc_id, g, m, unnest(range(0, nf)) AS f FROM p), " +
      "sfs AS (SELECT doc_id, g, m, f FROM sf WHERE f % 25 = 0), " +
      "bys AS (SELECT doc_id, g, m, f, unnest(range(0, 8)) AS i FROM sfs), " +
      // product-of-mixes byte formula (see syntheticGroupVideos —
      // anything affine in i collapses to arithmetic byte
      // progressions); every product stays under 2^63 in BIGINT
      "pe AS (SELECT doc_id, f, i, " +
      "CASE WHEN f % 11 = m THEN m*7 + 1 ELSE 0 END AS pert, g " +
      "FROM bys), " +
      "bv AS (SELECT doc_id, f, i, " +
      "((((f*2654435761 + i*40503 + (g % 2147483647)*2246822519 + pert) " +
      "% 2147483647) * " +
      "((f*40503 + i*2654435761 + (g % 2147483647)*715827883 + pert) " +
      "% 2147483647)) % 2147483647) % 256 AS v FROM pe), " +
      // polynomial content hash, powers of 257 mod P31 inlined; the
      // partial sums stay < 8·255·2^31 << 2^53, exact in BIGINT
      "sg AS (SELECT doc_id, f, SUM(v * (CASE i " +
      "WHEN 0 THEN 1 WHEN 1 THEN 257 WHEN 2 THEN 66049 " +
      "WHEN 3 THEN 16974593 WHEN 4 THEN 67503107 " +
      "WHEN 5 THEN 168429323 WHEN 6 THEN 336663071 " +
      "ELSE 623063367 END)) % 2147483647 AS sig " +
      "FROM bv GROUP BY doc_id, f), " +
      "sh AS (SELECT DISTINCT doc_id, sig FROM sg), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "count(*) AS n_inter FROM sh a JOIN sh b " +
      "ON a.sig = b.sig AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
      "SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter, " +
      "CAST(na.n + nb.n - n_inter AS BIGINT) AS n_union, " +
      "CAST(FLOOR(1000000.0 * n_inter / (na.n + nb.n - n_inter)) AS BIGINT) " +
      "AS jaccard_ppm FROM inter " +
      "JOIN sizes na ON na.doc_id = doc_a " +
      "JOIN sizes nb ON nb.doc_id = doc_b " +
      "WHERE CAST(FLOOR(1000000.0 * n_inter / (na.n + nb.n - n_inter)) " +
      "AS BIGINT) >= 400000 ORDER BY doc_a, doc_b"

  /** [[graft.operators.Dedup.audioNearDup]]: the full fixture chain
    * restated — per-sample PCM values from the doc_id literals
    * (v = ((i·131 + g·127 + pert) mod 65521) − 32760, pert on
    * windows ≡ m mod 9), 64-sample position-weighted window
    * signatures (all partial sums < 2^28, no modulus needed), then
    * the standard signature-set Jaccard tail. A decoder that
    * mis-walks the RIFF layout or mis-signs a sample changes sigs
    * and fails the hash. */
  private val ddAudioNearDupSql: String =
    "WITH p AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m, " +
      "384 + (doc_id // 4 % 8) * 64 AS n FROM documents " +
      "WHERE doc_id % 13 <> 0), " +
      "ix AS (SELECT doc_id, g, m, unnest(range(0, n)) AS i FROM p), " +
      "v AS (SELECT doc_id, i // 64 AS w, (i % 64 + 1) AS j1, " +
      "((i * (131 + g % 997) + (i // 64) * (i // 64) * 7919 + g * 127 + " +
      "CASE WHEN (i // 64) % 9 = m " +
      "THEN m * 11 + 1 ELSE 0 END) % 65521) - 32760 AS v FROM ix), " +
      "sg AS (SELECT doc_id, w, sum((v + 32760) * j1) AS sig " +
      "FROM v GROUP BY 1, 2), " +
      "sh AS (SELECT DISTINCT doc_id, sig FROM sg), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "count(*) AS n_inter FROM sh a JOIN sh b " +
      "ON a.sig = b.sig AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
      "SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter, " +
      "CAST(na.n + nb.n - n_inter AS BIGINT) AS n_union, " +
      "CAST(FLOOR(1000000.0 * n_inter / (na.n + nb.n - n_inter)) AS BIGINT) " +
      "AS jaccard_ppm FROM inter " +
      "JOIN sizes na ON na.doc_id = doc_a " +
      "JOIN sizes nb ON nb.doc_id = doc_b " +
      "WHERE CAST(FLOOR(1000000.0 * n_inter / (na.n + nb.n - n_inter)) " +
      "AS BIGINT) >= 400000 ORDER BY doc_a, doc_b"

  /** [[graft.operators.Dedup.editVerified]]: df-capped char-16-gram
    * candidates over the 96-char snippet (`HAVING count(*) <= 16` on
    * the SAME gram key the pair join uses), verified by DuckDB's own
    * exact `levenshtein` — an independent edit-distance
    * implementation, so a Spark-side verify bug fails the hash. */
  private val ddEditVerifiedSql: String =
    "WITH s AS (SELECT doc_id, substr(text, 1, 96) AS sn FROM documents " +
      "WHERE len(text) >= 16), " +
      "sh AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, len(sn) - 14), i -> substr(sn, CAST(i AS INT), 16)))) " +
      "AS sh FROM s), " +
      "c AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 16), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM sh a JOIN c USING (sh) JOIN sh b USING (sh) " +
      "WHERE a.doc_id < b.doc_id), " +
      "v AS (SELECT doc_a, doc_b, " +
      "CAST(levenshtein(sa.sn, sb.sn) AS BIGINT) AS dist " +
      "FROM cand JOIN s sa ON sa.doc_id = doc_a " +
      "JOIN s sb ON sb.doc_id = doc_b) " +
      "SELECT doc_a, doc_b, dist FROM v WHERE dist <= 24 " +
      "ORDER BY doc_a, doc_b"

  /** [[graft.operators.TextAnalysis.bm25]]: the integer-floor BM25
    * chain restated with `//` at every step; the VALUES list is
    * generated from the operator's own literal query Seq. */
  private val txBm25Sql: String = {
    val vals = graft.operators.TextAnalysis.Bm25Queries.flatMap {
      case (q, ts) => ts.map(t => s"($q, '$t')")
    }.mkString(", ")
    s"WITH ws AS ($wordsCte), " +
      "tok AS (SELECT doc_id, unnest(w) AS t FROM ws), " +
      "dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1), " +
      "corp AS (SELECT count(*) AS n, sum(dl) AS l FROM dl), " +
      "tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2), " +
      "dft AS (SELECT t, count(*) AS df FROM tf GROUP BY 1), " +
      s"qry AS (SELECT * FROM (VALUES $vals) AS vq(query_id, t)), " +
      "sc AS (SELECT q.query_id, tf.doc_id, " +
      "((1000000 * (2 * corp.n - 2 * dft.df + 1)) // (2 * dft.df + 1)) " +
      "AS w_ppm, " +
      "((2200000 * tf.tf * 1000000) // (1000000 * tf.tf + 300000 + " +
      "(900000 * dl.dl * corp.n) // corp.l)) AS sat_ppm " +
      "FROM qry q JOIN tf ON tf.t = q.t JOIN dft ON dft.t = q.t " +
      "JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN corp), " +
      "agg AS (SELECT query_id, doc_id, " +
      "sum((w_ppm * sat_ppm) // 1000000000) AS score_milli " +
      "FROM sc GROUP BY 1, 2), " +
      "r AS (SELECT query_id, doc_id, score_milli, row_number() OVER (" +
      "PARTITION BY query_id ORDER BY score_milli DESC, doc_id ASC) AS rk " +
      "FROM agg) " +
      "SELECT CAST(query_id AS BIGINT) AS query_id, " +
      "CAST(rk AS BIGINT) AS \"rank\", doc_id, " +
      "CAST(score_milli AS BIGINT) AS score_milli " +
      "FROM r WHERE rk <= 10 ORDER BY query_id, rk"
  }

  /** [[graft.operators.Similarity.mipsBrute]]: raw integer dot, no
    * normalization — pure integer ops end to end. */
  private val simMipsSql: String =
    s"WITH $quantCte, " +
      "scored AS (SELECT qs.vec_id AS query_id, b.vec_id AS neighbor_id, " +
      s"${dotSql("qs.qe", "b.qe")} AS dot_q " +
      "FROM base qs JOIN base b ON b.vec_id <> qs.vec_id WHERE qs.vec_id < 8), " +
      "r AS (SELECT query_id, neighbor_id, dot_q, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, " +
      "neighbor_id ASC) AS rk FROM scored) " +
      "SELECT query_id, CAST(rk AS BIGINT) AS \"rank\", neighbor_id, dot_q " +
      "FROM r WHERE rk <= 5 ORDER BY query_id, rk"

  /** [[graft.operators.Similarity.mipsIvf]]: the coarse CTEs mirror
    * [[simKnnIvfSql]] (assignment stays L2 rn = 1); only the probe
    * ranking (dot DESC, cid ASC) and the final scoring differ. */
  private val simMipsIvfSql: String =
    s"WITH $quantCte, " +
      "cents AS (SELECT vec_id AS cid, qe AS ce, n AS cn FROM base WHERE vec_id < 8), " +
      "dists AS (SELECT b.vec_id, c.cid, b.qe, " +
      s"(b.n + c.cn - 2 * ${dotSql("b.qe", "c.ce")}) AS dist, " +
      s"${dotSql("b.qe", "c.ce")} AS cdot " +
      "FROM base b CROSS JOIN cents c), " +
      "ranked AS (SELECT vec_id, cid, qe, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn " +
      "FROM dists), " +
      "assign AS (SELECT vec_id, qe, cid FROM ranked WHERE rn = 1), " +
      "pranked AS (SELECT vec_id, cid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, cid ASC) AS pn " +
      "FROM dists), " +
      "probes AS (SELECT vec_id AS query_id, cid FROM pranked " +
      "WHERE pn <= 2 AND vec_id < 8), " +
      "scored AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
      s"${dotSql("qs.qe", "a.qe")} AS dot_q " +
      "FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id " +
      "JOIN base qs ON qs.vec_id = p.query_id), " +
      "r AS (SELECT query_id, neighbor_id, dot_q, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, " +
      "neighbor_id ASC) AS rk FROM scored) " +
      "SELECT query_id, CAST(rk AS BIGINT) AS \"rank\", neighbor_id, dot_q " +
      "FROM r WHERE rk <= 5 ORDER BY query_id, rk"

  /** [[graft.streaming.StreamKnn.knnStream]] in batch mode: bucket
    * candidates (queries share a sign-LSH band bucket with corpus
    * vectors — including themselves), exact quantized cosine, rank by
    * the stated (cos desc, id asc) total order, top 5. The window
    * restates the operator's row-local array_sort + slice. */
  private val simKnnStreamSql: String =
    s"WITH $quantCte, ${signBandsCte(4, 4)}, " +
      "qb AS (SELECT * FROM bands WHERE vec_id < 8), " +
      "cand AS (SELECT DISTINCT q.vec_id AS query_id, " +
      "b.vec_id AS neighbor_id FROM qb q JOIN bands b " +
      "ON q.band = b.band AND q.bucket = b.bucket), " +
      "sc AS (SELECT c.query_id, c.neighbor_id, " +
      s"${cosPpmSql(dotSql("x.qe", "y.qe"), "x.n", "y.n")} AS cos_ppm " +
      "FROM cand c JOIN base x ON x.vec_id = c.query_id " +
      "JOIN base y ON y.vec_id = c.neighbor_id), " +
      "r AS (SELECT query_id, neighbor_id, cos_ppm, " +
      "CAST(row_number() OVER (PARTITION BY query_id " +
      "ORDER BY cos_ppm DESC, neighbor_id ASC) AS BIGINT) AS rank " +
      "FROM sc) " +
      "SELECT query_id, rank, neighbor_id, cos_ppm FROM r " +
      "WHERE rank <= 5 ORDER BY query_id, rank"

  /** [[Dedup.embedBlockerRecall]] (r9): the vector-side blocker eval
    * — sign-LSH band candidates and same-k-means-cell (IVF partition)
    * candidates, each restricted to sampled ends, against EXACT
    * quantized-cosine ≥ 400000 ppm truth over all pairs of the salted
    * vector sample. Reuses the kmeans CTE chain (a3 = final
    * assignment, the dd_kmeans oracle), the sign-bands CTE
    * (dd_embed_neardup) and [[blockerCountSelect]]; pair columns are
    * aliased doc_a/doc_b so the shared count select applies
    * unchanged. lazy: kmeansCtes helpers are declared later. */
  private lazy val ddEmbedBlockerRecallSql: String = {
    // auto-sized pct (r11): Dedup.autoSamplePct(|base|, 250) as a
    // scalar subquery — 50% at the N=500 gate corpus, dialing down
    // as the corpus grows to hold the all-pairs truth ~250²
    def vsamp(c: String): String =
      s"${PH.h31Sql(s"'recall:' || CAST($c AS VARCHAR)")} % 100 " +
        "< (SELECT pct FROM vpct)"
    s"WITH ${kmeansCtes("8", 2)}, ${signBandsCte(4, 4)}, " +
      "vpct AS (SELECT greatest(1, least(100, " +
      "CAST(CEIL(100.0 * 250 / greatest(count(*), 1)) AS BIGINT))) AS pct " +
      "FROM base), " +
      "truth AS MATERIALIZED (SELECT x.vec_id AS doc_a, " +
      "y.vec_id AS doc_b FROM base x JOIN base y ON x.vec_id < y.vec_id " +
      s"WHERE ${vsamp("x.vec_id")} AND ${vsamp("y.vec_id")} " +
      s"AND ${cosPpmSql(dotSql("x.qe", "y.qe"), "x.n", "y.n")} >= 400000), " +
      "sc AS MATERIALIZED (SELECT DISTINCT a.vec_id AS doc_a, " +
      "b.vec_id AS doc_b FROM bands a JOIN bands b " +
      "ON a.band = b.band AND a.bucket = b.bucket " +
      "AND a.vec_id < b.vec_id " +
      s"WHERE ${vsamp("a.vec_id")} AND ${vsamp("b.vec_id")}), " +
      "ic AS MATERIALIZED (SELECT x.vec_id AS doc_a, y.vec_id AS doc_b " +
      "FROM a3 x JOIN a3 y ON x.cid = y.cid AND x.vec_id < y.vec_id " +
      s"WHERE ${vsamp("x.vec_id")} AND ${vsamp("y.vec_id")}) " +
      s"SELECT * FROM (${blockerCountSelect("ivf", "ic")} " +
      s"UNION ALL ${blockerCountSelect("signlsh", "sc")}) " +
      "ORDER BY blocker"
  }

  /** lag() inter-event gaps: DuckDB's window semantics match Spark's
    * exactly for a total-ordered frame; `//` floors like `div`. */
  /** Word-familiarity: df = distinct-doc count per token, CUT to
    * df ≥ minDf (the broadcastable-vocabulary contract — out-of-table
    * words contribute df = 1 to the mean, exactly like the operator);
    * corpus size = docs contributing tokens; ratios are single
    * divisions of exact integers (sums < 2^53 at oracle SF). */
  private val txWordFamiliaritySql: String =
    "WITH ws AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
      "FROM documents), " +
      "tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf " +
      "FROM ws GROUP BY 1, 2), " +
      "df AS (SELECT w, CAST(count(*) AS BIGINT) AS df " +
      "FROM tf GROUP BY w HAVING count(*) >= 3), " +
      "nd AS (SELECT count(DISTINCT doc_id) AS n FROM ws), " +
      "j AS (SELECT tf.doc_id, tf.tf, df.df FROM tf LEFT JOIN df USING (w)) " +
      "SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens, " +
      "CAST(FLOOR(1000000.0 * sum(CASE WHEN df IS NOT NULL THEN tf ELSE 0 END) " +
      "/ sum(tf)) AS BIGINT) AS familiar_ppm, " +
      "CAST(FLOOR((1000000.0 * CAST(sum(tf * COALESCE(df, 1)) AS BIGINT)) " +
      "/ (sum(tf) * (SELECT n FROM nd))) AS BIGINT) AS mean_df_ppm " +
      "FROM j GROUP BY doc_id ORDER BY doc_id"

  /** Paragraph-granular dedup: 16-word positional blocks, md5 content
    * key, dup = an earlier doc holds identical content. `range` is
    * end-exclusive (hence the +2 vs Spark's inclusive sequence +1);
    * DuckDB md5() and Spark md5() agree on lowercase hex. */
  private val ddParagraphSql: String = {
    val pw = 16
    s"WITH ws AS ($wordsCte), " +
      "s AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 0) + 2, " +
      s"$pw)) AS start FROM ws), " +
      s"p AS (SELECT doc_id, md5(array_to_string(w[start:start + ${pw - 1}], ' ')) " +
      "AS ph FROM s), " +
      "c AS (SELECT ph, min(doc_id) AS min_doc FROM p GROUP BY 1), " +
      "j AS (SELECT p.doc_id, CASE WHEN c.min_doc < p.doc_id THEN 1 ELSE 0 END " +
      "AS dup FROM p JOIN c USING (ph)) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_par, " +
      "CAST(sum(dup) AS BIGINT) AS n_dup, " +
      "CAST(FLOOR(1000000.0 * sum(dup) / count(*)) AS BIGINT) AS dup_ppm " +
      "FROM j GROUP BY doc_id ORDER BY doc_id"
  }

  /** URL normalization over the derived deterministic URL column (the
    * corpus carries no URLs; the derivation embeds mixed case, utm_*
    * tracking params, a fragment, ccTLD suffixes, userinfo, a port
    * and dotless hosts so every normalization rule fires). Shares the
    * Spark side's regex subset AND its [[TextAnalysis.publicSuffixes]]
    * table — the suffix CASE below is generated from the same Seq the
    * operator compiles into its plan, so the two engines cannot state
    * different registries. */
  private val txUrlExtractSql: String = {
    val url = "'HTTPS://' || " +
      "CASE WHEN doc_id % 11 = 0 THEN 'crawler:pw@' ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 4 THEN 'IntraNet' || CAST(doc_id % 3 AS VARCHAR) " +
      "ELSE 'Sub' || CAST(doc_id % 3 AS VARCHAR) || '.Example' || " +
      "CAST(doc_id % 7 AS VARCHAR) || " +
      "CASE WHEN doc_id % 5 = 0 THEN '.COM' WHEN doc_id % 5 = 1 THEN '.co.UK' " +
      "WHEN doc_id % 5 = 2 THEN '.com.AU' ELSE '.ORG' END END || " +
      "CASE WHEN doc_id % 4 = 0 THEN ':8080' ELSE '' END || " +
      "'/p/' || CAST(doc_id AS VARCHAR) || " +
      "'?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=x' || " +
      "CASE WHEN doc_id % 2 = 0 THEN '&ref=home' ELSE '' END || '#frag'"
    val onSuffix = TextAnalysis.publicSuffixes
      .map(sfx => s"ends_with(host, '.$sfx')").mkString(" OR ")
    s"WITH u AS (SELECT doc_id, $url AS url FROM documents), " +
      "a AS (SELECT doc_id, " +
      "lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme, " +
      "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) AS authority, " +
      "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path, " +
      "array_to_string(list_filter(string_split(" +
      "regexp_extract(url, '\\?([^#]*)', 1), '&'), " +
      "p -> NOT starts_with(p, 'utm_') AND p <> ''), '&') AS kept FROM u), " +
      "parts AS (SELECT doc_id, scheme, path, kept, " +
      "lower(regexp_replace(regexp_replace(authority, '^[^@/]*@', ''), " +
      "':[0-9]+$', '')) AS host, " +
      "regexp_extract(authority, ':([0-9]+)$', 1) AS port FROM a) " +
      "SELECT doc_id, host, port, " +
      s"CASE WHEN $onSuffix " +
      "THEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1) " +
      "WHEN contains(host, '.') THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) " +
      "ELSE host END AS domain, " +
      "path, scheme || '://' || host || " +
      "CASE WHEN length(port) > 0 THEN ':' || port ELSE '' END || path || " +
      "CASE WHEN length(kept) > 0 THEN '?' || kept ELSE '' END AS norm_url " +
      "FROM parts ORDER BY doc_id"
  }

  /** Temperature resampling: rates derived from lang counts with the
    * pinned α = 0.5 (√ is the bit-portable power), then the salted-
    * hash keep rule. */
  private val txSampleTempSql: String = {
    val u = PH.h31Sql("'temp:' || CAST(doc_id AS VARCHAR)")
    "WITH c AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1), " +
      "mn AS (SELECT min(n_l) AS n_min FROM c), " +
      "r AS (SELECT d.doc_id, d.lang, " +
      "CAST(FLOOR(1000000.0 * sqrt(CAST((SELECT n_min FROM mn) AS DOUBLE) / n_l)) " +
      "AS BIGINT) AS rate_ppm FROM documents d JOIN c USING (lang)) " +
      s"SELECT doc_id, lang, rate_ppm FROM r WHERE ($u % 1000000) < rate_ppm " +
      "ORDER BY doc_id"
  }

  /** Fertility: the full BPE oracle chain reused verbatim as a CTE,
    * joined to a word count. Lazy: txBpeSql is declared further down
    * the file (strict init order would capture null). */
  private lazy val txFertilitySql: String =
    "WITH b AS (" + txBpeSql + "), " +
      "wc AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) " +
      "AS n_words FROM documents) " +
      "SELECT b.doc_id, wc.n_words, b.n_bpe_tokens, " +
      "CAST(FLOOR(1000000.0 * b.n_bpe_tokens / greatest(wc.n_words, 1)) " +
      "AS BIGINT) AS fertility_ppm " +
      "FROM b JOIN wc ON wc.doc_id = b.doc_id ORDER BY b.doc_id"

  /** Exact top-k term occurrences — the oracle for the MG sketch
    * query, valid because the corpus vocabulary fits the sketch. */
  private val txTopTermsSketchSql: String =
    "SELECT w AS term, CAST(count(*) AS BIGINT) AS n " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) " +
      "GROUP BY w ORDER BY n DESC, term LIMIT 25"

  private val relUserGapsSql: String =
    "WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn FROM events), " +
      "g AS (SELECT user_id, (tsn - lag(tsn) OVER " +
      "(PARTITION BY user_id ORDER BY tsn, event_id)) // 1000000000 AS gap_s " +
      "FROM ev) " +
      "SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps, " +
      "min(gap_s) AS min_gap_s, max(gap_s) AS max_gap_s, " +
      "CAST(sum(gap_s) AS BIGINT) AS sum_gap_s " +
      "FROM g WHERE gap_s IS NOT NULL GROUP BY user_id ORDER BY user_id"

  private val ddEmbedNearDupSql: String =
    s"WITH $quantCte, ${signBandsCte(4, 4)}, " +
      "pairs AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b " +
      "FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket " +
      "AND a.vec_id < b.vec_id), " +
      "c AS (SELECT p.vec_a, p.vec_b, " +
      s"${cosPpmSql(dotSql("x.qe", "y.qe"), "x.n", "y.n")} AS cos_ppm " +
      "FROM pairs p JOIN base x ON x.vec_id = p.vec_a " +
      "JOIN base y ON y.vec_id = p.vec_b) " +
      "SELECT vec_a, vec_b, cos_ppm FROM c WHERE cos_ppm >= 400000 " +
      "ORDER BY vec_a, vec_b"

  /** Embedding-side incremental ingest: batch (vec_id % 10 = 7) bands
    * probe corpus bands, exact cosine verify, per-batch-vector
    * (n_matches, admit). */
  private val ddEmbedIncrementalSql: String =
    s"WITH $quantCte, ${signBandsCte(4, 4)}, " +
      "nb AS (SELECT * FROM bands WHERE vec_id % 10 = 7), " +
      "ob AS (SELECT * FROM bands WHERE vec_id % 10 <> 7), " +
      "cand AS (SELECT DISTINCT nb.vec_id AS vec_new, ob.vec_id AS vec_old " +
      "FROM nb JOIN ob ON nb.band = ob.band AND nb.bucket = ob.bucket), " +
      "m AS (SELECT c.vec_new, CAST(count(*) AS BIGINT) AS nm FROM cand c " +
      "JOIN base x ON x.vec_id = c.vec_new " +
      "JOIN base y ON y.vec_id = c.vec_old " +
      s"WHERE ${cosPpmSql(dotSql("x.qe", "y.qe"), "x.n", "y.n")} >= 400000 " +
      "GROUP BY 1) " +
      "SELECT b.vec_id, COALESCE(m.nm, 0) AS n_matches, " +
      "CAST(CASE WHEN m.vec_new IS NULL THEN 1 ELSE 0 END AS BIGINT) AS admit " +
      "FROM (SELECT vec_id FROM base WHERE vec_id % 10 = 7) b " +
      "LEFT JOIN m ON m.vec_new = b.vec_id ORDER BY b.vec_id"

  /** Unrolled deterministic Lloyd k-means CTE chain (the oracle of
    * Cluster.kmeansFull): c0 = seed centroids, then per round i:
    * d_i (distances) → a_i (argmin assign) → m_i (floor-mean per
    * (cid, pos)) → c_i (updated centroids; empty cluster keeps the
    * old one). Ends with the final assignment a{iters+1}. `k` is a
    * SQL expression — a literal for the pinned queries, a scalar
    * subquery over `base` for the √N auto path (k only ever appears
    * in the seed predicate, so the chain is otherwise k-independent). */
  private def kmeansCtes(k: String, iters: Int): String = {
    val sb = new StringBuilder(
      s"$quantCte, c0 AS (SELECT vec_id AS cid, qe AS ce, n AS cn " +
        s"FROM base WHERE vec_id < $k)")
    def round(i: Int, from: String, assignOnly: Boolean): Unit = {
      sb.append(s", d$i AS (SELECT b.vec_id, b.qe, b.n, c.cid, " +
        s"(b.n + c.cn - 2 * ${dotSql("b.qe", "c.ce")}) AS dist " +
        s"FROM base b CROSS JOIN $from c)")
      sb.append(s", a$i AS (SELECT vec_id, qe, n, cid FROM " +
        s"(SELECT vec_id, qe, n, cid, row_number() OVER " +
        s"(PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM d$i) " +
        "WHERE rn = 1)")
      if (!assignOnly) {
        sb.append(s", s$i AS (SELECT cid, generate_subscripts(qe, 1) AS pos, " +
          s"unnest(qe) AS v FROM a$i)")
        sb.append(s", m$i AS (SELECT cid, pos, " +
          "CAST(FLOOR(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cv " +
          s"FROM s$i GROUP BY 1, 2)")
        sb.append(s", u$i AS (SELECT cid, list(cv ORDER BY pos) AS ce " +
          s"FROM m$i GROUP BY 1)")
        sb.append(s", c$i AS (SELECT p.cid, COALESCE(u.ce, p.ce) AS ce, " +
          s"CAST(${dotSql("COALESCE(u.ce, p.ce)", "COALESCE(u.ce, p.ce)")} AS BIGINT) AS cn " +
          s"FROM c${i - 1} p LEFT JOIN u$i u ON u.cid = p.cid)")
      }
    }
    (1 to iters).foreach(i => round(i, s"c${i - 1}", assignOnly = false))
    round(iters + 1, s"c$iters", assignOnly = true)
    sb.toString
  }

  /** k = max(8, floor(√N)) over the usable base — the scalar-subquery
    * twin of Cluster.semDedupAuto's driver-side computation. */
  private val sqrtKSql: String =
    "(SELECT greatest(8, CAST(FLOOR(sqrt(count(*))) AS BIGINT)) FROM base)"

  private val ddKmeansSql: String =
    s"WITH ${kmeansCtes("8", 2)} " +
      "SELECT vec_id, cid FROM a3 ORDER BY vec_id"

  /** [[graft.operators.Cluster.clusterSample]]: the final assignment
    * CTE + one per-cid salted-hash rank ≤ 20. */
  private val simClusterSampleSql: String =
    s"WITH ${kmeansCtes("8", 2)}, " +
      "r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY cid " +
      s"ORDER BY ${PH.h31Sql("'cs:' || CAST(vec_id AS VARCHAR)")} ASC, " +
      "vec_id ASC) AS rn FROM a3) " +
      "SELECT vec_id, cid, CAST(rn AS BIGINT) AS pick FROM r " +
      "WHERE rn <= 20 ORDER BY vec_id"

  private def semdedupTail(kmeans: String): String =
    s"WITH $kmeans, " +
      "pp AS (SELECT y.vec_id AS vec_b, " +
      s"${cosPpmSql(dotSql("x.qe", "y.qe"), "x.n", "y.n")} AS cos_ppm " +
      "FROM a3 x JOIN a3 y ON x.cid = y.cid AND x.vec_id < y.vec_id), " +
      "losers AS (SELECT DISTINCT vec_b FROM pp WHERE cos_ppm >= 450000) " +
      "SELECT a.vec_id, a.cid, " +
      "CAST(CASE WHEN l.vec_b IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept " +
      "FROM a3 a LEFT JOIN losers l ON l.vec_b = a.vec_id ORDER BY a.vec_id"

  private val ddSemdedupSql: String = semdedupTail(kmeansCtes("8", 2))

  private val ddSemdedupAutoSql: String =
    semdedupTail(kmeansCtes(sqrtKSql, 2))

  /** Embedding-space outliers: the kmeans chain's final distance
    * table (d3) re-used — per vec the (dist, cid)-argmin row keeps
    * its distance, then percent_rank within the cluster (ties broken
    * by vec_id, matching the operator's window). */
  private val ddOutliersSql: String =
    s"WITH ${kmeansCtes("8", 2)}, " +
      "ad AS (SELECT vec_id, cid, dist FROM " +
      "(SELECT vec_id, cid, dist, row_number() OVER " +
      "(PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn FROM d3) " +
      "WHERE rn = 1), " +
      "r AS (SELECT vec_id, cid, dist, percent_rank() OVER " +
      "(PARTITION BY cid ORDER BY dist ASC, vec_id ASC) AS pr FROM ad) " +
      "SELECT vec_id, cid, CAST(dist AS BIGINT) AS dist, " +
      "CAST(CASE WHEN pr > 0.9 THEN 1 ELSE 0 END AS BIGINT) AS outlier " +
      "FROM r ORDER BY vec_id"

  // ---------------------------------------------------------------
  // similarity search
  // ---------------------------------------------------------------

  private val simKnnBruteSql: String =
    s"WITH $quantCte, " +
      "scored AS (SELECT qs.vec_id AS query_id, b.vec_id AS neighbor_id, " +
      s"${cosPpmSql(dotSql("qs.qe", "b.qe"), "qs.n", "b.n")} AS cos_ppm " +
      "FROM base qs JOIN base b ON b.vec_id <> qs.vec_id WHERE qs.vec_id < 8), " +
      "r AS (SELECT query_id, neighbor_id, cos_ppm, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, " +
      "neighbor_id ASC) AS rk FROM scored) " +
      "SELECT query_id, CAST(rk AS BIGINT) AS \"rank\", neighbor_id, cos_ppm " +
      "FROM r WHERE rk <= 5 ORDER BY query_id, rk"

  /** [[graft.operators.Similarity.hardNegatives]]: the brute-scored
    * chain with the hard band [250000, 400000) applied BEFORE the
    * per-anchor rank — the upper edge is exactly the embedding
    * dedup family's near-dup threshold. */
  private val simHardNegSql: String =
    s"WITH $quantCte, " +
      "scored AS (SELECT qs.vec_id AS query_id, b.vec_id AS neighbor_id, " +
      s"${cosPpmSql(dotSql("qs.qe", "b.qe"), "qs.n", "b.n")} AS cos_ppm " +
      "FROM base qs JOIN base b ON b.vec_id <> qs.vec_id WHERE qs.vec_id < 8), " +
      "r AS (SELECT query_id, neighbor_id, cos_ppm, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, " +
      "neighbor_id ASC) AS rk FROM scored " +
      "WHERE cos_ppm >= 250000 AND cos_ppm < 400000) " +
      "SELECT query_id, CAST(rk AS BIGINT) AS \"rank\", neighbor_id, cos_ppm " +
      "FROM r WHERE rk <= 5 ORDER BY query_id, rk"

  private val simKnnLshSql: String =
    s"WITH $quantCte, ${signBandsCte(4, 4)}, " +
      "cand AS (SELECT DISTINCT qb.vec_id AS query_id, vb.vec_id AS neighbor_id " +
      "FROM bands qb JOIN bands vb ON qb.band = vb.band AND qb.bucket = vb.bucket " +
      "AND vb.vec_id <> qb.vec_id WHERE qb.vec_id < 8), " +
      "scored AS (SELECT c.query_id, c.neighbor_id, " +
      s"${cosPpmSql(dotSql("qs.qe", "b.qe"), "qs.n", "b.n")} AS cos_ppm " +
      "FROM cand c JOIN base qs ON qs.vec_id = c.query_id " +
      "JOIN base b ON b.vec_id = c.neighbor_id), " +
      "r AS (SELECT query_id, neighbor_id, cos_ppm, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, " +
      "neighbor_id ASC) AS rk FROM scored) " +
      "SELECT query_id, CAST(rk AS BIGINT) AS \"rank\", neighbor_id, cos_ppm " +
      "FROM r WHERE rk <= 5 ORDER BY query_id, rk"

  private val simKnnIvfSql: String =
    s"WITH $quantCte, " +
      "cents AS (SELECT vec_id AS cid, qe AS ce, n AS cn FROM base WHERE vec_id < 8), " +
      "dists AS (SELECT b.vec_id, c.cid, b.qe, b.n, " +
      s"(b.n + c.cn - 2 * ${dotSql("b.qe", "c.ce")}) AS dist " +
      "FROM base b CROSS JOIN cents c), " +
      "ranked AS (SELECT vec_id, cid, qe, n, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn " +
      "FROM dists), " +
      "assign AS (SELECT vec_id, qe, n, cid FROM ranked WHERE rn = 1), " +
      "probes AS (SELECT vec_id AS query_id, cid FROM ranked " +
      "WHERE rn <= 2 AND vec_id < 8), " +
      "scored AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
      s"${cosPpmSql(dotSql("qs.qe", "a.qe"), "qs.n", "a.n")} AS cos_ppm " +
      "FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id " +
      "JOIN base qs ON qs.vec_id = p.query_id), " +
      "r AS (SELECT query_id, neighbor_id, cos_ppm, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, " +
      "neighbor_id ASC) AS rk FROM scored) " +
      "SELECT query_id, CAST(rk AS BIGINT) AS \"rank\", neighbor_id, cos_ppm " +
      "FROM r WHERE rk <= 5 ORDER BY query_id, rk"

  /** IVF-PQ: the coarse CTEs mirror [[simKnnIvfSql]]; the PQ side
    * slices every quantized vector into 8 sub-vectors (DuckDB lists
    * are 1-based, slices inclusive), addresses codebook entries by
    * SAMPLE vec_id, encodes by argmin of (‖c‖² − 2·x_m·c, c) — the
    * ‖x_m‖² term is constant within the argmin, exactly as the
    * operator ranks — and scores by summed exact-integer ADC table
    * entries. */
  private def simKnnIvfPqCore: String =
    s"WITH $quantCte, " +
      "cents AS (SELECT vec_id AS cid, qe AS ce, n AS cn FROM base WHERE vec_id < 8), " +
      "cd AS (SELECT b.vec_id, c.cid, " +
      s"(b.n + c.cn - 2 * ${dotSql("b.qe", "c.ce")}) AS dist " +
      "FROM base b CROSS JOIN cents c), " +
      "cr AS (SELECT vec_id, cid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn " +
      "FROM cd), " +
      "acid AS (SELECT vec_id, cid FROM cr WHERE rn = 1), " +
      "probes AS (SELECT vec_id AS query_id, cid FROM cr " +
      "WHERE rn <= 2 AND vec_id < 8), " +
      "sub AS (SELECT b.vec_id, r.range AS m, " +
      "b.qe[(r.range*8+1):(r.range*8+8)] AS sv FROM base b CROSS JOIN range(8) r), " +
      "cbk AS (SELECT vec_id AS c, m, sv AS cv FROM sub WHERE vec_id < 16), " +
      "ed AS (SELECT s.vec_id, s.m, k.c, " +
      s"(${dotSql("k.cv", "k.cv")} - 2 * ${dotSql("s.sv", "k.cv")}) AS dist " +
      "FROM sub s JOIN cbk k ON k.m = s.m), " +
      "er AS (SELECT vec_id, m, c, " +
      "row_number() OVER (PARTITION BY vec_id, m ORDER BY dist ASC, c ASC) AS rn " +
      "FROM ed), " +
      "codes AS (SELECT vec_id, m, c AS code FROM er WHERE rn = 1), " +
      "tq AS (SELECT q.vec_id AS query_id, k.m, k.c, " +
      s"${dotSql("q.sv", "k.cv")} AS t FROM sub q JOIN cbk k ON k.m = q.m " +
      "WHERE q.vec_id < 8), " +
      "adc AS (SELECT co.vec_id, t.query_id, CAST(SUM(t.t) AS BIGINT) AS adot " +
      "FROM codes co JOIN tq t ON t.m = co.m AND t.c = co.code " +
      "GROUP BY co.vec_id, t.query_id), " +
      "nrm AS (SELECT co.vec_id, " +
      s"CAST(SUM(${dotSql("k.cv", "k.cv")}) AS BIGINT) AS n2a " +
      "FROM codes co JOIN cbk k ON k.m = co.m AND k.c = co.code " +
      "GROUP BY co.vec_id), " +
      "scored AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
      "CAST(FLOOR((1000000.0 * adc.adot) / (sqrt(qb.n) * sqrt(nrm.n2a))) " +
      "AS BIGINT) AS cos_ppm " +
      "FROM acid a JOIN probes p ON p.cid = a.cid AND a.vec_id <> p.query_id " +
      "JOIN adc ON adc.vec_id = a.vec_id AND adc.query_id = p.query_id " +
      "JOIN nrm ON nrm.vec_id = a.vec_id " +
      "JOIN base qb ON qb.vec_id = p.query_id " +
      "WHERE nrm.n2a > 0), " +
      "r AS (SELECT query_id, neighbor_id, cos_ppm, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, " +
      "neighbor_id ASC) AS rk FROM scored)"

  private val simKnnIvfPqSql: String =
    simKnnIvfPqCore +
      " SELECT query_id, CAST(rk AS BIGINT) AS \"rank\", neighbor_id, cos_ppm " +
      "FROM r WHERE rk <= 5 ORDER BY query_id, rk"

  /** Two-stage retrieval: the PQ page (top-20 by ADC) re-scored with
    * the EXACT quantized cosine from the full-precision column. */
  private val simKnnIvfPqRerankSql: String =
    simKnnIvfPqCore +
      ", cand AS (SELECT query_id, neighbor_id FROM r WHERE rk <= 20), " +
      "rescored AS (SELECT c.query_id, c.neighbor_id, " +
      s"${cosPpmSql(dotSql("qs.qe", "b.qe"), "qs.n", "b.n")} AS cos_ppm " +
      "FROM cand c JOIN base b ON b.vec_id = c.neighbor_id " +
      "JOIN base qs ON qs.vec_id = c.query_id), " +
      "r2 AS (SELECT query_id, neighbor_id, cos_ppm, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, " +
      "neighbor_id ASC) AS rk FROM rescored) " +
      "SELECT query_id, CAST(rk AS BIGINT) AS \"rank\", neighbor_id, cos_ppm " +
      "FROM r2 WHERE rk <= 5 ORDER BY query_id, rk"

  // ---------------------------------------------------------------
  // text analysis
  // ---------------------------------------------------------------

  private val txTokensSql: String =
    "SELECT doc_id, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens, " +
      "CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha_tokens, " +
      "CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_tokens, " +
      "CAST(list_sum(list_transform(string_split(text, ' '), " +
      "w -> CAST(FLOOR((length(w) + 3) / 4) AS BIGINT))) AS BIGINT) AS n_subword_tokens " +
      "FROM documents ORDER BY doc_id"

  /** Quality-feature CTE chain ending in
    * g(doc_id, lang, n_tokens, mean_token_len_ppm, stopword_ratio_ppm,
    * quality_ppm) — the one source of truth for the quality formula,
    * shared by tx_quality and tx_quality_filter. */
  private val qualityGCte: String = {
    val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"t AS (SELECT doc_id, lang, string_split(text, ' ') AS w, " +
      "CAST(length(text) AS BIGINT) AS lc FROM documents), " +
      "f AS (SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens, " +
      "lc - (CAST(len(w) AS BIGINT) - 1) AS tok_chars, " +
      s"CAST(list_sum(list_transform(w, x -> CASE WHEN x IN ($stop) " +
      "THEN 1 ELSE 0 END)) AS BIGINT) AS n_stop FROM t), " +
      "g0 AS (SELECT doc_id, lang, n_tokens, " +
      "CAST(FLOOR(1000000.0 * tok_chars / greatest(n_tokens, 1)) AS BIGINT) AS mean_token_len_ppm, " +
      "CAST(FLOOR(1000000.0 * n_stop / greatest(n_tokens, 1)) AS BIGINT) AS stopword_ratio_ppm " +
      "FROM f), " +
      "g AS (SELECT doc_id, lang, n_tokens, mean_token_len_ppm, stopword_ratio_ppm, " +
      "CAST(1000000 - CAST(FLOOR(stopword_ratio_ppm / 2.0) AS BIGINT) - " +
      "(CASE WHEN n_tokens < 20 THEN 250000 ELSE 0 END) AS BIGINT) AS quality_ppm " +
      "FROM g0)"
  }

  private val txQualitySql: String =
    s"WITH $qualityGCte " +
      "SELECT doc_id, n_tokens, mean_token_len_ppm, stopword_ratio_ppm, " +
      "quality_ppm FROM g ORDER BY doc_id"

  /** 3×3 determinant, cofactor expansion along the first row — the
    * LITERAL formula [[graft.operators.TextAnalysis.qualityLpm]]'s
    * driver-side BigInt `det3` uses, so the two solves are
    * structurally the same expression. */
  private def det3Sql(a: Seq[String]): String = {
    val Seq(a00, a01, a02, a10, a11, a12, a20, a21, a22) = a
    s"($a00*($a11*$a22 - $a12*$a21) - $a01*($a10*$a22 - $a12*$a20) + " +
      s"$a02*($a10*$a21 - $a11*$a20))"
  }

  /** [[TextAnalysis.qualityLpm]]: the trained linear-probability
    * quality probe, re-fit ENTIRELY in SQL — sufficient statistics in
    * HUGEINT, the same sign-normalized Cramer solve, the same
    * floor-division ppm weight quantization (`//` with det > 0
    * ≡ BigInt floorDiv), the same degenerate/overflow guards via
    * error(). A fit bug on either side (wrong cofactor, missed sign,
    * truncate-vs-floor on a negative weight) fails the hash. */
  private val txQualityLpmCtes: String = {
    val aCols = Seq("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
    def rep(col: Int, b: Seq[String]): Seq[String] =
      aCols.zipWithIndex.map { case (c, i) =>
        if (i % 3 == col) b(i / 3) else c }
    val bCols = Seq("b0", "b1", "b2")
    s"$qualityGCte, " +
      "lp AS (SELECT doc_id, " +
      "CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y, " +
      "least(CAST(255 AS BIGINT), n_tokens // 4) AS x1, " +
      "least(CAST(255 AS BIGINT), stopword_ratio_ppm // 4096) AS x2 " +
      "FROM g), " +
      "st AS (SELECT CAST(count(*) AS HUGEINT) AS n, " +
      "CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2, " +
      "CAST(sum(x1*x1) AS HUGEINT) AS s11, " +
      "CAST(sum(x1*x2) AS HUGEINT) AS s12, " +
      "CAST(sum(x2*x2) AS HUGEINT) AS s22, " +
      "CAST(sum(y) AS HUGEINT) AS b0, " +
      "CAST(sum(x1*y) AS HUGEINT) AS b1, " +
      "CAST(sum(x2*y) AS HUGEINT) AS b2 FROM lp), " +
      s"dets AS (SELECT ${det3Sql(aCols)} AS d0, " +
      s"${det3Sql(rep(0, bCols))} AS wn0, " +
      s"${det3Sql(rep(1, bCols))} AS wn1, " +
      s"${det3Sql(rep(2, bCols))} AS wn2 FROM st), " +
      "wt AS (SELECT CASE WHEN d0 = 0 THEN " +
      "CAST(error('qualityLpm: degenerate feature matrix (constant " +
      "features) - fit has no unique solution') AS HUGEINT) " +
      "WHEN abs(CAST(wn0 AS DOUBLE)) * 1e6 >= 1e38 " +
      "OR abs(CAST(wn1 AS DOUBLE)) * 1e6 >= 1e38 " +
      "OR abs(CAST(wn2 AS DOUBLE)) * 1e6 >= 1e38 " +
      "OR abs(CAST(d0 AS DOUBLE)) >= 1e38 THEN " +
      "CAST(error('qualityLpm: sufficient statistics exceed the " +
      "exact HUGEINT Cramer bound - subsample the fit (a quality " +
      "probe trains on a sample anyway)') AS HUGEINT) " +
      "ELSE d0 * CASE WHEN d0 < 0 THEN -1 ELSE 1 END END AS det, " +
      "wn0 * CASE WHEN d0 < 0 THEN -1 ELSE 1 END AS n0, " +
      "wn1 * CASE WHEN d0 < 0 THEN -1 ELSE 1 END AS n1, " +
      "wn2 * CASE WHEN d0 < 0 THEN -1 ELSE 1 END AS n2 FROM dets), " +
      // FLOOR division with det > 0: DuckDB's `//` TRUNCATES toward
      // zero on negatives (measured: (-7)//2 = -3), so a negative
      // weight numerator needs the nonneg-remainder form to match the
      // driver's BigInt floorDiv exactly
      "w AS (SELECT " +
      Seq("n0", "n1", "n2").zipWithIndex.map { case (ni, i) =>
        s"(($ni * 1000000) - ((($ni * 1000000) % det) + det) % det) " +
          s"// det AS w$i"
      }.mkString(", ") + " FROM wt), " +
      "scored AS (SELECT lp.doc_id, lp.y, lp.x1, lp.x2, " +
      "CAST(w.w0 + w.w1 * lp.x1 + w.w2 * lp.x2 AS BIGINT) AS score_ppm " +
      "FROM lp CROSS JOIN w)"
  }

  private val txQualityLpmSql: String =
    s"WITH $txQualityLpmCtes " +
      "SELECT doc_id, y, x1, x2, score_ppm, " +
      "CAST(CASE WHEN score_ppm >= 500000 THEN 1 ELSE 0 END AS BIGINT) " +
      "AS predicted FROM scored ORDER BY doc_id"

  private val txQualityLpmEvalSql: String =
    s"WITH $txQualityLpmCtes, " +
      "p AS (SELECT y, CASE WHEN score_ppm >= 500000 THEN 1 ELSE 0 END " +
      "AS predicted FROM scored) " +
      "SELECT CAST(sum(CASE WHEN y = 1 AND predicted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
      "CAST(sum(CASE WHEN y = 0 AND predicted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
      "CAST(sum(CASE WHEN y = 1 AND predicted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn, " +
      "CAST(sum(CASE WHEN y = 0 AND predicted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn, " +
      "CAST((sum(CASE WHEN y = predicted THEN 1 ELSE 0 END) * 1000000) " +
      "// count(*) AS BIGINT) AS accuracy_ppm FROM p"

  private val txQualityFilterSql: String =
    s"WITH $qualityGCte, " +
      "r AS (SELECT doc_id, lang, quality_ppm, " +
      "row_number() OVER (PARTITION BY lang ORDER BY quality_ppm ASC, doc_id ASC) AS rn, " +
      "count(*) OVER (PARTITION BY lang) AS n FROM g), " +
      "p AS (SELECT doc_id, lang, quality_ppm, " +
      "CAST(FLOOR(1000000.0 * (rn - 1) / greatest(n - 1, 1)) AS BIGINT) AS pct_rank_ppm " +
      "FROM r) " +
      "SELECT doc_id, lang, quality_ppm, pct_rank_ppm FROM p " +
      "WHERE pct_rank_ppm >= 200000 ORDER BY doc_id"

  private val txSampleMixSql: String = {
    val u = PH.h31Sql("'mix:' || CAST(doc_id AS VARCHAR)") + " % 1000000"
    s"SELECT doc_id, lang, $u AS u_ppm, " +
      "CAST(CASE WHEN lang = 'en' THEN 400000 WHEN lang = 'de' THEN 800000 " +
      "ELSE 1000000 END AS BIGINT) AS rate_ppm FROM documents " +
      s"WHERE $u < CASE WHEN lang = 'en' THEN 400000 " +
      "WHEN lang = 'de' THEN 800000 ELSE 1000000 END ORDER BY doc_id"
  }

  /** Derived deterministic HTML-wrapped input (the corpus is plain
    * text): tag structure varies with doc_id so tag counts are
    * non-constant. */
  private val htmlInputSql =
    "SELECT doc_id, '<html><body class=\"c' || CAST(doc_id % 7 AS VARCHAR) || " +
      "'\"><p>' || text || '</p>' || " +
      "(CASE WHEN doc_id % 2 = 0 THEN '<br/><div>footer boilerplate</div>' " +
      "ELSE '' END) || '</body></html>' AS html FROM documents"

  private val txHtmlStripSql: String =
    s"WITH inp AS ($htmlInputSql) SELECT doc_id, " +
      "CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags, " +
      "trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' ', 'g'), " +
      "' +', ' ', 'g')) AS stripped FROM inp ORDER BY doc_id"

  private val txTfidfSql: String =
    s"WITH ws AS ($wordsCte), " +
      "t AS (SELECT doc_id, unnest(w) AS term FROM ws), " +
      "tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2), " +
      "dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
      "n AS (SELECT count(*) AS n FROM documents), " +
      "s AS (SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, " +
      "CAST(FLOOR(1000000.0 * n.n / df) AS BIGINT) AS idf_ppm " +
      "FROM tf JOIN dfq USING (term) CROSS JOIN n), " +
      "sc AS (SELECT doc_id, term, tf, idf_ppm, tf * idf_ppm AS tfidf, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY tf * idf_ppm DESC, " +
      "term ASC) AS rk FROM s) " +
      "SELECT doc_id, CAST(rk AS BIGINT) AS \"rank\", term, tf, idf_ppm, " +
      "CAST(tfidf AS BIGINT) AS tfidf FROM sc WHERE rk <= 3 " +
      "ORDER BY doc_id, rk"

  /** Shared CTE chain: fit the per-language trigram profiles and
    * pick each doc's best-scoring language ([[txLangIdSql]] emits it
    * directly; [[txLangidConfusionSql]] aggregates it against the
    * stored label). */
  private val langIdCtes: String = {
    val trigrams = "list_distinct(list_filter(list_transform(" +
      "range(1, greatest(length(text) - 2, 1) + 1), i -> substr(text, i, 3)), " +
      "g -> length(g) = 3))"
    s"WITH tg AS (SELECT doc_id, lang, unnest($trigrams) AS tg FROM documents), " +
      "counts AS (SELECT lang, tg, count(*) AS c FROM tg GROUP BY 1, 2), " +
      "prof AS (SELECT lang AS plang, tg FROM (SELECT lang, tg, " +
      "row_number() OVER (PARTITION BY lang ORDER BY c DESC, tg ASC) AS r " +
      "FROM counts) WHERE r <= 20), " +
      "sc AS (SELECT d.doc_id, p.plang, count(*) AS score " +
      "FROM (SELECT doc_id, tg FROM tg) d JOIN prof p ON p.tg = d.tg GROUP BY 1, 2), " +
      "best AS (SELECT doc_id, plang, score, row_number() OVER " +
      "(PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS r FROM sc)"
  }

  private val txLangIdSql: String =
    s"$langIdCtes " +
      "SELECT doc_id, plang AS pred_lang, score FROM best WHERE r = 1 " +
      "ORDER BY doc_id"

  /** [[TextAnalysis.langIdConfusion]]: the same fit+argmax chain,
    * aggregated against the stored label; row shares as integer ppm
    * of each true-language row total. */
  private val txLangidConfusionSql: String =
    s"$langIdCtes, " +
      "pred AS (SELECT doc_id, plang AS pred_lang FROM best WHERE r = 1), " +
      "cm AS (SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n " +
      "FROM documents d JOIN pred p ON d.doc_id = p.doc_id GROUP BY 1, 2), " +
      "tot AS (SELECT true_lang, SUM(n) AS tn FROM cm GROUP BY 1) " +
      "SELECT cm.true_lang, cm.pred_lang, CAST(cm.n AS BIGINT) AS n, " +
      "CAST((cm.n * 1000000) // tot.tn AS BIGINT) AS row_ppm, " +
      "CAST(CASE WHEN cm.true_lang = cm.pred_lang THEN 1 ELSE 0 END " +
      "AS BIGINT) AS is_correct " +
      "FROM cm JOIN tot ON cm.true_lang = tot.true_lang " +
      "ORDER BY cm.true_lang, cm.pred_lang"

  private val txSplitSql: String = {
    val b = PH.h31Sql("'split:' || CAST(doc_id AS VARCHAR)") + " % 100"
    s"SELECT doc_id, $b AS bucket, " +
      s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' " +
      "ELSE 'test' END AS split FROM documents ORDER BY doc_id"
  }

  private val txPackSql: String =
    "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
      "CAST(FLOOR(COALESCE(sum(len(string_split(text, ' '))) OVER " +
      "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
      "/ 4096.0) AS BIGINT) AS shard_id " +
      "FROM documents ORDER BY doc_id"

  private val txPackByLangSql: String =
    "SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
      "CAST(FLOOR(COALESCE(sum(len(string_split(text, ' '))) OVER " +
      "(PARTITION BY lang ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
      "/ 4096.0) AS BIGINT) AS shard_id " +
      "FROM documents ORDER BY lang, doc_id"

  /** [[graft.operators.Assembly.packBestFit]]: doc-by-doc first-fit-
    * decreasing replayed with a recursive CTE over the item sequence
    * (bins carried as a remaining-capacity LIST; first fit =
    * list_position of the first bin with rem ≥ s) — deliberately the
    * NAIVE formulation, so the operator's run-batched simulation is
    * equivalence-checked by the hash, not shared. */
  private val txPackBestfitSql: String =
    "WITH RECURSIVE " +
      "t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n " +
      "FROM documents), " +
      "tp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(COALESCE(SUM(n), 0) AS BIGINT) AS tot FROM t WHERE n > 0), " +
      "ofull AS (SELECT CAST(COALESCE(SUM(n // 4096), 0) AS BIGINT) AS fs " +
      "FROM t WHERE n > 4096), " +
      "items AS (SELECT n AS s FROM t WHERE n > 0 AND n <= 4096 " +
      "UNION ALL SELECT n % 4096 FROM t WHERE n > 4096 AND n % 4096 > 0), " +
      "seq AS (SELECT s, row_number() OVER (ORDER BY s DESC) AS rn FROM items), " +
      "ffd(rn, bins) AS (" +
      "SELECT CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS bins " +
      "UNION ALL " +
      "SELECT rn + 1, " +
      "CASE WHEN idx = 0 THEN list_append(bins, 4096 - s) " +
      "ELSE list_concat(list_concat(" +
      "list_slice(bins, 1, idx - 1), [bins[idx] - s]), " +
      "list_slice(bins, idx + 1, len(bins))) END " +
      "FROM (SELECT f.rn, f.bins, s.s, " +
      "COALESCE(list_position(list_transform(f.bins, b -> b >= s.s), " +
      "true), 0) AS idx " +
      "FROM ffd f JOIN seq s ON s.rn = f.rn + 1)), " +
      "fin AS (SELECT bins FROM ffd " +
      "WHERE rn = (SELECT count(*) FROM seq)), " +
      "fsum AS (SELECT CAST(len(bins) + (SELECT fs FROM ofull) AS BIGINT) " +
      "AS n_shards, CAST(COALESCE(list_sum(bins), 0) AS BIGINT) AS pad, " +
      "CAST(COALESCE(list_max(bins), 0) AS BIGINT) AS maxpad FROM fin), " +
      "ssum AS (SELECT CAST((tot + 4095) // 4096 AS BIGINT) AS n_shards, " +
      "CAST((tot + 4095) // 4096 * 4096 - tot AS BIGINT) AS pad FROM tp), " +
      "u AS (SELECT 'bestfit_ffd' AS method, n_docs, tot AS total_tokens, " +
      "f.n_shards, f.pad AS pad_tokens, f.maxpad AS max_shard_pad " +
      "FROM fsum f, tp " +
      "UNION ALL SELECT 'stream_split', n_docs, tot, s.n_shards, s.pad, " +
      "s.pad FROM ssum s, tp) " +
      "SELECT method, CAST(4096 AS BIGINT) AS capacity, n_docs, " +
      "total_tokens, n_shards, pad_tokens, " +
      "CAST(CASE WHEN n_shards = 0 THEN 0 " +
      "ELSE (1000000 * pad_tokens) // (n_shards * 4096) END AS BIGINT) " +
      "AS waste_ppm, max_shard_pad FROM u ORDER BY method"

  private val txRepetitionSql: String =
    s"WITH ws AS ($wordsCte), " +
      s"g AS (SELECT doc_id, unnest(${shingleListAll(2)}) AS g FROM ws), " +
      "c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2) " +
      "SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, " +
      "CAST(max(c) AS BIGINT) AS top_n, " +
      "CAST(FLOOR(1000000.0 * max(c) / sum(c)) AS BIGINT) AS top_ratio_ppm, " +
      "CAST(FLOOR(1000000.0 * count(*) / sum(c)) AS BIGINT) AS distinct_ratio_ppm " +
      "FROM c GROUP BY doc_id ORDER BY doc_id"

  /** Email/phone regexes: the subset with identical semantics in Java
    * regex (Spark) and RE2 (DuckDB). Kept as one source of truth for
    * both the operator and this oracle. */
  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\+1-[0-9]{3}-[0-9]{4}"

  /** Derived deterministic contact-bearing input (the corpus itself
    * carries no PII): a synthetic email for doc_id % 3 != 0 and a
    * synthetic phone for even doc_id, appended to the text. */
  private val piiInputSql =
    "SELECT doc_id, text || " +
      "(CASE WHEN doc_id % 3 != 0 THEN ' contact user' || " +
      "CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END) || " +
      "(CASE WHEN doc_id % 2 = 0 THEN ' call +1-555-' || " +
      "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END) " +
      "AS contact_text FROM documents"

  private val txPiiScrubSql: String =
    s"WITH inp AS ($piiInputSql) SELECT doc_id, " +
      s"CAST(len(regexp_extract_all(contact_text, '$emailRe')) AS BIGINT) AS n_emails, " +
      s"CAST(len(regexp_extract_all(contact_text, '$phoneRe')) AS BIGINT) AS n_phones, " +
      s"regexp_replace(regexp_replace(contact_text, '$emailRe', '<EMAIL>', 'g'), " +
      s"'$phoneRe', '<PHONE>', 'g') AS scrubbed " +
      "FROM inp ORDER BY doc_id"

  /** [[TextAnalysis.winnow]]: the identical window walk — positional
    * gram hashes, rightmost-min selection (list_max over the argmin
    * positions), distinct pairs, Σ fp·pos checksum. Spark's
    * sequence(a, b) is INCLUSIVE, DuckDB's range(a, b) EXCLUSIVE —
    * hence the +1/+4 asymmetry; both slices clamp at list end. */
  /** [[TextAnalysis.ngramNovelty]]: same first-seen attribution —
    * gram-keyed min, join back, per-doc rollup, integer ppm. */
  private val txNoveltySql: String =
    s"WITH ${shinglesCte(3)}, " +
      "f AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY 1) " +
      "SELECT s.doc_id, COUNT(*) AS n_grams, " +
      "CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_novel, " +
      "CAST((SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) " +
      "* 1000000) // COUNT(*) AS BIGINT) AS novelty_ppm " +
      "FROM sh s JOIN f ON s.sh = f.sh GROUP BY s.doc_id " +
      "ORDER BY s.doc_id"

  /** Shared winnowing-selection CTE chain ([[txWinnowSql]] aggregates
    * it per doc; [[ddWinnowPairsSql]] joins fingerprints across
    * docs). */
  private val winnowCtes: String =
    s"WITH ws AS ($wordsCte), " +
      s"gl AS (SELECT doc_id, ${shingleListAll(3)} AS gs FROM ws), " +
      s"hl AS (SELECT doc_id, list_transform(gs, g -> ${PH.h31Sql("g")}) " +
      "AS hv FROM gl), " +
      "sel AS (SELECT doc_id, hv, list_filter(list_distinct(" +
      "list_transform(range(1, greatest(len(hv) - 3, 1) + 1), i -> " +
      "list_max(list_filter(range(i, i + 4), " +
      "j -> hv[j] = list_min(hv[i:i+3]))) " +
      "* 2147483648 + list_min(hv[i:i+3]))), " +
      "p -> p IS NOT NULL) AS sel FROM hl)"

  private val txWinnowSql: String =
    s"$winnowCtes " +
      "SELECT doc_id, CAST(len(hv) AS BIGINT) AS n_grams, " +
      "CAST(len(sel) AS BIGINT) AS n_fp, " +
      "CAST(COALESCE(list_sum(list_transform(sel, " +
      "p -> (p % 2147483648) * (p // 2147483648))), 0) " +
      "AS BIGINT) AS checksum, " +
      "CAST(COALESCE(list_min(list_transform(sel, " +
      "p -> p % 2147483648)), -1) AS BIGINT) AS min_fp, " +
      "CAST(COALESCE(list_max(list_transform(sel, " +
      "p -> p % 2147483648)), -1) AS BIGINT) AS max_fp " +
      "FROM sel ORDER BY doc_id"

  /** [[Dedup.winnowPairs]]: the same selection CTEs, fingerprints
    * unnested per doc, >50-doc buckets dropped whole, fp-keyed
    * self-join, shared-count filter. */
  private val ddWinnowPairsSql: String =
    s"$winnowCtes, " +
      "fps AS (SELECT doc_id, unnest(list_distinct(list_transform(sel, " +
      "p -> p % 2147483648))) AS fp FROM sel), " +
      "cb AS (SELECT doc_id, fp FROM (SELECT doc_id, fp, " +
      "count(*) OVER (PARTITION BY fp) AS bsz FROM fps) WHERE bsz <= 50) " +
      "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "COUNT(*) AS n_shared FROM cb a JOIN cb b " +
      "ON a.fp = b.fp AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY 1, 2"

  /** [[TextAnalysis.collocations]]: the identical integer PMI-rank
    * algebra — pair counts from the positional gram list, N from the
    * pair table itself, unigram counts joined twice, floor-div score.
    * (w1, w2) is unique so the order is total and the LIMIT
    * deterministic. */
  private val txCollocationsSql: String =
    s"WITH ws AS ($wordsCte), " +
      s"bi AS (SELECT unnest(${shingleListAll(2)}) AS g FROM ws), " +
      "pc AS (SELECT g, count(*) AS n_pair FROM bi GROUP BY 1), " +
      "tot AS (SELECT SUM(n_pair) AS n_total FROM pc), " +
      "uni AS (SELECT unnest(w) AS w0 FROM ws), " +
      "uc AS (SELECT w0, count(*) AS c FROM uni GROUP BY 1), " +
      "f AS (SELECT string_split(g, ' ')[1] AS w1, " +
      "string_split(g, ' ')[2] AS w2, n_pair FROM pc WHERE n_pair >= 5) " +
      "SELECT f.w1, f.w2, f.n_pair, " +
      "CAST((f.n_pair * 1000000 * tot.n_total) // (u1.c * u2.c) " +
      "AS BIGINT) AS pmi_ppm " +
      "FROM f JOIN uc u1 ON f.w1 = u1.w0 JOIN uc u2 ON f.w2 = u2.w0, tot " +
      "ORDER BY pmi_ppm DESC, w1, w2 LIMIT 50"

  private val txTopTermsSql: String =
    s"WITH ws AS ($wordsCte), " +
      "t AS (SELECT doc_id, unnest(list_distinct(w)) AS term FROM ws), " +
      "d AS (SELECT term, count(*) AS df FROM t GROUP BY 1) " +
      "SELECT term, df FROM d ORDER BY df DESC, term ASC LIMIT 50"

  private val ddContaminationSql: String =
    s"WITH ${shinglesCte(5)}, " +
      "ev AS (SELECT doc_id AS eval_doc_id, sh FROM sh WHERE doc_id % 19 = 0), " +
      "tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 19 != 0) " +
      "SELECT tr.doc_id, count(*) AS n_hits, " +
      "count(DISTINCT eval_doc_id) AS n_eval_docs " +
      "FROM tr JOIN ev ON ev.sh = tr.sh GROUP BY 1 ORDER BY 1"

  /** Exact duplicated-substring scrub (Lee et al. exact-substring
    * dedup): 8-gram spans occurring in ≥2 distinct docs mark their
    * covered token positions; kept words reassemble in order. The
    * positional gram list is shingleListAll(8) — its subscripts ARE
    * the 0-based start offsets (full windows only; the one short-doc
    * gram is NULL-filtered identically to Spark's empty slice). */
  private val ddSpanScrubSql: String =
    s"WITH ws AS ($wordsCte), " +
      s"gl AS (SELECT doc_id, w, ${shingleListAll(8)} AS gs FROM ws), " +
      "g AS (SELECT doc_id, unnest(gs) AS gram, " +
      "generate_subscripts(gs, 1) - 1 AS start FROM gl), " +
      "dup AS (SELECT gram FROM g GROUP BY gram " +
      "HAVING count(DISTINCT doc_id) >= 2), " +
      "cov AS (SELECT DISTINCT doc_id, unnest(range(start, start + 8)) AS p " +
      "FROM g WHERE gram IN (SELECT gram FROM dup)), " +
      "wp AS (SELECT doc_id, unnest(w) AS word, " +
      "generate_subscripts(w, 1) - 1 AS p FROM ws), " +
      "kept AS (SELECT wp.doc_id, wp.p, wp.word FROM wp " +
      "LEFT JOIN cov ON cov.doc_id = wp.doc_id AND cov.p = wp.p " +
      "WHERE cov.doc_id IS NULL), " +
      "agg AS (SELECT doc_id, count(*) AS n_kept, " +
      "string_agg(word, ' ' ORDER BY p) AS scrubbed FROM kept GROUP BY doc_id) " +
      "SELECT ws.doc_id, CAST(len(ws.w) AS BIGINT) AS n_words, " +
      "CAST(len(ws.w) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_scrubbed, " +
      "COALESCE(agg.scrubbed, '') AS scrubbed " +
      "FROM ws LEFT JOIN agg ON agg.doc_id = ws.doc_id ORDER BY ws.doc_id"

  /** BPE oracle: unrolled fit (nMerges rounds of pair-count → argmax
    * → merge application over the word-frequency table) + unrolled
    * encode (same merge fold over every word occurrence). The merge
    * fold accumulates tokens as a space-joined string via list_reduce
    * — the same left-to-right non-overlapping semantics as
    * Bpe.mergePass. */
  private def bpeSql(nMerges: Int, maxVocab: Int): String = {
    def foldLambda(aRef: String, bRef: String): String =
      s"(acc, x) -> CASE WHEN (acc = $aRef OR ends_with(acc, ' ' || $aRef)) " +
        s"AND x = $bRef THEN acc || x ELSE acc || ' ' || x END"
    // AS MATERIALIZED: every v_k / m_k is referenced twice downstream;
    // DuckDB's default CTE inlining would expand the chain 2^nMerges
    // times (first symptom: fd exhaustion re-opening the parquet)
    val sb = new StringBuilder(
      s"WITH ws AS ($wordsCte), " +
        "wf AS MATERIALIZED (SELECT w, count(*) AS f " +
        "FROM (SELECT unnest(w) AS w FROM ws) " +
        s"GROUP BY 1 ORDER BY f DESC, w ASC LIMIT $maxVocab), " +
        "v0 AS MATERIALIZED (SELECT w, f, list_transform(range(1, length(w) + 1), " +
        "i -> w[i]) AS syms FROM wf)")
    for (k <- 1 to nMerges) {
      val prev = s"v${k - 1}"
      sb.append(s", pr$k AS (SELECT f, unnest(list_transform(" +
        "range(1, len(syms)), i -> {'a': syms[i], 'b': syms[i + 1]})) AS p " +
        s"FROM $prev)")
      sb.append(s", c$k AS (SELECT p.a AS a, p.b AS b, sum(f) AS c " +
        s"FROM pr$k GROUP BY 1, 2)")
      sb.append(s", m$k AS MATERIALIZED (SELECT a, b FROM c$k " +
        "ORDER BY c DESC, a ASC, b ASC LIMIT 1)")
      sb.append(s", v$k AS MATERIALIZED (SELECT w, f, string_split(list_reduce(syms, " +
        s"${foldLambda("m.a", "m.b")}), ' ') AS syms FROM $prev, m$k m)")
    }
    sb.append(", e0 AS MATERIALIZED (SELECT doc_id, list_transform(" +
      "range(1, length(w) + 1), i -> w[i]) AS syms " +
      "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents))")
    for (k <- 1 to nMerges) {
      sb.append(s", e$k AS MATERIALIZED (SELECT doc_id, string_split(list_reduce(syms, " +
        s"${foldLambda("m.a", "m.b")}), ' ') AS syms FROM e${k - 1}, m$k m)")
    }
    sb.append(s" SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS n_bpe_tokens " +
      s"FROM e$nMerges GROUP BY 1 ORDER BY 1")
    sb.toString
  }

  private val txBpeSql: String = bpeSql(16, 1000)

  private val txChunkSql: String = {
    val (cz, st) = (12, 8)
    s"WITH ws AS ($wordsCte), " +
      "s AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 0) + 2, " +
      s"$st)) AS start, generate_subscripts(range(1, " +
      s"greatest(len(w) - 1, 0) + 2, $st), 1) AS cid FROM ws) " +
      "SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id, " +
      "CAST(start AS BIGINT) AS start_tok, " +
      s"array_to_string(w[start:start + ${cz - 1}], ' ') AS chunk_text, " +
      s"CAST(least(len(w) - start + 1, $cz) AS BIGINT) AS n_tokens " +
      "FROM s ORDER BY doc_id, chunk_id"
  }

  /** [[TextAnalysis.cdcChunk]]: same salted boundary hash, same
    * strictly-before prefix sum, md5 over the ORDER BY pos token run
    * (string_agg ORDER BY ≡ the operator's sort-then-join). */
  private val txCdcChunkSql: String =
    s"WITH ws AS ($wordsCte), " +
      "tok AS (SELECT doc_id, unnest(w) AS tk, " +
      "generate_subscripts(w, 1) AS pos FROM ws), " +
      "fl AS (SELECT doc_id, pos, tk, " +
      s"CASE WHEN ${PH.h31Sql("'cdc:' || tk")} % 16 = 0 " +
      "THEN 1 ELSE 0 END AS f FROM tok), " +
      "ch AS (SELECT doc_id, pos, tk, COALESCE(SUM(f) OVER (" +
      "PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid FROM fl) " +
      "SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id, " +
      "CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
      "md5(string_agg(tk, ' ' ORDER BY pos)) AS chunk_md5 " +
      "FROM ch GROUP BY doc_id, cid ORDER BY doc_id, chunk_id"

  /** [[Dedup.cdcDedup]]: the chunk CTE restated, then the same packed
    * argmin + min-wins scoring. */
  private val ddCdcDedupSql: String =
    s"WITH ws AS ($wordsCte), " +
      "tok AS (SELECT doc_id, unnest(w) AS tk, " +
      "generate_subscripts(w, 1) AS pos FROM ws), " +
      "fl AS (SELECT doc_id, pos, tk, " +
      s"CASE WHEN ${PH.h31Sql("'cdc:' || tk")} % 16 = 0 " +
      "THEN 1 ELSE 0 END AS f FROM tok), " +
      "ch AS (SELECT doc_id, pos, tk, COALESCE(SUM(f) OVER (" +
      "PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid FROM fl), " +
      "c AS (SELECT doc_id, cid, md5(string_agg(tk, ' ' ORDER BY pos)) AS mh " +
      "FROM ch GROUP BY doc_id, cid), " +
      "fk AS (SELECT mh, min(doc_id * 16777216 + cid) AS first_key " +
      "FROM c GROUP BY 1), " +
      "s AS (SELECT c.doc_id, count(*) AS n_chunks, " +
      "sum(CASE WHEN c.doc_id * 16777216 + c.cid <> fk.first_key " +
      "THEN 1 ELSE 0 END) AS n_dup " +
      "FROM c JOIN fk ON c.mh = fk.mh GROUP BY 1) " +
      "SELECT d.doc_id, CAST(COALESCE(s.n_chunks, 0) AS BIGINT) AS n_chunks, " +
      "CAST(COALESCE(s.n_dup, 0) AS BIGINT) AS n_dup, " +
      "CAST(COALESCE(FLOOR(1000000.0 * s.n_dup / s.n_chunks), 0) AS BIGINT) " +
      "AS dup_ppm " +
      "FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id ORDER BY d.doc_id"

  /** [[RelQueries.skyline]]: per-day max collapse, then the same
    * running-max frontier window — the sort-scan algorithm restated,
    * checked against the quadratic definition by the spec. */
  private val relSkylineSql: String =
    "WITH pts AS (SELECT o_orderpriority AS priority, " +
      "epoch_ns(o_orderdate) // 86400000000000 AS day, " +
      s"max(${centsSql("o_totalprice")}) AS price_c " +
      "FROM orders GROUP BY 1, 2), " +
      "w AS (SELECT priority, day, price_c, max(price_c) OVER (" +
      "PARTITION BY priority ORDER BY day " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx FROM pts) " +
      "SELECT priority, CAST(day AS BIGINT) AS day, " +
      "CAST(price_c AS BIGINT) AS price_c FROM w " +
      "WHERE mx IS NULL OR price_c > mx ORDER BY priority, day"

  private val txFingerprintSql: String =
    "SELECT doc_id, list_reduce(list_concat([CAST(0 AS BIGINT)], " +
      "list_transform(string_split(text, ' '), " +
      s"w -> ${PH.h31Sql("w")})), " +
      s"(a, b) -> (a * ${PH.FpBase} + b) % $P) AS fingerprint " +
      "FROM documents ORDER BY doc_id"

  // ---------------------------------------------------------------
  // multimodal (stub decode over binary payloads — see Multimodal)
  // ---------------------------------------------------------------

  /** [[Multimodal.mediaMeta]] (r7 — the dispatched flagship): every
    * family's features recomputed from the doc_id/q literals the
    * mixed generator used; the Spark side must recover them by
    * PARSING whichever container the magic bytes declare, so a
    * dispatch-order bug or any parser regression fails the hash.
    * The `bin` arm restates the stub formula over the raw text —
    * the only place the stub survives. */
  private val mmMetaSql: String = {
    val stride = Multimodal.FrameStride
    def arm(fam: Int, format: String, d1: String, d2: String,
        d3: String): String =
      s"SELECT doc_id, $format AS format, CAST($d1 AS BIGINT) AS d1, " +
        s"CAST($d2 AS BIGINT) AS d2, CAST($d3 AS BIGINT) AS d3 " +
        s"FROM d WHERE fam = $fam"
    "WITH d AS (SELECT doc_id, text, doc_id % 8 AS fam, " +
      "doc_id // 8 AS q FROM documents) " +
      Seq(
        arm(0, "'png'", "8 + doc_id % 9", "4 + doc_id % 7",
          "CASE WHEN q % 2 = 0 THEN 1 ELSE 3 END"),
        arm(1, "'jpeg'", "16 + doc_id % 101", "8 + (doc_id // 3) % 97",
          "CASE WHEN q % 2 = 0 THEN 3 ELSE 1 END"),
        arm(2, "CASE WHEN q % 2 = 0 THEN 'pgm' ELSE 'ppm' END",
          "8 + doc_id % 9", "4 + doc_id % 7",
          "CASE WHEN q % 2 = 0 THEN 1 ELSE 3 END"),
        arm(3, "CASE WHEN q % 2 = 1 THEN 'gif89' ELSE 'gif87' END",
          "20 + doc_id % 80", "10 + doc_id % 60",
          "CASE WHEN q % 5 = 0 THEN 0 ELSE " +
            "(CAST(1 AS BIGINT) << CAST(q % 8 + 1 AS INTEGER)) END"),
        arm(4, "CASE WHEN q % 2 = 0 THEN 'tiff_be' ELSE 'tiff_le' END",
          "10 + doc_id % 50", "5 + doc_id % 40",
          "CASE WHEN q % 3 = 0 THEN 1 ELSE 3 END"),
        arm(5, "'wav'", "8000 + (doc_id % 5) * 4000", "1 + q % 2",
          "CASE WHEN q % 3 = 0 THEN 8 ELSE 16 END"),
        arm(6, "'avi'", "160 + (q % 8) * 80", "120 + (q % 6) * 60",
          "10 + doc_id % 240"),
        arm(7, "'bin'", "length(text)",
          s"FLOOR((length(text) + ${stride - 1}) / $stride)",
          "COALESCE(list_sum(list_transform(" +
            s"range(0, CAST(FLOOR((length(text) + ${stride - 1}) / $stride) AS BIGINT)), " +
            s"i -> ascii(substr(text, CAST(i * $stride + 1 AS INTEGER), 1)))), 0)")
      ).mkString(" UNION ALL ") +
      " ORDER BY doc_id"
  }

  /** The oracle recomputes format/dims/channels from the doc_id
    * literals the fixture generator used — the Spark side must
    * recover them by PARSING the actual PNG/JPEG/PNM bytes
    * (ImageCodec), so a parser bug cannot self-confirm. */
  private val mmImageMetaSql: String =
    "SELECT doc_id, " +
      "CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' " +
      "ELSE (CASE WHEN doc_id % 2 = 0 THEN 'pgm' ELSE 'ppm' END) END AS format, " +
      "CAST(16 + doc_id % 101 AS BIGINT) AS width, " +
      "CAST(8 + (doc_id // 3) % 97 AS BIGINT) AS height, " +
      "CAST(CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END) " +
      "WHEN doc_id % 3 = 1 THEN (CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END) " +
      "ELSE (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END) END AS BIGINT) AS channels " +
      "FROM documents ORDER BY doc_id"

  /** The audio twin (r6): the oracle recomputes rate/channels/bits/
    * length — and the truncated-every-13th DLT rows — from the same
    * doc_id literals the WAV fixture generator used; the Spark side
    * must recover them by walking the actual RIFF chunk layout. */
  private val mmAudioMetaSql: String = {
    def known(expr: String) =
      s"CASE WHEN doc_id % 13 = 0 THEN CAST(-1 AS BIGINT) " +
        s"ELSE CAST($expr AS BIGINT) END"
    "SELECT doc_id, " +
      "CASE WHEN doc_id % 13 = 0 THEN 'unknown' ELSE 'wav' END AS format, " +
      known("1 + doc_id % 2") + " AS channels, " +
      known("8000 + (doc_id % 5) * 4000") + " AS sample_rate, " +
      known("CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END") + " AS bits, " +
      known("100 + doc_id % 400") + " AS n_samples, " +
      known("(100 + doc_id % 400) * 1000 // (8000 + (doc_id % 5) * 4000)") +
      " AS duration_ms FROM documents ORDER BY doc_id"
  }

  /** Video twin (r6): the oracle recomputes width/height/frames/
    * period/streams — and the truncated-every-13th DLT rows — from
    * the same doc_id literals the AVI fixture generator used; the
    * Spark side must recover them by walking the actual nested
    * RIFF/LIST layout. */
  private val mmVideoMetaSql: String = {
    def known(expr: String) =
      s"CASE WHEN doc_id % 13 = 0 THEN CAST(-1 AS BIGINT) " +
        s"ELSE CAST($expr AS BIGINT) END"
    "SELECT doc_id, " +
      "CASE WHEN doc_id % 13 = 0 THEN 'unknown' ELSE 'avi' END AS format, " +
      known("160 + (doc_id % 8) * 80") + " AS width, " +
      known("120 + (doc_id % 6) * 60") + " AS height, " +
      known("10 + doc_id % 240") + " AS total_frames, " +
      known("33333 + (doc_id % 4) * 8333") + " AS us_per_frame, " +
      known("1 + doc_id % 2") + " AS streams, " +
      known("(10 + doc_id % 240) * (33333 + (doc_id % 4) * 8333) // 1000") +
      " AS duration_ms FROM documents ORDER BY doc_id"
  }

  /** Frame-sample oracle (r6): recomputes every sampled frame's
    * byte_sum from the AVI fixture's frame-byte formula (byte i of
    * frame f = (f·17 + i·31 + doc_id) mod 256, 8 bytes/frame,
    * stride 25) — the Spark side must walk the real movi chunk
    * layout to land on the same bytes; corrupt every-13th payloads
    * yield the single DLT row. */
  private val mmVideoFramesSql: String = {
    val stride = Multimodal.VideoFrameStride
    "WITH p AS (SELECT doc_id, 10 + doc_id % 240 AS nf FROM documents " +
      "WHERE doc_id % 13 <> 0), " +
      s"f AS (SELECT doc_id, unnest(range(0, nf, $stride)) AS frame_idx " +
      "FROM p), " +
      "b AS (SELECT doc_id, frame_idx, unnest(range(0, 8)) AS i FROM f), " +
      "s AS (SELECT doc_id, frame_idx, " +
      "sum((frame_idx * 17 + i * 31 + doc_id) % 256) AS byte_sum " +
      "FROM b GROUP BY doc_id, frame_idx) " +
      "SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, " +
      "CAST(8 AS BIGINT) AS n_bytes, CAST(byte_sum AS BIGINT) AS byte_sum " +
      "FROM s UNION ALL SELECT doc_id, CAST(-1 AS BIGINT), " +
      "CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) FROM documents " +
      "WHERE doc_id % 13 = 0 ORDER BY doc_id, frame_idx"
  }

  /** Sample-level audio stats oracle (r6): recomputes EVERY PCM
    * sample value from the fixture's byte formula (data byte k =
    * (k·31 + doc_id) mod 256; 8-bit unsigned-center-128, 16-bit
    * signed LE), then the same integer-floor stat chain the operator
    * computes — a decode bug at any byte cannot self-confirm. */
  private val mmAudioStatsSql: String =
    "WITH p AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits, " +
      "(100 + doc_id % 400) * (1 + doc_id % 2) AS n " +
      "FROM documents WHERE doc_id % 13 <> 0), " +
      "j AS (SELECT doc_id, bits, n, unnest(range(0, n)) AS j FROM p), " +
      "v AS (SELECT doc_id, n, CASE WHEN bits = 8 " +
      "THEN ((j * 31 + doc_id) % 256) - 128 " +
      "ELSE CASE WHEN ((2 * j * 31 + doc_id) % 256) + " +
      "256 * (((2 * j + 1) * 31 + doc_id) % 256) >= 32768 " +
      "THEN ((2 * j * 31 + doc_id) % 256) + " +
      "256 * (((2 * j + 1) * 31 + doc_id) % 256) - 65536 " +
      "ELSE ((2 * j * 31 + doc_id) % 256) + " +
      "256 * (((2 * j + 1) * 31 + doc_id) % 256) END END AS v FROM j), " +
      "s AS (SELECT doc_id, n, max(abs(v)) AS peak, sum(abs(v)) AS sa, " +
      "sum(v * v) AS sq FROM v GROUP BY doc_id, n) " +
      "SELECT doc_id, 'wav' AS format, CAST(n AS BIGINT) AS n_vals, " +
      "CAST(peak AS BIGINT) AS peak_abs, CAST(sa // n AS BIGINT) AS mean_abs, " +
      "CAST(FLOOR(SQRT(sq // n)) AS BIGINT) AS rms FROM s " +
      "UNION ALL SELECT doc_id, 'unknown' AS format, " +
      "CAST(-1 AS BIGINT) AS n_vals, CAST(-1 AS BIGINT) AS peak_abs, " +
      "CAST(-1 AS BIGINT) AS mean_abs, CAST(-1 AS BIGINT) AS rms " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** [[Multimodal.bmpStats]]: expected samples recomputed in the
    * CANONICAL top-down RGB order from the doc_id literals — the
    * oracle never sees the file's bottom-up BGR padded layout, so any
    * mishandled layout trap in the decoder fails the wsum. */
  private val mmBmpStatsSql: String =
    "WITH d AS (SELECT doc_id, 5 + doc_id % 12 AS w, 3 + doc_id % 10 AS h " +
      "FROM documents WHERE doc_id % 13 <> 0), " +
      "j AS (SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM d), " +
      "v AS (SELECT doc_id, w, h, i, " +
      "(doc_id * 5 + (i // 3) * 7 + (i % 3) * 11) % 256 AS v FROM j), " +
      "s AS (SELECT doc_id, w, h, count(*) AS n, max(v) AS peak, " +
      "sum(v) AS sv, sum(v * (i + 1)) AS ws FROM v GROUP BY 1, 2, 3) " +
      "SELECT doc_id, CAST(w AS BIGINT) AS width, " +
      "CAST(h AS BIGINT) AS height, CAST(n AS BIGINT) AS n_vals, " +
      "CAST(peak AS BIGINT) AS peak, CAST(sv // n AS BIGINT) AS mean_floor, " +
      "CAST(ws AS BIGINT) AS wsum FROM s " +
      "UNION ALL SELECT doc_id, CAST(-1 AS BIGINT) AS width, " +
      "CAST(-1 AS BIGINT) AS height, CAST(-1 AS BIGINT) AS n_vals, " +
      "CAST(-1 AS BIGINT) AS peak, CAST(-1 AS BIGINT) AS mean_floor, " +
      "CAST(-1 AS BIGINT) AS wsum " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** [[Multimodal.qoiStats]] (r10): the fixture formula recomputed
    * verbatim per sample — regimes keyed off segment = (i//3)//6;
    * a decode that mishandles any chunk op (run carry, index slot,
    * diff/luma bias or wrap, end marker) shifts the positional
    * weighted sum. */
  private val mmQoiStatsSql: String =
    "WITH d AS (SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 7 AS h " +
      "FROM documents WHERE doc_id % 13 <> 0), " +
      "j AS (SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM d), " +
      "v AS (SELECT doc_id, w, h, i, " +
      "CASE ((i // 3) // 6) % 3 " +
      "WHEN 0 THEN (doc_id * 3 + (((i // 3) // 6) % 2) * 37 + (i % 3) * 11) % 256 " +
      "WHEN 1 THEN (doc_id * 3 + ((i // 3) // 6) * 5 + (i % 3) * 11 + ((i // 3) % 6)) % 256 " +
      "ELSE (doc_id * 7 + (i // 3) * (i // 3) * 13 + (i % 3) * 29) % 256 " +
      "END AS v FROM j), " +
      "s AS (SELECT doc_id, w, h, count(*) AS n, max(v) AS peak, " +
      "sum(v) AS sv, sum(v * (i + 1)) AS ws FROM v GROUP BY 1, 2, 3) " +
      "SELECT doc_id, CAST(w AS BIGINT) AS width, " +
      "CAST(h AS BIGINT) AS height, CAST(n AS BIGINT) AS n_vals, " +
      "CAST(peak AS BIGINT) AS peak, CAST(sv // n AS BIGINT) AS mean_floor, " +
      "CAST(ws AS BIGINT) AS wsum FROM s " +
      "UNION ALL SELECT doc_id, CAST(-1 AS BIGINT) AS width, " +
      "CAST(-1 AS BIGINT) AS height, CAST(-1 AS BIGINT) AS n_vals, " +
      "CAST(-1 AS BIGINT) AS peak, CAST(-1 AS BIGINT) AS mean_floor, " +
      "CAST(-1 AS BIGINT) AS wsum " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** [[Multimodal.gifFrames]]: every frame's palette indices, the
    * GCT mapping and the per-frame GCE delays recomputed from the
    * (id, frame, pixel) closed forms; wsum runs over the
    * CONCATENATED presentation-order rasters, so a dropped, doubled
    * or shuffled frame fails even when per-frame stats agree. */
  private val mmGifFramesSql: String =
    "WITH d AS (SELECT doc_id, 5 + doc_id % 7 AS w, 3 + doc_id % 5 AS h, " +
      "CAST(1 AS BIGINT) << CAST(doc_id % 8 + 1 AS INTEGER) AS psize, " +
      "1 + doc_id % 4 AS nf FROM documents WHERE doc_id % 13 <> 0), " +
      "j AS (SELECT doc_id, w, h, psize, nf, " +
      "unnest(range(0, nf * w * h * 3)) AS s FROM d), " +
      "v AS (SELECT doc_id, w, h, nf, s, " +
      "(doc_id * 13 + (((doc_id * 3 + (s // (w * h * 3)) * 11 " +
      "+ ((s % (w * h * 3)) // 3) * 7) % 256) % psize) * 41 " +
      "+ (s % 3) * 17) % 256 AS v FROM j), " +
      "st AS (SELECT doc_id, w, h, nf, count(*) AS n, max(v) AS peak, " +
      "sum(v) AS sv, sum(v * (s + 1)) AS ws FROM v GROUP BY 1, 2, 3, 4), " +
      "dl AS (SELECT doc_id, CAST(SUM(3 + (doc_id + f) % 7) AS BIGINT) " +
      "AS tdel FROM (SELECT doc_id, unnest(range(0, nf)) AS f FROM d) " +
      "GROUP BY doc_id) " +
      "SELECT st.doc_id, CAST(w AS BIGINT) AS width, " +
      "CAST(h AS BIGINT) AS height, CAST(nf AS BIGINT) AS n_frames, " +
      "dl.tdel AS total_delay_cs, CAST(n AS BIGINT) AS n_vals, " +
      "CAST(peak AS BIGINT) AS peak, CAST(sv // n AS BIGINT) AS mean_floor, " +
      "CAST(ws AS BIGINT) AS wsum FROM st JOIN dl ON dl.doc_id = st.doc_id " +
      "UNION ALL SELECT doc_id, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), " +
      "CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), " +
      "CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** [[Multimodal.tgaStats]]: the canonical top-down RGB samples
    * recomputed verbatim from the (doc_id, i) closed form — the
    * order-sensitive wsum catches a forgotten bottom-up flip or
    * BGR→RGB swap even when value histograms agree. */
  private val mmTgaStatsSql: String =
    "WITH d AS (SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 7 AS h " +
      "FROM documents WHERE doc_id % 13 <> 0), " +
      "j AS (SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM d), " +
      "v AS (SELECT doc_id, w, h, i, " +
      "CASE WHEN ((i // 3) // 5) % 2 = 0 " +
      "THEN (doc_id * 5 + ((i // 3) // 5) * 3 + (i % 3) * 17) % 256 " +
      "ELSE (doc_id * 5 + (i // 3) * 7 + (i % 3) * 17) % 256 " +
      "END AS v FROM j), " +
      "s AS (SELECT doc_id, w, h, count(*) AS n, max(v) AS peak, " +
      "sum(v) AS sv, sum(v * (i + 1)) AS ws FROM v GROUP BY 1, 2, 3) " +
      "SELECT doc_id, CAST(w AS BIGINT) AS width, " +
      "CAST(h AS BIGINT) AS height, CAST(n AS BIGINT) AS n_vals, " +
      "CAST(peak AS BIGINT) AS peak, CAST(sv // n AS BIGINT) AS mean_floor, " +
      "CAST(ws AS BIGINT) AS wsum FROM s " +
      "UNION ALL SELECT doc_id, CAST(-1 AS BIGINT) AS width, " +
      "CAST(-1 AS BIGINT) AS height, CAST(-1 AS BIGINT) AS n_vals, " +
      "CAST(-1 AS BIGINT) AS peak, CAST(-1 AS BIGINT) AS mean_floor, " +
      "CAST(-1 AS BIGINT) AS wsum " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** [[Multimodal.icoStats]]: per-entry dims/samples/mask recomputed
    * from the (doc_id, entry, position) formulas — visible pixels
    * only, so an ignored AND mask or a mis-walked entry table fails
    * the masked weighted sum. */
  private val mmIcoSql: String =
    "WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS cnt FROM documents " +
      "WHERE doc_id % 13 <> 0), " +
      "im AS (SELECT doc_id, cnt, unnest(range(0, cnt)) AS k FROM d), " +
      "dims AS (SELECT doc_id, cnt, k, 3 + (doc_id + k) % 6 AS w, " +
      "2 + (doc_id + k) % 5 AS h FROM im), " +
      "px AS (SELECT doc_id, cnt, k, unnest(range(0, w * h * 3)) AS i " +
      "FROM dims), " +
      "v AS (SELECT doc_id, cnt, k, i, " +
      "(doc_id * 11 + k * 17 + i * 7) % 256 AS v, " +
      "CASE WHEN (doc_id + k + (i // 3)) % 5 <> 0 THEN 1 ELSE 0 END AS vis " +
      "FROM px), " +
      "s AS (SELECT doc_id, max(cnt) AS n_images, " +
      "SUM(CASE WHEN i % 3 = 0 THEN vis ELSE 0 END) AS n_visible, " +
      "COALESCE(MAX(CASE WHEN vis = 1 THEN v END), -1) AS peak, " +
      "SUM(vis * v * (i + 1)) AS wsum FROM v GROUP BY 1) " +
      "SELECT doc_id, CAST(n_images AS BIGINT) AS n_images, " +
      "CAST(n_visible AS BIGINT) AS n_visible, " +
      "CAST(peak AS BIGINT) AS peak, CAST(wsum AS BIGINT) AS wsum FROM s " +
      "UNION ALL SELECT doc_id, CAST(-1 AS BIGINT) AS n_images, " +
      "CAST(-1 AS BIGINT) AS n_visible, CAST(-1 AS BIGINT) AS peak, " +
      "CAST(-1 AS BIGINT) AS wsum FROM documents WHERE doc_id % 13 = 0 " +
      "ORDER BY doc_id"

  /** [[Multimodal.pngPaletteStats]]: expected RGB samples recomputed
    * from the index formula THROUGH the palette formula — the oracle
    * never sees PLTE bytes or the index plane, so a decoder that
    * unfilters at bpp=3, skips the palette map, or misreads PLTE
    * fails the position-weighted sum. */
  private val mmPngPaletteSql: String =
    "WITH d AS (SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 7 AS h, " +
      "2 + doc_id % 15 AS np FROM documents WHERE doc_id % 13 <> 0), " +
      "j AS (SELECT doc_id, w, h, np, unnest(range(0, w * h * 3)) AS i FROM d), " +
      "v AS (SELECT doc_id, w, h, np, i, " +
      "(doc_id * 7 + (3 * ((doc_id * 3 + (i // 3) * 5) % np) + i % 3) * 13) " +
      "% 256 AS v FROM j), " +
      "s AS (SELECT doc_id, w, h, count(*) AS n, max(v) AS peak, " +
      "sum(v) AS sv, sum(v * (i + 1)) AS ws FROM v GROUP BY 1, 2, 3) " +
      "SELECT doc_id, 'png_indexed' AS format, CAST(w AS BIGINT) AS width, " +
      "CAST(h AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels, " +
      "CAST(n AS BIGINT) AS n_vals, CAST(peak AS BIGINT) AS peak, " +
      "CAST(sv // n AS BIGINT) AS mean_floor, CAST(ws AS BIGINT) AS wsum " +
      "FROM s " +
      "UNION ALL SELECT doc_id, 'unknown' AS format, " +
      "CAST(-1 AS BIGINT) AS width, CAST(-1 AS BIGINT) AS height, " +
      "CAST(-1 AS BIGINT) AS channels, CAST(-1 AS BIGINT) AS n_vals, " +
      "CAST(-1 AS BIGINT) AS peak, CAST(-1 AS BIGINT) AS mean_floor, " +
      "CAST(-1 AS BIGINT) AS wsum " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** [[Multimodal.pngStats]] (r7): expected samples recomputed in
    * canonical order from the doc_id literals — the oracle never sees
    * the zlib stream or the filter bytes, so the decoder must
    * actually invert deflate + all five per-row filters for the
    * position-weighted sum to agree; truncated-IDAT docs must take
    * the DLT arm (a partial inflate that "mostly worked" fails the
    * hash). */
  private val mmPngStatsSql: String =
    "WITH d AS (SELECT doc_id, 6 + doc_id % 11 AS w, 4 + doc_id % 9 AS h, " +
      "CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS c " +
      "FROM documents WHERE doc_id % 13 <> 0), " +
      "j AS (SELECT doc_id, w, h, c, unnest(range(0, w * h * c)) AS i FROM d), " +
      "v AS (SELECT doc_id, w, h, c, i, " +
      "(doc_id * 3 + i * 7 + (i % 11) * 31) % 256 AS v FROM j), " +
      "s AS (SELECT doc_id, w, h, c, count(*) AS n, max(v) AS peak, " +
      "sum(v) AS sv, sum(v * (i + 1)) AS ws FROM v GROUP BY 1, 2, 3, 4) " +
      "SELECT doc_id, 'png' AS format, CAST(w AS BIGINT) AS width, " +
      "CAST(h AS BIGINT) AS height, CAST(c AS BIGINT) AS channels, " +
      "CAST(n AS BIGINT) AS n_vals, CAST(peak AS BIGINT) AS peak, " +
      "CAST(sv // n AS BIGINT) AS mean_floor, CAST(ws AS BIGINT) AS wsum " +
      "FROM s " +
      "UNION ALL SELECT doc_id, 'unknown' AS format, " +
      "CAST(-1 AS BIGINT) AS width, CAST(-1 AS BIGINT) AS height, " +
      "CAST(-1 AS BIGINT) AS channels, CAST(-1 AS BIGINT) AS n_vals, " +
      "CAST(-1 AS BIGINT) AS peak, CAST(-1 AS BIGINT) AS mean_floor, " +
      "CAST(-1 AS BIGINT) AS wsum " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** [[Multimodal.gifStats]] (r7): every RGB sample recomputed from
    * the shared palette/index formulas — the oracle never sees the
    * LZW stream, so the decoder must actually run the variable-width
    * algorithm (table growth, KwKwK, sub-block reassembly) for the
    * position-weighted sum to agree. Palette sizes are powers of two
    * ≤ 256, so (x mod 256) mod size == x mod size and the index
    * double-mod is stated verbatim. */
  private val mmGifStatsSql: String =
    "WITH d AS (SELECT doc_id, 6 + doc_id % 10 AS w, 4 + doc_id % 8 AS h, " +
      "CAST(1 AS BIGINT) << CAST(doc_id % 8 + 1 AS INTEGER) AS psize, " +
      "CASE WHEN doc_id % 2 = 1 THEN 'gif89' ELSE 'gif87' END AS fmt " +
      "FROM documents WHERE doc_id % 13 <> 0), " +
      "j AS (SELECT doc_id, w, h, psize, fmt, " +
      "unnest(range(0, w * h * 3)) AS s FROM d), " +
      "v AS (SELECT doc_id, w, h, psize, fmt, s, " +
      "(doc_id * 13 + (((doc_id * 3 + (s // 3) * 7) % 256) % psize) * 41 " +
      "+ (s % 3) * 17) % 256 AS v FROM j), " +
      "st AS (SELECT doc_id, w, h, psize, fmt, count(*) AS n, " +
      "max(v) AS peak, sum(v) AS sv, sum(v * (s + 1)) AS ws " +
      "FROM v GROUP BY 1, 2, 3, 4, 5) " +
      "SELECT doc_id, fmt AS format, CAST(w AS BIGINT) AS width, " +
      "CAST(h AS BIGINT) AS height, CAST(psize AS BIGINT) AS palette, " +
      "CAST(n AS BIGINT) AS n_vals, CAST(peak AS BIGINT) AS peak, " +
      "CAST(sv // n AS BIGINT) AS mean_floor, CAST(ws AS BIGINT) AS wsum " +
      "FROM st " +
      "UNION ALL SELECT doc_id, 'unknown' AS format, " +
      "CAST(-1 AS BIGINT) AS width, CAST(-1 AS BIGINT) AS height, " +
      "CAST(-1 AS BIGINT) AS palette, CAST(-1 AS BIGINT) AS n_vals, " +
      "CAST(-1 AS BIGINT) AS peak, CAST(-1 AS BIGINT) AS mean_floor, " +
      "CAST(-1 AS BIGINT) AS wsum " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** [[Multimodal.tiffStats]] (r7): expected samples recomputed in
    * canonical order from doc_id literals — the oracle never sees the
    * strip layout or the value offsets, so a mis-chased offset, a
    * strip mis-ordered or a byte-order mistake fails the
    * position-weighted sum. */
  private val mmTiffStatsSql: String =
    "WITH d AS (SELECT doc_id, 5 + doc_id % 11 AS w, 4 + doc_id % 9 AS h, " +
      "CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END AS c, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'tiff_be' ELSE 'tiff_le' END AS fmt " +
      "FROM documents WHERE doc_id % 13 <> 0), " +
      "j AS (SELECT doc_id, w, h, c, fmt, " +
      "unnest(range(0, w * h * c)) AS i FROM d), " +
      "v AS (SELECT doc_id, w, h, c, fmt, i, " +
      "(doc_id * 9 + i * 5 + (i % 7) * 23) % 256 AS v FROM j), " +
      "s AS (SELECT doc_id, w, h, c, fmt, count(*) AS n, max(v) AS peak, " +
      "sum(v) AS sv, sum(v * (i + 1)) AS ws FROM v GROUP BY 1, 2, 3, 4, 5) " +
      "SELECT doc_id, fmt AS format, CAST(w AS BIGINT) AS width, " +
      "CAST(h AS BIGINT) AS height, CAST(c AS BIGINT) AS channels, " +
      "CAST(n AS BIGINT) AS n_vals, CAST(peak AS BIGINT) AS peak, " +
      "CAST(sv // n AS BIGINT) AS mean_floor, CAST(ws AS BIGINT) AS wsum " +
      "FROM s " +
      "UNION ALL SELECT doc_id, 'unknown' AS format, " +
      "CAST(-1 AS BIGINT) AS width, CAST(-1 AS BIGINT) AS height, " +
      "CAST(-1 AS BIGINT) AS channels, CAST(-1 AS BIGINT) AS n_vals, " +
      "CAST(-1 AS BIGINT) AS peak, CAST(-1 AS BIGINT) AS mean_floor, " +
      "CAST(-1 AS BIGINT) AS wsum " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** [[Multimodal.jpegStats]] (r7 continuation): expected pixels
    * recomputed from the block-constant formula — the oracle never
    * sees the Huffman stream, the quant table or the restart
    * markers, so the decoder must actually run the full baseline
    * entropy decode + IDCT for the position-weighted sum to agree;
    * truncated docs must take the DLT arm. */
  private val mmJpegStatsSql: String =
    "WITH d AS (SELECT doc_id, 9 + doc_id % 14 AS w, 6 + doc_id % 11 AS h " +
      "FROM documents WHERE doc_id % 13 <> 0), " +
      "j AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d), " +
      "v AS (SELECT doc_id, w, h, i, " +
      "(doc_id * 7 + ((i % w) // 8) * 29 + ((i // w) // 8) * 53) % 256 " +
      "AS v FROM j), " +
      "s AS (SELECT doc_id, w, h, count(*) AS n, max(v) AS peak, " +
      "sum(v) AS sv, sum(v * (i + 1)) AS ws FROM v GROUP BY 1, 2, 3) " +
      "SELECT doc_id, 'jpeg' AS format, CAST(w AS BIGINT) AS width, " +
      "CAST(h AS BIGINT) AS height, CAST(1 AS BIGINT) AS channels, " +
      "CAST(n AS BIGINT) AS n_vals, CAST(peak AS BIGINT) AS peak, " +
      "CAST(sv // n AS BIGINT) AS mean_floor, CAST(ws AS BIGINT) AS wsum " +
      "FROM s " +
      "UNION ALL SELECT doc_id, 'unknown' AS format, " +
      "CAST(-1 AS BIGINT) AS width, CAST(-1 AS BIGINT) AS height, " +
      "CAST(-1 AS BIGINT) AS channels, CAST(-1 AS BIGINT) AS n_vals, " +
      "CAST(-1 AS BIGINT) AS peak, CAST(-1 AS BIGINT) AS mean_floor, " +
      "CAST(-1 AS BIGINT) AS wsum " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** [[Multimodal.jpegRgbStats]]: R/G/B recomputed per pixel from
    * the Y/Cb/Cr block literals through the SAME fixed-point
    * floor-division transform ([[JpegCodec.ycbcrToRgb]] scaled 2^16
    * coefficients) — floor() on a power-of-two divisor is exact in
    * doubles, so both sides agree bit-for-bit including negative
    * numerators; the chroma grid divisor is 8 for 4:4:4 docs and 16
    * for 4:2:0 docs (replication upsample makes pixel (x,y) read
    * chroma block (x//16, y//16)). */
  private val mmJpegRgbStatsSql: String =
    "WITH d AS (SELECT doc_id, 10 + doc_id % 13 AS w, 7 + doc_id % 10 AS h, " +
      "CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS cd " +
      "FROM documents WHERE doc_id % 13 <> 0), " +
      "j AS (SELECT doc_id, w, h, cd, unnest(range(0, w * h * 3)) AS s " +
      "FROM d), " +
      "p AS (SELECT doc_id, w, h, cd, s, (s // 3) % w AS x, " +
      "(s // 3) // w AS y FROM j), " +
      "c AS (SELECT doc_id, w, h, s, " +
      "(doc_id * 11 + (x // 8) * 37 + (y // 8) * 61) % 256 AS yv, " +
      "(doc_id * 5 + (x // cd) * 19 + (y // cd) * 43) % 256 AS cb, " +
      "(doc_id * 3 + (x // cd) * 23 + (y // cd) * 31) % 256 AS cr FROM p), " +
      "v AS (SELECT doc_id, w, h, s, CASE s % 3 " +
      "WHEN 0 THEN GREATEST(0, LEAST(255, CAST(floor((yv * 65536 + " +
      "91881 * (cr - 128) + 32768) / 65536.0) AS BIGINT))) " +
      "WHEN 1 THEN GREATEST(0, LEAST(255, CAST(floor((yv * 65536 - " +
      "22554 * (cb - 128) - 46802 * (cr - 128) + 32768) / 65536.0) " +
      "AS BIGINT))) " +
      "ELSE GREATEST(0, LEAST(255, CAST(floor((yv * 65536 + " +
      "116130 * (cb - 128) + 32768) / 65536.0) AS BIGINT))) END AS v " +
      "FROM c), " +
      "st AS (SELECT doc_id, w, h, count(*) AS n, max(v) AS peak, " +
      "sum(v) AS sv, sum(v * (s + 1)) AS ws FROM v GROUP BY 1, 2, 3) " +
      "SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'jpeg444' " +
      "ELSE 'jpeg420' END AS format, CAST(w AS BIGINT) AS width, " +
      "CAST(h AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels, " +
      "CAST(n AS BIGINT) AS n_vals, CAST(peak AS BIGINT) AS peak, " +
      "CAST(sv // n AS BIGINT) AS mean_floor, CAST(ws AS BIGINT) AS wsum " +
      "FROM st " +
      "UNION ALL SELECT doc_id, 'unknown' AS format, " +
      "CAST(-1 AS BIGINT) AS width, CAST(-1 AS BIGINT) AS height, " +
      "CAST(-1 AS BIGINT) AS channels, CAST(-1 AS BIGINT) AS n_vals, " +
      "CAST(-1 AS BIGINT) AS peak, CAST(-1 AS BIGINT) AS mean_floor, " +
      "CAST(-1 AS BIGINT) AS wsum " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** [[Multimodal.audioUlawStats]] (r7 continuation): the G.711
    * μ-law expansion restated verbatim per sample — u = 255−b,
    * t = ((u mod 16)·8 + 132) · 2^((u÷16) mod 8), sign via u ≥ 128 —
    * so a complement slip, wrong exponent shift or sign error in the
    * decoder fails the position-weighted sum; the oracle never sees
    * the RIFF container. */
  private val mmAudioUlawSql: String =
    "WITH d AS (SELECT doc_id, 40 + doc_id % 50 AS n FROM documents " +
      "WHERE doc_id % 13 <> 0), " +
      "j AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d), " +
      "u AS (SELECT doc_id, n, i, " +
      "255 - ((doc_id * 17 + i * 13) % 256) AS uv FROM j), " +
      "t AS (SELECT doc_id, n, i, uv, " +
      "(((uv % 16) * 8) + 132) * (CAST(1 AS BIGINT) << " +
      "CAST((uv // 16) % 8 AS INTEGER)) AS tv FROM u), " +
      "v AS (SELECT doc_id, n, i, " +
      "CASE WHEN uv >= 128 THEN 132 - tv ELSE tv - 132 END AS s FROM t), " +
      "st AS (SELECT doc_id, n, min(s) AS mn, max(s) AS mx, " +
      "sum(s) AS sv, sum(s * (i + 1)) AS ws FROM v GROUP BY 1, 2) " +
      "SELECT doc_id, 'wav_ulaw' AS format, " +
      "CAST(8000 AS BIGINT) AS sample_rate, CAST(n AS BIGINT) AS n_samples, " +
      "CAST(mn AS BIGINT) AS min_s, CAST(mx AS BIGINT) AS max_s, " +
      "CAST(sv AS BIGINT) AS sum_s, CAST(ws AS BIGINT) AS wsum FROM st " +
      "UNION ALL SELECT doc_id, 'unknown' AS format, " +
      "CAST(-1 AS BIGINT) AS sample_rate, CAST(-1 AS BIGINT) AS n_samples, " +
      "CAST(-1 AS BIGINT) AS min_s, CAST(-1 AS BIGINT) AS max_s, " +
      "CAST(-1 AS BIGINT) AS sum_s, CAST(-1 AS BIGINT) AS wsum " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** [[Multimodal.gifMeta]]: version, dims and the packed-byte
    * palette size recomputed from doc_id literals. */
  private val mmGifMetaSql: String =
    "SELECT doc_id, " +
      "CASE WHEN doc_id % 2 = 1 THEN 'gif89' ELSE 'gif87' END AS format, " +
      "CAST(20 + doc_id % 80 AS BIGINT) AS width, " +
      "CAST(10 + doc_id % 60 AS BIGINT) AS height, " +
      "CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE " +
      "(CAST(1 AS BIGINT) << CAST(doc_id % 8 + 1 AS INTEGER)) END " +
      "AS BIGINT) AS palette " +
      "FROM documents WHERE doc_id % 19 <> 0 " +
      "UNION ALL SELECT doc_id, 'unknown' AS format, " +
      "CAST(-1 AS BIGINT) AS width, CAST(-1 AS BIGINT) AS height, " +
      "CAST(-1 AS BIGINT) AS palette " +
      "FROM documents WHERE doc_id % 19 = 0 ORDER BY doc_id"

  /** [[RelQueries.changepoint]]: same cross-multiplied CUSUM argmax
    * over the hourly aggregate. */
  private val relChangepointSql: String =
    "WITH h AS (SELECT event_type, " +
      "(epoch_ns(ts) // 3600000000000) * 3600 AS hour_epoch_s, " +
      "count(*) AS n FROM events GROUP BY 1, 2), " +
      "s AS (SELECT event_type, hour_epoch_s, " +
      "row_number() OVER (PARTITION BY event_type ORDER BY hour_epoch_s) AS k, " +
      "SUM(n) OVER (PARTITION BY event_type ORDER BY hour_epoch_s " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_k, " +
      "COUNT(*) OVER (PARTITION BY event_type) AS t_hours, " +
      "SUM(n) OVER (PARTITION BY event_type) AS s_tot FROM h), " +
      "d AS (SELECT event_type, hour_epoch_s, " +
      "abs(s_k * t_hours - k * s_tot) AS dev, " +
      "row_number() OVER (PARTITION BY event_type " +
      "ORDER BY abs(s_k * t_hours - k * s_tot) DESC, hour_epoch_s) AS rk " +
      "FROM s) " +
      "SELECT event_type, CAST(hour_epoch_s AS BIGINT) AS hour_epoch_s, " +
      "CAST(dev AS BIGINT) AS dev FROM d WHERE rk = 1 ORDER BY event_type"

  /** [[RelQueries.markovTransitions]]: same lag-bigram counts and
    * per-prev ppm normalization. */
  private val relMarkovSql: String =
    "WITH ev AS (SELECT user_id, event_id, event_type, " +
      "epoch_ns(ts) AS tsn FROM events), " +
      "lg AS (SELECT user_id, event_type AS next, lag(event_type) OVER (" +
      "PARTITION BY user_id ORDER BY tsn, event_id) AS prev FROM ev), " +
      "c AS (SELECT prev, next, count(*) AS n FROM lg " +
      "WHERE prev IS NOT NULL GROUP BY 1, 2) " +
      "SELECT prev, next, CAST(n AS BIGINT) AS n, " +
      "CAST((n * 1000000) // SUM(n) OVER (PARTITION BY prev) AS BIGINT) " +
      "AS p_ppm FROM c ORDER BY prev, next"

  /** [[Multimodal.tiffMeta]]: dims, samples AND the detected byte
    * order all recomputed from doc_id literals. */
  private val mmTiffMetaSql: String =
    "SELECT doc_id, " +
      "CASE WHEN doc_id % 2 = 0 THEN 'tiff_be' ELSE 'tiff_le' END AS format, " +
      "CAST(10 + doc_id % 50 AS BIGINT) AS width, " +
      "CAST(5 + doc_id % 40 AS BIGINT) AS height, " +
      "CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS BIGINT) AS channels " +
      "FROM documents WHERE doc_id % 11 <> 0 " +
      "UNION ALL SELECT doc_id, 'unknown' AS format, " +
      "CAST(-1 AS BIGINT) AS width, CAST(-1 AS BIGINT) AS height, " +
      "CAST(-1 AS BIGINT) AS channels " +
      "FROM documents WHERE doc_id % 11 = 0 ORDER BY doc_id"

  /** [[Multimodal.exifMeta]]: every EXIF field restated from the
    * doc_id literals the fixture encodes — the decoder must recover
    * them through the real APP1/TIFF binary path (wrong byte order,
    * missed COM skip, file-relative offsets, or a broken sub-IFD hop
    * all fail columns). */
  private val mmExifSql: String =
    "SELECT doc_id, " +
      "CASE WHEN doc_id % 2 = 0 THEN 'MM' ELSE 'II' END AS byte_order, " +
      "'cam' || CAST(doc_id % 7 AS VARCHAR) AS make, " +
      "'m' || CAST(doc_id % 29 AS VARCHAR) AS model, " +
      "CAST(1 + doc_id % 8 AS BIGINT) AS orientation, " +
      "CAST(100 * (1 + doc_id % 16) AS BIGINT) AS iso, " +
      "CAST(640 + doc_id % 97 AS BIGINT) AS px_w, " +
      "CAST(480 + doc_id % 53 AS BIGINT) AS px_h, " +
      "CAST(1 AS BIGINT) AS exp_num, " +
      "CAST(30 + doc_id % 200 AS BIGINT) AS exp_den " +
      "FROM documents WHERE doc_id % 13 <> 0 " +
      "UNION ALL SELECT doc_id, 'unknown' AS byte_order, " +
      "'' AS make, '' AS model, CAST(-1 AS BIGINT) AS orientation, " +
      "CAST(-1 AS BIGINT) AS iso, CAST(-1 AS BIGINT) AS px_w, " +
      "CAST(-1 AS BIGINT) AS px_h, CAST(-1 AS BIGINT) AS exp_num, " +
      "CAST(-1 AS BIGINT) AS exp_den " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** [[Multimodal.exifGps]]: refs and DMS restated from the doc_id
    * literals; seconds as exact integer milli-arcseconds (den = 100
    * -> x10). */
  private val mmExifGpsSql: String =
    "SELECT doc_id, " +
      "CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END AS lat_ref, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'E' ELSE 'W' END AS lon_ref, " +
      "CAST(doc_id % 90 AS BIGINT) AS lat_deg, " +
      "CAST(doc_id % 60 AS BIGINT) AS lat_min, " +
      "CAST(((doc_id * 7) % 6000) * 10 AS BIGINT) AS lat_sec_milli, " +
      "CAST((doc_id * 2) % 180 AS BIGINT) AS lon_deg, " +
      "CAST((doc_id * 5) % 60 AS BIGINT) AS lon_min, " +
      "CAST(((doc_id * 11) % 6000) * 10 AS BIGINT) AS lon_sec_milli " +
      "FROM documents WHERE doc_id % 13 <> 0 " +
      "UNION ALL SELECT doc_id, '' AS lat_ref, '' AS lon_ref, " +
      "CAST(-1 AS BIGINT) AS lat_deg, CAST(-1 AS BIGINT) AS lat_min, " +
      "CAST(-1 AS BIGINT) AS lat_sec_milli, CAST(-1 AS BIGINT) AS lon_deg, " +
      "CAST(-1 AS BIGINT) AS lon_min, CAST(-1 AS BIGINT) AS lon_sec_milli " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** [[Multimodal.orientNormalize]]: the 8-way (sx, sy) remap
    * restated per TRANSFORMED index — the weighted sum over the
    * output order fails on a mirrored axis, missed dim swap, or
    * CW/CCW confusion even though the pixel multiset is identical. */
  private val mmOrientSql: String =
    "WITH d AS (SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 7 AS h, " +
      "1 + doc_id % 8 AS o FROM documents WHERE doc_id % 13 <> 0), " +
      "dims AS (SELECT doc_id, w, h, o, " +
      "CASE WHEN o >= 5 THEN h ELSE w END AS ow, " +
      "CASE WHEN o >= 5 THEN w ELSE h END AS oh FROM d), " +
      "px AS (SELECT doc_id, w, h, o, ow, oh, " +
      "unnest(range(0, ow * oh)) AS i FROM dims), " +
      "m AS (SELECT doc_id, w, h, o, ow, oh, i, " +
      "i % ow AS xp, i // ow AS yp FROM px), " +
      "sm AS (SELECT doc_id, w, o, ow, oh, i, " +
      "CASE o WHEN 1 THEN xp WHEN 2 THEN w - 1 - xp " +
      "WHEN 3 THEN w - 1 - xp WHEN 4 THEN xp WHEN 5 THEN yp " +
      "WHEN 6 THEN yp WHEN 7 THEN w - 1 - yp ELSE w - 1 - yp END AS sx, " +
      "CASE o WHEN 1 THEN yp WHEN 2 THEN yp WHEN 3 THEN h - 1 - yp " +
      "WHEN 4 THEN h - 1 - yp WHEN 5 THEN xp WHEN 6 THEN h - 1 - xp " +
      "WHEN 7 THEN h - 1 - xp ELSE xp END AS sy FROM m), " +
      "v AS (SELECT doc_id, o, ow, oh, i, " +
      "(doc_id * 3 + (sy * w + sx) * 7) % 256 AS v FROM sm) " +
      "SELECT doc_id, CAST(o AS BIGINT) AS orientation, " +
      "CAST(ow AS BIGINT) AS out_w, CAST(oh AS BIGINT) AS out_h, " +
      "CAST(SUM(v * (i + 1)) AS BIGINT) AS wsum " +
      "FROM v GROUP BY doc_id, o, ow, oh " +
      "UNION ALL SELECT doc_id, CAST(-1 AS BIGINT) AS orientation, " +
      "CAST(-1 AS BIGINT) AS out_w, CAST(-1 AS BIGINT) AS out_h, " +
      "CAST(-1 AS BIGINT) AS wsum FROM documents WHERE doc_id % 13 = 0 " +
      "ORDER BY doc_id"

  /** [[RelQueries.hilbertSpans]]: the identical xy→d walk restated
    * as a recursive CTE — 8 iterations of (quadrant digit, reflect,
    * transpose) per order row, final d at s = 0. */
  private val relHilbertSql: String =
    "WITH RECURSIVE pts AS (SELECT o_orderkey AS k, " +
      "o_custkey % 256 AS x, " +
      s"${centsSql("o_totalprice")} % 256 AS y FROM orders), " +
      "it AS (" +
      "SELECT k, x, y, CAST(0 AS BIGINT) AS d, CAST(128 AS BIGINT) AS s " +
      "FROM pts " +
      "UNION ALL " +
      "SELECT k, " +
      "CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN s - 1 - y ELSE y END) " +
      "ELSE x END AS x, " +
      "CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN s - 1 - x ELSE x END) " +
      "ELSE y END AS y, " +
      "d + s * s * xor(3 * rx, ry) AS d, s // 2 AS s " +
      "FROM (SELECT k, x, y, d, s, " +
      "CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END AS rx, " +
      "CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END AS ry " +
      "FROM it WHERE s > 0) q), " +
      "fin AS (SELECT k, d FROM it WHERE s = 0) " +
      "SELECT CAST(fin.d // 1024 AS BIGINT) AS h_bucket, " +
      "CAST(count(*) AS BIGINT) AS n_orders, " +
      "CAST(min(pts.x) AS BIGINT) AS min_cust, " +
      "CAST(max(pts.x) AS BIGINT) AS max_cust, " +
      "CAST(min(pts.y) AS BIGINT) AS min_val, " +
      "CAST(max(pts.y) AS BIGINT) AS max_val " +
      "FROM fin JOIN pts ON fin.k = pts.k " +
      "GROUP BY 1 ORDER BY h_bucket"

  /** Z-order oracle (r6): the bit-interleave formula is generated
    * from the same ZorderBits loop as the Spark expression — one
    * shared formula, DuckDB `&`/`|`/`<<`/`>>` on nonnegative
    * integers are exact. */
  private val relZorderSql: String = {
    val a = "(o_custkey % 256)"
    val b = s"(${centsSql("o_totalprice")} % 256)"
    val z = (0 until RelQueries.ZorderBits).map(i =>
      s"(((($a >> $i) & 1) << ${2 * i + 1}) | " +
        s"((($b >> $i) & 1) << ${2 * i}))").mkString(" | ")
    s"WITH zt AS (SELECT ($z) AS z, $a AS a, $b AS b FROM orders) " +
      "SELECT CAST(z // 1024 AS BIGINT) AS z_bucket, " +
      "count(*) AS n_orders, min(a) AS min_cust, max(a) AS max_cust, " +
      "min(b) AS min_val, max(b) AS max_val " +
      "FROM zt GROUP BY 1 ORDER BY 1"
  }

  /** SCD2 oracle (r6): the same derived snapshot and four-arm merge,
    * stated as a full outer join + UNION ALL. */
  private val relScd2Sql: String =
    "WITH prev AS (SELECT c_custkey AS key, c_mktsegment AS old_attr " +
      "FROM customer), " +
      "snap AS (SELECT c_custkey AS key, CASE WHEN c_custkey % 10 = 3 " +
      "THEN 'MOVED_' || c_mktsegment ELSE c_mktsegment END AS new_attr " +
      "FROM customer WHERE c_custkey % 89 <> 0 " +
      "UNION ALL SELECT c_custkey + 1000000 AS key, 'NEWSEG' " +
      "FROM customer WHERE c_custkey % 97 = 0), " +
      "j AS (SELECT coalesce(prev.key, snap.key) AS key, old_attr, " +
      "new_attr FROM prev FULL OUTER JOIN snap ON prev.key = snap.key) " +
      "SELECT key, attr, valid_from, valid_to, action FROM (" +
      "SELECT key, old_attr AS attr, CAST(1 AS BIGINT) AS valid_from, " +
      "CAST(2 AS BIGINT) AS valid_to, CASE WHEN new_attr IS NULL " +
      "THEN 'closed_churn' ELSE 'closed' END AS action FROM j " +
      "WHERE old_attr IS NOT NULL AND (new_attr IS NULL OR " +
      "new_attr <> old_attr) " +
      "UNION ALL SELECT key, old_attr, CAST(1 AS BIGINT), " +
      "CAST(-1 AS BIGINT), 'kept' FROM j WHERE new_attr = old_attr " +
      "UNION ALL SELECT key, new_attr, CAST(2 AS BIGINT), " +
      "CAST(-1 AS BIGINT), CASE WHEN old_attr IS NULL " +
      "THEN 'opened_new' ELSE 'opened' END FROM j " +
      "WHERE new_attr IS NOT NULL AND (old_attr IS NULL OR " +
      "new_attr <> old_attr)" +
      ") ORDER BY key, valid_from, action"

  /** Mojibake-repair oracle (r6): pins the REPAIRED text — the
    * operator corrupts phrase(doc_id % 8) (UTF-8 bytes re-read as
    * Latin-1, computed from the same literal table) and appends it;
    * the oracle states the clean phrase appended, by md5 and
    * codepoint lengths. A repair that is anything but an exact
    * byte-level inverse of the corruption hash-mismatches. len_in is
    * the corrupt codepoint count = UTF-8 byte count of the phrase
    * (every byte becomes one Latin-1 char), embedded as literals. */
  private val txMojibakeSql: String = {
    val phraseList = TextAnalysis.MojibakePhrases
      .map(p => s"'$p'").mkString("[", ", ", "]")
    val corrList = TextAnalysis.MojibakeCorrupt
      .map(_.length).mkString("[", ", ", "]")
    "WITH c AS (SELECT doc_id, text, " +
      s"$phraseList[CAST(1 + doc_id % 8 AS INT)] AS ph, " +
      s"$corrList[CAST(1 + doc_id % 8 AS INT)] AS cl FROM documents) " +
      "SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN CAST(0 AS BIGINT) " +
      "ELSE CAST(1 AS BIGINT) END AS changed, " +
      "CAST(CASE WHEN doc_id % 7 = 0 THEN length(text) " +
      "ELSE length(text) + 1 + cl END AS BIGINT) AS len_in, " +
      "CAST(CASE WHEN doc_id % 7 = 0 THEN length(text) " +
      "ELSE length(text) + 1 + length(ph) END AS BIGINT) AS len_out, " +
      "md5(CASE WHEN doc_id % 7 = 0 THEN text " +
      "ELSE text || ' ' || ph END) AS out_md5 " +
      "FROM c ORDER BY doc_id"
  }

  /** ZCR oracle (r6): recomputes every PCM sample from the fixture
    * byte formula, then lag-1 windows per doc ordered by sample
    * index. All quantities nonnegative or exact-integer products, so
    * DuckDB `//` and Scala `/` agree; ac1 pins adjacency order. */
  private val mmAudioZcrSql: String =
    "WITH p AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits, " +
      "(100 + doc_id % 400) * (1 + doc_id % 2) AS n " +
      "FROM documents WHERE doc_id % 13 <> 0), " +
      "j AS (SELECT doc_id, bits, n, unnest(range(0, n)) AS j FROM p), " +
      "v AS (SELECT doc_id, n, j, CASE WHEN bits = 8 " +
      "THEN ((j * 31 + doc_id) % 256) - 128 " +
      "ELSE CASE WHEN ((2 * j * 31 + doc_id) % 256) + " +
      "256 * (((2 * j + 1) * 31 + doc_id) % 256) >= 32768 " +
      "THEN ((2 * j * 31 + doc_id) % 256) + " +
      "256 * (((2 * j + 1) * 31 + doc_id) % 256) - 65536 " +
      "ELSE ((2 * j * 31 + doc_id) % 256) + " +
      "256 * (((2 * j + 1) * 31 + doc_id) % 256) END END AS v FROM j), " +
      "z AS (SELECT doc_id, n, v, " +
      "lag(v) OVER (PARTITION BY doc_id ORDER BY j) AS pv FROM v), " +
      "s AS (SELECT doc_id, n, " +
      "sum(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0)) " +
      "THEN 1 ELSE 0 END) AS zc, " +
      "sum(CASE WHEN pv IS NOT NULL THEN v * pv ELSE 0 END) AS ac1 " +
      "FROM z GROUP BY doc_id, n) " +
      "SELECT doc_id, 'wav' AS format, CAST(n AS BIGINT) AS n_vals, " +
      "CAST(zc AS BIGINT) AS zc, " +
      "CAST(zc * 1000000 // (n - 1) AS BIGINT) AS zcr_ppm, " +
      "CAST(ac1 AS BIGINT) AS ac1 FROM s " +
      "UNION ALL SELECT doc_id, 'unknown' AS format, " +
      "CAST(-1 AS BIGINT) AS n_vals, CAST(-1 AS BIGINT) AS zc, " +
      "CAST(-1 AS BIGINT) AS zcr_ppm, CAST(-1 AS BIGINT) AS ac1 " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  /** Resample oracle (r6): recomputes every PCM sample from the
    * fixture byte formula, decimates 4:1 by floor-div block mean,
    * and pins order with the weighted sum — both engines must decode
    * AND decimate byte-for-byte in the same order. Floor division:
    * DuckDB's `//` TRUNCATES toward zero on negatives (-3//4 = 0)
    * where the operator's Math.floorDiv floors (-3 floorDiv 4 = -1),
    * so the block mean is `floor(sum/4.0)` — division by a power of
    * two is IEEE-exact for |sum| ≤ 4·32768, making the double round
    * trip bit-safe cross-engine. */
  private val mmAudioResampleSql: String =
    "WITH p AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits, " +
      "(100 + doc_id % 400) * (1 + doc_id % 2) AS n " +
      "FROM documents WHERE doc_id % 13 <> 0), " +
      "j AS (SELECT doc_id, bits, n, unnest(range(0, n)) AS j FROM p), " +
      "v AS (SELECT doc_id, n, j, CASE WHEN bits = 8 " +
      "THEN ((j * 31 + doc_id) % 256) - 128 " +
      "ELSE CASE WHEN ((2 * j * 31 + doc_id) % 256) + " +
      "256 * (((2 * j + 1) * 31 + doc_id) % 256) >= 32768 " +
      "THEN ((2 * j * 31 + doc_id) % 256) + " +
      "256 * (((2 * j + 1) * 31 + doc_id) % 256) - 65536 " +
      "ELSE ((2 * j * 31 + doc_id) % 256) + " +
      "256 * (((2 * j + 1) * 31 + doc_id) % 256) END END AS v FROM j), " +
      "g AS (SELECT doc_id, j // 4 AS g, " +
      "CAST(floor(sum(v) / 4.0) AS BIGINT) AS rv FROM v " +
      "WHERE j < (n // 4) * 4 GROUP BY doc_id, j // 4), " +
      "s AS (SELECT doc_id, count(*) AS n_out, max(abs(rv)) AS peak, " +
      "sum(abs(rv)) AS sa, sum((g + 1) * rv) AS ws FROM g GROUP BY doc_id) " +
      "SELECT doc_id, 'wav' AS format, CAST(n_out AS BIGINT) AS n_out, " +
      "CAST(peak AS BIGINT) AS peak_abs, " +
      "CAST(sa // n_out AS BIGINT) AS mean_abs, " +
      "CAST(ws AS BIGINT) AS wsum FROM s " +
      "UNION ALL SELECT doc_id, 'unknown' AS format, " +
      "CAST(-1 AS BIGINT) AS n_out, CAST(-1 AS BIGINT) AS peak_abs, " +
      "CAST(-1 AS BIGINT) AS mean_abs, CAST(-1 AS BIGINT) AS wsum " +
      "FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id"

  private val mmFramesSql: String = {
    val stride = Multimodal.FrameStride
    "WITH f AS (SELECT doc_id, text, unnest(range(0, " +
      s"CAST(FLOOR((length(text) + ${stride - 1}) / $stride) AS BIGINT))) " +
      "AS frame_idx FROM documents) " +
      s"SELECT doc_id, frame_idx, frame_idx * $stride AS \"offset\", " +
      s"CAST(ascii(substr(text, CAST(frame_idx * $stride + 1 AS INTEGER), 1)) " +
      "AS BIGINT) AS sample FROM f ORDER BY doc_id, frame_idx"
  }

  /** Pixel-exact oracle for the r6 REAL resize: recomputes every
    * input pixel from the doc_id literal formula (byte i =
    * (doc_id·7 + i·13) mod 256 over w = 8 + id%9, h = 4 + id%7,
    * channels by parity), groups input pixels into their 2×2 output
    * blocks, integer floor-mean (SUM // COUNT — the Spark kernel's
    * exact arithmetic), then the position-weighted checksum. The
    * oracle never sees the Spark raster — only the shared literals —
    * so a decode/kernel bug cannot self-confirm. */
  private val mmResizeSql: String =
    "WITH d AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS c, " +
      "8 + doc_id % 9 AS w, 4 + doc_id % 7 AS h FROM documents), " +
      "ys AS (SELECT doc_id, c, w, h, unnest(range(0, h)) AS iy FROM d), " +
      "xs AS (SELECT doc_id, c, w, h, iy, unnest(range(0, w)) AS ix FROM ys), " +
      "px AS (SELECT doc_id, c, w, h, iy, ix, unnest(range(0, c)) AS ch FROM xs), " +
      "v AS (SELECT doc_id, c, w, h, iy // 2 AS oy, ix // 2 AS ox, ch, " +
      "(doc_id * 7 + ((iy * w + ix) * c + ch) * 13) % 256 AS pv FROM px), " +
      "cell AS (SELECT doc_id, c, w, h, oy, ox, ch, " +
      "SUM(pv) // COUNT(*) AS ov FROM v " +
      "GROUP BY doc_id, c, w, h, oy, ox, ch) " +
      "SELECT doc_id, " +
      // r7: every third doc ships the same pixels in a zlib PNG
      // container; the pixels (and so the checksum) are unchanged —
      // only the detected-format label differs.
      "CASE WHEN doc_id % 3 = 2 THEN 'png' " +
      "WHEN c = 1 THEN 'pgm' ELSE 'ppm' END AS format, " +
      "CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, " +
      "CAST((w + 1) // 2 AS BIGINT) AS out_w, " +
      "CAST((h + 1) // 2 AS BIGINT) AS out_h, " +
      "CAST(((w + 1) // 2) * ((h + 1) // 2) * c AS BIGINT) AS out_bytes, " +
      "CAST(SUM(ov * ((oy * ((w + 1) // 2) + ox) * c + ch + 1)) AS BIGINT) " +
      "AS checksum " +
      "FROM cell GROUP BY doc_id, c, w, h ORDER BY doc_id"

  private val mmResizeBytesSql: String = {
    val t = Multimodal.ResizeTarget
    // stride = ceil(n/target); sampled offsets 0, stride, 2*stride, …
    s"WITH s AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n, " +
      s"CAST(FLOOR((length(text) + ${t - 1}) / $t) AS BIGINT) AS stride " +
      "FROM documents) " +
      "SELECT doc_id, n AS orig_bytes, " +
      "CASE WHEN n = 0 THEN CAST(0 AS BIGINT) ELSE " +
      "CAST(FLOOR((n + stride - 1) / stride) AS BIGINT) END AS out_bytes, " +
      "CASE WHEN n = 0 THEN '' ELSE array_to_string(list_transform(" +
      "range(0, CAST(FLOOR((n + stride - 1) / stride) AS BIGINT)), " +
      "i -> substr(text, CAST(i * stride + 1 AS INTEGER), 1)), '') END AS resized, " +
      "CASE WHEN n = 0 THEN CAST(0 AS BIGINT) ELSE " +
      "CAST(list_sum(list_transform(range(0, " +
      "CAST(FLOOR((n + stride - 1) / stride) AS BIGINT)), " +
      "i -> ascii(substr(text, CAST(i * stride + 1 AS INTEGER), 1)))) AS BIGINT) " +
      "END AS checksum FROM s ORDER BY doc_id"
  }

  /** Shared CTE chain recomputing every grouped-raster pixel from
    * doc_id literals (the [[Multimodal.syntheticGroupRasters]]
    * formula), collapsing to gray, 8×8 floor-mean cells, the cell
    * mean, and finally the aHash as two nonnegative 32-bit halves —
    * the full [[graft.operators.ImageCodec.averageHash]] pipeline
    * restated in SQL, so a decode/grid/threshold bug at any pixel
    * fails the hash. Pixel index decomposes as i = (iy·w + ix)·c + ch
    * ⇒ iy = i // (w·c), ix = (i // c) % w. */
  private val mmPhashBaseSql: String =
    "WITH d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m FROM documents), " +
      "p AS (SELECT doc_id, g, m, CASE WHEN g % 2 = 0 THEN 1 ELSE 3 END AS c, " +
      "8 + g % 5 AS w, 8 + g % 3 AS h, 3 + g % 97 AS k FROM d), " +
      "px AS (SELECT doc_id, c, w, h, k, g, m, unnest(range(0, w * h * c)) AS i FROM p), " +
      "v AS (SELECT doc_id, c, w, h, i // (w * c) AS iy, (i // c) % w AS ix, " +
      "(i * k + g * 11 + CASE WHEN i % 37 = 0 THEN m * 24 ELSE 0 END) % 256 AS pv FROM px), " +
      "gr AS (SELECT doc_id, w, h, iy, ix, SUM(pv) // c AS gv " +
      "FROM v GROUP BY doc_id, c, w, h, iy, ix), " +
      "cell AS (SELECT doc_id, (iy * 8) // h AS cy, (ix * 8) // w AS cx, " +
      "SUM(gv) // COUNT(*) AS cv FROM gr GROUP BY doc_id, w, h, cy, cx), " +
      "mu AS (SELECT doc_id, SUM(cv) // 64 AS mean FROM cell GROUP BY doc_id), " +
      "hs AS (SELECT cell.doc_id, " +
      "CAST(SUM(CASE WHEN cv > mean AND cy * 8 + cx >= 32 " +
      "THEN (CAST(1 AS BIGINT) << (cy * 8 + cx - 32)) ELSE 0 END) AS BIGINT) AS hash_hi, " +
      "CAST(SUM(CASE WHEN cv > mean AND cy * 8 + cx < 32 " +
      "THEN (CAST(1 AS BIGINT) << (cy * 8 + cx)) ELSE 0 END) AS BIGINT) AS hash_lo " +
      "FROM cell JOIN mu ON cell.doc_id = mu.doc_id GROUP BY cell.doc_id)"

  private val mmPhashSql: String =
    mmPhashBaseSql +
      " SELECT p.doc_id, CAST(p.w AS BIGINT) AS width, " +
      "CAST(p.h AS BIGINT) AS height, CAST(p.c AS BIGINT) AS channels, " +
      "hash_hi, hash_lo FROM p JOIN hs ON p.doc_id = hs.doc_id ORDER BY p.doc_id"

  /** Brute-force hamming pairs over the recomputed hashes: the banded
    * blocker's d ≤ 3 recall guarantee (pigeonhole over 4×16-bit
    * bands) means the oracle can verify the GUARANTEE itself instead
    * of replicating the banding — same adjudication pattern as
    * dd_simhash_pairs_wide. */
  private val ddImageNearDupSql: String =
    mmPhashBaseSql +
      " SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "CAST(bit_count(xor(a.hash_hi, b.hash_hi)) + " +
      "bit_count(xor(a.hash_lo, b.hash_lo)) AS BIGINT) AS hamming " +
      "FROM hs a JOIN hs b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.hash_hi, b.hash_hi)) + " +
      "bit_count(xor(a.hash_lo, b.hash_lo)) <= 3 " +
      "ORDER BY doc_a, doc_b"

  /** Oriented-fixture twin of [[mmPhashBaseSql]] (r9): the
    * [[Multimodal.syntheticOrientedRasters]] corpus stores each
    * raster PRE-ROTATED by the inverse of its EXIF orientation
    * o = 1 + doc_id % 8, and [[Multimodal.imagePhashOriented]]
    * decodes + orientation-normalizes BEFORE hashing — so the oracle
    * recomputes the hash from the UPRIGHT pixel formula without ever
    * seeing a rotated byte. Any wrong inverse mapping on the Spark
    * side (mirrored axis, CW/CCW swap, missed dim swap) produces a
    * different normalized raster and fails the hash. Grayscale
    * (c = 1) so the gray-collapse CTE drops out; upright dims
    * w = 8 + g%5, h = 8 + g%3, pixel i = (i·k + g·11 + [i%37=0]·m·24)
    * mod 256 with k = 3 + g%97 — the exact fixture literals. */
  private val mmPhashOrientedBaseSql: String =
    "WITH d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m FROM documents), " +
      "p AS (SELECT doc_id, g, m, 8 + g % 5 AS w, 8 + g % 3 AS h, " +
      "3 + g % 97 AS k FROM d), " +
      "px AS (SELECT doc_id, w, h, k, g, m, unnest(range(0, w * h)) AS i FROM p), " +
      "v AS (SELECT doc_id, w, h, i // w AS iy, i % w AS ix, " +
      "(i * k + g * 11 + CASE WHEN i % 37 = 0 THEN m * 24 ELSE 0 END) % 256 AS pv " +
      "FROM px), " +
      "cell AS (SELECT doc_id, (iy * 8) // h AS cy, (ix * 8) // w AS cx, " +
      "SUM(pv) // COUNT(*) AS cv FROM v GROUP BY doc_id, w, h, cy, cx), " +
      "mu AS (SELECT doc_id, SUM(cv) // 64 AS mean FROM cell GROUP BY doc_id), " +
      "hs AS (SELECT cell.doc_id, " +
      "CAST(SUM(CASE WHEN cv > mean AND cy * 8 + cx >= 32 " +
      "THEN (CAST(1 AS BIGINT) << (cy * 8 + cx - 32)) ELSE 0 END) AS BIGINT) AS hash_hi, " +
      "CAST(SUM(CASE WHEN cv > mean AND cy * 8 + cx < 32 " +
      "THEN (CAST(1 AS BIGINT) << (cy * 8 + cx)) ELSE 0 END) AS BIGINT) AS hash_lo " +
      "FROM cell JOIN mu ON cell.doc_id = mu.doc_id GROUP BY cell.doc_id)"

  /** Every 13th payload is truncated in the fixture (the corrupt-file
    * DLT arm) → the all-(−1) row, restated here as the CASE guard. */
  private val mmPhashOrientedSql: String =
    mmPhashOrientedBaseSql +
      " SELECT p.doc_id, " +
      "CASE WHEN p.doc_id % 13 = 0 THEN CAST(-1 AS BIGINT) " +
      "ELSE CAST(p.w AS BIGINT) END AS width, " +
      "CASE WHEN p.doc_id % 13 = 0 THEN CAST(-1 AS BIGINT) " +
      "ELSE CAST(p.h AS BIGINT) END AS height, " +
      "CASE WHEN p.doc_id % 13 = 0 THEN CAST(-1 AS BIGINT) " +
      "ELSE CAST(1 AS BIGINT) END AS channels, " +
      "CASE WHEN p.doc_id % 13 = 0 THEN CAST(-1 AS BIGINT) " +
      "ELSE hash_hi END AS hash_hi, " +
      "CASE WHEN p.doc_id % 13 = 0 THEN CAST(-1 AS BIGINT) " +
      "ELSE hash_lo END AS hash_lo " +
      "FROM p JOIN hs ON p.doc_id = hs.doc_id ORDER BY p.doc_id"

  /** [[ddImageNearDupSql]]'s guarantee-verification pattern over the
    * oriented corpus: brute-force hamming over the upright-formula
    * hashes, with the fixture's truncated (doc_id % 13 = 0) docs
    * excluded exactly as the Spark side's hash_hi >= 0 filter drops
    * DLT rows before banding. A pair of mutually-ROTATED duplicates
    * appears here iff normalization made their hashes near — raw
    * stored-pixel hashing cannot produce these pairs. */
  private val ddImageNearDupOrientedSql: String =
    mmPhashOrientedBaseSql +
      " SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "CAST(bit_count(xor(a.hash_hi, b.hash_hi)) + " +
      "bit_count(xor(a.hash_lo, b.hash_lo)) AS BIGINT) AS hamming " +
      "FROM hs a JOIN hs b ON a.doc_id < b.doc_id " +
      "WHERE a.doc_id % 13 <> 0 AND b.doc_id % 13 <> 0 " +
      "AND bit_count(xor(a.hash_hi, b.hash_hi)) + " +
      "bit_count(xor(a.hash_lo, b.hash_lo)) <= 3 " +
      "ORDER BY doc_a, doc_b"

  /** [[graft.operators.CuratePipeline.curateMultimodal]] (r14): the
    * image↔caption PAIR curation composite, restated from scratch —
    * the oriented-fixture hash chain (the oracle recomputes pixels
    * from doc_id literals, so the Spark side's decode +
    * orientation-normalize + aHash cannot self-confirm), brute-force
    * hamming image losers (the banding's d ≤ 3 recall guarantee lets
    * the oracle verify the GUARANTEE, [[ddImageNearDupOrientedSql]]'s
    * pattern), the quality and AUTO-banded MinHash caption chains
    * reused verbatim as nested-WITH subqueries (the
    * [[pipelineCurateSql]] convention), the either-side pair rule as
    * two NOT EXISTS, and the same integer patch/token accounting and
    * placeholder render. */
  private val pipelineCurateMmSql: String =
    "WITH ph AS (" + mmPhashOrientedBaseSql +
      " SELECT p.doc_id, p.w, p.h, hash_hi, hash_lo " +
      "FROM p JOIN hs ON p.doc_id = hs.doc_id " +
      "WHERE p.doc_id % 13 <> 0), " +
      "img_losers AS (SELECT DISTINCT b.doc_id FROM ph a " +
      "JOIN ph b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.hash_hi, b.hash_hi)) + " +
      "bit_count(xor(a.hash_lo, b.hash_lo)) <= 3), " +
      "q AS (SELECT doc_id, quality_ppm FROM (" + txQualitySql + ")), " +
      "cap_losers AS (SELECT DISTINCT doc_b AS doc_id " +
      "FROM (" + ddMinhashAutoSql + ") WHERE est_jaccard_ppm >= 750000) " +
      "SELECT d.doc_id, CAST(ph.w AS BIGINT) AS width, " +
      "CAST(ph.h AS BIGINT) AS height, " +
      "CAST(((ph.w + 3) // 4) * ((ph.h + 3) // 4) AS BIGINT) AS n_patches, " +
      "CAST(len(string_split(d.text, ' ')) AS BIGINT) AS caption_tokens, " +
      "CAST(((ph.w + 3) // 4) * ((ph.h + 3) // 4) " +
      "+ len(string_split(d.text, ' ')) AS BIGINT) AS total_tokens, " +
      "CAST(((ph.w + 3) // 4) * ((ph.h + 3) // 4) AS BIGINT) AS loss_start, " +
      "'<|image:' || ph.w || 'x' || ph.h || '|> ' || d.text AS rendered " +
      "FROM documents d JOIN ph ON ph.doc_id = d.doc_id " +
      "JOIN q ON q.doc_id = d.doc_id " +
      "WHERE q.quality_ppm >= 750000 " +
      "AND NOT EXISTS (SELECT 1 FROM img_losers il WHERE il.doc_id = d.doc_id) " +
      "AND NOT EXISTS (SELECT 1 FROM cap_losers cl WHERE cl.doc_id = d.doc_id) " +
      "ORDER BY d.doc_id"

  /** [[graft.operators.CuratePipeline.assembleMultimodal]] (r14): the
    * mm curation chain reused verbatim as a CTE, the lang-partitioned
    * packing window over the PAIR token cost (vision patches +
    * caption tokens), then the manifest aggregate — the
    * [[pipelineAssembleSql]] pattern at pair grain. */
  private val pipelineAssembleMmSql: String =
    "WITH cur AS (" + pipelineCurateMmSql + "), " +
      "p AS (SELECT c.doc_id, d.lang, c.n_patches, c.caption_tokens, " +
      "c.total_tokens, " +
      "CAST(FLOOR(COALESCE(sum(c.total_tokens) OVER " +
      "(PARTITION BY d.lang ORDER BY c.doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
      "/ 4096.0) AS BIGINT) AS shard_id " +
      "FROM cur c JOIN documents d ON d.doc_id = c.doc_id) " +
      "SELECT lang, shard_id, CAST(count(*) AS BIGINT) AS n_pairs, " +
      "CAST(sum(n_patches) AS BIGINT) AS vision_tokens, " +
      "CAST(sum(caption_tokens) AS BIGINT) AS text_tokens, " +
      "CAST(sum(total_tokens) AS BIGINT) AS n_tokens, " +
      "min(doc_id) AS first_doc, max(doc_id) AS last_doc " +
      "FROM p GROUP BY 1, 2 ORDER BY lang, shard_id"

  // ---------------------------------------------------------------
  // relational scale demos
  // ---------------------------------------------------------------

  private def centsSql(e: String) = s"CAST(FLOOR(($e) * 100) AS BIGINT)"

  private val relPricingSql: String =
    "SELECT l_returnflag, l_linestatus, count(*) AS n_rows, " +
      s"CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_c, " +
      s"CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_price_c, " +
      s"CAST(sum(${centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS sum_disc_price_c " +
      "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
      "GROUP BY 1, 2 ORDER BY 1, 2"

  private val relBrandRevenueSql: String =
    "SELECT p_brand, count(*) AS n_items, " +
      s"CAST(sum(${centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS revenue_c " +
      "FROM lineitem JOIN part ON l_partkey = p_partkey " +
      "GROUP BY 1 ORDER BY 1"

  private val relRegionPrioritySql: String =
    "SELECT r_name, o_orderpriority, count(*) AS n_orders, " +
      s"CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS revenue_c " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "JOIN nation ON c_nationkey = n_nationkey " +
      "JOIN region ON n_regionkey = r_regionkey " +
      "GROUP BY 1, 2 ORDER BY 1, 2"

  private val relTopOrdersSql: String =
    "SELECT o_custkey, rk, o_orderkey, price_c FROM (" +
      s"SELECT o_custkey, o_orderkey, ${centsSql("o_totalprice")} AS price_c, " +
      "CAST(row_number() OVER (PARTITION BY o_custkey " +
      "ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rk FROM orders) " +
      "WHERE rk <= 3 ORDER BY o_custkey, rk"

  /** [[RelQueries.purchaseLastClick]]: restated as an explicit argmax
    * (r7) rather than DuckDB's native ASOF JOIN — native ASOF leaves
    * the pick among EQUAL-timestamp clicks to engine whim, and the
    * probe corpus's duplicated rows exposed the two engines choosing
    * differently; the (ts DESC, event_id DESC) rank pins the same
    * max-event_id tiebreak the Spark operator now declares. */
  private val relAsofSql: String =
    "WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'), " +
      "c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'), " +
      "j AS (SELECT p.event_id AS purchase_id, p.user_id AS user_id, " +
      "epoch_us(p.ts) AS purchase_us, c.event_id AS click_id, " +
      "epoch_us(c.ts) AS click_us, " +
      "row_number() OVER (PARTITION BY p.event_id " +
      "ORDER BY c.ts DESC, c.event_id DESC) AS rk " +
      "FROM p JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts) " +
      "SELECT purchase_id, user_id, purchase_us, click_id, click_us " +
      "FROM j WHERE rk = 1 ORDER BY purchase_id"

  /** [[RelQueries.trendSlope]] oracle — the OLS sufficient
    * statistics re-derived from rebased integer days; num/den are
    * exact, the ppm form shares the floor(1e6·num/den) IEEE division
    * convention (floor ≠ truncation on negative slopes — using //
    * here would diverge from Spark's floor()). */
  private val relSlopeSql: String =
    "WITH d AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, " +
      "count(*) AS n FROM events GROUP BY 1, 2), " +
      "m0 AS (SELECT min(day) AS day0 FROM d), " +
      "r AS (SELECT event_type, day - day0 AS x, n AS y FROM d, m0), " +
      "s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, " +
      "CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, " +
      "CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx " +
      "FROM r GROUP BY 1) " +
      "SELECT event_type, n_days, " +
      "n_days * sxy - sx * sy AS slope_num, " +
      "n_days * sxx - sx * sx AS slope_den, " +
      "CAST(CASE WHEN n_days * sxx - sx * sx > 0 THEN " +
      "FLOOR(1000000.0 * (n_days * sxy - sx * sy) / (n_days * sxx - sx * sx)) " +
      "ELSE 0 END AS BIGINT) AS slope_ppm " +
      "FROM s ORDER BY event_type"

  /** [[RelQueries.attribMulti]] oracle — window membership, the
    * (c_us, click_id) position order, and the exact-integer U-shape
    * weights all re-derived; a float-division weight, a wrong
    * remainder assignment, or an off-by-one window bound fails the
    * hash (weights must sum to exactly 1e6 per purchase in BOTH
    * engines). */
  private val relAttribMultiSql: String =
    "WITH e AS (SELECT event_type, user_id, event_id, epoch_us(ts) AS us FROM events), " +
      "p AS (SELECT user_id, event_id AS purchase_id, us AS p_us FROM e " +
      "WHERE event_type = 'purchase'), " +
      "c AS (SELECT user_id, event_id AS click_id, us AS c_us FROM e " +
      "WHERE event_type = 'click'), " +
      "pr AS (SELECT p.purchase_id, p.user_id, c.click_id, c.c_us " +
      "FROM p JOIN c ON c.user_id = p.user_id " +
      "AND c.c_us <= p.p_us AND c.c_us > p.p_us - 3600000000), " +
      "wn AS (SELECT purchase_id, user_id, click_id, " +
      "row_number() OVER (PARTITION BY purchase_id " +
      "ORDER BY c_us ASC, click_id ASC) AS pos, " +
      "count(*) OVER (PARTITION BY purchase_id) AS n_touch FROM pr) " +
      "SELECT purchase_id, user_id, click_id, CAST(pos AS BIGINT) AS pos, " +
      "CAST(n_touch AS BIGINT) AS n_touch, " +
      "CAST(CASE WHEN n_touch = 1 THEN 1000000 " +
      "WHEN n_touch = 2 THEN 500000 " +
      "WHEN pos = 1 OR pos = n_touch THEN 400000 " +
      "ELSE 200000 // (n_touch - 2) + " +
      "(CASE WHEN pos - 1 <= 200000 % (n_touch - 2) THEN 1 ELSE 0 END) " +
      "END AS BIGINT) AS weight_ppm " +
      "FROM wn ORDER BY purchase_id, pos"

  /** [[RelQueries.tCloseness]] oracle — the ordinal EMD re-derived on
    * the dense class×band grid (zero-count bands included: a missing
    * band IS distance); all shares integer ppm so a float-share
    * implementation, a sparse grid, or a wrong normalization (m vs
    * m−1) fails the hash. */
  private val relTclosenessSql: String =
    "WITH r AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey, " +
      "c_mktsegment AS mktsegment, " +
      "CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band FROM customer), " +
      "cc AS (SELECT nationkey, mktsegment, CAST(count(*) AS BIGINT) AS n_members " +
      "FROM r GROUP BY 1, 2), " +
      "cb AS (SELECT nationkey, mktsegment, bal_band, count(*) AS cnt " +
      "FROM r GROUP BY 1, 2, 3), " +
      "gb0 AS (SELECT bal_band, count(*) AS g FROM r GROUP BY 1), " +
      "gb AS (SELECT bal_band, SUM(g) OVER (ORDER BY bal_band " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gcum FROM gb0), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS big_n FROM r), " +
      "grid AS (SELECT cc.nationkey, cc.mktsegment, cc.n_members, " +
      "gb.bal_band, gb.gcum, COALESCE(cb.cnt, 0) AS cnt " +
      "FROM cc CROSS JOIN gb LEFT JOIN cb ON cb.nationkey = cc.nationkey " +
      "AND cb.mktsegment = cc.mktsegment AND cb.bal_band = gb.bal_band), " +
      "gc AS (SELECT *, SUM(cnt) OVER (PARTITION BY nationkey, mktsegment " +
      "ORDER BY bal_band ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
      "AS ccum FROM grid), " +
      "gaps AS (SELECT nationkey, mktsegment, n_members, " +
      "abs((1000000 * ccum) // n_members - (1000000 * gcum) // big_n) AS gap " +
      "FROM gc, tot), " +
      "agg AS (SELECT nationkey, mktsegment, n_members, SUM(gap) AS gap_sum, " +
      "count(*) AS m FROM gaps GROUP BY 1, 2, 3), " +
      "fin AS (SELECT nationkey, mktsegment, n_members, " +
      "CAST(CASE WHEN m > 1 THEN gap_sum // (m - 1) ELSE 0 END AS BIGINT) " +
      "AS emd_ppm FROM agg) " +
      "SELECT nationkey, mktsegment, n_members, emd_ppm, " +
      "CAST(CASE WHEN emd_ppm > 200000 THEN 1 ELSE 0 END AS BIGINT) AS at_risk " +
      "FROM fin ORDER BY nationkey, mktsegment"

  private val relRangeClicksSql: String =
    "WITH e AS (SELECT event_type, user_id, event_id, epoch_us(ts) AS us FROM events), " +
      "p AS (SELECT user_id, event_id AS purchase_id, us AS purchase_us FROM e " +
      "WHERE event_type = 'purchase'), " +
      "c AS (SELECT user_id AS c_user, us AS c_us FROM e WHERE event_type = 'click') " +
      "SELECT p.purchase_id, p.user_id, p.purchase_us, " +
      "CAST(count(c.c_us) AS BIGINT) AS n_clicks " +
      "FROM p LEFT JOIN c ON c.c_user = p.user_id " +
      "AND c.c_us > p.purchase_us - 3600000000 AND c.c_us <= p.purchase_us " +
      "GROUP BY 1, 2, 3 ORDER BY 1"

  private val relRollupSql: String =
    "SELECT l_returnflag, l_linestatus, count(*) AS n_rows, " +
      s"CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_c " +
      "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
      "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"

  /** Pivot oracle: the conditional-aggregation form Spark's
    * explicit-values pivot compiles to. */
  private val relPivotSql: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cols = types.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t")
      .mkString(", ")
    "SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, " + cols +
      " FROM events GROUP BY 1 ORDER BY 1"
  }

  private val relSetOpsSql: String =
    "WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'), " +
      "p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') " +
      "SELECT op, n_users FROM (" +
      "SELECT '1_intersect' AS op, CAST(count(*) AS BIGINT) AS n_users " +
      "FROM (SELECT user_id FROM v INTERSECT SELECT user_id FROM p) " +
      "UNION ALL SELECT '2_view_only', CAST(count(*) AS BIGINT) " +
      "FROM (SELECT user_id FROM v EXCEPT SELECT user_id FROM p) " +
      "UNION ALL SELECT '3_purchase_only', CAST(count(*) AS BIGINT) " +
      "FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM v) " +
      "UNION ALL SELECT '4_union', CAST(count(*) AS BIGINT) " +
      "FROM (SELECT user_id FROM v UNION SELECT user_id FROM p)" +
      ") ORDER BY op"

  private val relCubeSql: String =
    "SELECT l_returnflag, l_linestatus, count(*) AS n_rows, " +
      s"CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_c " +
      "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
      "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"

  private val relJsonPropsSql: String =
    "SELECT event_type, count(*) AS n, " +
      "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
      "min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k, " +
      "max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k " +
      "FROM events GROUP BY 1 ORDER BY 1"

  private val relMedianSql: String =
    "SELECT event_type, count(*) AS n, " +
      s"CAST(FLOOR(2 * quantile_cont(${centsSql("value")}, 0.5)) AS BIGINT) AS med2_c " +
      "FROM events GROUP BY 1 ORDER BY 1"

  private val relValueBandsSql: String =
    "WITH bands(band_id, lo, hi) AS (VALUES " +
      "(0, -1e18, 0.0), (1, 0.0, 10.0), (2, 10.0, 25.0), (3, 25.0, 50.0), " +
      "(4, 50.0, 100.0), (5, 100.0, 250.0), (6, 250.0, 1e18)) " +
      "SELECT CAST(band_id AS BIGINT) AS band_id, count(*) AS n, " +
      s"CAST(sum(${centsSql("value")}) AS BIGINT) AS sum_value_c " +
      "FROM events JOIN bands ON value >= lo AND value < hi " +
      "GROUP BY 1 ORDER BY 1"

  /** Session emulation windows order by (us, event_id) — a TOTAL
    * order (r7): with duplicate timestamps, `ORDER BY us` alone lets
    * the lag window and the running-sum window sequence the tied rows
    * DIFFERENTLY (independent arbitrary tie orders), which can land
    * the break flag mid-tie-group and split a session 12/8 where the
    * set-based session_window correctly splits 10/10 — exactly what
    * the probe corpus's duplicated (user, ts) rows produced. Gaps
    * within a tie group are 0 either way; the total order just makes
    * the flag and the sum walk the SAME sequence. */
  private val relSessionsSql: String = {
    val gapUs = 6L * 3600 * 1000000
    "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), " +
      "flag AS (SELECT user_id, event_id, us, CASE WHEN us - lag(us) OVER " +
      s"(PARTITION BY user_id ORDER BY us, event_id) >= $gapUs THEN 1 ELSE 0 END AS brk FROM e), " +
      "ses AS (SELECT user_id, us, sum(brk) OVER (PARTITION BY user_id " +
      "ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM flag), " +
      "agg AS (SELECT user_id, sid, min(us) AS session_start_us, " +
      s"max(us) + $gapUs AS session_end_us, count(*) AS n_events " +
      "FROM ses GROUP BY 1, 2) " +
      "SELECT user_id, session_start_us, session_end_us, n_events " +
      "FROM agg ORDER BY user_id, session_start_us"
  }

  /** [[RelQueries.rfmSegments]]: same per-customer aggregates, same
    * nearest-rank quintile picks ((n−1)·20k div 100, value at rank
    * independent of tie order), same threshold-compare scoring. */
  private val relRfmSql: String = {
    def thCte(dim: String): String =
      s"${dim}_t AS (SELECT " +
        (1 to 4).map(k =>
          s"min(CASE WHEN rn = ((n - 1) * ${20 * k}) // 100 THEN v END) " +
            s"AS ${dim}_t$k").mkString(", ") +
        s" FROM (SELECT $dim AS v, row_number() OVER (ORDER BY $dim) - 1 " +
        "AS rn, g.n AS n FROM f, g))"
    def binsUp(dim: String): String =
      (1 to 4).map(k =>
        s"(CASE WHEN $dim > ${dim}_t$k THEN 1 ELSE 0 END)")
        .mkString(" + ")
    "WITH pc AS (SELECT o_custkey AS custkey, " +
      "max(epoch_ns(o_orderdate) // 86400000000000) AS last_day, " +
      s"count(*) AS f_cnt, sum(${centsSql("o_totalprice")}) AS m_c " +
      "FROM orders GROUP BY 1), " +
      "g AS (SELECT max(last_day) AS corpus_last, count(*) AS n FROM pc), " +
      "f AS (SELECT custkey, g.corpus_last - last_day AS r_days, " +
      "f_cnt, m_c FROM pc, g), " +
      s"${thCte("r_days")}, ${thCte("f_cnt")}, ${thCte("m_c")}, " +
      "s AS (SELECT custkey, r_days, f_cnt, m_c, " +
      s"5 - (${binsUp("r_days")}) AS r_score, " +
      s"1 + (${binsUp("f_cnt")}) AS f_score, " +
      s"1 + (${binsUp("m_c")}) AS m_score " +
      "FROM f, r_days_t, f_cnt_t, m_c_t) " +
      "SELECT custkey, r_days, CAST(f_cnt AS BIGINT) AS f_cnt, " +
      "CAST(m_c AS BIGINT) AS m_c, " +
      "CAST(r_score AS BIGINT) AS r_score, " +
      "CAST(f_score AS BIGINT) AS f_score, " +
      "CAST(m_score AS BIGINT) AS m_score, " +
      "CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment " +
      "FROM s ORDER BY custkey"
  }

  /** [[RelQueries.abTest]]: identical cross-multiplied z² inequality
    * in HUGEINT (DuckDB's 128-bit integer twin of Spark's
    * DECIMAL(38,0)). */
  private val relAbtestSql: String =
    "WITH arms AS (SELECT event_type, COUNT(*) AS n, " +
      "SUM(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END) AS s " +
      "FROM events GROUP BY 1) " +
      "SELECT a.event_type AS t1, b.event_type AS t2, " +
      "CAST(a.n AS BIGINT) AS n1, CAST(a.s AS BIGINT) AS s1, " +
      "CAST(b.n AS BIGINT) AS n2, CAST(b.s AS BIGINT) AS s2, " +
      "CAST((a.s * 1000000) // a.n AS BIGINT) AS conv1_ppm, " +
      "CAST((b.s * 1000000) // b.n AS BIGINT) AS conv2_ppm, " +
      // the engine's overflow guard, restated (r9, ADVICE r8): in the
      // (9e37, ~1.7e38] band HUGEINT would still be exact where
      // Spark's DECIMAL(38,0) is not — without the twin guard the
      // engines DIVERGE at the boundary (Spark raises, DuckDB rows).
      // error() is DuckDB's raise_error; lazily evaluated like CASE.
      "CAST(CASE WHEN " +
      "pow(CAST(a.s AS DOUBLE)*CAST(b.n AS DOUBLE) " +
      "- CAST(b.s AS DOUBLE)*CAST(a.n AS DOUBLE), 2) * " +
      "(CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE)) * 1e4 > 9e37 " +
      "OR 38416.0 * CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE) * " +
      "(CAST(a.s AS DOUBLE) + CAST(b.s AS DOUBLE)) * " +
      "(CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE) " +
      "- CAST(a.s AS DOUBLE) - CAST(b.s AS DOUBLE)) > 9e37 " +
      "THEN CAST(error('abTest: arm sizes exceed the exact " +
      "DECIMAL(38,0) z-test bound (~5e6 rows/arm worst case); " +
      "pre-scale the counts') AS INT) WHEN " +
      "CAST(a.s*b.n - b.s*a.n AS HUGEINT) * " +
      "CAST(a.s*b.n - b.s*a.n AS HUGEINT) * " +
      "(CAST(a.n+b.n AS HUGEINT) * 10000) > " +
      "CAST(38416 AS HUGEINT) * CAST(a.n AS HUGEINT) * " +
      "CAST(b.n AS HUGEINT) * CAST(a.s+b.s AS HUGEINT) * " +
      "CAST((a.n+b.n)-(a.s+b.s) AS HUGEINT) " +
      "THEN 1 ELSE 0 END AS BIGINT) AS significant " +
      "FROM arms a JOIN arms b ON a.event_type < b.event_type " +
      "ORDER BY t1, t2"

  /** [[RelQueries.sessionConcurrency]]: sessions rebuilt via the
    * [[relSessionsSql]] island CTEs, then the identical two-level
    * prefix-sum algebra — per-hour net deltas, hour-table carry-in,
    * within-hour running peaks (ends before starts at equal t via
    * delta asc; equal-delta tie order cannot change the max). */
  private val relConcurrencySql: String = {
    val gapUs = 6L * 3600 * 1000000
    "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), " +
      "flag AS (SELECT user_id, event_id, us, CASE WHEN us - lag(us) OVER " +
      s"(PARTITION BY user_id ORDER BY us, event_id) >= $gapUs THEN 1 ELSE 0 END AS brk FROM e), " +
      "ses AS (SELECT user_id, us, sum(brk) OVER (PARTITION BY user_id " +
      "ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM flag), " +
      "agg AS (SELECT user_id, sid, min(us) AS s_us, " +
      s"max(us) + $gapUs AS e_us FROM ses GROUP BY 1, 2), " +
      "b AS (SELECT s_us AS t, 1 AS delta FROM agg " +
      "UNION ALL SELECT e_us AS t, -1 AS delta FROM agg), " +
      "hb AS (SELECT (t // 3600000000) * 3600 AS hour_epoch_s, t, delta " +
      "FROM b), " +
      "ha AS (SELECT hour_epoch_s, " +
      "SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS n_starts, " +
      "SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS n_ends, " +
      "SUM(delta) AS net FROM hb GROUP BY 1), " +
      "ca AS (SELECT hour_epoch_s, n_starts, n_ends, " +
      "COALESCE(SUM(net) OVER (ORDER BY hour_epoch_s ROWS BETWEEN " +
      "UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry_in FROM ha), " +
      "pk AS (SELECT hour_epoch_s, MAX(run) AS peak_rel FROM " +
      "(SELECT hour_epoch_s, SUM(delta) OVER (PARTITION BY hour_epoch_s " +
      "ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS run FROM hb) " +
      "GROUP BY 1) " +
      "SELECT ca.hour_epoch_s, CAST(n_starts AS BIGINT) AS n_starts, " +
      "CAST(n_ends AS BIGINT) AS n_ends, " +
      "CAST(carry_in + peak_rel AS BIGINT) AS peak_concurrent " +
      "FROM ca JOIN pk ON ca.hour_epoch_s = pk.hour_epoch_s ORDER BY 1"
  }

  private val relDlqHourlySql: String =
    "SELECT (epoch_us(ts) // 3600000000) * 3600 AS hour_epoch_s, " +
      "count(*) AS n, " +
      "CAST(sum(CASE WHEN value >= 100.0 THEN 0 ELSE 1 END) AS BIGINT) AS n_dead, " +
      "CAST(FLOOR(1000000.0 * sum(CASE WHEN value >= 100.0 THEN 0 ELSE 1 END) " +
      "/ count(*)) AS BIGINT) AS dead_ppm " +
      "FROM events GROUP BY 1 ORDER BY 1"

  private val relHourlyEventsSql: String =
    "SELECT (epoch_us(ts) // 3600000000) * 3600 AS hour_epoch_s, event_type, " +
      "count(*) AS n, " +
      s"CAST(sum(${centsSql("value")}) AS BIGINT) AS sum_value_c " +
      "FROM events GROUP BY 1, 2 ORDER BY 1, 2"

  /** [[RelQueries.kAnonymity]]: DOUBLE floor for the balance band —
    * integer-division negative semantics differ between the engines
    * (Spark div truncates, DuckDB // floors) and acctbal goes
    * negative; FLOOR(x/1000.0) floors identically in both. */
  /** [[RelQueries.lDiversity]]: same band formula as the k-anon
    * oracle, diversity = distinct bands per QI class. */
  private val relLdiversitySql: String =
    "SELECT CAST(c_nationkey AS BIGINT) AS nationkey, " +
      "c_mktsegment AS mktsegment, " +
      "COUNT(*) AS n_members, " +
      "CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) " +
      "AS BIGINT) AS n_sensitive, " +
      "CAST(CASE WHEN COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) " +
      "AS BIGINT)) < 3 THEN 1 ELSE 0 END AS BIGINT) AS at_risk " +
      "FROM customer GROUP BY 1, 2 ORDER BY 1, 2"

  /** [[RelQueries.skewJoinRevenue]]: the PLAIN inner join — the salt
    * must be semantically invisible, so the oracle never sees it. */
  private val relSkewJoinSql: String =
    "SELECT CAST(s.s_nationkey AS BIGINT) AS nationkey, " +
      "COUNT(*) AS n_events, " +
      "CAST(SUM(CAST(FLOOR(e.value * 100) AS BIGINT)) AS BIGINT) " +
      "AS sum_value_c " +
      "FROM events e JOIN supplier s ON e.user_id = s.s_suppkey " +
      "GROUP BY 1 ORDER BY 1"

  /** [[RelQueries.phoneticKey]]: the identical translate + regexp
    * chain — the blocking key must derive bit-identically in both
    * engines (DuckDB regexp_replace needs the explicit 'g' flag;
    * Spark's is global by default). */
  /** DuckDB fragment: the complete Soundex chain of [[TextOps.soundex6]]
    * applied to an arbitrary expression (shared by
    * [[relPhoneticKeySql]]'s CTE form and [[relErMatchSql]]). */
  private def soundexSqlExpr(e: String): String = {
    val u = s"upper($e)"
    val d = s"translate($u, 'BFPVCGJKQSXZDTLMNRAEIOUYHW', " +
      "'111122222222334556000000')"
    val collapsed = (0 to 6).foldLeft(d)((c, i) =>
      s"regexp_replace($c, '$i$i+', '$i', 'g')")
    s"substr($u, 1, 1) || " +
      s"substr(replace(substr($collapsed, 2, 64), '0', '') || '000', 1, 3)"
  }

  /** [[RelQueries.erMatch]]: same vocabulary aggregate, same
    * head-noun Soundex block, same Levenshtein threshold. */
  private val relErMatchSql: String =
    "WITH n AS (SELECT p_name AS name, COUNT(*) AS n_rows " +
      "FROM part GROUP BY 1), " +
      "t AS (SELECT name, n_rows, " +
      s"${soundexSqlExpr("string_split(name, ' ')[-1]")} AS blk FROM n) " +
      "SELECT a.name AS name_a, b.name AS name_b, a.blk AS blk, " +
      "CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist, " +
      "CAST(a.n_rows AS BIGINT) AS n_a, CAST(b.n_rows AS BIGINT) AS n_b " +
      "FROM t a JOIN t b ON a.blk = b.blk AND a.name < b.name " +
      "WHERE levenshtein(a.name, b.name) <= 2 ORDER BY 1, 2"

  /** [[RelQueries.seasonality]]: same integer weekday math, same
    * flat-week index algebra. */
  private val relSeasonalitySql: String =
    "WITH d AS (SELECT event_type, " +
      "((epoch_us(ts) // 86400000000) + 4) % 7 AS dow " +
      "FROM events), " +
      "b AS (SELECT event_type, dow, COUNT(*) AS n FROM d GROUP BY 1, 2), " +
      "t AS (SELECT event_type, SUM(n) AS tot FROM b GROUP BY 1) " +
      "SELECT b.event_type, b.dow, b.n, " +
      "CAST((b.n * 7 * 1000000) // t.tot AS BIGINT) AS index_ppm " +
      "FROM b JOIN t ON b.event_type = t.event_type ORDER BY 1, 2"

  /** [[RelQueries.skewReport]]: same histogram, profile, and
    * integer skew algebra; (n desc, user_id) is a total order so the
    * LIMIT is deterministic. */
  private val relSkewReportSql: String =
    "WITH h AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1), " +
      "p AS (SELECT COUNT(*) AS n_keys, SUM(n) AS n_rows, " +
      "MAX(n) AS max_n FROM h), " +
      "t AS (SELECT user_id, n FROM h ORDER BY n DESC, user_id LIMIT 5) " +
      "SELECT t.user_id, t.n, " +
      "CAST((t.n * 1000000) // p.n_rows AS BIGINT) AS share_ppm, " +
      "CAST(p.n_keys AS BIGINT) AS n_keys, " +
      "CAST(p.n_rows AS BIGINT) AS n_rows, " +
      "CAST((p.max_n * p.n_keys * 1000) // p.n_rows AS BIGINT) " +
      "AS skew_x1000 FROM t, p ORDER BY t.n DESC, t.user_id"

  /** [[RelQueries.pathTrigrams]]: same per-user lead() pair on the
    * identical (tsn, event_id) total order — NANOS, not micros
    * (r8, ADVICE r7): the Spark side orders on Tables.events' epoch-
    * nanos ts, so the oracle must use the same key or two events in
    * the same microsecond (possible on the int64-nanos testdata
    * vintage) would order differently in the two engines. Same
    * bounded aggregate and deterministic top-k. */
  private val relPathsSql: String =
    "WITH e AS (SELECT user_id, event_type AS s1, epoch_ns(ts) AS tsn, " +
      "event_id FROM events), " +
      "l AS (SELECT s1, " +
      "lead(s1, 1) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS s2, " +
      "lead(s1, 2) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS s3 " +
      "FROM e) " +
      "SELECT s1, s2, s3, COUNT(*) AS n FROM l " +
      "WHERE s2 IS NOT NULL AND s3 IS NOT NULL GROUP BY 1, 2, 3 " +
      "ORDER BY n DESC, s1, s2, s3 LIMIT 20"

  /** [[RelQueries.modalBand]]: same grid, same stated tiebreak. */
  private val relModeSql: String =
    "WITH c AS (SELECT event_type, " +
      "CAST(FLOOR(value / 25.0) AS BIGINT) AS band, COUNT(*) AS n " +
      "FROM events GROUP BY 1, 2), " +
      "r AS (SELECT event_type, band, n, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY n DESC, band ASC) AS rk FROM c) " +
      "SELECT event_type, band AS modal_band, n FROM r WHERE rk = 1 " +
      "ORDER BY event_type"

  /** [[RelQueries.hhi]]: identical integer share/HHI algebra —
    * cents via FLOOR·100, share in floor ppm of the nation total,
    * HHI = Σ share² // 10⁶. */
  private val relHhiSql: String =
    s"WITH pc AS (SELECT o_custkey, " +
      s"CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS cust_c " +
      "FROM orders GROUP BY 1), " +
      "sp AS (SELECT c.c_nationkey AS nk, p.cust_c FROM pc p " +
      "JOIN customer c ON p.o_custkey = c.c_custkey), " +
      "t AS (SELECT nk, CAST(SUM(cust_c) AS BIGINT) AS nation_c, " +
      "CAST(COUNT(*) AS BIGINT) AS n_buyers FROM sp GROUP BY 1), " +
      "sh AS (SELECT s.nk, (s.cust_c * 1000000) // t.nation_c " +
      "AS share_ppm FROM sp s JOIN t ON s.nk = t.nk), " +
      "a AS (SELECT nk, CAST(SUM(share_ppm * share_ppm) AS BIGINT) " +
      "AS sumsq, CAST(MAX(share_ppm) AS BIGINT) AS top_share_ppm " +
      "FROM sh GROUP BY 1) " +
      "SELECT n.n_name AS nation, t.n_buyers, t.nation_c, " +
      "CAST(a.sumsq // 1000000 AS BIGINT) AS hhi_ppm, a.top_share_ppm " +
      "FROM a JOIN t ON a.nk = t.nk " +
      "JOIN nation n ON a.nk = n.n_nationkey ORDER BY nation"

  /** [[RelQueries.interarrival]]: same (type, day)-partitioned lag on
    * the (tsn, event_id) total order; cross-midnight gaps excluded in
    * BOTH engines by construction. */
  private val relInterarrivalSql: String =
    "WITH ev AS (SELECT event_type, event_id, epoch_ns(ts) AS tsn, " +
      "epoch_ns(ts) // 86400000000000 AS day FROM events), " +
      "g AS (SELECT event_type, (tsn - lag(tsn) OVER " +
      "(PARTITION BY event_type, day ORDER BY tsn, event_id)) // 1000 " +
      "AS gap_us FROM ev) " +
      "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps, " +
      "CAST(MIN(gap_us) AS BIGINT) AS min_gap_us, " +
      "CAST(MAX(gap_us) AS BIGINT) AS max_gap_us, " +
      "CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us, " +
      "CAST(SUM(gap_us) // COUNT(*) AS BIGINT) AS avg_gap_us " +
      "FROM g WHERE gap_us IS NOT NULL GROUP BY 1 ORDER BY 1"

  private val relPhoneticKeySql: String = {
    val collapsed = (0 to 6).foldLeft("dd") { (c, i) =>
      s"regexp_replace($c, '$i$i+', '$i', 'g')"
    }
    "WITH w AS (SELECT unnest(string_split(p_name, ' ')) AS w FROM part), " +
      "u AS (SELECT w, upper(w) AS uw FROM w), " +
      "d AS (SELECT w, uw, translate(uw, 'BFPVCGJKQSXZDTLMNRAEIOUYHW', " +
      "'111122222222334556000000') AS dd FROM u), " +
      s"c AS (SELECT w, uw, $collapsed AS cc FROM d), " +
      "k AS (SELECT w, substr(uw, 1, 1) || " +
      "substr(replace(substr(cc, 2, 64), '0', '') || '000', 1, 3) " +
      "AS code FROM c) " +
      "SELECT code, CAST(count(*) AS BIGINT) AS n_occurrences, " +
      "CAST(count(DISTINCT w) AS BIGINT) AS n_words, " +
      "min(w) AS sample_word FROM k GROUP BY 1 ORDER BY 1"
  }

  private val relKanonSql: String =
    "SELECT CAST(c_nationkey AS BIGINT) AS nationkey, " +
      "c_mktsegment AS mktsegment, " +
      "CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band, " +
      "COUNT(*) AS n_members, " +
      "CAST(CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END AS BIGINT) AS at_risk " +
      "FROM customer GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"

  /** [[RelQueries.hourlyAnomaly]]: the 3σ rule cross-multiplied to
    * exact integers — (nh·x − s1)² > 9·(nh·s2 − s1²). */
  private val relAnomalySql: String =
    "WITH h AS (SELECT event_type, " +
      "(epoch_us(ts) // 3600000000) * 3600 AS hour_epoch_s, " +
      "COUNT(*) AS n FROM events GROUP BY 1, 2), " +
      "s AS (SELECT event_type, COUNT(*) AS nh, SUM(n) AS s1, " +
      "SUM(n * n) AS s2 FROM h GROUP BY 1) " +
      "SELECT h.event_type, h.hour_epoch_s, h.n, " +
      "CAST(CASE WHEN (s.nh * h.n - s.s1) * (s.nh * h.n - s.s1) > " +
      "9 * (s.nh * s.s2 - s.s1 * s.s1) THEN 1 ELSE 0 END AS BIGINT) " +
      "AS is_anomaly " +
      "FROM h JOIN s ON h.event_type = s.event_type " +
      "ORDER BY h.event_type, h.hour_epoch_s"

  /** [[RelQueries.benfordDigits]]: same digit extraction (cents
    * string substr), same integer ppm shares, same nine literal
    * Benford constants. */
  private val relBenfordSql: String =
    "WITH c AS (SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v " +
      "FROM orders WHERE FLOOR(o_totalprice * 100) > 0), " +
      "d AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) " +
      "AS digit, COUNT(*) AS n FROM c GROUP BY 1), " +
      "tot AS (SELECT SUM(n) AS n_total FROM d), " +
      "b(digit, benford_ppm) AS (VALUES (1, 301030), (2, 176091), " +
      "(3, 124939), (4, 96910), (5, 79181), (6, 66947), (7, 57992), " +
      "(8, 51153), (9, 45757)) " +
      "SELECT d.digit, d.n, " +
      "CAST((d.n * 1000000) // tot.n_total AS BIGINT) AS obs_ppm, " +
      "CAST(b.benford_ppm AS BIGINT) AS benford_ppm, " +
      "CAST(abs((d.n * 1000000) // tot.n_total - b.benford_ppm) " +
      "AS BIGINT) AS dev_ppm " +
      "FROM d JOIN b ON d.digit = b.digit, tot ORDER BY d.digit"

  /** [[RelQueries.basketPairs]]: the same a-priori shape restated —
    * distinct baskets, item supports ≥ 20, pruned self-join with
    * p1 < p2, pair support ≥ 2, integer-ppm lift ((p1, p2) is unique
    * so the desc-support/asc-pair order is total and the LIMIT is
    * deterministic on both engines). */
  private val relBasketSql: String =
    "WITH b AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey " +
      "FROM lineitem), " +
      "ic AS (SELECT pkey, COUNT(*) AS n_item FROM b GROUP BY 1 " +
      "HAVING COUNT(*) >= 20), " +
      "pb AS (SELECT b.okey, b.pkey, ic.n_item FROM b " +
      "JOIN ic ON b.pkey = ic.pkey), " +
      "tot AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM b), " +
      "pr AS (SELECT a.pkey AS p1, c.pkey AS p2, a.n_item AS c1, " +
      "c.n_item AS c2, COUNT(*) AS n_pair FROM pb a " +
      "JOIN pb c ON a.okey = c.okey AND a.pkey < c.pkey " +
      "GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 2) " +
      "SELECT p1, p2, n_pair, " +
      "CAST((n_pair * 1000000 * tot.n_orders) // (c1 * c2) AS BIGINT) " +
      "AS lift_ppm FROM pr, tot " +
      "ORDER BY n_pair DESC, p1, p2 LIMIT 100"

  /** [[RelQueries.bitmapDistinct]]: the whole sketch recomputed in
    * DuckDB — h31 bit positions, 63-bit word packing, bit_or words,
    * popcount sum. */
  /** [[RelQueries.kmvDistinct]]: the k-smallest-distinct-hash set
    * recomputed directly (row_number over distinct hashes per group),
    * same integer estimator — both sides floor-divide BIGINTs, no
    * float in the path. */
  private val relKmvDistinctSql: String = {
    val h = PH.h48Sql("CAST(user_id AS VARCHAR)")
    "WITH hset AS (SELECT DISTINCT event_type, " + h + " AS hv FROM events), " +
      "r AS (SELECT event_type, hv, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY hv) AS rn FROM hset), " +
      "kk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept, " +
      "max(hv) AS kth_min FROM r WHERE rn <= 64 GROUP BY 1) " +
      "SELECT event_type, n_kept, kth_min, " +
      "CAST(CASE WHEN n_kept < 64 THEN n_kept " +
      "ELSE (63 * 281474976710656) // kth_min END AS BIGINT) " +
      "AS est_distinct FROM kk ORDER BY event_type"
  }

  /** [[RelQueries.kmvOverlap]]: sketches rebuilt per type, then the
    * same sketch-only union/intersection algebra in list functions —
    * both engines compute identical integer estimates from identical
    * deterministic k-min sets. */
  private val relKmvOverlapSql: String = {
    val h = PH.h48Sql("CAST(user_id AS VARCHAR)")
    "WITH hset AS (SELECT DISTINCT event_type, " + h + " AS hv FROM events), " +
      "r AS (SELECT event_type, hv, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY hv) AS rn FROM hset), " +
      "sk AS (SELECT event_type, list(hv ORDER BY hv) AS mins " +
      "FROM r WHERE rn <= 64 GROUP BY 1), " +
      "p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
      "a.mins AS ma, b.mins AS mb FROM sk a JOIN sk b " +
      "ON a.event_type < b.event_type), " +
      "u AS (SELECT type_a, type_b, ma, mb, " +
      "list_slice(list_sort(list_distinct(list_concat(ma, mb))), 1, 64) " +
      "AS uk FROM p), " +
      "c AS (SELECT type_a, type_b, CAST(len(uk) AS BIGINT) AS n_union_kept, " +
      "CAST(CASE WHEN len(uk) < 64 THEN len(uk) " +
      "ELSE (63 * 281474976710656) // uk[-1] END AS BIGINT) AS est_union, " +
      "CAST(len(list_filter(uk, x -> list_contains(ma, x) AND " +
      "list_contains(mb, x))) AS BIGINT) AS n_common FROM u) " +
      "SELECT type_a, type_b, n_union_kept, est_union, n_common, " +
      "CAST((n_common * est_union) // n_union_kept AS BIGINT) " +
      "AS est_intersection FROM c ORDER BY type_a, type_b"
  }

  private val relBitmapDistinctSql: String = {
    val pos = s"(${PH.h31Sql("CAST(user_id AS VARCHAR)")} % 1008)"
    "WITH e AS (SELECT event_type, user_id, " + pos + " AS pos FROM events), " +
      "m AS (SELECT event_type, user_id, pos // 63 AS wd, " +
      "(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER)) AS mask FROM e), " +
      "w AS (SELECT event_type, wd, bit_or(mask) AS bits FROM m GROUP BY 1, 2), " +
      "v AS (SELECT event_type, SUM(bit_count(bits)) AS nb FROM w GROUP BY 1), " +
      "x AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM e GROUP BY 1) " +
      "SELECT v.event_type, CAST(v.nb AS BIGINT) AS n_bits_set, x.n_exact " +
      "FROM v JOIN x ON v.event_type = x.event_type ORDER BY 1"
  }

  /** [[RelQueries.cmsTopk]]: the full d×w sketch rebuilt in DuckDB —
    * same row-salted h31 cells, same count-per-cell build, same
    * min-over-rows probe for the same deterministic top-10. */
  private val relCmsTopkSql: String = {
    val cellOf = (idExpr: String) =>
      s"(${PH.h31Sql(s"CAST(r AS VARCHAR) || '#' || $idExpr")} % 512)"
    "WITH rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r), " +
      "cells AS (SELECT r, " + cellOf("CAST(user_id AS VARCHAR)") + " AS c, " +
      "COUNT(*) AS cnt FROM events CROSS JOIN rows_ GROUP BY 1, 2), " +
      "top AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact " +
      "FROM events GROUP BY 1 ORDER BY n_exact DESC, user_id LIMIT 10), " +
      "probe AS (SELECT user_id, n_exact, r, " +
      cellOf("CAST(user_id AS VARCHAR)") + " AS c FROM top CROSS JOIN rows_) " +
      "SELECT p.user_id, p.n_exact, CAST(min(s.cnt) AS BIGINT) AS n_cms " +
      "FROM probe p JOIN cells s ON p.r = s.r AND p.c = s.c " +
      "GROUP BY 1, 2 ORDER BY p.user_id"
  }

  /** [[RelQueries.snapshotDiff]]: both engines derive snapshot B from
    * the same mutation literals, so the diff is fully determined. */
  private val relSnapshotDiffSql: String =
    s"WITH a AS (SELECT c_custkey AS key, c_mktsegment AS seg_a, " +
      s"${centsSql("c_acctbal")} AS bal_a FROM customer), " +
      "b AS (SELECT c_custkey AS key, " +
      "CASE WHEN c_custkey % 10 = 3 THEN concat('MOVED_', c_mktsegment) " +
      "ELSE c_mktsegment END AS seg_b, " +
      s"${centsSql("c_acctbal")} + " +
      "CASE WHEN c_custkey % 7 = 2 THEN 12345 ELSE 0 END AS bal_b " +
      "FROM customer WHERE c_custkey % 89 <> 0 " +
      "UNION ALL SELECT c_custkey + 2000000 AS key, 'NEWSEG' AS seg_b, " +
      s"${centsSql("c_acctbal")} AS bal_b FROM customer " +
      "WHERE c_custkey % 97 = 0) " +
      "SELECT COALESCE(a.key, b.key) AS key, " +
      "CASE WHEN seg_a IS NULL THEN 'added' " +
      "WHEN seg_b IS NULL THEN 'removed' " +
      "WHEN seg_a = seg_b AND bal_a = bal_b THEN 'same' " +
      "ELSE 'changed' END AS status, " +
      "CAST(CASE WHEN seg_a IS NOT NULL AND seg_b IS NOT NULL " +
      "AND seg_a <> seg_b THEN 1 ELSE 0 END AS BIGINT) AS seg_changed, " +
      "CAST(CASE WHEN bal_a IS NOT NULL AND bal_b IS NOT NULL " +
      "AND bal_a <> bal_b THEN 1 ELSE 0 END AS BIGINT) AS bal_changed " +
      "FROM a FULL OUTER JOIN b ON a.key = b.key ORDER BY key"

  /** [[RelQueries.valueHistogram]]: bin arithmetic all-nonneg, so
    * DuckDB `//` == Spark `div`. */
  private val relHistogramSql: String =
    s"WITH e AS (SELECT event_type, ${centsSql("value")} AS v FROM events), " +
      "x AS (SELECT event_type, MIN(v) AS mn, MAX(v) AS mx FROM e GROUP BY 1) " +
      "SELECT e.event_type, " +
      "CAST(CASE WHEN mx = mn THEN 0 ELSE " +
      "LEAST(9, ((v - mn) * 10) // (mx - mn)) END AS BIGINT) AS bin, " +
      "COUNT(*) AS n_rows " +
      "FROM e JOIN x ON e.event_type = x.event_type " +
      "GROUP BY 1, 2 ORDER BY 1, 2"

  /** [[RelQueries.winsorize]]: nearest-rank p5/p95 bounds at integer
    * index ⌊(n−1)·p/100⌋ — actual corpus values, no interpolation,
    * so no cross-engine float drift. */
  private val relWinsorizeSql: String =
    s"WITH e AS (SELECT event_type, ${centsSql("value")} AS v, event_id FROM events), " +
      "r AS (SELECT event_type, v, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY v, event_id) - 1 AS rn FROM e), " +
      "s AS (SELECT event_type, COUNT(*) AS n FROM e GROUP BY 1), " +
      "b AS (SELECT r.event_type, " +
      "MIN(CASE WHEN rn = ((n - 1) * 5) // 100 THEN v END) AS lo_c, " +
      "MIN(CASE WHEN rn = ((n - 1) * 95) // 100 THEN v END) AS hi_c " +
      "FROM r JOIN s ON r.event_type = s.event_type " +
      "WHERE rn = ((n - 1) * 5) // 100 OR rn = ((n - 1) * 95) // 100 " +
      "GROUP BY r.event_type) " +
      "SELECT e.event_type, COUNT(*) AS n, " +
      "CAST(SUM(CASE WHEN v < lo_c THEN 1 ELSE 0 END) AS BIGINT) AS n_lo_clipped, " +
      "CAST(SUM(CASE WHEN v > hi_c THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_clipped, " +
      "CAST(SUM(LEAST(GREATEST(v, lo_c), hi_c)) AS BIGINT) AS sum_winsor_c " +
      "FROM e JOIN b ON e.event_type = b.event_type " +
      "GROUP BY 1 ORDER BY 1"

  /** [[graft.operators.Dedup.sortedNeighborhood]]: the identical
    * window walk — top-8-bit block partition, (fingerprint, doc_id)
    * sort, leads 1..3, least/greatest pair normalization. */
  private val ddSortedNeighborhoodSql: String = {
    val over = "OVER (PARTITION BY b ORDER BY simhash48, doc_id)"
    val leads = (1 to 3).map { i =>
      s"SELECT doc_id, simhash48, lead(doc_id, $i) $over AS nb_id, " +
        s"lead(simhash48, $i) $over AS nb_fp FROM blk"
    }.mkString(" UNION ALL ")
    "WITH fp AS (SELECT doc_id, simhash48 FROM (" + ddSimhashSql + ")), " +
      s"blk AS (SELECT doc_id, simhash48, simhash48 // ${1L << 40} AS b FROM fp), " +
      s"n AS ($leads) " +
      "SELECT LEAST(doc_id, nb_id) AS doc_a, GREATEST(doc_id, nb_id) AS doc_b, " +
      "CAST(bit_count(xor(simhash48, nb_fp)) AS BIGINT) AS hamming " +
      "FROM n WHERE nb_id IS NOT NULL " +
      "AND bit_count(xor(simhash48, nb_fp)) <= 10 " +
      "ORDER BY doc_a, doc_b"
  }

  /** [[graft.operators.TextAnalysis.sStem]]: the stem CASE is the
    * SAME string the operator compiles into its transform lambda. */
  private val txStemSql: String =
    "WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), " +
      "s AS (SELECT doc_id, w, " +
      graft.operators.TextAnalysis.SStemCaseSql + " AS st FROM t) " +
      "SELECT doc_id, COUNT(*) AS n_tokens, " +
      "COUNT(DISTINCT w) AS n_distinct, " +
      "COUNT(DISTINCT st) AS n_distinct_stem, " +
      "MIN(st) AS min_stem, MAX(st) AS max_stem " +
      "FROM s GROUP BY doc_id ORDER BY doc_id"

  /** [[graft.operators.Graph.coOrderTriangles]]: the oracle restates
    * the SAME degree-ordered orientation (each triangle counted once
    * at its min-(degree, id) vertex); MATERIALIZED pins the edge CTE
    * to one evaluation across its three consumers. */
  private val relTrianglesSql: String =
    "WITH l AS MATERIALIZED (SELECT l_orderkey AS ok, l_partkey AS pk " +
      "FROM lineitem WHERE l_quantity >= 25), " +
      "e AS MATERIALIZED (SELECT DISTINCT a.pk AS lo, b.pk AS hi " +
      "FROM l a JOIN l b ON a.ok = b.ok AND a.pk < b.pk), " +
      "deg AS MATERIALIZED (SELECT v, COUNT(*) AS d FROM " +
      "(SELECT lo AS v FROM e UNION ALL SELECT hi AS v FROM e) GROUP BY v), " +
      "arcs AS MATERIALIZED (SELECT " +
      "CASE WHEN (dl.d < dh.d) OR (dl.d = dh.d AND e.lo < e.hi) " +
      "THEN e.lo ELSE e.hi END AS src, " +
      "CASE WHEN (dl.d < dh.d) OR (dl.d = dh.d AND e.lo < e.hi) " +
      "THEN e.hi ELSE e.lo END AS dst, " +
      "CASE WHEN (dl.d < dh.d) OR (dl.d = dh.d AND e.lo < e.hi) " +
      "THEN dh.d ELSE dl.d END AS ddst " +
      "FROM e JOIN deg dl ON e.lo = dl.v JOIN deg dh ON e.hi = dh.v), " +
      "w AS (SELECT x.src AS ta, x.dst AS tb, y.dst AS tc " +
      "FROM arcs x JOIN arcs y ON x.src = y.src " +
      "WHERE (x.ddst < y.ddst) OR (x.ddst = y.ddst AND x.dst < y.dst)), " +
      "t AS (SELECT ta, tb, tc FROM w JOIN e " +
      "ON e.lo = LEAST(w.tb, w.tc) AND e.hi = GREATEST(w.tb, w.tc)), " +
      "verts AS (SELECT ta AS part_id FROM t UNION ALL " +
      "SELECT tb FROM t UNION ALL SELECT tc FROM t) " +
      "SELECT part_id, COUNT(*) AS n_triangles FROM verts " +
      "GROUP BY part_id ORDER BY part_id"

  // ---------------------------------------------------------------
  // composite curation pipeline + distinct-agg coverage
  // ---------------------------------------------------------------

  /** Composite: reuses the quality and minhash oracle SQL verbatim as
    * parenthesized CTE subqueries (DuckDB allows nested WITH). The
    * loser chain is the AUTO-banded blocker (r12): no hand-tuned
    * (b, r) survives inside a flagship composite — the
    * pipeline_index_auto convention on the text side. */
  private val pipelineCurateSql: String =
    "WITH q AS (SELECT doc_id, quality_ppm FROM (" + txQualitySql + ")), " +
      "reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text), " +
      "losers AS (SELECT DISTINCT doc_b AS doc_id FROM (" + ddMinhashAutoSql + ") " +
      "WHERE est_jaccard_ppm >= 750000) " +
      "SELECT d.doc_id, d.lang, d.source, d.n_chars, q.quality_ppm " +
      "FROM documents d JOIN reps r ON r.doc_id = d.doc_id " +
      "JOIN q ON q.doc_id = d.doc_id " +
      "WHERE q.quality_ppm >= 750000 " +
      "AND NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id) " +
      "ORDER BY d.doc_id"

  /** [[CuratePipeline.assemble]] oracle: the curation chain reused
    * verbatim as a CTE, the lang-partitioned packing window, then the
    * manifest aggregate. */
  private val pipelineAssembleSql: String =
    "WITH cur AS (" + pipelineCurateSql + "), " +
      "ad AS (SELECT d.doc_id, d.lang, d.text FROM documents d " +
      "JOIN cur ON cur.doc_id = d.doc_id), " +
      "p AS (SELECT doc_id, lang, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
      "CAST(FLOOR(COALESCE(sum(len(string_split(text, ' '))) OVER " +
      "(PARTITION BY lang ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
      "/ 4096.0) AS BIGINT) AS shard_id FROM ad) " +
      "SELECT lang, shard_id, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, " +
      "min(doc_id) AS first_doc, max(doc_id) AS last_doc " +
      "FROM p GROUP BY 1, 2 ORDER BY lang, shard_id"

  /** [[graft.operators.TextAnalysis.sourceClassifier]]: the
    * vocabulary-sized class-share model re-fit entirely in SQL —
    * same % 5 split, same integer ppm floor-division weights, same
    * zero-filled (doc × class) grid and (score desc, label asc)
    * argmax tie-break. A divergence anywhere in the fit (token
    * multiplicity, split membership, unseen-token handling) moves
    * some doc's argmax and fails the confusion-matrix hash. */
  private val txSourceClassifierSql: String =
    "WITH tok AS (SELECT doc_id, source, " +
      "unnest(string_split(text, ' ')) AS w FROM documents), " +
      "train AS (SELECT * FROM tok WHERE doc_id % 5 != 0), " +
      "cwl AS (SELECT w, source AS label, count(*) AS c_wl " +
      "FROM train GROUP BY 1, 2), " +
      "cw AS (SELECT w, count(*) AS c_w FROM train GROUP BY 1), " +
      "model AS (SELECT cwl.w, label, (c_wl * 1000000) // c_w " +
      "AS weight_ppm FROM cwl JOIN cw USING (w)), " +
      "labels AS (SELECT DISTINCT label FROM model), " +
      "testd AS (SELECT doc_id, source FROM documents WHERE doc_id % 5 = 0), " +
      "hits AS (SELECT t.doc_id, m.label, sum(weight_ppm) AS score " +
      "FROM tok t JOIN model m ON t.w = m.w " +
      "WHERE t.doc_id % 5 = 0 GROUP BY 1, 2), " +
      "grid AS (SELECT d.doc_id, d.source, l.label, " +
      "coalesce(h.score, 0) AS score FROM testd d CROSS JOIN labels l " +
      "LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.label = l.label), " +
      "pred AS (SELECT doc_id, source, label, row_number() OVER " +
      "(PARTITION BY doc_id ORDER BY score DESC, label) AS rn FROM grid) " +
      "SELECT source AS true_source, label AS predicted_source, " +
      "CAST(count(*) AS BIGINT) AS n_docs FROM pred WHERE rn = 1 " +
      "GROUP BY 1, 2 ORDER BY 1, 2"

  /** [[graft.operators.CuratePipeline.report]]: per-source dataset
    * card — the quality chain's g CTE reused verbatim, distinct
    * texts counted over md5 digests exactly as the operator shuffles
    * them, modal language with the (count desc, lang asc) tie-break,
    * integer floor-division everywhere. */
  private val pipelineReportSql: String =
    s"WITH $qualityGCte, " +
      "base AS (SELECT d.doc_id, d.source, d.lang, d.text, " +
      "g.n_tokens, g.quality_ppm FROM documents d " +
      "JOIN g ON g.doc_id = d.doc_id), " +
      "stats AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
      "CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts, " +
      "CAST(sum(quality_ppm) AS BIGINT) AS sum_q, " +
      "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs " +
      "FROM base GROUP BY 1), " +
      "lc AS (SELECT source, lang, count(*) AS c FROM documents " +
      "GROUP BY 1, 2), " +
      "lt AS (SELECT source, lang AS top_lang, row_number() OVER " +
      "(PARTITION BY source ORDER BY c DESC, lang) AS rn FROM lc) " +
      "SELECT s.source, s.n_docs, s.n_tokens, s.n_distinct_texts, " +
      "((s.n_docs - s.n_distinct_texts) * 1000000) // s.n_docs " +
      "AS exact_dup_ppm, s.sum_q // s.n_docs AS mean_quality_ppm, " +
      "s.n_langs, lt.top_lang FROM stats s " +
      "JOIN lt ON lt.source = s.source AND lt.rn = 1 ORDER BY s.source"

  /** Generalized banding over the minh signature: b bands of r rows
    * (b·r = 16). The fixed 8×2 [[bandSelectsFrom]] is the b=8 arm. */
  private def bandSelectsGen(src: String, b: Int, r: Int): String =
    (0 until b).map { band =>
      val bucket = (0 until r).map(i => s"CAST(m${band * r + i} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"SELECT doc_id, $band AS band, $bucket AS bucket FROM $src"
    }.mkString(" UNION ALL ")

  /** [[graft.operators.Dedup.minhashBandsSweep]]: every (b, r)
    * factorization of K=16 replayed — same nested-sqrt s* (never
    * pow: sqrt is exactly specified on both engines), same distinct
    * pair join per arm, same estimator threshold. */
  private val ddMinhashBandsSweepSql: String = {
    val arms = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
    def sStarSql(b: Int, r: Int): String = {
      val nest = Iterator.iterate(s"${1.0 / b}")(x => s"sqrt($x)")
        .drop(java.lang.Integer.numberOfTrailingZeros(r)).next()
      s"CAST(FLOOR(1000000.0 * $nest) AS BIGINT)"
    }
    val armCtes = arms.zipWithIndex.map { case ((b, r), i) =>
      s"bt$i AS (${bandSelectsGen("minh", b, r)}), " +
        s"pr$i AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
        s"FROM bt$i a JOIN bt$i b ON a.band = b.band AND a.bucket = b.bucket " +
        "AND a.doc_id < b.doc_id), " +
        s"mm$i AS (SELECT ($minhashMatches) AS n_matching FROM pr$i p " +
        "JOIN minh x ON x.doc_id = p.doc_a " +
        "JOIN minh y ON y.doc_id = p.doc_b), " +
        s"ag$i AS (SELECT CAST($b AS BIGINT) AS bands, " +
        s"CAST($r AS BIGINT) AS rows_per_band, " +
        s"${sStarSql(b, r)} AS s_star_ppm, " +
        "CAST(count(*) AS BIGINT) AS n_candidates, " +
        "CAST(coalesce(sum(CASE WHEN CAST(FLOOR(1000000.0 * n_matching / " +
        s"${PH.MinhashK}) AS BIGINT) >= 750000 THEN 1 ELSE 0 END), 0) " +
        s"AS BIGINT) AS n_dup_pairs FROM mm$i)"
    }.mkString(", ")
    s"WITH $minhashCteChain, $armCtes " +
      "SELECT * FROM (" +
      arms.indices.map(i => s"SELECT * FROM ag$i").mkString(" UNION ALL ") +
      ") ORDER BY bands"
  }

  /** [[graft.operators.Dedup.sourceOverlap]]: the MinHash pair chain
    * reused verbatim, endpoints labeled with their sources, cells
    * normalized by (least, greatest) — doc endpoints swapped along
    * with the sources so n_docs_a/b count docs per SOURCE side. */
  private val ddSourceOverlapSql: String =
    s"WITH $minhashCteChain, " +
      s"bandtab AS (${bandSelectsFrom("minh")}), " +
      "pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM bandtab a JOIN bandtab b ON a.band = b.band AND a.bucket = b.bucket " +
      "AND a.doc_id < b.doc_id), " +
      s"m AS (SELECT p.doc_a, p.doc_b, ($minhashMatches) AS n_matching " +
      "FROM pairs p JOIN minh x ON x.doc_id = p.doc_a " +
      "JOIN minh y ON y.doc_id = p.doc_b), " +
      "nd AS (SELECT doc_a, doc_b FROM m " +
      s"WHERE CAST(FLOOR(1000000.0 * n_matching / ${PH.MinhashK}) AS BIGINT) >= 750000), " +
      "lab AS (SELECT nd.doc_a, nd.doc_b, da.source AS sa, db.source AS sb " +
      "FROM nd JOIN documents da ON da.doc_id = nd.doc_a " +
      "JOIN documents db ON db.doc_id = nd.doc_b) " +
      "SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b, " +
      "CAST(count(*) AS BIGINT) AS n_pairs, " +
      "CAST(count(DISTINCT CASE WHEN sa <= sb THEN doc_a ELSE doc_b END) " +
      "AS BIGINT) AS n_docs_a, " +
      "CAST(count(DISTINCT CASE WHEN sa <= sb THEN doc_b ELSE doc_a END) " +
      "AS BIGINT) AS n_docs_b " +
      "FROM lab GROUP BY 1, 2 ORDER BY 1, 2"

  /** Multimodal composite: text-side curation ∩ embedding-side
    * semantic-dedup survivors (both oracle chains reused verbatim). */
  /** Derived deterministic URL input shared by tx_url_extract and
    * pipeline_curate_web (the corpus carries no URLs); mixed case +
    * utm_* params + a fragment exercise every normalization rule, and
    * the r6 extension adds ccTLD public-suffix hosts (co.uk/com.au —
    * the PSL path), dotless intranet hosts (bare-host domain
    * fallback), `user:pw@` userinfo, and an explicit `:8080` port. */
  private def derivedUrls(s: SparkSession, d: String): DataFrame = {
    val id = F.col("doc_id")
    val suffix = F.when(id % 5 === 0, F.lit(".COM"))
      .when(id % 5 === 1, F.lit(".co.UK"))
      .when(id % 5 === 2, F.lit(".com.AU"))
      .otherwise(F.lit(".ORG"))
    val hostPart = F.when(id % 5 === 4,
        F.concat(F.lit("IntraNet"), (id % 3).cast("string")))
      .otherwise(F.concat(F.lit("Sub"), (id % 3).cast("string"),
        F.lit(".Example"), (id % 7).cast("string"), suffix))
    Tables.documents(s, d).select(id,
      F.concat(F.lit("HTTPS://"),
        F.when(id % 11 === 0, F.lit("crawler:pw@")).otherwise(F.lit("")),
        hostPart,
        F.when(id % 4 === 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/p/"), id.cast("string"),
        F.lit("?utm_source=feed&id="), id.cast("string"),
        F.lit("&utm_campaign=x"),
        F.when(id % 2 === 0, F.lit("&ref=home")).otherwise(F.lit("")),
        F.lit("#frag")).as("url"))
  }

  /** Derived URL fixture for dd_url_dedup (r6): ~5 docs share each
    * canonical form once case, utm_* params and the fragment are
    * normalized away — doc_id % 100 is the collision group, and the
    * varying parts (utm value, fragment) carry the raw doc_id so the
    * INPUTS are all distinct. */
  private def derivedDupUrls(s: SparkSession, d: String): DataFrame = {
    val id = F.col("doc_id")
    Tables.documents(s, d).select(id,
      F.concat(F.lit("HTTPS://Docs.Example.COM/a/"),
        (id % 100).cast("string"),
        F.lit("?utm_source=s"), id.cast("string"),
        F.lit("&v="), (id % 100).cast("string"),
        F.lit("#f"), id.cast("string")).as("url"))
  }

  /** Sliding k-gram exact-substring dedup oracle (k = 8): the same
    * window/canonical/score chain as the operator, restated over
    * DuckDB's end-exclusive range (empty for docs shorter than k —
    * matching the Spark side's explicit size filter) and inclusive
    * array slice. */
  private val ddSubstringSql: String = {
    val k = 8
    s"WITH ws AS ($wordsCte), " +
      "s AS (SELECT doc_id, w, unnest(range(1, " +
      s"greatest(len(w) - ${k - 1}, 0) + 1)) AS start FROM ws), " +
      s"p AS (SELECT doc_id, md5(array_to_string(w[start:start + ${k - 1}], ' ')) " +
      "AS gh FROM s), " +
      "c AS (SELECT gh, min(doc_id) AS min_doc FROM p GROUP BY 1), " +
      "j AS (SELECT p.doc_id, CASE WHEN c.min_doc < p.doc_id THEN 1 ELSE 0 END " +
      "AS dup FROM p JOIN c USING (gh)), " +
      "a AS (SELECT doc_id, count(*) AS n_win, sum(dup) AS n_dup " +
      "FROM j GROUP BY doc_id) " +
      "SELECT d.doc_id, CAST(coalesce(a.n_win, 0) AS BIGINT) AS n_win, " +
      "CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup, " +
      "CAST(coalesce(FLOOR(1000000.0 * a.n_dup / a.n_win), 0) AS BIGINT) " +
      "AS dup_ppm FROM documents d LEFT JOIN a USING (doc_id) ORDER BY doc_id"
  }

  /** Gopher rule battery oracle: every rule restated over the same
    * integer/ppm features; the stopword IN-list is generated from the
    * operator's own literal Seq so the two engines cannot diverge. */
  /** Bigram-LM oracle (r6): the identical fit restated — context/
    * continuation counts over 1-based array indexing, the same
    * min-count-2 prune, floor-ppm conditional, and per-doc floor
    * mean; a count divergence at any bigram fails the hash. */
  /** Shared CTE chain: the bigram-LM fit + per-doc score sum (ends at
    * `s(doc_id, n_bigrams, sp)`) — used by both tx_ngram_lm and
    * tx_lm_buckets. */
  private val lmScoreCtes: String =
    s"ws AS ($wordsCte), " +
      "p AS (SELECT doc_id, unnest(range(1, len(w))) AS i, w " +
      "FROM ws WHERE len(w) >= 2), " +
      "bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM p), " +
      "c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2), " +
      "c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1), " +
      "m AS (SELECT w1, w2, (c12 * 1000000) // c1 AS ppm " +
      "FROM c12 JOIN c1 USING (w1) WHERE c12 >= 2), " +
      "s AS (SELECT bg.doc_id, count(*) AS n_bigrams, " +
      "sum(coalesce(m.ppm, 0)) AS sp FROM bg " +
      "LEFT JOIN m ON bg.w1 = m.w1 AND bg.w2 = m.w2 GROUP BY 1)"

  private val txNgramLmSql: String =
    s"WITH $lmScoreCtes " +
      "SELECT d.doc_id, CAST(coalesce(s.n_bigrams, 0) AS BIGINT) " +
      "AS n_bigrams, CAST(coalesce(s.sp // s.n_bigrams, 0) AS BIGINT) " +
      "AS lm_ppm FROM documents d LEFT JOIN s USING (doc_id) " +
      "ORDER BY doc_id"

  /** [[TextAnalysis.lmBuckets]]: same score chain, same integer
    * tertile ⌊3·(rank−1)/n⌋ within language. */
  private val txLmBucketsSql: String =
    s"WITH $lmScoreCtes, " +
      "sc AS (SELECT d.doc_id, d.lang, " +
      "CAST(coalesce(s.sp // s.n_bigrams, 0) AS BIGINT) AS lm_ppm " +
      "FROM documents d LEFT JOIN s USING (doc_id)), " +
      "r AS (SELECT doc_id, lang, lm_ppm, " +
      "row_number() OVER (PARTITION BY lang ORDER BY lm_ppm, doc_id) AS rn, " +
      "count(*) OVER (PARTITION BY lang) AS nl FROM sc) " +
      "SELECT doc_id, lang, lm_ppm, " +
      "CASE ((rn - 1) * 3) // nl WHEN 0 THEN 'tail' " +
      "WHEN 1 THEN 'middle' ELSE 'head' END AS bucket " +
      "FROM r ORDER BY doc_id"

  /** Flesch oracle (r6): same clamped integer feature chain; vowel
    * groups / sentence terminators via regexp_extract_all (leftmost-
    * longest non-overlapping in both regex engines for these
    * character-class patterns). */
  private val txReadabilitySql: String =
    "WITH f AS (SELECT doc_id, " +
      "greatest(len(string_split(text, ' ')), 1) AS n_words, " +
      "greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS n_sentences, " +
      "greatest(len(regexp_extract_all(lower(text), '[aeiou]+')), 1) " +
      "AS n_syllables FROM documents) " +
      "SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, " +
      "CAST(n_sentences AS BIGINT) AS n_sentences, " +
      "CAST(n_syllables AS BIGINT) AS n_syllables, " +
      "CAST(206835 - (1015 * n_words) // n_sentences " +
      "- (84600 * n_syllables) // n_words AS BIGINT) AS flesch_milli " +
      "FROM f ORDER BY doc_id"

  /** GROUPING SETS oracle (r6): DuckDB's GROUPING() emits the same
    * left-to-right bitmask Spark's grouping_id() does (bit set ⇔
    * column aggregated away in that set). */
  private val relGroupingSetsSql: String =
    "SELECT o_orderpriority, o_orderstatus, " +
      "CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid, " +
      "count(*) AS n_orders, " +
      s"CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS sum_total_c " +
      "FROM orders GROUP BY GROUPING SETS " +
      "((o_orderpriority, o_orderstatus), (o_orderpriority), ()) " +
      "ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST"

  /** Shared edge-list CTE body for the graph oracles — the
    * relationally-derived customer graph of
    * [[graft.operators.Graph.customerEdges]]: a per-nation ring
    * (lead by custkey, wrap to the nation min) plus a bridge ring
    * over the per-nation minimums. */
  private val graphEdgesCte: String =
    "ring AS (SELECT c_custkey AS src, " +
      "coalesce(lead(c_custkey) OVER " +
      "(PARTITION BY c_nationkey ORDER BY c_custkey), " +
      "min(c_custkey) OVER (PARTITION BY c_nationkey)) AS dst " +
      "FROM customer), " +
      "mins AS (SELECT c_nationkey AS nk, min(c_custkey) AS mc " +
      "FROM customer GROUP BY c_nationkey), " +
      "bridge AS (SELECT mc AS src, coalesce(lead(mc) OVER (ORDER BY nk), " +
      "first_value(mc) OVER (ORDER BY nk ROWS BETWEEN UNBOUNDED PRECEDING " +
      "AND UNBOUNDED FOLLOWING)) AS dst FROM mins), " +
      "e AS (SELECT src, dst FROM ring UNION ALL SELECT src, dst FROM bridge)"

  /** BFS oracle (r6): a depth-capped recursive CTE — UNION dedups
    * (node, d) pairs so the recursion terminates on the cyclic graph;
    * min(d) per node is the BFS distance, identical to the Spark
    * frontier iteration's fixpoint. */
  private val relReachabilitySql: String =
    s"WITH RECURSIVE $graphEdgesCte, " +
      "r(node, d) AS (SELECT c_custkey, CAST(0 AS BIGINT) FROM customer " +
      "WHERE c_custkey % 100 = 1 " +
      "UNION SELECT e.dst, r.d + 1 FROM r JOIN e ON r.node = e.src " +
      s"WHERE r.d < ${graft.operators.Graph.BfsDepth}) " +
      "SELECT node, min(d) AS d FROM r GROUP BY node ORDER BY node"

  /** PageRank oracle (r6): [[graft.operators.Graph.PrRounds]] rounds
    * unrolled as chained CTEs. All quantities are nonnegative
    * integers; DuckDB's `/` on integers is float division (same as
    * the operator's cast-to-double division), products stay below
    * 2^53, so every floor is bit-identical cross-engine. */
  private val relPagerankSql: String = {
    val rounds = (1 to graft.operators.Graph.PrRounds).map { i =>
      s"p$i AS (SELECT e2.dst AS node, CAST(150000 + floor(sum(" +
        "CAST(floor(p.pr / e2.outdeg) AS BIGINT)) * 850 / 1000.0) " +
        s"AS BIGINT) AS pr FROM e2 JOIN p${i - 1} p ON e2.src = p.node " +
        "GROUP BY e2.dst)"
    }.mkString(", ")
    s"WITH $graphEdgesCte, " +
      "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src), " +
      "e2 AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg " +
      "ON e.src = deg.src), " +
      "p0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS pr " +
      "FROM e), " + rounds +
      s" SELECT node, pr FROM p${graft.operators.Graph.PrRounds} " +
      "ORDER BY node"
  }

  private val txGopherRulesSql: String = {
    val stops = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    "WITH f AS (SELECT doc_id, " +
      "len(string_split(text, ' ')) AS n, " +
      "greatest(len(string_split(text, ' ')), 1) AS ng, " +
      "length(text) - (len(string_split(text, ' ')) - 1) AS tok_chars, " +
      "length(text) - length(replace(text, '#', '')) AS hash_cnt, " +
      "(length(text) - length(replace(text, '...', ''))) // 3 AS ell_cnt, " +
      "greatest(len(string_split(text, chr(10))), 1) AS nl, " +
      "list_sum(list_transform(string_split(text, chr(10)), " +
      "l -> CASE WHEN l LIKE '-%' OR l LIKE '*%' THEN 1 ELSE 0 END)) AS bullet_cnt, " +
      "list_sum(list_transform(string_split(text, chr(10)), " +
      "l -> CASE WHEN l LIKE '%...' THEN 1 ELSE 0 END)) AS ellend_cnt, " +
      "list_sum(list_transform(string_split(text, ' '), " +
      "x -> CASE WHEN regexp_matches(x, '[A-Za-z]') THEN 1 ELSE 0 END)) AS alpha_cnt, " +
      "list_sum(list_transform(string_split(text, ' '), " +
      s"x -> CASE WHEN x IN ($stops) THEN 1 ELSE 0 END)) AS stop_cnt " +
      "FROM documents), " +
      "g AS (SELECT doc_id, n, " +
      "CASE WHEN n BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS ok_word_count, " +
      "CASE WHEN FLOOR(1000000.0 * tok_chars / ng) BETWEEN 3000000 AND 10000000 " +
      "THEN 1 ELSE 0 END AS ok_word_len, " +
      "CASE WHEN FLOOR(1000000.0 * (hash_cnt + ell_cnt) / ng) <= 100000 " +
      "THEN 1 ELSE 0 END AS ok_symbol, " +
      "CASE WHEN FLOOR(1000000.0 * bullet_cnt / nl) <= 900000 " +
      "THEN 1 ELSE 0 END AS ok_bullet, " +
      "CASE WHEN FLOOR(1000000.0 * ellend_cnt / nl) <= 300000 " +
      "THEN 1 ELSE 0 END AS ok_ellipsis, " +
      "CASE WHEN FLOOR(1000000.0 * alpha_cnt / ng) >= 800000 " +
      "THEN 1 ELSE 0 END AS ok_alpha, " +
      "CASE WHEN stop_cnt >= 2 THEN 1 ELSE 0 END AS ok_stop FROM f) " +
      "SELECT doc_id, CAST(n AS BIGINT) AS n_words, " +
      "CAST(ok_word_count AS BIGINT) AS ok_word_count, " +
      "CAST(ok_word_len AS BIGINT) AS ok_word_len, " +
      "CAST(ok_symbol AS BIGINT) AS ok_symbol, " +
      "CAST(ok_bullet AS BIGINT) AS ok_bullet, " +
      "CAST(ok_ellipsis AS BIGINT) AS ok_ellipsis, " +
      "CAST(ok_alpha AS BIGINT) AS ok_alpha, " +
      "CAST(ok_stop AS BIGINT) AS ok_stop, " +
      "CAST(CASE WHEN ok_word_count + ok_word_len + ok_symbol + ok_bullet + " +
      "ok_ellipsis + ok_alpha + ok_stop = 7 THEN 1 ELSE 0 END AS BIGINT) " +
      "AS pass FROM g ORDER BY doc_id"
  }

  /** [[TextAnalysis.c4Rules]]: the line filter, the cleaned-text md5,
    * and the page decision all restated — list_filter mirrors the HOF,
    * nested replaces mirror translate(".!?" → "") exactly. */
  private val txC4RulesSql: String =
    "WITH f AS (SELECT doc_id, text, " +
      "len(string_split(text, chr(10))) AS n_lines, " +
      "list_filter(string_split(text, chr(10)), " +
      "l -> regexp_matches(l, '[.!?\"]$') AND " +
      "len(string_split(l, ' ')) >= 3) AS kept FROM documents), " +
      "g AS (SELECT doc_id, text, n_lines, len(kept) AS n_kept, " +
      // empty list: array_to_string -> NULL in DuckDB, '' like Spark's
      // concat_ws only under COALESCE
      "COALESCE(array_to_string(kept, chr(10)), '') AS cleaned FROM f), " +
      "h AS (SELECT doc_id, text, n_lines, n_kept, cleaned, " +
      "length(cleaned) - length(replace(replace(replace(" +
      "cleaned, '.', ''), '!', ''), '?', '')) AS n_sent, " +
      "CASE WHEN lower(text) LIKE '%lorem ipsum%' THEN 1 ELSE 0 END AS lorem, " +
      "CASE WHEN text LIKE '%{%' THEN 1 ELSE 0 END AS brace FROM g) " +
      "SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines, " +
      "CAST(n_kept AS BIGINT) AS n_kept, " +
      "CAST(length(cleaned) AS BIGINT) AS clean_chars, " +
      "CAST(n_sent AS BIGINT) AS n_sentences, " +
      "CAST(lorem AS BIGINT) AS has_lorem, " +
      "CAST(brace AS BIGINT) AS has_brace, " +
      "md5(cleaned) AS clean_md5, " +
      "CAST(CASE WHEN n_sent >= 5 AND lorem = 0 AND brace = 0 " +
      "THEN 1 ELSE 0 END AS BIGINT) AS pass " +
      "FROM h ORDER BY doc_id"

  /** [[TextAnalysis.gopherAblation]]: the full rule battery as a CTE,
    * then per-rule fail / unique-kill sums. */
  private val txGopherAblationSql: String = {
    val rules = Seq("ok_word_count", "ok_word_len", "ok_symbol",
      "ok_bullet", "ok_ellipsis", "ok_alpha", "ok_stop")
    val nf = rules.map(r => s"(1 - $r)").mkString(" + ")
    val arms = rules.map { r =>
      s"SELECT '$r' AS rule, CAST(sum(1 - $r) AS BIGINT) AS n_fail, " +
        s"CAST(sum(CASE WHEN $r = 0 AND nf = 1 THEN 1 ELSE 0 END) " +
        s"AS BIGINT) AS n_fail_only FROM f"
    }.mkString(" UNION ALL ")
    s"WITH g AS ($txGopherRulesSql), " +
      s"f AS (SELECT *, $nf AS nf FROM g) " +
      s"SELECT rule, n_fail, n_fail_only FROM ($arms) ORDER BY rule"
  }

  /** [[RelQueries.fkOrphans]]: the same four anti-join edges. Stated as
    * an explicit LEFT JOIN … IS NULL anti join (not NOT IN) so the oracle
    * matches Spark's left_anti semantics under NULL keys too: NOT IN goes
    * UNKNOWN for a NULL fk or any NULL parent key and would report 0
    * orphans where left_anti counts the NULL-fk rows. */
  private val relFkOrphansSql: String = {
    def arm(name: String, child: String, fk: String, parent: String,
        pk: String): String =
      s"SELECT '$name' AS edge, CAST(count(*) AS BIGINT) AS n_orphans " +
        s"FROM $child c LEFT JOIN $parent p ON c.$fk = p.$pk " +
        s"WHERE p.$pk IS NULL"
    arm("orders.custkey->customer", "orders", "o_custkey",
      "customer", "c_custkey") +
      " UNION ALL " + arm("lineitem.orderkey->orders", "lineitem",
      "l_orderkey", "orders", "o_orderkey") +
      " UNION ALL " + arm("lineitem.partkey->part", "lineitem",
      "l_partkey", "part", "p_partkey") +
      " UNION ALL " + arm("lineitem.suppkey->supplier", "lineitem",
      "l_suppkey", "supplier", "s_suppkey") +
      " UNION ALL " + arm("events.user_id->supplier", "events",
      "user_id", "supplier", "s_suppkey") +
      " ORDER BY edge"
  }

  /** [[RelQueries.keyDiscovery]]: one pass, same column set. */
  private val relKeyDiscoverySql: String = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val arms = cols.map { k =>
      s"SELECT '$k' AS column_name, CAST(count(*) AS BIGINT) AS n_rows, " +
        s"CAST(count(DISTINCT $k) AS BIGINT) AS n_distinct FROM customer"
    }.mkString(" UNION ALL ")
    s"SELECT column_name, n_rows, n_distinct, " +
      "CAST(CASE WHEN n_distinct = n_rows THEN 1 ELSE 0 END AS BIGINT) " +
      s"AS is_key FROM ($arms) ORDER BY column_name"
  }

  /** [[RelQueries.backfillGaps]]: absence manufactured the same way —
    * per-type extent, generated calendar, anti-join. */
  private val relBackfillGapsSql: String =
    "WITH obs AS (SELECT DISTINCT event_type, " +
      "epoch_ns(ts) // 3600000000000 AS hr FROM events), " +
      "ext AS (SELECT event_type, min(hr) AS h0, max(hr) AS h1 " +
      "FROM obs GROUP BY 1), " +
      "exp_ AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS hr FROM ext), " +
      "mis AS (SELECT e.event_type, e.hr FROM exp_ e " +
      "LEFT JOIN obs o ON e.event_type = o.event_type AND e.hr = o.hr " +
      "WHERE o.hr IS NULL), " +
      "m AS (SELECT event_type, count(*) AS n, min(hr) AS mn, " +
      "max(hr) AS mx FROM mis GROUP BY 1) " +
      "SELECT ext.event_type, CAST(h1 - h0 + 1 AS BIGINT) AS n_hours_span, " +
      "CAST(COALESCE(m.n, 0) AS BIGINT) AS n_missing, " +
      "CAST(COALESCE(m.mn, -1) AS BIGINT) AS first_missing, " +
      "CAST(COALESCE(m.mx, -1) AS BIGINT) AS last_missing " +
      "FROM ext LEFT JOIN m USING (event_type) ORDER BY event_type"

  /** Ratio-to-report oracle: the share window runs over the per-part
    * aggregate, mirroring the operator's agg-then-window shape. */
  private val relWindowShareSql: String =
    "WITH r AS (SELECT p_partkey, p_brand, " +
      s"CAST(sum(${centsSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) " +
      "AS revenue_c FROM lineitem JOIN part ON l_partkey = p_partkey " +
      "GROUP BY 1, 2) " +
      "SELECT p_partkey, p_brand, revenue_c, " +
      "CAST(FLOOR(1000000.0 * revenue_c / " +
      "SUM(revenue_c) OVER (PARTITION BY p_brand)) AS BIGINT) AS share_ppm " +
      "FROM r ORDER BY p_partkey"

  /** Threshold range-search oracle: the brute scored set filtered at
    * the radius instead of ranked to k. */
  private val simRangeSql: String =
    s"WITH $quantCte, " +
      "scored AS (SELECT qs.vec_id AS query_id, b.vec_id AS neighbor_id, " +
      s"${cosPpmSql(dotSql("qs.qe", "b.qe"), "qs.n", "b.n")} AS cos_ppm " +
      "FROM base qs JOIN base b ON b.vec_id <> qs.vec_id WHERE qs.vec_id < 8) " +
      "SELECT query_id, neighbor_id, cos_ppm FROM scored " +
      "WHERE cos_ppm >= 300000 ORDER BY query_id, neighbor_id"

  /** Oracle for dd_url_dedup: the canonical group is recomputed
    * INDEPENDENTLY from the doc_id literal (doc_id % 100), never from
    * the Spark-side normalization — if urlParts failed to collapse a
    * case/utm/fragment variant, groups would split and the hashes
    * mismatch (the mm-fixture discipline applied to URL dedup). */
  private val ddUrlDedupSql: String =
    "WITH g AS (SELECT doc_id, doc_id % 100 AS grp FROM documents), " +
      "m AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY grp) AS canonical_id " +
      "FROM g) " +
      "SELECT doc_id, canonical_id, " +
      "CAST(CASE WHEN doc_id > canonical_id THEN 1 ELSE 0 END AS BIGINT) " +
      "AS is_dup FROM m ORDER BY doc_id"

  /** Running-spend oracle: cumulative integer-cents sum per customer
    * ordered by (date, orderkey) — unique orderkey tie-break makes
    * the default RANGE frame equal ROWS in both engines. */
  private val relRunningSpendSql: String =
    "SELECT o_custkey, o_orderkey, " +
      s"CAST(SUM(${centsSql("o_totalprice")}) OVER " +
      "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) " +
      "AS run_spend_c FROM orders ORDER BY o_custkey, o_orderkey"

  /** Web-curation composite: the r5 operator oracles reused verbatim
    * as CTEs (paragraph dedup + quality + temperature sampling +
    * URL parse), met in doc-keyed joins. */
  private lazy val pipelineCurateWebSql: String =
    "WITH pd AS (" + ddParagraphSql + "), qq AS (" + txQualitySql + "), " +
      "st AS (" + txSampleTempSql + "), ue AS (" + txUrlExtractSql + ") " +
      "SELECT st.doc_id, st.lang, ue.domain FROM st " +
      "JOIN pd ON pd.doc_id = st.doc_id AND pd.dup_ppm < 500000 " +
      "JOIN qq ON qq.doc_id = st.doc_id AND qq.quality_ppm >= 750000 " +
      "JOIN ue ON ue.doc_id = st.doc_id " +
      "ORDER BY st.doc_id"

  /** Domain-blocklist rollup: the three signal oracles as CTEs,
    * floor(sum/count) integer means per domain. */
  private lazy val relDomainQualitySql: String =
    "WITH qq AS (" + txQualitySql + "), pd AS (" + ddParagraphSql + "), " +
      "ue AS (" + txUrlExtractSql + ") " +
      "SELECT ue.domain, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(FLOOR(sum(qq.quality_ppm) / count(*)) AS BIGINT) AS mean_quality_ppm, " +
      "CAST(FLOOR(sum(pd.dup_ppm) / count(*)) AS BIGINT) AS mean_dup_ppm " +
      "FROM ue JOIN qq ON qq.doc_id = ue.doc_id " +
      "JOIN pd ON pd.doc_id = ue.doc_id " +
      "GROUP BY ue.domain ORDER BY ue.domain"

  private val pipelineCurateFullSql: String =
    "WITH cur AS (" + pipelineCurateSql + "), sd AS (" + ddSemdedupSql + ") " +
      "SELECT cur.doc_id, cur.lang, cur.source, cur.n_chars, " +
      "cur.quality_ppm, sd.cid " +
      "FROM cur JOIN sd ON sd.vec_id = cur.doc_id AND sd.kept = 1 " +
      "ORDER BY cur.doc_id"

  private val txSampleStratSql: String = {
    val u = PH.h31Sql("'strat:' || CAST(doc_id AS VARCHAR)")
    s"WITH u AS (SELECT doc_id, lang, $u AS u FROM documents), " +
      "r AS (SELECT doc_id, lang, u, row_number() OVER " +
      "(PARTITION BY lang ORDER BY u ASC, doc_id ASC) AS rk FROM u) " +
      "SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM r " +
      "WHERE rk <= 50 ORDER BY doc_id"
  }

  private val relDistinctUsersSql: String =
    "SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n " +
      "FROM events GROUP BY 1 ORDER BY 1"

  /** Funnel oracle: same strict-ordering stage chain (first view →
    * first later click → first later purchase), cumulative counts. */
  private val relFunnelSql: String =
    "WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) AS tsn FROM events), " +
      "v AS (SELECT user_id, min(tsn) AS t_view FROM ev " +
      "WHERE event_type = 'view' GROUP BY 1), " +
      "c AS (SELECT e.user_id, min(e.tsn) AS t_click FROM ev e " +
      "JOIN v USING (user_id) " +
      "WHERE e.event_type = 'click' AND e.tsn > v.t_view GROUP BY 1), " +
      "p AS (SELECT e.user_id, min(e.tsn) AS t_purchase FROM ev e " +
      "JOIN c USING (user_id) " +
      "WHERE e.event_type = 'purchase' AND e.tsn > c.t_click GROUP BY 1), " +
      "j AS (SELECT v.user_id, c.t_click, p.t_purchase FROM v " +
      "LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)) " +
      "SELECT stage, n_users FROM (" +
      "SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM j " +
      "UNION ALL SELECT '2_click', CAST(count(t_click) AS BIGINT) FROM j " +
      "UNION ALL SELECT '3_purchase', CAST(count(t_purchase) AS BIGINT) FROM j" +
      ") ORDER BY stage"

  /** [[RelQueries.funnelWindow]]: the funnel chain with each step
    * bounded to `gap` ns of the previous (3 days). */
  private val relFunnelWindowSql: String = {
    val gap = 3L * 86400L * 1000000000L
    "WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) AS tsn FROM events), " +
      "v AS (SELECT user_id, min(tsn) AS t_view FROM ev " +
      "WHERE event_type = 'view' GROUP BY 1), " +
      "c AS (SELECT e.user_id, min(e.tsn) AS t_click FROM ev e " +
      "JOIN v USING (user_id) " +
      "WHERE e.event_type = 'click' AND e.tsn > v.t_view " +
      s"AND e.tsn <= v.t_view + $gap GROUP BY 1), " +
      "p AS (SELECT e.user_id, min(e.tsn) AS t_purchase FROM ev e " +
      "JOIN c USING (user_id) " +
      "WHERE e.event_type = 'purchase' AND e.tsn > c.t_click " +
      s"AND e.tsn <= c.t_click + $gap GROUP BY 1), " +
      "j AS (SELECT v.user_id, c.t_click, p.t_purchase FROM v " +
      "LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)) " +
      "SELECT stage, n_users FROM (" +
      "SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM j " +
      "UNION ALL SELECT '2_click', CAST(count(t_click) AS BIGINT) FROM j " +
      "UNION ALL SELECT '3_purchase', CAST(count(t_purchase) AS BIGINT) FROM j" +
      ") ORDER BY stage"
  }

  /** [[RelQueries.compactionPlan]]: same next-fit exclusive prefix
    * sum; strlen = UTF-8 byte length like Spark's octet_length. */
  private val relCompactionPlanSql: String =
    "WITH ev AS (SELECT event_type, event_id, epoch_ns(ts) AS tsn, " +
      "strlen(props) + 24 AS bytes FROM events), " +
      "pf AS (SELECT event_type, event_id, tsn, bytes, " +
      "COALESCE(SUM(bytes) OVER (PARTITION BY event_type " +
      "ORDER BY tsn, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix " +
      "FROM ev) " +
      "SELECT event_type, CAST(prefix // 65536 AS BIGINT) AS file_id, " +
      "CAST(count(*) AS BIGINT) AS n_rows, " +
      "CAST(sum(bytes) AS BIGINT) AS n_bytes, " +
      "CAST(min(tsn) AS BIGINT) AS ts_min, " +
      "CAST(max(tsn) AS BIGINT) AS ts_max " +
      "FROM pf GROUP BY 1, 2 ORDER BY event_type, file_id"

  /** [[RelQueries.compactionPlanParts]] (r7): the same next-fit
    * prefix-sum restated with the day bucket in the window key. */
  private val relCompactionPlanPartsSql: String =
    "WITH ev AS (SELECT event_type, event_id, epoch_ns(ts) AS tsn, " +
      "epoch_ns(ts) // 86400000000000 AS day_bucket, " +
      "strlen(props) + 24 AS bytes FROM events), " +
      "pf AS (SELECT event_type, day_bucket, event_id, tsn, bytes, " +
      "COALESCE(SUM(bytes) OVER (PARTITION BY event_type, day_bucket " +
      "ORDER BY tsn, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix " +
      "FROM ev) " +
      "SELECT event_type, CAST(day_bucket AS BIGINT) AS day_bucket, " +
      "CAST(prefix // 65536 AS BIGINT) AS file_id, " +
      "CAST(count(*) AS BIGINT) AS n_rows, " +
      "CAST(sum(bytes) AS BIGINT) AS n_bytes, " +
      "CAST(min(tsn) AS BIGINT) AS ts_min, " +
      "CAST(max(tsn) AS BIGINT) AS ts_max " +
      "FROM pf GROUP BY 1, 2, 3 ORDER BY event_type, day_bucket, file_id"

  /** Cohort retention: day index via exact integer nanos division
    * (`//` floors like Spark's `div` — both operands non-negative). */
  private val relRetentionSql: String =
    "WITH ev AS (SELECT user_id, " +
      "epoch_ns(ts) // 86400000000000 AS day FROM events), " +
      "c AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1), " +
      "j AS (SELECT DISTINCT ev.user_id, c.cohort_day, " +
      "ev.day - c.cohort_day AS day_offset FROM ev " +
      "JOIN c USING (user_id)) " +
      "SELECT cohort_day, day_offset, CAST(count(*) AS BIGINT) AS n_users " +
      "FROM j GROUP BY cohort_day, day_offset " +
      "ORDER BY cohort_day, day_offset"

  private val relProfileCols =
    Seq("l_orderkey", "l_suppkey", "l_returnflag", "l_linestatus",
      "l_quantity")

  /** NFC oracle: DuckDB's nfc_normalize is the same Unicode canonical
    * composition as java.text.Normalizer NFC; the embedded combining
    * acute (U+0301) exercises the non-identity path. Both engines
    * count length in codepoints. */
  private val txNfcSql: String =
    "WITH inp AS (SELECT doc_id, text || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' cafe\u0301 touche\u0301' " +
      "ELSE '' END AS raw FROM documents) " +
      "SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_raw, " +
      "CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_norm, " +
      "nfc_normalize(raw) AS norm FROM inp ORDER BY doc_id"

  /** Deequ-style expectations over lineitem: named checks with their
    * violated-when predicates (one check is deliberately breakable —
    * a report with only green rows tests nothing). */
  private val expectationChecks: Seq[(String, String)] = Seq(
    "discount_le_10pct" -> "l_discount > 0.1",
    "orderkey_not_null" -> "l_orderkey IS NULL",
    "quantity_in_1_50" -> "(l_quantity < 1 OR l_quantity > 50)",
    "quantity_le_30" -> "l_quantity > 30",
    "returnflag_domain" -> "l_returnflag NOT IN ('A', 'N', 'R')")

  private val relExpectationsSql: String = {
    val sums = expectationChecks.zipWithIndex.map { case ((_, bad), i) =>
      s"CAST(sum(CASE WHEN $bad THEN 1 ELSE 0 END) AS BIGINT) AS v$i"
    }.mkString(", ")
    val branches = expectationChecks.zipWithIndex.map { case ((name, _), i) =>
      s"SELECT '$name' AS check_name, n_rows, v$i AS n_violations, " +
        s"CAST(CASE WHEN v$i = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass FROM a"
    }.mkString(" UNION ALL ")
    s"WITH a AS (SELECT count(*) AS n_rows, $sums FROM lineitem) " +
      s"SELECT * FROM ($branches) ORDER BY check_name"
  }

  private val relProfileSql: String = {
    val selects = relProfileCols.map(c =>
      s"SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, " +
        s"CAST(count($c) AS BIGINT) AS n_nonnull, " +
        s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM lineitem")
    s"SELECT * FROM (${selects.mkString(" UNION ALL ")}) ORDER BY col_name"
  }

  // -- r10: k-NN graph + merge-upsert --------------------------------

  /** [[Dedup.yieldReport]]: every policy's id set rebuilt from the
    * SAME chains its declared operator uses (exact reps, LSH losers,
    * recursive-closure keepers), token sums exact-integer. */
  private val ddYieldReportSql: String =
    s"WITH RECURSIVE $ddClustersCtes, " +
      "tok AS (SELECT doc_id, len(string_split(text, ' ')) AS t FROM documents), " +
      "tot AS (SELECT CAST(SUM(t) AS BIGINT) AS tot FROM tok), " +
      "reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text), " +
      "losers AS (SELECT DISTINCT doc_b AS doc_id FROM (" + ddMinhashSql + ") " +
      "WHERE est_jaccard_ppm >= 750000), " +
      "cl AS (SELECT node AS doc_id, min(reach) AS cluster_id FROM walk " +
      "GROUP BY node), " +
      "keepers AS (SELECT min(doc_id) AS doc_id FROM cl GROUP BY cluster_id), " +
      "ex AS (SELECT count(*) AS d, CAST(COALESCE(SUM(t), 0) AS BIGINT) AS tk " +
      "FROM tok WHERE doc_id NOT IN (SELECT doc_id FROM reps)), " +
      "lo AS (SELECT count(*) AS d, CAST(COALESCE(SUM(t), 0) AS BIGINT) AS tk " +
      "FROM tok JOIN losers USING (doc_id)), " +
      "cr AS (SELECT count(*) AS d, CAST(COALESCE(SUM(t), 0) AS BIGINT) AS tk " +
      "FROM tok WHERE doc_id NOT IN (SELECT doc_id FROM keepers)), " +
      "u AS (SELECT 'cluster_keep_one' AS method, d, tk FROM cr " +
      "UNION ALL SELECT 'exact', d, tk FROM ex " +
      "UNION ALL SELECT 'lsh_loser', d, tk FROM lo) " +
      "SELECT method, CAST(d AS BIGINT) AS docs_removed, tk AS tokens_removed, " +
      "(1000000 * tk) // tot AS tokens_removed_ppm FROM u, tot ORDER BY method"

  /** [[graft.operators.Similarity.knnGraph]]: sign-LSH band
    * candidates (the dd_embed_neardup CTEs), undirected pairs scored
    * once then mirrored, per-node top-k with the pinned (cos desc,
    * neighbor asc) tiebreak. */
  private def simKnnGraphSqlFor(nBands: Int, bits: Int): String =
    simKnnGraphSqlFrom(signBandsCte(nBands, bits))

  private def simKnnGraphSqlFrom(bandsCte: String): String =
    s"WITH $quantCte, $bandsCte, " +
      "pairs AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b " +
      "FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket " +
      "AND a.vec_id < b.vec_id), " +
      "sc AS (SELECT p.vec_a, p.vec_b, " +
      s"${cosPpmSql(dotSql("x.qe", "y.qe"), "x.n", "y.n")} AS cos_ppm " +
      "FROM pairs p JOIN base x ON x.vec_id = p.vec_a " +
      "JOIN base y ON y.vec_id = p.vec_b), " +
      "und AS (SELECT vec_a AS vec_id, vec_b AS neighbor_id, cos_ppm FROM sc " +
      "UNION ALL SELECT vec_b, vec_a, cos_ppm FROM sc), " +
      "r AS (SELECT vec_id, neighbor_id, cos_ppm, row_number() OVER " +
      "(PARTITION BY vec_id ORDER BY cos_ppm DESC, neighbor_id) AS rnk FROM und) " +
      "SELECT vec_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, cos_ppm " +
      "FROM r WHERE rnk <= 4 ORDER BY vec_id, rank"

  private val simKnnGraphSql: String = simKnnGraphSqlFor(4, 4)

  /** The widened-banding scale twin (bits grow with the corpus —
    * N²/2^bits candidate volume; the dd_simhash_pairs_wide lesson on
    * the vector side). */
  private val simKnnGraphWideSql: String = simKnnGraphSqlFor(4, 8)

  /** bits = clamp(⌈log₂(N/128)⌉, 4, 16) over the usable base — the
    * scalar-subquery twin of Similarity.autoBits (the
    * dd_semdedup_auto √N pattern, applied to band width). Stated as
    * a sum of integer (N > 128·2^j) indicators, NOT CEIL(LOG2(...)):
    * the count of thresholds exceeded IS the smallest w with
    * 128·2^w ≥ N, the exact comparison chain autoBits runs — no
    * cross-engine transcendental rounding at power-of-two
    * boundaries (r13). */
  private def autoBitsCteOver(where: String): String = {
    val terms = (0 until 16).map(j =>
      s"(CASE WHEN count(*) > ${128L << j} THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"abits AS (SELECT greatest(4, $terms) AS ab FROM base$where)"
  }

  private val autoBitsCte: String = autoBitsCteOver("")

  /** Sign-LSH bands CTE with the width picked at RUN time by the
    * abits scalar: one guarded arm per candidate width — exactly one
    * arm survives the `(SELECT ab FROM abits) = w` predicate, so the
    * pair join only ever sees the derived width's bands (the other
    * arms prune to zero rows before any join). */
  private def signBandsAutoCte(nBands: Int): String = {
    val arms = (4 to 16).flatMap { bits =>
      (0 until nBands).map { b =>
        val bucket = (0 until bits).map { k =>
          val dim = b * bits + k + 1 // DuckDB lists are 1-based
          s"(CAST(embedding[$dim] > 0 AS BIGINT) * ${1L << k})"
        }.mkString(" + ")
        s"SELECT vec_id, $b AS band, $bucket AS bucket FROM embeddings " +
          s"WHERE (SELECT ab FROM abits) = $bits"
      }
    }
    s"$autoBitsCte, bands AS (${arms.mkString(" UNION ALL ")})"
  }

  /** [[graft.operators.Similarity.knnGraphAuto]]: the same graph
    * tail as sim_knn_graph, bands built at the auto-derived width. */
  private val simKnnGraphAutoSql: String =
    simKnnGraphSqlFrom(signBandsAutoCte(4))

  /** ANCHORED-layout bands at the POST-migration width
    * least(autoBits + 1, 16): band b reads dims [b·16, b·16 + bits)
    * — [[graft.operators.Similarity.knnGraphReband]]'s oracle is the
    * FROM-SCRATCH anchored graph at the migrated width, so the hash
    * proves the stored-pair refinement + carried-score migration
    * exact (the sim_knn_upsert oracle-exactness pattern). */
  private def anchoredBandsAutoCte(nBands: Int,
      abits: String = autoBitsCte): String = {
    val arms = (5 to 16).flatMap { bits =>
      (0 until nBands).map { b =>
        val bucket = (0 until bits).map { k =>
          val dim = b * 16 + k + 1 // DuckDB lists are 1-based
          s"(CAST(embedding[$dim] > 0 AS BIGINT) * ${1L << k})"
        }.mkString(" + ")
        s"SELECT vec_id, $b AS band, $bucket AS bucket FROM embeddings " +
          s"WHERE least((SELECT ab FROM abits) + 1, 16) = $bits"
      }
    }
    s"$abits, bands AS (${arms.mkString(" UNION ALL ")})"
  }

  private val simKnnRebandSql: String =
    simKnnGraphSqlFrom(anchoredBandsAutoCte(4))

  /** [[graft.operators.Similarity.knnStoreLifecycle]]: the oracle is
    * the FROM-SCRATCH anchored graph over the FULL corpus at the
    * lifecycle's final width — least(autoBits(|fold 0|) + 1, 16),
    * fold 0 = the initial corpus the store was built over (vec_id %
    * 3 = 0, counted over the usable quantized base exactly as the
    * Scala side counts it). The hash therefore proves the whole
    * build → upsert → reband → upsert chain exact end-to-end. */
  private val pipelineStoreVecSql: String =
    simKnnGraphSqlFrom(anchoredBandsAutoCte(4,
      autoBitsCteOver(" WHERE vec_id % 3 = 0")))

  /** [[graft.operators.Dedup.embeddingNearDupAuto]]: dd_embed_neardup's
    * pair/verify tail over auto-width bands. */
  private val ddEmbedNearDupAutoSql: String =
    s"WITH $quantCte, ${signBandsAutoCte(4)}, " +
      "pairs AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b " +
      "FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket " +
      "AND a.vec_id < b.vec_id), " +
      "c AS (SELECT p.vec_a, p.vec_b, " +
      s"${cosPpmSql(dotSql("x.qe", "y.qe"), "x.n", "y.n")} AS cos_ppm " +
      "FROM pairs p JOIN base x ON x.vec_id = p.vec_a " +
      "JOIN base y ON y.vec_id = p.vec_b) " +
      "SELECT vec_a, vec_b, cos_ppm FROM c WHERE cos_ppm >= 400000 " +
      "ORDER BY vec_a, vec_b"

  /** [[graft.operators.Similarity.driftReport]]: per-label centroid
    * drift between vec_id-parity halves — same quantization, same
    * IEEE floor-mean centroid (floor of the double quotient, NOT
    * `//`: component sums go negative and floor ≠ trunc there), same
    * zero-norm exclusion, same ppm cosine. */
  private val simDriftReportSql: String =
    s"WITH $quantCte, " +
      "lab AS (SELECT b.vec_id, e.label, b.qe FROM base b " +
      "JOIN embeddings e ON e.vec_id = b.vec_id), " +
      "d AS (SELECT label, vec_id % 2 AS half, " +
      "unnest(range(1, len(qe) + 1)) AS pos, qe FROM lab), " +
      "dv AS (SELECT label, half, pos, qe[pos] AS v FROM d), " +
      "cent AS (SELECT label, half, pos, " +
      "CAST(FLOOR(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS c, " +
      "count(*) AS n FROM dv GROUP BY 1, 2, 3), " +
      "cv AS (SELECT label, half, list(c ORDER BY pos) AS cv, " +
      "max(n) AS n FROM cent GROUP BY 1, 2), " +
      "aa AS (SELECT label, cv AS ca, n AS n_a FROM cv WHERE half = 0), " +
      "bb AS (SELECT label, cv AS cb, n AS n_b FROM cv WHERE half = 1), " +
      "j AS (SELECT aa.label, n_a, n_b, " +
      s"${dotSql("ca", "cb")} AS dot, " +
      s"${dotSql("ca", "ca")} AS na, ${dotSql("cb", "cb")} AS nb " +
      "FROM aa JOIN bb ON aa.label = bb.label) " +
      "SELECT label, CAST(n_a AS BIGINT) AS n_a, " +
      "CAST(n_b AS BIGINT) AS n_b, " +
      "CAST(FLOOR(1000000.0 * dot / (sqrt(na) * sqrt(nb))) AS BIGINT) " +
      "AS drift_cos_ppm FROM j WHERE na > 0 AND nb > 0 ORDER BY label"

  /** [[graft.operators.Similarity.knnFiltered]]: both filter arms
    * re-derived — the pre arm ranks within the label stratum, the
    * post arm keeps GLOBAL ranks and filters after, so the oracle
    * hash pins the rank-gap semantics too. */
  private val simKnnFilteredSql: String =
    s"WITH $quantCte, " +
      "lab AS (SELECT b.vec_id, b.qe, b.n, e.label FROM base b " +
      "JOIN embeddings e ON e.vec_id = b.vec_id), " +
      "qs AS (SELECT vec_id AS query_id, qe AS qq, n AS nq, " +
      "label AS qlabel FROM lab WHERE vec_id < 8), " +
      "sc AS (SELECT qs.query_id, qs.qlabel, l.label, " +
      "l.vec_id AS neighbor_id, " +
      s"${cosPpmSql(dotSql("qs.qq", "l.qe"), "qs.nq", "l.n")} AS cos_ppm " +
      "FROM lab l CROSS JOIN qs WHERE l.vec_id != qs.query_id), " +
      "rg AS (SELECT query_id, qlabel, label, neighbor_id, cos_ppm, " +
      "row_number() OVER (PARTITION BY query_id " +
      "ORDER BY cos_ppm DESC, neighbor_id) AS rnk FROM sc), " +
      "rp AS (SELECT query_id, neighbor_id, cos_ppm, " +
      "row_number() OVER (PARTITION BY query_id " +
      "ORDER BY cos_ppm DESC, neighbor_id) AS rnk FROM sc " +
      "WHERE label = qlabel) " +
      "SELECT * FROM (" +
      "SELECT query_id, 'pre' AS arm, CAST(rnk AS BIGINT) AS rank, " +
      "neighbor_id, cos_ppm FROM rp WHERE rnk <= 5 " +
      "UNION ALL " +
      "SELECT query_id, 'post' AS arm, CAST(rnk AS BIGINT) AS rank, " +
      "neighbor_id, cos_ppm FROM rg WHERE rnk <= 5 AND label = qlabel" +
      ") ORDER BY query_id, arm, rank"

  /** [[graft.operators.Similarity.ivfBalance]] oracle — the same
    * deterministic assignment CTEs as sim_knn_ivf, reduced to
    * per-cell occupancy and the uniform-share balance ppm. */
  private val simIvfBalanceSql: String =
    s"WITH $quantCte, " +
      "cents AS (SELECT vec_id AS cid, qe AS ce, n AS cn FROM base WHERE vec_id < 8), " +
      "dists AS (SELECT b.vec_id, c.cid, " +
      s"(b.n + c.cn - 2 * ${dotSql("b.qe", "c.ce")}) AS dist " +
      "FROM base b CROSS JOIN cents c), " +
      "ranked AS (SELECT vec_id, cid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn " +
      "FROM dists), " +
      "assign AS (SELECT vec_id, cid FROM ranked WHERE rn = 1), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM base) " +
      "SELECT cid, CAST(count(*) AS BIGINT) AS n_vectors, " +
      "(1000000 * count(*) * 8) // total AS balance_ppm " +
      "FROM assign, tot GROUP BY cid, total ORDER BY cid"

  /** [[graft.operators.Similarity.indexPipeline]] oracle — the
    * embed-near-dup loser set, the survivor anti-join, the
    * full-corpus codebook assignment and the manifest reduce all
    * re-derived; an index built over the UNDEDUPED corpus (or a
    * codebook fit on survivors instead of the pinned full-corpus
    * rule) fails the occupancy hash. */
  private def simIndexPipelineSqlFrom(bandsCte: String): String =
    s"WITH $quantCte, $bandsCte, " +
      "prs AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b " +
      "FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket " +
      "AND a.vec_id < b.vec_id), " +
      "lose AS (SELECT DISTINCT p.vec_b AS vec_id FROM prs p " +
      "JOIN base x ON x.vec_id = p.vec_a JOIN base y ON y.vec_id = p.vec_b " +
      s"WHERE ${cosPpmSql(dotSql("x.qe", "y.qe"), "x.n", "y.n")} >= 400000), " +
      "surv AS (SELECT b.* FROM base b LEFT JOIN lose l ON l.vec_id = b.vec_id " +
      "WHERE l.vec_id IS NULL), " +
      "cents AS (SELECT vec_id AS cid, qe AS ce, n AS cn FROM base WHERE vec_id < 8), " +
      "dists AS (SELECT s.vec_id, c.cid, " +
      s"(s.n + c.cn - 2 * ${dotSql("s.qe", "c.ce")}) AS dist " +
      "FROM surv s CROSS JOIN cents c), " +
      "ranked AS (SELECT vec_id, cid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn " +
      "FROM dists), " +
      "assign AS (SELECT vec_id, cid FROM ranked WHERE rn = 1), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM surv) " +
      "SELECT cid, CAST(count(*) AS BIGINT) AS n_vectors, " +
      "CAST(min(vec_id) AS BIGINT) AS min_vec_id, " +
      "CAST(max(vec_id) AS BIGINT) AS max_vec_id, " +
      "(1000000 * count(*) * 8) // total AS balance_ppm " +
      "FROM assign, tot GROUP BY cid, total ORDER BY cid"

  private val simIndexPipelineSql: String =
    simIndexPipelineSqlFrom(signBandsCte(4, 4))

  /** [[graft.operators.Similarity.indexPipelineAuto]]: the same build
    * over the AUTO-width near-dup blocker (signBandsAutoCte) — the
    * composite composes the scale path, matching pipeline_curate's
    * auto-k convention. */
  private val simIndexPipelineAutoSql: String =
    simIndexPipelineSqlFrom(signBandsAutoCte(4))

  /** [[graft.operators.Similarity.knnDescent]] oracle — the graph
    * rebuilt from its own declared SQL, the neighbor-of-neighbor
    * expansion, exact re-scoring and the per-node top-k all
    * re-derived; a candidate set missing the current edges (the
    * monotonicity guarantee) or a stale-score carry-over fails the
    * hash. */
  private val simKnnDescentSql: String =
    s"WITH $quantCte, " +
      "g0 AS (SELECT vec_id, neighbor_id FROM (" + simKnnGraphSql + ")), " +
      "nn AS (SELECT a.vec_id, b.neighbor_id FROM g0 a " +
      "JOIN g0 b ON b.vec_id = a.neighbor_id " +
      "WHERE a.vec_id <> b.neighbor_id), " +
      "cands AS (SELECT DISTINCT vec_id, neighbor_id FROM " +
      "(SELECT vec_id, neighbor_id FROM g0 UNION ALL SELECT * FROM nn)), " +
      "sc AS (SELECT c.vec_id, c.neighbor_id, " +
      s"${cosPpmSql(dotSql("x.qe", "y.qe"), "x.n", "y.n")} AS cos_ppm " +
      "FROM cands c JOIN base x ON x.vec_id = c.vec_id " +
      "JOIN base y ON y.vec_id = c.neighbor_id), " +
      "r AS (SELECT vec_id, neighbor_id, cos_ppm, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY cos_ppm DESC, " +
      "neighbor_id ASC) AS rk FROM sc) " +
      "SELECT vec_id, CAST(rk AS BIGINT) AS \"rank\", neighbor_id, cos_ppm " +
      "FROM r WHERE rk <= 4 ORDER BY vec_id, rk"

  /** [[graft.operators.Similarity.mutualKnn]] oracle — the graph
    * rebuilt from its own declared SQL, mutual edges = the pair
    * appears in BOTH directions' top-k; keeps both ranks so an
    * asymmetric-rank bug is visible in the hash. */
  private val simMutualKnnSql: String =
    "WITH g AS (SELECT vec_id, \"rank\", neighbor_id, cos_ppm FROM (" +
      simKnnGraphSql + ")), " +
      "f AS (SELECT vec_id AS vec_a, neighbor_id AS vec_b, cos_ppm, " +
      "\"rank\" AS rank_ab FROM g WHERE vec_id < neighbor_id), " +
      "rv AS (SELECT neighbor_id AS vec_a, vec_id AS vec_b, " +
      "\"rank\" AS rank_ba FROM g WHERE neighbor_id < vec_id) " +
      "SELECT f.vec_a, f.vec_b, f.cos_ppm, " +
      "CAST(f.rank_ab AS BIGINT) AS rank_ab, " +
      "CAST(rv.rank_ba AS BIGINT) AS rank_ba " +
      "FROM f JOIN rv ON rv.vec_a = f.vec_a AND rv.vec_b = f.vec_b " +
      "ORDER BY 1, 2"

  /** [[RelQueries.mergeUpsert]]: one FULL OUTER JOIN on the merge
    * key, every arm resolved in a CASE — the same single-pass shape
    * the Spark side plans. */
  private val relMergeUpsertSql: String = {
    val pc = centsSql("o_totalprice")
    "WITH base AS (SELECT o_orderkey AS key, " +
      s"$pc AS price_c, o_orderstatus AS status " +
      "FROM orders WHERE o_orderkey % 5 <> 4), " +
      "batch AS (SELECT o_orderkey AS key, " +
      "CASE WHEN o_orderkey % 12 = 2 THEN 'D' ELSE 'U' END AS op, " +
      s"$pc + (CASE WHEN o_orderkey % 6 = 0 THEN 1000 ELSE 0 END) AS new_price_c, " +
      "o_orderstatus AS new_status FROM orders WHERE o_orderkey % 2 = 0) " +
      "SELECT COALESCE(b.key, t.key) AS key, " +
      "CASE WHEN t.op IS NULL THEN 'keep' " +
      "WHEN b.price_c IS NULL AND t.op = 'D' THEN 'skip_absent' " +
      "WHEN b.price_c IS NULL THEN 'insert' " +
      "WHEN t.op = 'D' THEN 'delete' " +
      "WHEN t.new_price_c = b.price_c AND t.new_status = b.status THEN 'noop' " +
      "ELSE 'update' END AS action, " +
      "CASE WHEN t.op IS NULL OR t.op = 'D' " +
      "THEN COALESCE(b.price_c, t.new_price_c) ELSE t.new_price_c END AS price_c, " +
      "CASE WHEN t.op IS NULL OR t.op = 'D' " +
      "THEN COALESCE(b.status, t.new_status) ELSE t.new_status END AS status " +
      "FROM base b FULL OUTER JOIN batch t ON b.key = t.key ORDER BY key"
  }

  // -- r10: code curation + training-run assembly -------------------

  /** Byte-exact SQL re-rendering of [[graft.operators.CodeCuration
    * .renderCode]] — same salted identifiers (h31(doc_id:i) % 997),
    * same statement layout, same header/return lines. Ends in
    * `code(doc_id, code)`. The render-parity check: tx_code_meta
    * computes its metadata over THIS string with DuckDB's regex
    * engine and must hash-match Spark computing over its own
    * rendering. */
  private val codeRenderCte: String =
    "ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "ids AS (SELECT doc_id, w, list_transform(range(1, len(w) + 1), i -> " +
      s"${PH.h31Sql("CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")} % 997) AS vid FROM ws), " +
      "code AS (SELECT doc_id, 'def f_' || doc_id || '():' || chr(10) || " +
      "array_to_string(list_transform(range(1, len(w) + 1), i -> " +
      "'  _v' || vid[i] || ' = lib.' || w[i] || '(' || " +
      "(CASE WHEN i = 1 THEN 'seed' ELSE '_v' || vid[i - 1] END) || " +
      "')  # s' || CAST(i - 1 AS VARCHAR)), chr(10)) || " +
      "chr(10) || '  return _v' || vid[len(w)] AS code FROM ids)"

  private val txCodeMetaSql: String =
    s"WITH $codeRenderCte " +
      "SELECT doc_id, " +
      "CAST(len(string_split(code, chr(10))) AS BIGINT) AS n_lines, " +
      "CAST(length(code) AS BIGINT) AS n_chars, " +
      "CAST(list_aggregate(list_transform(string_split(code, chr(10)), " +
      "l -> length(l)), 'max') AS BIGINT) AS max_line_len, " +
      "CAST(len(regexp_extract_all(code, '_v[0-9]+')) AS BIGINT) AS n_ident_refs, " +
      "CAST(len(list_distinct(regexp_extract_all(code, '_v[0-9]+'))) AS BIGINT) " +
      "AS n_distinct_idents, " +
      "CAST(len(regexp_extract_all(code, '# s[0-9]+')) AS BIGINT) AS n_comments " +
      "FROM code ORDER BY doc_id"

  /** [[graft.operators.Dedup.codeNearDup]] oracle — the IDEAL
    * identifier-free result computed straight from the word stream
    * (normalize(render(w, i)) is a function of w alone plus the
    * position-0 seed marker), the mm_phash_oriented "upright
    * formula" pattern: a wrong normalization regex or comment-strip
    * order on the Spark side fails the hash. */
  private val ddCodeNearDupSql: String =
    "WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "st AS (SELECT doc_id, list_transform(range(1, len(w) + 1), i -> " +
      "'  V = lib.' || w[i] || '(' || (CASE WHEN i = 1 THEN 'seed' ELSE 'V' END) " +
      "|| ')') AS s FROM ws), " +
      "sh0 AS (SELECT doc_id, unnest(list_distinct(list_filter(list_transform(" +
      "range(1, greatest(len(s) - 3, 1) + 1), i -> " +
      "md5(s[i] || ' | ' || s[i+1] || ' | ' || s[i+2] || ' | ' || s[i+3])), " +
      "g -> g IS NOT NULL))) AS sh FROM st), " +
      "dfok AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 50), " +
      "sh AS (SELECT s.doc_id, s.sh FROM sh0 s JOIN dfok USING (sh)), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter " +
      "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "j AS (SELECT doc_a, doc_b, n_inter, na.n + nb.n - n_inter AS n_union, " +
      "CAST(FLOOR(1000000.0 * n_inter / (na.n + nb.n - n_inter)) AS BIGINT) AS jaccard_ppm " +
      "FROM inter JOIN sizes na ON na.doc_id = doc_a JOIN sizes nb ON nb.doc_id = doc_b) " +
      "SELECT * FROM j WHERE jaccard_ppm >= 500000 ORDER BY doc_a, doc_b"

  private val txSftRenderSql: String =
    "WITH r AS (SELECT o_orderkey AS example_id, " +
      "'Instruction: summarize order ' || o_orderkey || ' placed by ' || c_name " +
      "|| ' on day ' || (epoch_ns(o_orderdate) // 86400000000000) || '.' AS prompt, " +
      "'Response: status ' || o_orderstatus || ', priority ' || o_orderpriority " +
      "|| ', total ' || CAST(FLOOR(o_totalprice) AS BIGINT) || ' dollars.' AS completion " +
      "FROM orders JOIN customer ON o_custkey = c_custkey), " +
      "t AS (SELECT example_id, prompt, completion, " +
      "CAST(len(string_split(prompt, ' ')) AS BIGINT) AS prompt_tokens, " +
      "CAST(len(string_split(completion, ' ')) AS BIGINT) AS completion_tokens FROM r) " +
      "SELECT example_id, prompt, completion, prompt_tokens, completion_tokens, " +
      "prompt_tokens + completion_tokens AS total_tokens, " +
      "prompt_tokens AS loss_start, " +
      "CAST((prompt_tokens + completion_tokens) <= 18 AS BIGINT) AS ctx_ok " +
      "FROM t ORDER BY example_id"

  private val txMixPlanSql: String =
    "WITH inv AS (SELECT lang, source, CAST(SUM(len(string_split(text, ' '))) " +
      "AS BIGINT) AS tokens FROM documents GROUP BY 1, 2), " +
      "wt AS (SELECT lang, source, tokens, " +
      "CAST(FLOOR(SQRT(CAST(tokens AS DOUBLE))) AS BIGINT) AS weight FROM inv), " +
      "tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS w_sum FROM wt), " +
      "p AS (SELECT lang, source, tokens, weight, " +
      "(1000000 * weight) // w_sum AS target_ppm FROM wt, tot), " +
      "q AS (SELECT *, (target_ppm * 10000000) // 1000000 AS requested_tokens FROM p) " +
      "SELECT lang, source, tokens, weight, target_ppm, requested_tokens, " +
      "(100 * requested_tokens + tokens - 1) // tokens AS epochs_x100, " +
      "CAST(((100 * requested_tokens + tokens - 1) // tokens) > 100 AS BIGINT) " +
      "AS oversampled FROM q ORDER BY lang, source"

  private val txShardPlanSql: String =
    s"WITH d AS (SELECT ${PH.h31Sql("'shard:' || CAST(doc_id AS VARCHAR)")} % 16 " +
      "AS shard_id, len(string_split(text, ' ')) AS t, length(text) AS c " +
      "FROM documents), " +
      "g AS (SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(t) AS BIGINT) AS n_tokens, CAST(SUM(c) AS BIGINT) AS n_chars " +
      "FROM d GROUP BY 1), " +
      "tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM g) " +
      "SELECT CAST(shard_id AS BIGINT) AS shard_id, n_docs, n_tokens, n_chars, " +
      "(1000000 * n_tokens * 16) // tot AS balance_ppm FROM g, tot ORDER BY shard_id"

  /** [[graft.operators.Assembly.dpoRender]] oracle — the preference
    * pair is re-derived from scratch (window rank → pair collapse →
    * render), so a wrong rank order, a dropped <2-order customer, or
    * a swapped chosen/rejected arm on the Spark side fails the hash.
    * All rendered numbers are integers (floor dollars), so the
    * strings are byte-identical across engines. */
  private val txDpoRenderSql: String =
    "WITH rk AS (SELECT o_custkey, o_orderkey, o_orderpriority, " +
      "CAST(FLOOR(o_totalprice) AS BIGINT) AS tot, " +
      "row_number() OVER (PARTITION BY o_custkey " +
      "ORDER BY o_orderpriority ASC, o_orderkey ASC) AS rn FROM orders), " +
      "p AS (SELECT o_custkey, " +
      "max(CASE WHEN rn = 1 THEN o_orderkey END) AS ch_okey, " +
      "max(CASE WHEN rn = 1 THEN o_orderpriority END) AS ch_prio, " +
      "max(CASE WHEN rn = 1 THEN tot END) AS ch_total, " +
      "max(CASE WHEN rn = 2 THEN o_orderkey END) AS rj_okey, " +
      "max(CASE WHEN rn = 2 THEN o_orderpriority END) AS rj_prio, " +
      "max(CASE WHEN rn = 2 THEN tot END) AS rj_total " +
      "FROM rk WHERE rn <= 2 GROUP BY 1 HAVING count(*) = 2), " +
      "r AS (SELECT o_custkey AS pair_id, " +
      "'Instruction: pick the most urgent order for ' || c_name || '.' AS prompt, " +
      "'Response: order ' || ch_okey || ' priority ' || ch_prio || " +
      "', total ' || ch_total || ' dollars.' AS chosen, " +
      "'Response: order ' || rj_okey || ' priority ' || rj_prio || " +
      "', total ' || rj_total || ' dollars.' AS rejected, " +
      "ch_total - rj_total AS margin_dollars " +
      "FROM p JOIN customer ON o_custkey = c_custkey) " +
      "SELECT pair_id, prompt, chosen, rejected, margin_dollars, " +
      "CAST(len(string_split(chosen, ' ')) AS BIGINT) AS chosen_tokens, " +
      "CAST(len(string_split(rejected, ' ')) AS BIGINT) AS rejected_tokens " +
      "FROM r ORDER BY pair_id"

  /** [[graft.operators.Assembly.epochOrder]] oracle — rebuilds both
    * epochs' salted order keys and the per-(epoch, shard) positions
    * independently; a Spark-side global (single-partition) sort
    * would still hash-match, but a wrong salt, wrong shard mod, or a
    * position keyed on anything but (epoch, shard) fails. */
  private val txEpochOrderSql: String =
    s"WITH k AS (SELECT e.epoch, d.doc_id, " +
      s"${PH.h31Sql("'eorder:' || CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")} AS okey " +
      "FROM documents d CROSS JOIN (SELECT unnest(range(0, 2)) AS epoch) e), " +
      "s AS (SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, okey, " +
      "CAST(okey % 8 AS BIGINT) AS shard_id FROM k) " +
      "SELECT epoch, shard_id, " +
      "CAST(row_number() OVER (PARTITION BY epoch, shard_id " +
      "ORDER BY okey, doc_id) AS BIGINT) AS shard_pos, doc_id, okey " +
      "FROM s ORDER BY epoch, shard_id, shard_pos"

  /** [[graft.operators.Similarity.knnSq8]] oracle — re-derives the
    * per-vector affine int8 code AND its dequantization from the
    * shared fixed-point column, then ranks by asymmetric cosine
    * (full-precision query x reconstructed corpus). The round-trip
    * is exact integer math (all numerators non-negative, so DuckDB
    * floor-div == Spark trunc-div), so a wrong code scale, a
    * symmetric-distance shortcut, or a skipped degenerate
    * (mx == mn) branch on the Spark side fails the hash. */
  private val simKnnSq8Sql: String =
    s"WITH $quantCte, " +
      "coded AS (SELECT vec_id, qe, list_aggregate(qe, 'min') AS mn, " +
      "list_aggregate(qe, 'max') AS mx FROM base), " +
      "rec0 AS (SELECT vec_id, CASE WHEN mx > mn THEN " +
      "list_transform(qe, x -> mn + ((((x - mn) * 255) // (mx - mn)) * (mx - mn)) // 255) " +
      "ELSE qe END AS recon FROM coded), " +
      "rec AS (SELECT vec_id, recon, " +
      s"${dotSql("recon", "recon")} AS rn2 FROM rec0 " +
      s"WHERE ${dotSql("recon", "recon")} > 0), " +
      "scored AS (SELECT qs.vec_id AS query_id, r.vec_id AS neighbor_id, " +
      s"${cosPpmSql(dotSql("qs.qe", "r.recon"), "qs.n", "r.rn2")} AS cos_ppm " +
      "FROM base qs JOIN rec r ON r.vec_id <> qs.vec_id WHERE qs.vec_id < 8), " +
      "rr AS (SELECT query_id, neighbor_id, cos_ppm, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, " +
      "neighbor_id ASC) AS rk FROM scored) " +
      "SELECT query_id, CAST(rk AS BIGINT) AS \"rank\", neighbor_id, cos_ppm " +
      "FROM rr WHERE rk <= 5 ORDER BY query_id, rk"

  /** [[graft.operators.Assembly.curriculumOrder]] oracle — the
    * epoch-order chain with the within-shard order re-derived from
    * the quality composite (its own declared SQL as a subquery); a
    * salt-ordered (non-curriculum) or unsalted-shard implementation
    * fails the hash. */
  private lazy val txCurriculumOrderSql: String =
    "WITH q AS (SELECT doc_id, quality_ppm FROM (" + txQualitySql + ")), " +
      "k AS (SELECT e.epoch, q.doc_id, q.quality_ppm, " +
      s"${PH.h31Sql("'eorder:' || CAST(e.epoch AS VARCHAR) || ':' || CAST(q.doc_id AS VARCHAR)")} AS okey " +
      "FROM q CROSS JOIN (SELECT unnest(range(0, 2)) AS epoch) e), " +
      "s AS (SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, quality_ppm, " +
      "okey, CAST(okey % 8 AS BIGINT) AS shard_id FROM k) " +
      "SELECT epoch, shard_id, " +
      "CAST(row_number() OVER (PARTITION BY epoch, shard_id " +
      "ORDER BY quality_ppm DESC, okey, doc_id) AS BIGINT) AS shard_pos, " +
      "doc_id, quality_ppm " +
      "FROM s ORDER BY epoch, shard_id, shard_pos"

  /** [[graft.operators.Similarity.knnIvfSq8]] oracle — the IVF cell
    * chain (assignment + 2-probe rule, the sim_knn_ivf CTEs) composed
    * with the SQ8 reconstruction: candidates score against the
    * DEQUANTIZED cell code while the query stays full precision. A
    * wrong probe rule, a symmetric shortcut, or a reconstruction
    * applied to the query side fails the hash. */
  private val simKnnIvfSq8Sql: String =
    s"WITH $quantCte, " +
      "cents AS (SELECT vec_id AS cid, qe AS ce, n AS cn FROM base WHERE vec_id < 8), " +
      "dists AS (SELECT b.vec_id, c.cid, b.qe, b.n, " +
      s"(b.n + c.cn - 2 * ${dotSql("b.qe", "c.ce")}) AS dist " +
      "FROM base b CROSS JOIN cents c), " +
      "ranked AS (SELECT vec_id, cid, qe, n, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn " +
      "FROM dists), " +
      "assign0 AS (SELECT vec_id, qe, cid, " +
      "list_aggregate(qe, 'min') AS mn, list_aggregate(qe, 'max') AS mx " +
      "FROM ranked WHERE rn = 1), " +
      "assign1 AS (SELECT vec_id, cid, CASE WHEN mx > mn THEN " +
      "list_transform(qe, x -> mn + ((((x - mn) * 255) // (mx - mn)) * (mx - mn)) // 255) " +
      "ELSE qe END AS recon FROM assign0), " +
      "assign AS (SELECT vec_id, cid, recon, " +
      s"${dotSql("recon", "recon")} AS rn2 FROM assign1 " +
      s"WHERE ${dotSql("recon", "recon")} > 0), " +
      "probes AS (SELECT vec_id AS query_id, cid FROM ranked " +
      "WHERE rn <= 2 AND vec_id < 8), " +
      "scored AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
      s"${cosPpmSql(dotSql("qs.qe", "a.recon"), "qs.n", "a.rn2")} AS cos_ppm " +
      "FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id " +
      "JOIN base qs ON qs.vec_id = p.query_id), " +
      "r AS (SELECT query_id, neighbor_id, cos_ppm, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, " +
      "neighbor_id ASC) AS rk FROM scored) " +
      "SELECT query_id, CAST(rk AS BIGINT) AS \"rank\", neighbor_id, cos_ppm " +
      "FROM r WHERE rk <= 5 ORDER BY query_id, rk"

  /** [[graft.operators.Similarity.recallLadder]] oracle — every rung
    * rebuilt from its OWN declared oracle SQL as a subquery (the
    * subqueries carry their own WITH chains, scoped per SQL
    * standard), so the ladder can never drift from the per-rung
    * oracles; reduced to per-method counts + recall ppm. Lazy: the
    * rung vals are declared across this object and an eager val
    * would race initialization order. */
  /** Rewrites an ANN-arm oracle's base-table references onto another
    * relation (the post-dedup survivor CTE) — GUARDED, not a blind
    * replace (r12, review finding): every arm must reference the base
    * table only via the literal `FROM embeddings` token (once through
    * quantCte or bitsig's `s`; the lsh arm also once per band select)
    * and never as any other spelling. A future arm edit that spells
    * the reference differently (zero matches) or mentions the table
    * outside the token now fails HERE at oracle-dump time instead of
    * silently producing a wrong dedup arm. */
  private def armFrom(sql: String, table: String): String = {
    val token = "FROM embeddings"
    require(sql.contains(token),
      s"ANN arm oracle has no rewritable '$token' base-table reference")
    require(!sql.replace(token, "").contains("embeddings"),
      "ANN arm oracle references 'embeddings' outside the rewritable token")
    sql.replace(token, s"FROM $table")
  }

  /** [[graft.operators.Similarity.recallLadder]] parameterized on the
    * corpus relation, so the post-dedup twin composes structurally
    * instead of via post-hoc string surgery. */
  private def simRecallLadderSqlFrom(table: String): String =
    "WITH b AS (SELECT query_id, neighbor_id FROM (" + armFrom(simKnnBruteSql, table) + ")), " +
      "u AS (" +
      "SELECT 'bitsig' AS method, query_id, neighbor_id FROM (" + armFrom(simKnnBitsigSql, table) + ") " +
      "UNION ALL SELECT 'ivf', query_id, neighbor_id FROM (" + armFrom(simKnnIvfSql, table) + ") " +
      "UNION ALL SELECT 'ivfpq', query_id, neighbor_id FROM (" + armFrom(simKnnIvfPqSql, table) + ") " +
      "UNION ALL SELECT 'ivfsq', query_id, neighbor_id FROM (" + armFrom(simKnnIvfSq8Sql, table) + ") " +
      "UNION ALL SELECT 'lsh', query_id, neighbor_id FROM (" + armFrom(simKnnLshSql, table) + ") " +
      "UNION ALL SELECT 'sq8', query_id, neighbor_id FROM (" + armFrom(simKnnSq8Sql, table) + ")), " +
      "r AS (SELECT method, count(*) AS n_returned FROM u GROUP BY 1), " +
      "h AS (SELECT method, count(*) AS n_hits FROM u " +
      "JOIN b USING (query_id, neighbor_id) GROUP BY 1), " +
      "t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM b) " +
      "SELECT r.method, CAST(r.n_returned AS BIGINT) AS n_returned, " +
      "CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits, t.n_truth, " +
      "(1000000 * CAST(COALESCE(h.n_hits, 0) AS BIGINT)) // t.n_truth " +
      "AS recall_ppm " +
      "FROM r LEFT JOIN h USING (method), t ORDER BY method"

  /** Lazy: the rung vals are declared across this object and an eager
    * val would race initialization order. */
  private lazy val simRecallLadderSql: String =
    simRecallLadderSqlFrom("embeddings")

  /** [[graft.operators.Similarity.recallLadderPostDedup]]: the full
    * ladder restated twice — once over the raw table, once built over
    * the near-dup survivor CTE via the PARAMETERIZED ladder builder
    * ([[simRecallLadderSqlFrom]] — each arm's base-table reference is
    * anchored and verified, see [[armFrom]]); the survivor set is
    * dd_embed_neardup's loser anti-join. */
  private lazy val simRecallPostdedupSql: String =
    "WITH losers AS (SELECT DISTINCT vec_b AS vec_id FROM (" +
      ddEmbedNearDupSql + ")), " +
      "surv AS (SELECT e.* FROM embeddings e " +
      "WHERE e.vec_id NOT IN (SELECT vec_id FROM losers)), " +
      "rawl AS (SELECT * FROM (" + simRecallLadderSql + ")), " +
      "dedl AS (SELECT * FROM (" + simRecallLadderSqlFrom("surv") + ")) " +
      "SELECT 'raw' AS corpus, method, n_returned, n_hits, n_truth, " +
      "recall_ppm FROM rawl " +
      "UNION ALL SELECT 'dedup', method, n_returned, n_hits, n_truth, " +
      "recall_ppm FROM dedl ORDER BY corpus, method"

  // ---------------------------------------------------------------
  // registry
  // ---------------------------------------------------------------

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_exact" -> ((s, d) => Dedup.exact(Tables.documents(s, d))),
    "dd_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(Tables.documents(s, d))),
    // r12: the banding derived from the corpus count (integer-
    // threshold LSH parameter rule) — the deployed blocker shape
    "dd_minhash_auto" -> ((s, d) =>
      Dedup.minhashLshAuto(Tables.documents(s, d))),
    // r12: incremental store maintenance whose oracle is the
    // from-scratch pair table — the hash proves the merge exact
    "dd_lsh_upsert" -> ((s, d) =>
      Dedup.minhashLshUpsert(Tables.documents(s, d))),
    // r12: banding migration via half-band refinement; oracle is the
    // from-scratch table at the migrated arm (exactness by hash)
    "dd_minhash_reband" -> ((s, d) =>
      Dedup.minhashReband(Tables.documents(s, d))),
    // LSH eval harness: recall/precision of banding vs exact truth
    "dd_lsh_recall" -> ((s, d) =>
      Dedup.lshRecallReport(Tables.documents(s, d))),
    // compressed brute force: 64-bit sign signature, xor+popcount rank
    "sim_knn_bitsig" -> ((s, d) =>
      Similarity.knnBitsig(Tables.embeddings(s, d))),
    // one-permutation-hashing signature family: 1 hash/shingle vs 16
    "dd_oph" -> ((s, d) => Dedup.ophLsh(Tables.documents(s, d))),
    "dd_simhash" -> ((s, d) => Dedup.simhash(Tables.documents(s, d))),
    "dd_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(Tables.documents(s, d))),
    "dd_simhash_pairs_wide" -> ((s, d) =>
      Dedup.simhashPairsWide(Tables.documents(s, d))),
    "dd_clusters" -> ((s, d) => Dedup.nearDupClusters(Tables.documents(s, d))),
    // cluster-size histogram + keep-one dedup yield
    "dd_cluster_stats" -> ((s, d) =>
      Dedup.clusterStats(Tables.documents(s, d))),
    // r7: quality-argmax canonical selection per near-dup cluster
    "dd_canonical_quality" -> ((s, d) =>
      Dedup.canonicalByQuality(Tables.documents(s, d))),
    "dd_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(Tables.documents(s, d))),
    "dd_ngram_jaccard_capped" -> ((s, d) =>
      Dedup.ngramJaccardCapped(Tables.documents(s, d))),
    "dd_containment" -> ((s, d) => Dedup.containment(Tables.documents(s, d))),
    "dd_containment_capped" -> ((s, d) =>
      Dedup.containmentCapped(Tables.documents(s, d))),
    "dd_lsh_recall_sampled" -> ((s, d) =>
      Dedup.lshRecallSampled(Tables.documents(s, d))),
    "dd_blocker_recall" -> ((s, d) =>
      Dedup.blockerRecallReport(Tables.documents(s, d))),
    // r9: vector-side blocker eval — sign-LSH vs IVF-cell candidates
    // against exact sampled quantized-cosine truth
    "dd_embed_blocker_recall" -> ((s, d) =>
      Dedup.embedBlockerRecall(Tables.embeddings(s, d))),
    // r9: the streaming ANN operator run in batch mode (pure
    // transforms) — per-query top-k over sign-LSH bucket candidates,
    // merged/scored/ranked entirely row-locally; queries are corpus
    // rows here so each query's top-1 is itself at cos 1e6
    // r9: visual video near-dup — sampled-frame signature sets,
    // exact Jaccard via the shared pair builder
    "dd_video_neardup" -> ((s, d) =>
      Dedup.videoNearDup(
        Multimodal.videoFrameSigs(Tables.documents(s, d))(s))),
    // r9 continuation: third near-dup modality — decoded-PCM window
    // signatures, same jaccardPairsFrom verify as image/video
    "dd_audio_neardup" -> ((s, d) =>
      Dedup.audioNearDup(
        Multimodal.audioWindowSigs(Tables.documents(s, d))(s))),
    // r10: all-pairs k-NN graph over sign-LSH candidates — the
    // SemDeDup / label-propagation / NN-descent building block
    "sim_knn_graph" -> ((s, d) =>
      Similarity.knnGraph(Tables.embeddings(s, d))),
    // widened banding (4x8, 256 buckets/band): the scale twin — band
    // width grows with the corpus, occupancy and candidate volume
    // stay bounded (the dd_simhash_pairs_wide lesson, vector side)
    "sim_knn_graph_wide" -> ((s, d) =>
      Similarity.knnGraph(Tables.embeddings(s, d), bitsPerBand = 8)),
    // r11: the banding rule mechanized — band width derived from the
    // corpus count (occupancy target 128), no hand-tuned constant
    "sim_knn_graph_auto" -> ((s, d) =>
      Similarity.knnGraphAuto(Tables.embeddings(s, d))),
    // r11: the same auto width threaded through the near-dup blocker
    "dd_embed_neardup_auto" -> ((s, d) =>
      Dedup.embeddingNearDupAuto(Tables.embeddings(s, d))),
    // r10: MERGE INTO apply with per-key action audit (CDC upsert)
    "rel_merge_upsert" -> (RelQueries.mergeUpsert _),
    // r10: dedup-policy yield comparison — what each removal policy
    // buys (docs/tokens removed), the other axis of blocker_recall
    "dd_yield_report" -> ((s, d) =>
      Dedup.yieldReport(Tables.documents(s, d))),
    // r10: code-corpus structural dedup — identifier-normalized
    // statement grams over the deterministic code rendering; raw
    // bytes never match across docs (doc-salted identifiers), only
    // the normalization pass recovers the similarity
    "dd_code_neardup" -> ((s, d) =>
      Dedup.codeNearDup(CodeCuration.codeGramTable(Tables.documents(s, d)))),
    // r10: file-level code metadata over the ACTUAL rendered string;
    // oracle re-renders byte-for-byte in SQL (render-parity check)
    "tx_code_meta" -> ((s, d) =>
      CodeCuration.codeMeta(Tables.documents(s, d))),
    // r10 assembly family: SFT example rendering with loss-span
    // token accounting, mixture planning, shard layout planning
    "tx_sft_render" -> ((s, d) =>
      Assembly.sftRender(Tables.orders(s, d), Tables.customer(s, d))),
    "tx_mix_plan" -> ((s, d) =>
      Assembly.mixPlan(Tables.documents(s, d))),
    "tx_shard_plan" -> ((s, d) =>
      Assembly.shardPlan(Tables.documents(s, d))),
    // r10 assembly continuation: preference-pair (DPO) rendering and
    // the deterministic per-epoch shard/position training order
    "tx_dpo_render" -> ((s, d) =>
      Assembly.dpoRender(Tables.orders(s, d), Tables.customer(s, d))),
    "tx_epoch_order" -> ((s, d) =>
      Assembly.epochOrder(Tables.documents(s, d))),
    // r10: curriculum order — same shard layout, within-shard read
    // order driven by quality (easy->hard), replay still exact
    "tx_curriculum_order" -> ((s, d) =>
      Assembly.curriculumOrder(Tables.documents(s, d))),
    // r10: scalar-quantized (SQ8) exhaustive kNN — the 4x-compressed,
    // training-free rung between bitsig (1 bit/dim) and IVF-PQ
    "sim_knn_sq8" -> ((s, d) =>
      Similarity.knnSq8(Tables.embeddings(s, d))),
    // r10: IVF + SQ8 cells — FAISS IndexIVFScalarQuantizer shape:
    // cell pruning x 4x-smaller cell reads, multiplicative savings
    "sim_knn_ivfsq" -> ((s, d) =>
      Similarity.knnIvfSq8(Tables.embeddings(s, d))),
    // r10: dedup threshold-sensitivity curve — yield vs cut point,
    // the OTHER tuning axis next to dd_yield_report's policy axis
    "dd_threshold_curve" -> ((s, d) =>
      Dedup.thresholdCurve(Tables.documents(s, d))),
    // r10: ANN recall ladder — every approximate rung vs exact truth
    // on one page, the retrieval twin of dd_blocker_recall
    "sim_recall_ladder" -> ((s, d) =>
      Similarity.recallLadder(Tables.embeddings(s, d))),
    // r11: the ladder on raw vs near-dup-survivor corpora — the
    // "measure recall AFTER dedup" lesson as a declared query
    "sim_recall_postdedup" -> ((s, d) =>
      Similarity.recallLadderPostDedup(Tables.embeddings(s, d))),
    // r10: mutual-kNN filter — the graph-denoising step before
    // clustering (hub edges without reciprocity dissolve)
    "sim_mutual_knn" -> ((s, d) =>
      Similarity.mutualKnn(Tables.embeddings(s, d))),
    // r10: one NN-descent round — neighbors-of-neighbors re-rank,
    // the convergence step that closes banding recall gaps
    "sim_knn_descent" -> ((s, d) =>
      Similarity.knnDescent(Tables.embeddings(s, d))),
    // r10: containment verify behind a bottom-k sketch blocker — the
    // scale path the containment anchor's Scaladoc promises, declared
    "dd_containment_blocked" -> ((s, d) =>
      Dedup.containmentBlocked(Tables.documents(s, d))),
    // r10: signature-estimator calibration — minhash16 vs oph16 error
    // against exact Jaccard on their own candidate pairs
    "dd_minhash_calibration" -> ((s, d) =>
      Dedup.minhashCalibration(Tables.documents(s, d))),
    // r10: IVF index-health report — per-cell occupancy balance
    "sim_ivf_balance" -> ((s, d) =>
      Similarity.ivfBalance(Tables.embeddings(s, d))),
    // r10: vector-store build composite — dedup survivors -> IVF
    // assignment -> per-cell manifest (pipeline_curate, vector side)
    "pipeline_index" -> ((s, d) =>
      Similarity.indexPipeline(Tables.embeddings(s, d))),
    // r11: the same build over the auto-width blocker — the
    // composite composes the scale path
    "pipeline_index_auto" -> ((s, d) =>
      Similarity.indexPipelineAuto(Tables.embeddings(s, d))),
    // r9 continuation: short-text dedup — df-capped char-gram
    // blocking + exact Levenshtein verify
    "dd_edit_verified" -> ((s, d) =>
      Dedup.editVerified(Tables.documents(s, d))),
    "sim_knn_stream" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.where(F.col("vec_id") < 8)
        .select(F.expr("timestamp '2000-01-01 00:00:00'").as("ts"),
          F.col("vec_id"), F.col("embedding"))
      graft.streaming.StreamKnn.knnStream(qs, e)
        .drop("ts").orderBy("query_id", "rank")
    }),
    "dd_lsh_verified" -> ((s, d) => Dedup.lshVerified(Tables.documents(s, d))),
    "dd_embed_neardup" -> ((s, d) => Dedup.embeddingNearDup(Tables.embeddings(s, d))),
    "dd_embed_incremental" -> ((s, d) =>
      Dedup.embeddingIncremental(Tables.embeddings(s, d))),
    "rel_cube" -> (RelQueries.pricingCube _),
    "rel_reachability" -> (graft.operators.Graph.reachability _),
    "rel_pagerank" -> (graft.operators.Graph.pagerank _),
    "rel_set_ops" -> (RelQueries.setOps _),
    "rel_pivot" -> (RelQueries.hourlyPivot _),
    "rel_expectations" -> ((s, d) =>
      graft.operators.Profile.expectations(Tables.lineitem(s, d),
        expectationChecks.map { case (n, bad) => (n, F.expr(bad)) })),
    "dd_kmeans" -> ((s, d) => Cluster.kmeansAssign(Tables.embeddings(s, d))),
    // r13: cluster-balanced sampling — stratified "n per cell" over
    // the LEARNED k-means cells (semantic-diversity selection)
    "sim_cluster_sample" -> ((s, d) =>
      Cluster.clusterSample(Tables.embeddings(s, d))),
    "dd_outliers" -> ((s, d) => Cluster.kmeansOutliers(Tables.embeddings(s, d))),
    "dd_paragraph" -> ((s, d) => Dedup.paragraphDedup(Tables.documents(s, d))),
    "tx_sample_temp" -> ((s, d) =>
      TextAnalysis.sampleTemperature(Tables.documents(s, d))),
    "tx_fertility" -> ((s, d) => Bpe.fertility(Tables.documents(s, d))),
    "tx_url_extract" -> ((s, d) =>
      TextAnalysis.urlParts(derivedUrls(s, d), "url")
        .select("doc_id", "host", "port", "domain", "path", "norm_url")
        .orderBy("doc_id")),
    "pipeline_curate_web" -> ((s, d) =>
      CuratePipeline.curateWeb(s, Tables.documents(s, d), derivedUrls(s, d))),
    "rel_domain_quality" -> ((s, d) =>
      CuratePipeline.domainQuality(s, Tables.documents(s, d), derivedUrls(s, d))),
    "dd_semdedup" -> ((s, d) => Cluster.semDedup(Tables.embeddings(s, d))),
    "dd_semdedup_auto" -> ((s, d) =>
      Cluster.semDedupAuto(Tables.embeddings(s, d))),
    "sim_knn_brute" -> ((s, d) => Similarity.knnBrute(Tables.embeddings(s, d))),
    "sim_knn_lsh" -> ((s, d) => Similarity.knnLshBucketed(Tables.embeddings(s, d))),
    "sim_knn_ivf" -> ((s, d) => Similarity.knnIvf(Tables.embeddings(s, d))),
    // r9 continuation: MIPS — retrieval by raw inner product (norms
    // carry signal), brute exact + the inverted-file scale path
    "sim_mips" -> ((s, d) => Similarity.mipsBrute(Tables.embeddings(s, d))),
    "sim_mips_ivf" -> ((s, d) => Similarity.mipsIvf(Tables.embeddings(s, d))),
    "sim_knn_ivfpq" -> ((s, d) => Similarity.knnIvfPq(Tables.embeddings(s, d))),
    "sim_knn_ivfpq_rerank" -> ((s, d) =>
      Similarity.knnIvfPqRerank(Tables.embeddings(s, d))),
    // Lloyd-trained PQ codebooks: centroids are no longer corpus rows,
    // so no SQL oracle can pin them -> rows-only check (x_ prefix);
    // recall against brute force: BASELINE.md "ANN recall evidence"
    "x_knn_pq_trained" -> ((s, d) =>
      Similarity.knnIvfPqTrained(Tables.embeddings(s, d))),
    "tx_tokens" -> ((s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d))),
    "tx_quality" -> ((s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))),
    // r9: TRAINED quality probe — exact least-squares linear
    // probability model (normal equations + BigInt Cramer, fixed-point
    // ppm weights) with its confusion-matrix eval
    "tx_quality_lpm" -> ((s, d) =>
      TextAnalysis.qualityLpm(Tables.documents(s, d))),
    "tx_quality_lpm_eval" -> ((s, d) =>
      TextAnalysis.qualityLpmEval(Tables.documents(s, d))),
    "tx_langid" -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),
    // langid eval harness: confusion matrix vs the stored label
    "tx_langid_confusion" -> ((s, d) =>
      TextAnalysis.langIdConfusion(Tables.documents(s, d))),
    "tx_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    "tx_split" -> ((s, d) => TextAnalysis.datasetSplit(Tables.documents(s, d))),
    "tx_pack" -> ((s, d) => TextAnalysis.tokenPack(Tables.documents(s, d))),
    // r11: FFD whole-doc packing vs the split-stream lower bound —
    // what preserving doc boundaries costs in shards and padding
    "tx_pack_bestfit" -> ((s, d) =>
      Assembly.packBestFit(Tables.documents(s, d))),
    "tx_pack_bylang" -> ((s, d) =>
      TextAnalysis.tokenPackBy(Tables.documents(s, d), "lang")),
    "tx_repetition" -> ((s, d) =>
      TextAnalysis.repetition(Tables.documents(s, d))),
    "tx_pii_scrub" -> ((s, d) => {
      val inp = Tables.documents(s, d).select(F.col("doc_id"),
        F.concat(F.col("text"),
          F.when(F.col("doc_id") % 3 =!= 0,
            F.concat(F.lit(" contact user"),
              F.col("doc_id").cast("string"),
              F.lit("@mail.example.com"))).otherwise(F.lit("")),
          F.when(F.col("doc_id") % 2 === 0,
            F.concat(F.lit(" call +1-555-"),
              F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(F.lit(""))).as("contact_text"))
      TextAnalysis.piiScrub(inp, "contact_text")
        .select("doc_id", "n_emails", "n_phones", "scrubbed")
        .orderBy("doc_id")
    }),
    "tx_top_terms" -> ((s, d) =>
      TextAnalysis.topTerms(Tables.documents(s, d))),
    "tx_word_familiarity" -> ((s, d) =>
      TextAnalysis.wordFamiliarity(Tables.documents(s, d))),
    // exact on this corpus (vocab 31 <= capacity 256) -> hash-checked;
    // the approximation guarantee is spec-pinned on an overflow fixture
    "tx_top_terms_sketch" -> ((s, d) =>
      TextAnalysis.topTermsSketch(Tables.documents(s, d))),
    "tx_quality_filter" -> ((s, d) =>
      TextAnalysis.qualityFilter(Tables.documents(s, d))),
    "tx_sample_mix" -> ((s, d) =>
      TextAnalysis.sampleMix(Tables.documents(s, d))),
    "tx_html_strip" -> ((s, d) => {
      val inp = Tables.documents(s, d).select(F.col("doc_id"),
        F.concat(F.lit("<html><body class=\"c"),
          (F.col("doc_id") % 7).cast("string"),
          F.lit("\"><p>"), F.col("text"), F.lit("</p>"),
          F.when(F.col("doc_id") % 2 === 0,
            F.lit("<br/><div>footer boilerplate</div>")).otherwise(F.lit("")),
          F.lit("</body></html>")).as("html"))
      TextAnalysis.htmlStrip(inp, "html")
        .select("doc_id", "n_tags", "stripped")
        .orderBy("doc_id")
    }),
    "tx_tfidf" -> ((s, d) => TextAnalysis.tfidf(Tables.documents(s, d))),
    // r9 continuation: BM25 retrieval ranking over literal query
    // term lists (decontamination-by-retrieval / data selection)
    "tx_bm25" -> ((s, d) => TextAnalysis.bm25(Tables.documents(s, d))),
    "tx_bpe" -> ((s, d) => Bpe.tokenize(Tables.documents(s, d))),
    "tx_chunk" -> ((s, d) => TextAnalysis.chunk(Tables.documents(s, d))),
    "dd_contamination" -> ((s, d) =>
      Dedup.contamination(Tables.documents(s, d))),
    // bloom-prefiltered composition: EXACT result (bloom has no false
    // negatives; candidates are exact-verified) -> shares the oracle
    "dd_contamination_bloom" -> ((s, d) =>
      Dedup.contaminationBloom(Tables.documents(s, d))),
    // same contract with the bloom BUILT distributed (bit_or agg) --
    // the eval set is never collected; shares the oracle too
    "dd_contamination_bloomdist" -> ((s, d) =>
      Dedup.contaminationBloomDist(Tables.documents(s, d))),
    "dd_span_scrub" -> ((s, d) => Dedup.spanScrub(Tables.documents(s, d))),
    "dd_url_dedup" -> ((s, d) => Dedup.urlDedup(derivedDupUrls(s, d))),
    "dd_substring" -> ((s, d) => Dedup.substringDup(Tables.documents(s, d))),
    "tx_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(Tables.documents(s, d))),
    "tx_c4_rules" -> ((s, d) =>
      TextAnalysis.c4Rules(Tables.documents(s, d))),
    "tx_gopher_ablation" -> ((s, d) =>
      TextAnalysis.gopherAblation(Tables.documents(s, d))),
    "rel_backfill_gaps" -> (RelQueries.backfillGaps _),
    "rel_fk_orphans" -> (RelQueries.fkOrphans _),
    "rel_key_discovery" -> (RelQueries.keyDiscovery _),
    "tx_cdc_chunk" -> ((s, d) =>
      TextAnalysis.cdcChunk(Tables.documents(s, d))),
    "dd_cdc_dedup" -> ((s, d) =>
      Dedup.cdcDedup(Tables.documents(s, d))),
    "rel_skyline" -> (RelQueries.skyline _),
    "rel_funnel_window" -> ((s, d) => RelQueries.funnelWindow(s, d)),
    "rel_compaction_plan" -> ((s, d) => RelQueries.compactionPlan(s, d)),
    // r7: the production twin — window key includes the day bucket,
    // so sort parallelism grows with data instead of collapsing to
    // the 5-value event_type domain
    "rel_compaction_plan_parts" -> ((s, d) =>
      RelQueries.compactionPlanParts(s, d)),
    "tx_ngram_lm" -> ((s, d) => TextAnalysis.ngramLm(Tables.documents(s, d))),
    "tx_lm_buckets" -> ((s, d) => TextAnalysis.lmBuckets(Tables.documents(s, d))),
    "tx_readability" -> ((s, d) =>
      TextAnalysis.readability(Tables.documents(s, d))),
    "rel_grouping_sets" -> (RelQueries.groupingSetsSummary _),
    "rel_window_share" -> (RelQueries.windowShare _),
    "sim_range" -> ((s, d) => Similarity.rangeSearch(Tables.embeddings(s, d))),
    "rel_running_spend" -> (RelQueries.runningSpend _),
    "dd_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incremental(docs.where(F.col("doc_id") % 10 === 0),
        docs.where(F.col("doc_id") % 10 =!= 0))
    }),
    // r7: mm_meta is the magic-byte DISPATCHED flagship — real
    // parsers claim their signatures, stubDecode only absorbs the
    // unknown-format arm (the raw-text family)
    "mm_meta" -> ((s, d) => Multimodal.mediaMeta(Tables.documents(s, d))(s)),
    "mm_image_meta" -> ((s, d) => Multimodal.imageMeta(Tables.documents(s, d))(s)),
    "mm_bmp_stats" -> ((s, d) => Multimodal.bmpStats(Tables.documents(s, d))(s)),
    // r10: QOI — full chunk-stream decode (RUN/INDEX/DIFF/LUMA/RGB)
    "mm_qoi_stats" -> ((s, d) => Multimodal.qoiStats(Tables.documents(s, d))(s)),
    // r10: TGA RLE true-color decode — RLE+raw packets, BGR swap,
    // bottom-up origin flip, order-sensitive stats
    "mm_tga_stats" -> ((s, d) => Multimodal.tgaStats(Tables.documents(s, d))(s)),
    // r10: ANIMATED GIF decode — per-frame GCE delays, skipped app
    // extension, one LZW stream per frame, presentation-order stats
    "mm_gif_frames" -> ((s, d) => Multimodal.gifFrames(Tables.documents(s, d))(s)),
    "mm_tiff_meta" -> ((s, d) => Multimodal.tiffMeta(Tables.documents(s, d))(s)),
    // EXIF: marker walk -> APP1 -> embedded-TIFF IFD walk, both byte
    // orders, inline/offset ASCII, RATIONAL, 0x8769 sub-IFD hop
    "mm_exif" -> ((s, d) => Multimodal.exifMeta(Tables.documents(s, d))(s)),
    // GPS sub-IFD: second indirection hop, count-3 RATIONAL arrays
    "mm_exif_gps" -> ((s, d) => Multimodal.exifGps(Tables.documents(s, d))(s)),
    // orientation normalization over real rasters: 8-way remap, dim swap
    "mm_orient" -> ((s, d) =>
      Multimodal.orientNormalize(Tables.documents(s, d))(s)),
    // indexed-color PNG: PLTE capture + bpp=1 unfilter + palette expand
    "mm_png_palette" -> ((s, d) =>
      Multimodal.pngPaletteStats(Tables.documents(s, d))(s)),
    // ICO: multi-image entry walk, doubled-height DIB, AND-mask stats
    "mm_ico" -> ((s, d) => Multimodal.icoStats(Tables.documents(s, d))(s)),
    "mm_gif_meta" -> ((s, d) => Multimodal.gifMeta(Tables.documents(s, d))(s)),
    "rel_markov" -> (RelQueries.markovTransitions _),
    "rel_changepoint" -> (RelQueries.changepoint _),
    "rel_hilbert" -> (RelQueries.hilbertSpans _),
    "mm_audio_meta" -> ((s, d) => Multimodal.audioMeta(Tables.documents(s, d))(s)),
    "mm_audio_stats" -> ((s, d) => Multimodal.audioStats(Tables.documents(s, d))(s)),
    "mm_audio_resample" -> ((s, d) =>
      Multimodal.audioResample(Tables.documents(s, d))(s)),
    "mm_audio_zcr" -> ((s, d) =>
      Multimodal.audioZcr(Tables.documents(s, d))(s)),
    "tx_mojibake" -> ((s, d) =>
      TextAnalysis.mojibake(Tables.documents(s, d))),
    "rel_zorder" -> (RelQueries.zorderSpans _),
    "rel_scd2" -> (RelQueries.scd2Merge _),
    "mm_video_meta" -> ((s, d) => Multimodal.videoMeta(Tables.documents(s, d))(s)),
    "mm_video_frames" -> ((s, d) => Multimodal.videoFrames(Tables.documents(s, d))(s)),
    "mm_frames" -> ((s, d) => Multimodal.sampleFrames(Tables.documents(s, d))(s)),
    // r6: mm_resize is the REAL pixel kernel (PNM raster decode +
    // 2×2 box halve); the r4 byte-sampling surrogate stays declared
    // as mm_resize_bytes
    "mm_resize" -> ((s, d) => Multimodal.resizeImages(Tables.documents(s, d))(s)),
    "mm_resize_bytes" -> ((s, d) => Multimodal.resizePayloads(Tables.documents(s, d))(s)),
    "mm_phash" -> ((s, d) => Multimodal.imagePhash(Tables.documents(s, d))(s)),
    // r7: compressed-raster decode — real Inflater + five unfilters
    "mm_png_stats" -> ((s, d) => Multimodal.pngStats(Tables.documents(s, d))(s)),
    // r7: second compressed family — real variable-width LZW
    "mm_gif_stats" -> ((s, d) => Multimodal.gifStats(Tables.documents(s, d))(s)),
    // r7: strip-organized TIFF pixels — value-offset chase + strip
    // reassembly under either byte order
    "mm_tiff_stats" -> ((s, d) => Multimodal.tiffStats(Tables.documents(s, d))(s)),
    // r7 continuation: THIRD compressed family — real baseline-JPEG
    // entropy decode (Huffman + dequant + IDCT + restart markers),
    // exact because fixtures are DC-only with quant step 8
    "mm_jpeg_stats" -> ((s, d) => Multimodal.jpegStats(Tables.documents(s, d))(s)),
    // 3-component YCbCr, 4:4:4 and 4:2:0 MCU interleave + replication
    // upsample + the fixed-point color transform the oracle restates
    "mm_jpeg_rgb_stats" -> ((s, d) => Multimodal.jpegRgbStats(Tables.documents(s, d))(s)),
    // first compressed AUDIO family: closed-form G.711 expansion
    "mm_audio_ulaw" -> ((s, d) => Multimodal.audioUlawStats(Tables.documents(s, d))(s)),
    "dd_image_neardup" -> ((s, d) =>
      Dedup.imageNearDup(Multimodal.imagePhash(Tables.documents(s, d))(s))),
    // r9: EXIF-orientation-normalized visual dedup — decode the
    // stored (rotated) raster, apply catalog orientation, THEN aHash;
    // rotated/mirrored duplicates pair, raw-pixel hashing cannot
    "mm_phash_oriented" -> ((s, d) =>
      Multimodal.imagePhashOriented(Tables.documents(s, d))(s)),
    "dd_image_neardup_oriented" -> ((s, d) =>
      Dedup.imageNearDup(
        Multimodal.imagePhashOriented(Tables.documents(s, d))(s))),
    "rel_kanon" -> ((s, d) => RelQueries.kAnonymity(s, d)),
    // l-diversity: the leak k-anonymity can't see (uniform sensitive)
    "rel_ldiversity" -> ((s, d) => RelQueries.lDiversity(s, d)),
    // r10: t-closeness — the third privacy gate (distributional skew
    // of the sensitive attribute per QI class, ordinal EMD)
    "rel_tcloseness" -> ((s, d) => RelQueries.tCloseness(s, d)),
    // salted skew join pinned against the PLAIN-join oracle
    "rel_skew_join" -> (RelQueries.skewJoinRevenue _),
    // phonetic blocking key, identical translate+regexp chain both sides
    "rel_phonetic_key" -> (RelQueries.phoneticKey _),
    // ER matching: soundex-blocked Levenshtein over the name vocabulary
    "rel_er_match" -> (RelQueries.erMatch(_, _)),
    // weekday seasonality index in exact ppm of a flat week
    "rel_seasonality" -> (RelQueries.seasonality _),
    // join-key skew diagnostic: top keys + global skew factor
    "rel_skew_report" -> (RelQueries.skewReport _),
    // top 3-step journey paths per frequency (beyond the 2-gram matrix)
    "rel_paths" -> (RelQueries.pathTrigrams(_, _)),
    // per-type mode with the tiebreak STATED (max n, smallest band)
    "rel_mode" -> (RelQueries.modalBand _),
    // HHI revenue concentration per nation, exact integer ppm
    "rel_hhi" -> (RelQueries.hhi _),
    // inter-arrival gap profile, (type, day)-partitioned lag window
    "rel_interarrival" -> (RelQueries.interarrival _),
    "rel_anomaly" -> (RelQueries.hourlyAnomaly _),
    // a-priori-pruned co-purchase pairs: broadcast item-support prune
    // before the orderkey self-join (downward closure)
    "rel_basket" -> (RelQueries.basketPairs(_, _)),
    // Benford leading-digit audit: literal milli-log reference table
    "rel_benford" -> (RelQueries.benfordDigits _),
    // sweep-line session concurrency via two-level distributed prefix sum
    "rel_concurrency" -> (RelQueries.sessionConcurrency _),
    // two-proportion z-test, cross-multiplied to DECIMAL(38,0)/HUGEINT
    "rel_abtest" -> (RelQueries.abTest _),
    // RFM: threshold binning against broadcast nearest-rank quintiles
    "rel_rfm" -> (RelQueries.rfmSegments _),
    "rel_triangles" -> ((s, d) =>
      graft.operators.Graph.coOrderTriangles(Tables.lineitem(s, d))),
    "rel_histogram" -> ((s, d) => RelQueries.valueHistogram(s, d)),
    "rel_snapshot_diff" -> (RelQueries.snapshotDiff _),
    "rel_bitmap_distinct" -> (RelQueries.bitmapDistinct _),
    // KMV: deterministic mergeable count-distinct, native aggregate
    "rel_kmv_distinct" -> (RelQueries.kmvDistinct _),
    // sketch set algebra: overlap estimates from sketches alone
    "rel_kmv_overlap" -> (RelQueries.kmvOverlap _),
    "rel_cms_topk" -> (RelQueries.cmsTopk _),
    "rel_winsorize" -> (RelQueries.winsorize _),
    "dd_sorted_neighborhood" -> ((s, d) =>
      Dedup.sortedNeighborhood(Tables.documents(s, d))),
    "tx_stem" -> ((s, d) => TextAnalysis.sStem(Tables.documents(s, d))),
    // PMI collocations: integer monotone transform of exp(PMI), no logs
    "tx_collocations" -> ((s, d) =>
      TextAnalysis.collocations(Tables.documents(s, d))),
    // first-seen n-gram novelty: what each doc ADDS to the corpus
    "tx_novelty" -> ((s, d) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, d))),
    // MOSS winnowing: rightmost-min-per-window fingerprint selection
    "tx_winnow" -> ((s, d) =>
      TextAnalysis.winnow(Tables.documents(s, d))),
    // winnow-fingerprint candidate pairs: exact-substring-recall blocking
    "dd_winnow_pairs" -> ((s, d) =>
      Dedup.winnowPairs(Tables.documents(s, d))),
    "rel_pricing" -> (RelQueries.pricingSummary _),
    "rel_brand_revenue" -> (RelQueries.brandRevenue _),
    "rel_region_priority" -> (RelQueries.regionPriorityRevenue _),
    "rel_top_orders" -> (RelQueries.topOrdersPerCustomer _),
    "rel_hourly_events" -> (RelQueries.hourlyEventRollup _),
    "rel_dlq_hourly" -> (RelQueries.dlqHourly _),
    "rel_sessions" -> (RelQueries.userSessions _),
    "rel_value_bands" -> (RelQueries.valueBands _),
    "rel_json_props" -> (RelQueries.jsonPropsRollup _),
    "rel_median_value" -> (RelQueries.medianValueByType _),
    // approx-percentile sketch: engine-specific -> rows-only check
    "x_median_approx" -> (RelQueries.medianValueApproxByType _),
    // r7: the approx-bounds winsorize scale path, exercised as a
    // declared query (rows-only, same sketch caveat)
    "x_winsorize_approx" -> (RelQueries.winsorizeApprox _),
    // r12: the sketch-threshold RFM scale path — the swap rel_rfm's
    // Scaladoc names, declared (rows-only; envelope in
    // ApproxParitySpec vs the exact quintile anchor)
    "x_rfm_approx" -> (RelQueries.rfmSegmentsApprox _),
    // DEFLATE bytes are engine-specific -> rows-only check
    "x_compress_ratio" -> ((s, d) =>
      TextAnalysis.compressRatio(Tables.documents(s, d))),
    // approximate-distinct (HLL++): sketches are engine-specific, so
    // no DuckDB oracle -- x_ prefix opts into the rows-only check
    "x_approx_users" -> ((s, d) => Tables.events(s, d)
      .groupBy("event_type")
      .agg(F.approx_count_distinct("user_id").as("approx_users"))
      .orderBy("event_type")),
    "rel_asof_click" -> (RelQueries.purchaseLastClick _),
    // r10: position-based (40/20/40) multi-touch attribution with
    // exact-integer ppm weights — last-touch's production sibling
    "rel_attrib_multi" -> ((s, d) => RelQueries.attribMulti(s, d)),
    // r10: OLS trend slope over daily counts — exact integer
    // sufficient statistics, the third trend primitive
    "rel_slope" -> (RelQueries.trendSlope _),
    "rel_range_clicks" -> ((s, d) =>
      graft.operators.RangeJoin.clicksBefore(Tables.events(s, d))),
    "rel_rollup" -> (RelQueries.pricingRollup _),
    "pipeline_curate" -> ((s, d) =>
      CuratePipeline.curate(s, Tables.documents(s, d))),
    "pipeline_curate_full" -> ((s, d) =>
      CuratePipeline.curateFull(s, Tables.documents(s, d),
        Tables.embeddings(s, d))),
    // r10: curation -> packing -> shard manifest, the launch artifact
    "pipeline_assemble" -> ((s, d) =>
      CuratePipeline.assemble(s, Tables.documents(s, d))),
    // r11: per-source dataset card — the pre-curation decision report
    "pipeline_report" -> ((s, d) =>
      CuratePipeline.report(Tables.documents(s, d))),
    // r11: trained source classifier with a vocabulary-sized model
    // applied via a token-keyed shuffle join (never collected)
    "tx_source_classifier" -> ((s, d) =>
      TextAnalysis.sourceClassifier(Tables.documents(s, d))),
    // r11: cross-source near-dup overlap matrix — which corpus
    // slices collide (per-source vs global dedup decision input)
    "dd_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlap(Tables.documents(s, d))),
    // r11: per-label centroid drift between corpus halves — the
    // embedding-pipeline monitoring primitive
    "sim_drift_report" -> ((s, d) =>
      Similarity.driftReport(Tables.embeddings(s, d))),
    // r11: the text-LSH banding knob measured — every (b, r)
    // factorization of K=16, candidates vs verified dups vs s*
    "dd_minhash_bands_sweep" -> ((s, d) =>
      Dedup.minhashBandsSweep(Tables.documents(s, d))),
    // r11: metadata-filtered ANN — pre-filter vs post-filter arms
    // under one protocol (global ranks kept so dropped ranks shows
    // the post-filter recall loss)
    "sim_knn_filtered" -> ((s, d) =>
      Similarity.knnFiltered(Tables.embeddings(s, d))),
    // r11: incremental graph maintenance whose oracle is the
    // FROM-SCRATCH graph at the store's width — the hash proves the
    // merge exact; r13: the stored width is autoBits(N), what a
    // store this size runs, so the oracle is the AUTO graph's SQL
    "sim_knn_upsert" -> ((s, d) =>
      Similarity.knnGraphUpsert(Tables.embeddings(s, d))),
    // r12: width migration for a growable store — anchored-layout
    // bucket refinement + carried scores; oracle is the from-scratch
    // anchored graph at the migrated width (exactness by hash)
    "sim_knn_reband" -> ((s, d) =>
      Similarity.knnGraphReband(Tables.embeddings(s, d))),
    // r13: the store LIFECYCLE composites — build → upsert → reband
    // → upsert chained on each modality; the oracle is the
    // from-scratch result over the full corpus at the final
    // arm/width, so the hash proves the COMPOSITION exact
    "pipeline_store_text" -> ((s, d) =>
      Dedup.minhashStoreLifecycle(Tables.documents(s, d))),
    // r15: the PERSISTED maintenance loop under the driver gate —
    // residue batches replayed through the real foldTextBatch
    // transactions, final store hashed vs the sequential-admission
    // oracle (VERDICT r14 #7)
    "pipeline_store_maintained" -> ((s, d) =>
      graft.streaming.StoreMaintenance.maintainedTextStoreReplay(
        Tables.documents(s, d))),
    // r15: the vector twin — the foldVecBatch admission loop replayed
    // under the same gate
    "pipeline_store_maintained_vec" -> ((s, d) =>
      graft.streaming.StoreMaintenance.maintainedVecStoreReplay(
        Tables.embeddings(s, d))),
    // r16: the GRAPH twin — residue batches through the real
    // foldKnnGraphBatch transactions; the final maintained snapshot's
    // oracle is the from-scratch graph at the store's width (the
    // upsert-merge ≡ from-scratch law under the persisted lifecycle)
    "pipeline_store_maintained_knn" -> ((s, d) =>
      graft.streaming.StoreMaintenance.maintainedKnnGraphReplay(
        Tables.embeddings(s, d))),
    "pipeline_store_vec" -> ((s, d) =>
      Similarity.knnStoreLifecycle(Tables.embeddings(s, d))),
    // r14: the image<->caption PAIR curation composite — either-side
    // dedup + quality gate + interleaved SFT render with vision-token
    // accounting (the VLM training-row shape)
    "pipeline_curate_mm" -> ((s, d) =>
      CuratePipeline.curateMultimodal(s, Tables.documents(s, d))),
    // r14: the curated pairs packed into context windows (vision
    // patches billed against the budget) -> per-(lang, shard) manifest
    "pipeline_assemble_mm" -> ((s, d) =>
      CuratePipeline.assembleMultimodal(s, Tables.documents(s, d))),
    // r13: DSIR-style hashed-feature importance weights — 64-row fit
    // collected as a literal, row-local integer likelihood-ratio score
    "tx_dsir" -> ((s, d) =>
      TextAnalysis.dsirWeights(Tables.documents(s, d))),
    // r13: the resampling step the weights exist for — learned
    // weights composed into the deterministic salted-hash sampler
    "tx_dsir_sample" -> ((s, d) =>
      TextAnalysis.dsirSample(Tables.documents(s, d))),
    // r13: hard-negative mining — the contrastive-training band
    // [random-similar, near-dup) per anchor
    "sim_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d))),
    "tx_sample_strat" -> ((s, d) =>
      TextAnalysis.sampleStratified(Tables.documents(s, d))),
    "rel_distinct_users" -> ((s, d) => Tables.events(s, d)
      .groupBy("event_type")
      .agg(F.countDistinct("user_id").as("n_users"),
        F.count(F.lit(1)).as("n"))
      .orderBy("event_type")),
    "rel_funnel" -> (RelQueries.funnel _),
    "rel_retention" -> (RelQueries.retention _),
    "rel_user_gaps" -> (RelQueries.userGaps _),
    "tx_nfc" -> ((s, d) => {
      // corpus text is ASCII (already NFC): embed decomposed combining
      // sequences for a deterministic subset so the non-identity path
      // is exercised; ́ = combining acute accent
      val inp = Tables.documents(s, d).select(F.col("doc_id"),
        F.concat(F.col("text"),
          F.when(F.col("doc_id") % 3 === 0,
            F.lit(" cafe\u0301 touche\u0301")).otherwise(F.lit("")))
          .as("raw"))
      // orderBy (r7): the one query that lacked the deterministic
      // output order — passed at driver SFs only because the
      // single-file read happened to preserve doc_id order; the
      // 32-way-written probe corpus exposed it
      TextAnalysis.nfcNormalize(inp, "raw").orderBy("doc_id")
    }),
    "rel_profile" -> ((s, d) =>
      graft.operators.Profile.profile(Tables.lineitem(s, d), relProfileCols)),
    "dd_leak_split" -> ((s, d) => Dedup.leakSplit(Tables.documents(s, d))),
  )

  val oracles: Map[String, String] = Map(
    "dd_exact" -> ddExactSql,
    "dd_minhash_lsh" -> ddMinhashSql,
    "dd_minhash_auto" -> ddMinhashAutoSql,
    // the upsert's oracle IS the from-scratch pair table
    // the upsert's stored arm is autoBandRows(|corpus|) (r13), so its
    // from-scratch twin is the AUTO blocker's SQL, not the fixed 8×2
    "dd_lsh_upsert" -> ddMinhashAutoSql,
    "dd_minhash_reband" -> ddMinhashRebandSql,
    "dd_lsh_recall" -> ddLshRecallSql,
    "sim_knn_bitsig" -> simKnnBitsigSql,
    "dd_oph" -> ddOphSql,
    "dd_simhash" -> ddSimhashSql,
    "dd_simhash_pairs" -> ddSimhashPairsSql,
    "dd_simhash_pairs_wide" -> ddSimhashPairsWideSql,
    "dd_clusters" -> ddClustersSql,
    "dd_cluster_stats" -> ddClusterStatsSql,
    "dd_canonical_quality" -> ddCanonicalQualitySql,
    "dd_ngram_jaccard" -> ddNgramJaccardSql,
    "dd_ngram_jaccard_capped" -> ddNgramJaccardCappedSql,
    "dd_containment" -> ddContainmentSql,
    "dd_containment_capped" -> ddContainmentCappedSql,
    "dd_lsh_recall_sampled" -> ddLshRecallSampledSql,
    "dd_blocker_recall" -> ddBlockerRecallSql,
    "dd_embed_blocker_recall" -> ddEmbedBlockerRecallSql,
    "sim_knn_stream" -> simKnnStreamSql,
    "dd_video_neardup" -> ddVideoNearDupSql,
    "dd_audio_neardup" -> ddAudioNearDupSql,
    "dd_edit_verified" -> ddEditVerifiedSql,
    "sim_knn_graph" -> simKnnGraphSql,
    "sim_knn_graph_wide" -> simKnnGraphWideSql,
    // the upsert's oracle IS the from-scratch wide graph: the hash
    // proves the incremental merge exact
    "sim_knn_upsert" -> simKnnGraphAutoSql,
    // the reband's oracle IS the from-scratch anchored graph at the
    // migrated width: the hash proves the migration exact
    "sim_knn_reband" -> simKnnRebandSql,
    "pipeline_store_vec" -> pipelineStoreVecSql,
    "pipeline_store_text" -> pipelineStoreTextSql,
    "pipeline_store_maintained" -> pipelineStoreMaintainedSql,
    "pipeline_store_maintained_vec" -> pipelineStoreMaintainedVecSql,
    // the maintained graph's oracle IS the from-scratch graph at the
    // store's width — the AUTO width the corpus runs, which both
    // sides derive from the same n>0-filtered count: the hash proves
    // the whole persisted fold lifecycle (id guard, pruning, merge,
    // snapshot) exact
    "pipeline_store_maintained_knn" -> simKnnGraphAutoSql,
    "pipeline_curate_mm" -> pipelineCurateMmSql,
    "pipeline_assemble_mm" -> pipelineAssembleMmSql,
    "tx_dsir" -> txDsirSql,
    "tx_dsir_sample" -> txDsirSampleSql,
    "sim_hard_negatives" -> simHardNegSql,
    "sim_cluster_sample" -> simClusterSampleSql,
    "sim_knn_graph_auto" -> simKnnGraphAutoSql,
    "dd_embed_neardup_auto" -> ddEmbedNearDupAutoSql,
    "dd_yield_report" -> ddYieldReportSql,
    "rel_merge_upsert" -> relMergeUpsertSql,
    "dd_code_neardup" -> ddCodeNearDupSql,
    "tx_code_meta" -> txCodeMetaSql,
    "tx_sft_render" -> txSftRenderSql,
    "tx_mix_plan" -> txMixPlanSql,
    "tx_shard_plan" -> txShardPlanSql,
    "tx_dpo_render" -> txDpoRenderSql,
    "tx_epoch_order" -> txEpochOrderSql,
    "tx_curriculum_order" -> txCurriculumOrderSql,
    "sim_knn_sq8" -> simKnnSq8Sql,
    "sim_knn_ivfsq" -> simKnnIvfSq8Sql,
    "dd_threshold_curve" -> ddThresholdCurveSql,
    "sim_recall_ladder" -> simRecallLadderSql,
    "sim_recall_postdedup" -> simRecallPostdedupSql,
    "sim_mutual_knn" -> simMutualKnnSql,
    "sim_knn_descent" -> simKnnDescentSql,
    "dd_containment_blocked" -> ddContainmentBlockedSql,
    "dd_minhash_calibration" -> ddMinhashCalibrationSql,
    "sim_ivf_balance" -> simIvfBalanceSql,
    "pipeline_index" -> simIndexPipelineSql,
    "pipeline_index_auto" -> simIndexPipelineAutoSql,
    "dd_lsh_verified" -> ddLshVerifiedSql,
    "dd_embed_neardup" -> ddEmbedNearDupSql,
    "dd_kmeans" -> ddKmeansSql,
    "dd_outliers" -> ddOutliersSql,
    "dd_embed_incremental" -> ddEmbedIncrementalSql,
    "rel_cube" -> relCubeSql,
    "rel_reachability" -> relReachabilitySql,
    "rel_pagerank" -> relPagerankSql,
    "rel_set_ops" -> relSetOpsSql,
    "rel_pivot" -> relPivotSql,
    "rel_expectations" -> relExpectationsSql,
    "dd_paragraph" -> ddParagraphSql,
    "tx_sample_temp" -> txSampleTempSql,
    "tx_fertility" -> txFertilitySql,
    "tx_url_extract" -> txUrlExtractSql,
    "dd_url_dedup" -> ddUrlDedupSql,
    "dd_substring" -> ddSubstringSql,
    "tx_gopher_rules" -> txGopherRulesSql,
    "tx_c4_rules" -> txC4RulesSql,
    "tx_gopher_ablation" -> txGopherAblationSql,
    "rel_backfill_gaps" -> relBackfillGapsSql,
    "rel_fk_orphans" -> relFkOrphansSql,
    "rel_key_discovery" -> relKeyDiscoverySql,
    "tx_cdc_chunk" -> txCdcChunkSql,
    "dd_cdc_dedup" -> ddCdcDedupSql,
    "rel_skyline" -> relSkylineSql,
    "rel_funnel_window" -> relFunnelWindowSql,
    "rel_compaction_plan" -> relCompactionPlanSql,
    "rel_compaction_plan_parts" -> relCompactionPlanPartsSql,
    "tx_ngram_lm" -> txNgramLmSql,
    "tx_lm_buckets" -> txLmBucketsSql,
    "tx_readability" -> txReadabilitySql,
    "rel_grouping_sets" -> relGroupingSetsSql,
    "rel_window_share" -> relWindowShareSql,
    "sim_range" -> simRangeSql,
    "rel_running_spend" -> relRunningSpendSql,
    "dd_semdedup" -> ddSemdedupSql,
    "dd_semdedup_auto" -> ddSemdedupAutoSql,
    "sim_knn_brute" -> simKnnBruteSql,
    "sim_knn_lsh" -> simKnnLshSql,
    "sim_knn_ivf" -> simKnnIvfSql,
    "sim_mips" -> simMipsSql,
    "sim_mips_ivf" -> simMipsIvfSql,
    "sim_knn_ivfpq" -> simKnnIvfPqSql,
    "sim_knn_ivfpq_rerank" -> simKnnIvfPqRerankSql,
    "tx_tokens" -> txTokensSql,
    "tx_quality" -> txQualitySql,
    "tx_quality_lpm" -> txQualityLpmSql,
    "tx_quality_lpm_eval" -> txQualityLpmEvalSql,
    "tx_langid" -> txLangIdSql,
    "tx_langid_confusion" -> txLangidConfusionSql,
    "tx_fingerprint" -> txFingerprintSql,
    "tx_split" -> txSplitSql,
    "tx_pack" -> txPackSql,
    "tx_pack_bestfit" -> txPackBestfitSql,
    "tx_pack_bylang" -> txPackByLangSql,
    "tx_repetition" -> txRepetitionSql,
    "tx_pii_scrub" -> txPiiScrubSql,
    "tx_top_terms" -> txTopTermsSql,
    "tx_quality_filter" -> txQualityFilterSql,
    "tx_sample_mix" -> txSampleMixSql,
    "tx_html_strip" -> txHtmlStripSql,
    "tx_tfidf" -> txTfidfSql,
    "tx_bm25" -> txBm25Sql,
    "tx_bpe" -> txBpeSql,
    "tx_chunk" -> txChunkSql,
    "dd_contamination" -> ddContaminationSql,
    "dd_contamination_bloom" -> ddContaminationSql,
    "dd_contamination_bloomdist" -> ddContaminationSql,
    "dd_span_scrub" -> ddSpanScrubSql,
    "dd_incremental" -> ddIncrementalSql,
    "mm_meta" -> mmMetaSql,
    "mm_image_meta" -> mmImageMetaSql,
    "mm_audio_meta" -> mmAudioMetaSql,
    "mm_audio_stats" -> mmAudioStatsSql,
    "mm_bmp_stats" -> mmBmpStatsSql,
    "mm_qoi_stats" -> mmQoiStatsSql,
    "mm_tga_stats" -> mmTgaStatsSql,
    "mm_gif_frames" -> mmGifFramesSql,
    "mm_tiff_meta" -> mmTiffMetaSql,
    "mm_exif" -> mmExifSql,
    "mm_exif_gps" -> mmExifGpsSql,
    "mm_orient" -> mmOrientSql,
    "mm_png_palette" -> mmPngPaletteSql,
    "mm_ico" -> mmIcoSql,
    "mm_gif_meta" -> mmGifMetaSql,
    "rel_markov" -> relMarkovSql,
    "rel_changepoint" -> relChangepointSql,
    "rel_hilbert" -> relHilbertSql,
    "mm_audio_resample" -> mmAudioResampleSql,
    "mm_audio_zcr" -> mmAudioZcrSql,
    "tx_mojibake" -> txMojibakeSql,
    "rel_zorder" -> relZorderSql,
    "rel_scd2" -> relScd2Sql,
    "mm_video_meta" -> mmVideoMetaSql,
    "mm_video_frames" -> mmVideoFramesSql,
    "mm_frames" -> mmFramesSql,
    "mm_resize" -> mmResizeSql,
    "mm_resize_bytes" -> mmResizeBytesSql,
    "mm_phash" -> mmPhashSql,
    "mm_png_stats" -> mmPngStatsSql,
    "mm_gif_stats" -> mmGifStatsSql,
    "mm_tiff_stats" -> mmTiffStatsSql,
    "mm_jpeg_stats" -> mmJpegStatsSql,
    "mm_jpeg_rgb_stats" -> mmJpegRgbStatsSql,
    "mm_audio_ulaw" -> mmAudioUlawSql,
    "dd_image_neardup" -> ddImageNearDupSql,
    "mm_phash_oriented" -> mmPhashOrientedSql,
    "dd_image_neardup_oriented" -> ddImageNearDupOrientedSql,
    "rel_kanon" -> relKanonSql,
    "rel_ldiversity" -> relLdiversitySql,
    "rel_tcloseness" -> relTclosenessSql,
    "rel_skew_join" -> relSkewJoinSql,
    "rel_phonetic_key" -> relPhoneticKeySql,
    "rel_er_match" -> relErMatchSql,
    "rel_seasonality" -> relSeasonalitySql,
    "rel_skew_report" -> relSkewReportSql,
    "rel_paths" -> relPathsSql,
    "rel_mode" -> relModeSql,
    "rel_hhi" -> relHhiSql,
    "rel_interarrival" -> relInterarrivalSql,
    "rel_anomaly" -> relAnomalySql,
    "rel_basket" -> relBasketSql,
    "rel_benford" -> relBenfordSql,
    "rel_triangles" -> relTrianglesSql,
    "rel_histogram" -> relHistogramSql,
    "rel_snapshot_diff" -> relSnapshotDiffSql,
    "rel_bitmap_distinct" -> relBitmapDistinctSql,
    "rel_kmv_distinct" -> relKmvDistinctSql,
    "rel_kmv_overlap" -> relKmvOverlapSql,
    "rel_cms_topk" -> relCmsTopkSql,
    "rel_winsorize" -> relWinsorizeSql,
    "dd_sorted_neighborhood" -> ddSortedNeighborhoodSql,
    "tx_stem" -> txStemSql,
    "tx_collocations" -> txCollocationsSql,
    "tx_novelty" -> txNoveltySql,
    "tx_winnow" -> txWinnowSql,
    "dd_winnow_pairs" -> ddWinnowPairsSql,
    "rel_pricing" -> relPricingSql,
    "rel_brand_revenue" -> relBrandRevenueSql,
    "rel_region_priority" -> relRegionPrioritySql,
    "rel_top_orders" -> relTopOrdersSql,
    "rel_hourly_events" -> relHourlyEventsSql,
    "rel_dlq_hourly" -> relDlqHourlySql,
    "rel_sessions" -> relSessionsSql,
    "rel_concurrency" -> relConcurrencySql,
    "rel_abtest" -> relAbtestSql,
    "rel_rfm" -> relRfmSql,
    "rel_value_bands" -> relValueBandsSql,
    "rel_json_props" -> relJsonPropsSql,
    "rel_median_value" -> relMedianSql,
    "rel_asof_click" -> relAsofSql,
    "rel_attrib_multi" -> relAttribMultiSql,
    "rel_slope" -> relSlopeSql,
    "rel_range_clicks" -> relRangeClicksSql,
    "rel_rollup" -> relRollupSql,
    "pipeline_curate" -> pipelineCurateSql,
    "pipeline_curate_full" -> pipelineCurateFullSql,
    "pipeline_assemble" -> pipelineAssembleSql,
    "pipeline_report" -> pipelineReportSql,
    "tx_source_classifier" -> txSourceClassifierSql,
    "dd_source_overlap" -> ddSourceOverlapSql,
    "sim_drift_report" -> simDriftReportSql,
    "dd_minhash_bands_sweep" -> ddMinhashBandsSweepSql,
    "sim_knn_filtered" -> simKnnFilteredSql,
    "pipeline_curate_web" -> pipelineCurateWebSql,
    "rel_domain_quality" -> relDomainQualitySql,
    "tx_sample_strat" -> txSampleStratSql,
    "rel_distinct_users" -> relDistinctUsersSql,
    "rel_funnel" -> relFunnelSql,
    "rel_retention" -> relRetentionSql,
    "rel_user_gaps" -> relUserGapsSql,
    "tx_word_familiarity" -> txWordFamiliaritySql,
    "tx_top_terms_sketch" -> txTopTermsSketchSql,
    "tx_nfc" -> txNfcSql,
    "rel_profile" -> relProfileSql,
    "dd_leak_split" -> ddLeakSplitSql,
  )
}
