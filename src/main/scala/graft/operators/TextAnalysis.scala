package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Partitioning, PortableHash => PH, TextOps}

/** Text-analysis operator family over `documents` — token counting,
  * quality scoring, corpus-trained n-gram language ID, and document
  * fingerprinting. All row-local Catalyst expressions except langId,
  * whose profile build is a deliberately tiny aggregate (|langs| ×
  * top-N trigrams) that Spark broadcast-joins back to the corpus.
  */
object TextAnalysis {

  /** Corpus stopwords for ratio features (fixed literal set). */
  val Stopwords: Seq[String] = Seq("the", "a")

  /** Token counting: whitespace tokens, alpha runs (regex), numeric
    * runs (regex), and a BPE-ish subword count (ceil(len/4) chunks
    * per word — a deterministic stand-in for byte-pair merges). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(TextOps.words(col("text"))).cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).cast("long").as("n_alpha_tokens"),
        regexp_count(col("text"), lit("[0-9]+")).cast("long").as("n_num_tokens"),
        aggregate(TextOps.words(col("text")), lit(0L),
          (acc, w) => acc + floor((length(w) + 3) / 4).cast("long"))
          .as("n_subword_tokens"))
      .orderBy("doc_id")

  /** Number of hashed-feature buckets for [[dsirWeights]] — shared
    * verbatim with the DuckDB oracle. */
  val DsirBuckets: Int = 64

  /** DSIR-style importance weights for target-domain data selection
    * (Xie et al., NeurIPS'23 — Data Selection via Importance
    * Resampling, restated in exact integers): hash every token into
    * [[DsirBuckets]] buckets (the portable h31), fit the bucket
    * distribution of the TARGET slice (`source = targetSource`) and
    * of the whole corpus in ONE map-side-combinable aggregate (the
    * target count is a conditional sum inside the same pass), then
    * score each document with the likelihood-ratio form
    *
    *   weight_ppm = ⌊10⁶ · Σ_tokens (p_b+1) / Σ_tokens (q_b+1)⌋
    *
    * where p_b/q_b are the add-1-smoothed per-bucket ppm masses —
    * the RATIO of tf-weighted bucket masses rather than DSIR's
    * Σ log(p/q): logs are banned on hash-checked paths (library
    * transcendentals are not bit-specified across engines), and the
    * ratio form preserves the selection ORDER the resampler needs
    * for docs of similar length while staying exact-integer end to
    * end. `selected` marks target-leaning docs (weight ≥ 10⁶ —
    * scores above the corpus-typical mass ratio).
    *
    * Overflow envelope (r14, ADVICE): the Long fold accumulators are
    * exact to n_tokens·(10⁶+1) < 2⁶³ ⇒ n_tokens < 9.2·10¹² per doc
    * (no document approaches this); the final 10⁶·num product — the
    * one step that DID wrap past n_tokens ≈ 9.2·10⁶, a size real
    * pathological documents reach — is widened to decimal(38,0)
    * (Spark's IntegralDivide is exact on decimals, 10⁶·num < 10²⁵ ≪
    * 10³⁸) with the oracle widening identically through HUGEINT, so
    * the exact-integer claim now holds to the fold bound itself.
    *
    * Scale shape: the fit is ONE 64-row hash aggregate (partial
    * combine on the bucket key — [[dsirFit]], reusable so a pipeline
    * composing weights + [[dsirSample]] pays it once), collected as
    * a model-sized literal — scoring is then a row-local fold riding
    * the scan with ZERO shuffles, exactly how production DSIR
    * applies its hashed-ngram model to a 100 TB corpus. */
  def dsirWeights(docs: DataFrame, targetSource: String = "src0",
                  buckets: Int = DsirBuckets): DataFrame =
    dsirWeightsFrom(docs, dsirFit(docs, targetSource, buckets))

  /** The fitted DSIR model: add-1-smoothed per-bucket ppm masses of
    * the target slice (`p1`) and the whole corpus (`q1`). */
  final case class DsirModel(p1: Seq[Long], q1: Seq[Long])

  /** The ONE corpus fit behind [[dsirWeights]]/[[dsirSample]] (r14,
    * VERDICT r13 #6 — the kmeansFit pattern): a 64-row map-side-
    * combinable aggregate collected as a model-sized literal. Fit
    * once, apply to as many scoring/resampling passes as the
    * pipeline composes. */
  def dsirFit(docs: DataFrame, targetSource: String = "src0",
              buckets: Int = DsirBuckets): DsirModel = {
    val toks = docs.select(col("source"),
        explode(TextOps.words(col("text"))).as("wd"))
      .select(col("source"),
        pmod(PH.h31(col("wd")), lit(buckets.toLong)).as("b"))
    val cnt = toks.groupBy("b").agg(
        count(lit(1)).as("n_all"),
        sum(when(col("source") === targetSource, 1L).otherwise(0L))
          .as("n_tgt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val totAll = math.max(1L, cnt.map(_._2).sum)
    val totTgt = math.max(1L, cnt.map(_._3).sum)
    val p1 = Array.fill(buckets)(1L)
    val q1 = Array.fill(buckets)(1L)
    cnt.foreach { case (b, nAll, nTgt) =>
      p1(b.toInt) = 1L + 1000000L * nTgt / totTgt
      q1(b.toInt) = 1L + 1000000L * nAll / totAll
    }
    DsirModel(p1.toSeq, q1.toSeq)
  }

  /** Row-local application of a fitted [[DsirModel]] — zero shuffles,
    * zero aggregates: the scoring pass [[dsirWeights]] documents. */
  def dsirWeightsFrom(docs: DataFrame, model: DsirModel): DataFrame = {
    val buckets = model.p1.size
    val pLit = typedLit(model.p1)
    val qLit = typedLit(model.q1)
    def mass(m: org.apache.spark.sql.Column) =
      aggregate(TextOps.words(col("text")), lit(0L), (acc, w) =>
        acc + element_at(m, (pmod(PH.h31(w), lit(buckets.toLong)) + 1)
          .cast("int")))
    Partitioning.spread(docs)
      .select(col("doc_id"), mass(pLit).as("num"), mass(qLit).as("den"))
      .select(col("doc_id"),
        expr("cast((cast(1000000 as decimal(38,0)) * num) div den as bigint)")
          .as("weight_ppm"))
      .withColumn("selected", col("weight_ppm") >= 1000000L)
      .orderBy("doc_id")
  }

  /** Deterministic importance RESAMPLING over [[dsirWeights]] (r13):
    * the selection step DSIR's weights exist for — accept a doc with
    * probability proportional to its importance weight, via the
    * salted-hash gate the sampling family uses everywhere
    * (`tx_sample_mix`'s rerun/order-stable alternative to rand()):
    * keep iff h31('dsir:' ∥ doc_id) mod 2·10⁶ < weight_ppm — around
    * the corpus-typical weight of 10⁶ that is ~50% acceptance,
    * scaling up for target-leaning docs. Learned weights composed
    * into the deterministic sampler: the mixture-rebalance shape
    * with a MODEL instead of hand-set literal rates.
    *
    * Scale: [[dsirWeights]]' row-local scoring plus one more
    * row-local hash compare — still zero shuffles after the 64-row
    * fit (shared via [[dsirFit]]: composing weights + sample over
    * the same corpus re-applies one fitted model, it never re-runs
    * the token aggregate). */
  def dsirSample(docs: DataFrame, targetSource: String = "src0",
                 buckets: Int = DsirBuckets): DataFrame =
    dsirSampleFrom(docs, dsirFit(docs, targetSource, buckets))

  /** [[dsirSample]] over an already-fitted model — the composed-
    * pipeline entry point (fit once, weight AND sample). */
  def dsirSampleFrom(docs: DataFrame, model: DsirModel): DataFrame =
    dsirWeightsFrom(docs, model)
      .where(pmod(PH.h31(concat(lit("dsir:"),
          col("doc_id").cast("string"))), lit(2000000L))
        < col("weight_ppm"))
      .select("doc_id", "weight_ppm")
      .orderBy("doc_id")

  /** Literal retrieval queries for [[bm25]] — drawn from the corpus
    * vocabulary; the oracle's VALUES list is generated from this SAME
    * Seq so the two engines cannot diverge. */
  val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("hash", "join", "merge"),
    1L -> Seq("vector", "scan", "column"),
    2L -> Seq("spark", "stream", "window", "batch"),
    3L -> Seq("slow", "query", "filter"))

  /** BM25 retrieval ranking — the inverted-index scoring a curation
    * stack runs for decontamination-by-retrieval and targeted data
    * selection (find the training docs closest to an eval query).
    * Only documents sharing >= 1 query term are scored: the join of
    * the query terms against the (term, doc, tf) posting table IS
    * the inverted-index probe — at 100 TB the scan touches candidate
    * postings, never the corpus, and df/avgdl are one
    * partial-combinable aggregate pass each.
    *
    * Scoring is the BM25 shape (k1 = 1.2, b = 0.75) restated in the
    * repo's integer-floor discipline so both engines hash-match:
    *   sat_ppm = ⌊2.2e6·tf·1e6 / (1e6·tf + 3e5 + ⌊9e5·dl·N/L⌋)⌋
    *   idf:   w_ppm = ⌊1e6·(2N−2df+1)/(2df+1)⌋ — the exact rational
    *          INSIDE Robertson's log idf = ln((N−df+½)/(df+½)), used
    *          without the log (transcendentals are banned on
    *          hash-checked paths; see the PMI-collocations note).
    *          Monotone in df like the classic weight, so single-term
    *          rankings agree with log-BM25; multi-term totals weight
    *          rare terms MORE heavily than the log form — documented
    *          divergence, exact verification.
    *   score_milli = Σ_t ⌊w_ppm·sat_ppm / 1e9⌋; top-`k` per query,
    *          ties to the lowest doc_id.
    * Every intermediate is int64-bounded to ~1e6 docs
    * (w_ppm·sat_ppm < 2.6e18); beyond that the same formula slots
    * into DECIMAL(38,0) like rel_abtest's counts. */
  def bm25(docs: DataFrame, k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs.select(col("doc_id"),
      explode(TextOps.words(col("text"))).as("t"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val corp = dl.agg(count(lit(1)).as("n"), sum("dl").as("l"))
    // tf/df are only consumed for query terms, so restrict BEFORE
    // aggregating — a literal IN-predicate the scan evaluates
    // row-locally (the inverted-index probe), not a corpus-wide
    // per-term aggregate that then discards (vocab − |q|) groups
    val qTerms = Bm25Queries.flatMap(_._2).distinct
    val tokQ = tok.where(col("t").isin(qTerms: _*))
    val tf = tokQ.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val qry = Bm25Queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "t")
    val scored = broadcast(qry).join(tf, "t").join(broadcast(dfT), "t")
      .join(dl, "doc_id").crossJoin(broadcast(corp))
      .withColumn("w_ppm",
        expr("(1000000L * (2L * n - 2L * df + 1L)) DIV (2L * df + 1L)"))
      .withColumn("r_ppm", expr("(900000L * dl * n) DIV l"))
      .withColumn("sat_ppm", expr("(2200000L * tf * 1000000L) DIV " +
        "(1000000L * tf + 300000L + r_ppm)"))
      .withColumn("term_milli", expr("(w_ppm * sat_ppm) DIV 1000000000L"))
    val agg = scored.groupBy("query_id", "doc_id")
      .agg(sum("term_milli").as("score_milli"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_milli").desc, col("doc_id").asc)
    agg.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score_milli")
      .orderBy("query_id", "rank")
  }

  /** Quality feature columns (doc_id, lang, n_tokens,
    * mean_token_len_ppm, stopword_ratio_ppm, quality_ppm) — shared by
    * [[qualityScore]] and [[qualityFilter]]. Row-local. */
  private def qualityFeatures(docs: DataFrame): DataFrame = {
    val ws = TextOps.words(col("text"))
    val nTok = size(ws).cast("long")
    // total token chars = len(text) - (n_tok - 1) separators
    val tokChars = length(col("text")).cast("long") - (nTok - 1)
    val nStop = aggregate(ws, lit(0L),
      (acc, w) => acc + when(w.isin(Stopwords: _*), 1L).otherwise(0L))
    docs.select(col("doc_id"), col("lang"), nTok.as("n_tokens"),
        floor(lit(1000000.0) * tokChars / greatest(nTok, lit(1L)))
          .cast("long").as("mean_token_len_ppm"),
        floor(lit(1000000.0) * nStop / greatest(nTok, lit(1L)))
          .cast("long").as("stopword_ratio_ppm"))
      .withColumn("quality_ppm",
        (lit(1000000L) - floor(col("stopword_ratio_ppm") / 2L).cast("long")
          - when(col("n_tokens") < 20L, 250000L).otherwise(0L)).cast("long"))
  }

  /** Quality scoring: integer/ppm features only (portable):
    * n_tokens, mean token length (ppm), stopword ratio (ppm), and a
    * composite quality score in ppm. */
  def qualityScore(docs: DataFrame): DataFrame =
    qualityFeatures(docs).drop("lang").orderBy("doc_id")

  /** TRAINED quality classifier probe (r9) — the CCNet/FineWeb role
    * where a model (fastText / logistic regression) learns to
    * separate a target distribution from raw crawl, replacing
    * hand-tuned rule thresholds. This is the EXACT-ARITHMETIC form of
    * that operator: a least-squares LINEAR PROBABILITY MODEL fit by
    * normal equations, chosen over logistic deliberately — the
    * sufficient statistics (XᵀX, Xᵀy) are plain integer sums and the
    * 3×3 Cramer solve is exact integer math, so the ENTIRE fit and
    * scoring pass is bit-identical in Spark and the DuckDB oracle
    * (a sigmoid is not bit-portable; an LPM trades a little
    * statistical polish for a fully hash-checkable trained model).
    *
    * Weak label: y = 1 iff lang = 'en' — the "target distribution"
    * proxy (the English stopword list gives stop_ppm real predictive
    * signal, so the fit recovers meaningful weights, not noise).
    * Features are 8-BIT BINS (x1 = min(255, n_tokens div 4),
    * x2 = min(255, stop_ppm div 4096)): the bound that keeps every
    * Cramer determinant inside HUGEINT/BigInt-guarded range up to
    * ~10⁷-doc fits (guard below names the fix past that: subsample
    * the fit — a quality probe trains on a sample anyway).
    *
    * Shape (the fit/transform discipline of [[langId]] / k-means):
    * ONE partial-combinable aggregate produces the 9 sufficient
    * statistics; the solve is a driver-side BigInt Cramer on that
    * single row (model-sized collect); weights are reduced to
    * fixed-point ppm by FLOOR division (floorDiv, sign-normalized
    * det > 0 — DuckDB's `//` TRUNCATES on negatives, so the oracle
    * spells out the nonneg-remainder floor form); scoring is a
    * broadcast-literal row-local projection, zero shuffles.
    *
    * Measured on the driver corpus (tx_quality_lpm_eval): accuracy
    * ~57% — the synthetic text gives these features almost no
    * en-vs-other signal, and the EVAL SAYING SO is the point of
    * shipping the eval (it is the number that decides whether a
    * corpus gets model-based filtering). The learning machinery
    * itself is proven on a separable constructed corpus in
    * TextPipelineSpec (perfect classification + a hand BigInt
    * re-solve matching the distributed scores).
    * Guards (the rel_abtest discipline): det = 0 (degenerate feature
    * matrix) and HUGEINT-range overflow both RAISE with the remedy
    * named, in both engines, instead of silently mis-scoring. */
  def qualityLpm(docs: DataFrame): DataFrame = {
    val feats = qualityFeatures(Partitioning.spread(docs))
      .select(col("doc_id"), col("lang"),
        least(lit(255L), col("n_tokens") / 4L).cast("long").as("x1"),
        least(lit(255L), (col("stopword_ratio_ppm") / 4096L).cast("long"))
          .as("x2"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val s = feats.agg(
      count(lit(1)).as("n"), sum("x1").as("s1"), sum("x2").as("s2"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum("y").as("b0"), sum(col("x1") * col("y")).as("b1"),
      sum(col("x2") * col("y")).as("b2")).head()
    val Seq(n, s1, s2, s11, s12, s22, b0, b1, b2) =
      (0 until 9).map(i => BigInt(s.getLong(i)))
    // A = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]]; det and the three
    // column-replaced Cramer numerators, all exact BigInt
    def det3(a: Seq[BigInt]): BigInt = {
      val Seq(a00, a01, a02, a10, a11, a12, a20, a21, a22) = a
      a00 * (a11 * a22 - a12 * a21) - a01 * (a10 * a22 - a12 * a20) +
        a02 * (a10 * a21 - a11 * a20)
    }
    val d0 = det3(Seq(n, s1, s2, s1, s11, s12, s2, s12, s22))
    require(d0 != 0, "qualityLpm: degenerate feature matrix " +
      "(constant features) — fit has no unique solution")
    val sign = d0.sign
    val det = d0 * sign
    val wNum = Seq(
      det3(Seq(b0, s1, s2, b1, s11, s12, b2, s12, s22)),
      det3(Seq(n, b0, s2, s1, b1, s12, s2, b2, s22)),
      det3(Seq(n, s1, b0, s1, s11, b1, s2, s12, b2))).map(_ * sign)
    val hugeint = BigInt(10).pow(38) // headroom under 1.7e38
    require(wNum.forall(w => (w.abs * 1000000) < hugeint) &&
      det < hugeint,
      "qualityLpm: sufficient statistics exceed the exact HUGEINT " +
        "Cramer bound — subsample the fit (a quality probe trains " +
        "on a sample anyway)")
    // fixed-point ppm weights, FLOOR division (det > 0) — matches
    // the oracle's HUGEINT `//` exactly
    def floorDiv(a: BigInt, b: BigInt): BigInt = {
      val q = a / b; if (a % b != 0 && (a.sign != b.sign)) q - 1 else q
    }
    val w = wNum.map(x => floorDiv(x * 1000000, det).toLong)
    feats.select(col("doc_id"), col("y"), col("x1"), col("x2"),
        (lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2"))
          .as("score_ppm"))
      .withColumn("predicted",
        when(col("score_ppm") >= 500000L, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Confusion-matrix eval of [[qualityLpm]] against its own weak
    * label (the [[langIdConfusion]] pattern): TP/FP/FN/TN counts and
    * accuracy in exact ppm — the one-row answer to "is the trained
    * probe better than a coin" that decides whether a corpus gets
    * model-based or rule-based filtering. */
  def qualityLpmEval(docs: DataFrame): DataFrame =
    qualityLpm(docs).agg(
        sum(when(col("y") === 1L && col("predicted") === 1L, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("y") === 0L && col("predicted") === 1L, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("y") === 1L && col("predicted") === 0L, 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("y") === 0L && col("predicted") === 0L, 1L)
          .otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        expr("(tp + tn) * 1000000 div (tp + fp + fn + tn)")
          .as("accuracy_ppm"))

  /** Gopher-style quality-rule battery (r6 — Rae et al. 2021,
    * arXiv:2112.11446 Table A1, the rule set most web pipelines
    * start from, adapted to this corpus's whitespace tokens): each
    * rule is a NAMED 0/1 flag so downstream filters can cut on any
    * subset and ablations can report per-rule kill rates — the
    * difference from [[qualityScore]]'s single composite. All
    * row-local (one projection, zero shuffles); every feature is an
    * integer/ppm so the DuckDB oracle restates the rules exactly.
    *
    * Rules: word count in [50, 100 000]; mean word length in
    * [3, 10] chars; symbol-to-word ratio ('#' chars + '…'-as-'...'
    * runs) ≤ 10 %; lines starting with a bullet ('-'/'*') ≤ 90 %;
    * lines ending in '...' ≤ 30 %; words containing an alphabetic
    * char ≥ 80 %; ≥ 2 stopword occurrences. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val ws = TextOps.words(col("text"))
    val n = size(ws).cast("long")
    val nG = greatest(n, lit(1L))
    val tokChars = length(col("text")).cast("long") - (n - 1)
    val meanLenPpm = floor(lit(1000000.0) * tokChars / nG).cast("long")
    val hashCnt =
      (length(col("text")) - length(regexp_replace(col("text"), "#", "")))
        .cast("long")
    val ellCnt =
      ((length(col("text")) -
        length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("long")
    val symPpm = floor(lit(1000000.0) * (hashCnt + ellCnt) / nG).cast("long")
    val lines = split(col("text"), "\n")
    val nLines = greatest(size(lines).cast("long"), lit(1L))
    val bulletCnt = aggregate(lines, lit(0L), (a, l) =>
      a + when(l.startsWith("-") || l.startsWith("*"), 1L).otherwise(0L))
    val ellEndCnt = aggregate(lines, lit(0L), (a, l) =>
      a + when(l.endsWith("..."), 1L).otherwise(0L))
    val alphaCnt = aggregate(ws, lit(0L), (a, w) =>
      a + when(w.rlike("[A-Za-z]"), 1L).otherwise(0L))
    val stopCnt = aggregate(ws, lit(0L), (a, w) =>
      a + when(w.isin(Stopwords: _*), 1L).otherwise(0L))
    def flag(c: org.apache.spark.sql.Column) = when(c, 1L).otherwise(0L)
    docs.select(col("doc_id"), n.as("n_words"),
        flag(n >= 50L && n <= 100000L).as("ok_word_count"),
        flag(meanLenPpm >= 3000000L && meanLenPpm <= 10000000L)
          .as("ok_word_len"),
        flag(symPpm <= 100000L).as("ok_symbol"),
        flag(floor(lit(1000000.0) * bulletCnt / nLines) <= 900000L)
          .as("ok_bullet"),
        flag(floor(lit(1000000.0) * ellEndCnt / nLines) <= 300000L)
          .as("ok_ellipsis"),
        flag(floor(lit(1000000.0) * alphaCnt / nG) >= 800000L)
          .as("ok_alpha"),
        flag(stopCnt >= 2L).as("ok_stop"))
      .withColumn("pass",
        flag(col("ok_word_count") + col("ok_word_len") + col("ok_symbol") +
          col("ok_bullet") + col("ok_ellipsis") + col("ok_alpha") +
          col("ok_stop") === 7L))
      .orderBy("doc_id")
  }

  /** Gopher-rule ablation report (r6): per rule, how many documents
    * fail it at all (n_fail) and how many it UNIQUELY kills
    * (n_fail_only — documents failing no other rule). The unique-kill
    * column is the ablation signal rule batteries are tuned by: a
    * rule with high n_fail but zero n_fail_only is redundant with
    * the rest of the battery and can be dropped without changing the
    * kept set. ONE conditional-sum aggregate over [[gopherRules]]'s
    * row-local flags (14 counters in one pass — the
    * [[graft.operators.Profile.expectations]] shape), stacked to one
    * row per rule. */
  def gopherAblation(docs: DataFrame): DataFrame = {
    val rules = Seq("ok_word_count", "ok_word_len", "ok_symbol",
      "ok_bullet", "ok_ellipsis", "ok_alpha", "ok_stop")
    val flags = gopherRules(docs)
    val nFails = rules.map(r => (lit(1L) - col(r)))
      .reduce(_ + _)
    val aggs = rules.flatMap { r =>
      Seq(sum(lit(1L) - col(r)).as(s"f_$r"),
        sum(when(col(r) === 0L && nFails === 1L, 1L).otherwise(0L))
          .as(s"o_$r"))
    }
    val one = flags.agg(aggs.head, aggs.tail: _*)
    val stackArgs = rules.map(r => s"'$r', f_$r, o_$r").mkString(", ")
    one.selectExpr(
        s"stack(${rules.size}, $stackArgs) AS (rule, n_fail, n_fail_only)")
      .orderBy("rule")
  }

  /** C4-style LINE-level cleaning battery (r6 — Raffel et al. 2020,
    * arXiv:1910.10683 §2.2, the other canonical web-cleanup rule set
    * beside [[gopherRules]]'s doc-level battery): C4 cleans INSIDE the
    * page before deciding on it — a line survives iff it ends in a
    * terminal punctuation mark ('.', '!', '?', '"') and carries ≥ 3
    * words; the page survives iff its CLEANED text still has ≥ 5
    * sentence terminators and the raw text shows neither "lorem ipsum"
    * (boilerplate filler) nor '{' (leaked code). Emits the kept-line
    * counts, the cleaned-text length, and md5 of the cleaned text
    * itself — the hash pins WHICH lines survived byte-for-byte, so a
    * keep-rule bug cannot hide behind matching counts. (C4's
    * three-sentence-span dedup is [[graft.operators.Dedup.substringDedup]];
    * its word-blocklist is deliberately out of scope.) Entirely
    * row-local higher-order functions over the line array — one
    * projection, zero shuffles, free-riding on the scan at 100 TB. */
  def c4Rules(docs: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n")
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]$") && size(split(l, " ")) >= 3)
    val cleaned = concat_ws("\n", kept)
    val sentences = (length(cleaned) -
      length(translateTerminators(cleaned))).cast("long")
    def flag(c: org.apache.spark.sql.Column) = when(c, 1L).otherwise(0L)
    docs.select(col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"),
        length(cleaned).cast("long").as("clean_chars"),
        sentences.as("n_sentences"),
        flag(lower(col("text")).contains("lorem ipsum")).as("has_lorem"),
        flag(col("text").contains("{")).as("has_brace"),
        md5(cleaned).as("clean_md5"))
      .withColumn("pass",
        flag(col("n_sentences") >= 5L && col("has_lorem") === 0L &&
          col("has_brace") === 0L))
      .orderBy("doc_id")
  }

  /** Delete every '.', '!', '?' (translate with empty mapping — one
    * codegen'd pass; the DuckDB oracle states the same deletion as
    * nested literal replaces, which is the identical function). */
  private def translateTerminators(c: org.apache.spark.sql.Column) =
    translate(c, ".!?", "")

  /** Per-language quantile quality gate: keep each language's top
    * (1 - keepAbovePpm/1e6) fraction by quality score — filtering on a
    * WITHIN-language percentile instead of a global absolute threshold
    * is what keeps low-resource languages from being wiped out by a
    * cutoff tuned on the dominant language. percent-rank is computed
    * from integers (row_number over (quality, doc_id), count) with ONE
    * final floor — portable. Scale: one shuffle on lang; at 100 TB a
    * per-lang sort of this width is fine (the sorted payload is 4
    * small columns, not the text), and the approx path (percentile
    * thresholds from approx_percentile, then a broadcast-joined
    * filter) slots into the same contract. */
  def qualityFilter(docs: DataFrame, keepAbovePpm: Long = 200000L): DataFrame = {
    val w = Window.partitionBy("lang")
    val rn = row_number().over(w.orderBy(col("quality_ppm").asc, col("doc_id").asc))
    val n = count(lit(1)).over(w)
    qualityFeatures(docs)
      .withColumn("pct_rank_ppm",
        floor(lit(1000000.0) * (rn - 1) / greatest(n - 1, lit(1)))
          .cast("long"))
      .where(col("pct_rank_ppm") >= keepAbovePpm)
      .select("doc_id", "lang", "quality_ppm", "pct_rank_ppm")
      .orderBy("doc_id")
  }

  /** Deterministic weighted mixture sampling: per-language keep rates
    * (ppm) — the data-mixing step that rebalances a web-scale corpus
    * toward a target language/domain mixture. Keep iff a salted hash
    * of the doc id falls under the language's rate: stable under
    * reruns, partitioning, and arrival order (rand() sampling is
    * none of those, and TABLESAMPLE is not per-group). Row-local,
    * zero shuffles — at 100 TB this is a free-riding filter on the
    * scan. */
  def sampleMix(docs: DataFrame,
                ratesPpm: Seq[(String, Long)] = Seq("en" -> 400000L, "de" -> 800000L),
                defaultPpm: Long = 1000000L): DataFrame = {
    val rate = ratesPpm.foldLeft(lit(defaultPpm)) { case (acc, (l, p)) =>
      when(col("lang") === l, lit(p)).otherwise(acc)
    }
    val u = PH.h31(concat(lit("mix:"), col("doc_id").cast("string"))) % 1000000L
    docs.select(col("doc_id"), col("lang"), u.as("u_ppm"), rate.as("rate_ppm"))
      .where(col("u_ppm") < col("rate_ppm"))
      .orderBy("doc_id")
  }

  /** Stratified EXACT-size sampling: exactly min(n, |group|) docs per
    * group, chosen by salted-hash order — "give me 10k docs per
    * language for the eval set" with rerun/order stability (reservoir
    * sampling is not deterministic under repartitioning; hash order
    * is). One shuffle on the group key; the per-group sort payload is
    * (hash, id), not the text. At extreme scale the same contract
    * runs as approximate-threshold-then-exact-trim. */
  def sampleStratified(docs: DataFrame, nPerGroup: Int = 50,
                       groupCol: String = "lang"): DataFrame = {
    val u = PH.h31(concat(lit("strat:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(groupCol)
      .orderBy(col("u").asc, col("doc_id").asc)
    docs.select(col("doc_id"), col(groupCol), u.as("u"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= nPerGroup)
      .select("doc_id", groupCol, "rk")
      .orderBy("doc_id")
  }

  /** HTML/boilerplate stripping: remove markup tags, collapse the
    * whitespace they leave behind, and count the removed tags — the
    * first pass over any web-crawled corpus. Row-local codegen'd
    * regexes (the `<[^>]*>` / ` +` subset has identical semantics in
    * Java regex and RE2). The declared query derives a deterministic
    * HTML-wrapped input since the corpus itself is plain text; the
    * operator takes any string column. */
  /** Unicode canonicalization (NFC): fold combining sequences to
    * precomposed forms BEFORE any hashing/dedup/fingerprint pass —
    * "café" spelled e+U+0301 and é are byte-different to every hash in
    * this engine while being visually identical, so an un-normalized
    * corpus silently under-dedupes. Row-local native expression
    * (functions.NfcNormalize, codegen'd, with the Normalizer
    * quick-check fast path so already-NFC text pays one scan and zero
    * allocation); n_raw/n_norm expose the codepoint delta as the
    * mojibake signal. */
  def nfcNormalize(df: DataFrame, textCol: String): DataFrame =
    df.select(col("doc_id"),
      length(col(textCol)).cast("long").as("n_raw"),
      length(graft.functions.textNative.nfc_normalize(col(textCol)))
        .cast("long").as("n_norm"),
      graft.functions.textNative.nfc_normalize(col(textCol)).as("norm"))

  def htmlStrip(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_tags",
        regexp_count(col(textCol), lit("<[^>]*>")).cast("long"))
      .withColumn("stripped",
        trim(regexp_replace(regexp_replace(col(textCol), "<[^>]*>", " "),
          " +", " ")))

  /** Corpus-trained character-trigram language ID (Cavnar–Trenkle
    * style, document-frequency variant): per-language profiles = top
    * `profileN` trigrams by document frequency (ties broken by
    * trigram text); a document's score for a language = |doc's
    * distinct trigrams ∩ profile|; prediction = argmax score (ties
    * broken by language code). The profile table is tiny (|langs| ×
    * profileN) → broadcast join back to the corpus. */
  def langId(docs: DataFrame, profileN: Int = 20): DataFrame =
    langIdCore(docs, profileN).orderBy("doc_id")

  /** [[langId]] without the presentation sort — consumers that join
    * or re-aggregate (e.g. [[langIdConfusion]]) skip the wasted
    * corpus-wide ordering. */
  private def langIdCore(docs: DataFrame, profileN: Int): DataFrame = {
    // FIT: per-language top-N trigram profiles by document frequency.
    // The model is tiny (|langs| × profileN strings) so it is
    // collected and re-broadcast as literals — at 100 TB this pass is
    // one shuffle of (lang, trigram) partial counts.
    val spreadDocs = Partitioning.spread(docs)
    val counts = spreadDocs
      .select(col("lang"), explode(TextOps.charTrigrams(col("text"))).as("tg"))
      .groupBy("lang", "tg").agg(count(lit(1)).as("c"))
    val profRank = Window.partitionBy("lang")
      .orderBy(col("c").desc, col("tg").asc)
    val profiles: Seq[(String, Seq[String])] = counts
      .withColumn("r", row_number().over(profRank))
      .where(col("r") <= profileN)
      .select("lang", "tg").collect()
      .groupBy(_.getString(0)).map { case (l, rs) =>
        l -> rs.map(_.getString(1)).toSeq
      }.toSeq.sortBy(_._1)
    // TRANSFORM: score every doc against every profile ROW-LOCALLY
    // (array_intersect vs literal arrays — no explode, no join, no
    // shuffle). argmax via array_sort on (-score, lang) structs:
    // score desc, lang asc — same tiebreak as the oracle's window.
    val scoreStructs = profiles.map { case (l, tgs) =>
      val s = size(array_intersect(col("tgs"), typedLit(tgs))).cast("long")
      struct((-s).as("neg"), lit(l).as("plang"), s.as("score"))
    }
    val best = element_at(array_sort(array(scoreStructs: _*)), 1)
    spreadDocs
      // Bind the trigram array via a Generate node (explode of a
      // 1-element array): a plain alias would be re-inlined into the
      // score>0 filter by PushDownPredicates + CollapseProject —
      // measured 10× re-computation of the trigram build per row.
      // Filters cannot push below a Generate's own output, so `tgs`
      // is evaluated exactly once per row here.
      .select(col("doc_id"),
        explode(array(TextOps.charTrigrams(col("text")))).as("tgs"))
      .select(col("doc_id"), best.getField("plang").as("pred_lang"),
        best.getField("score").as("score"))
      .where(col("score") > 0)
  }

  /** Language-ID confusion matrix (r7 continuation): the eval
    * harness for [[langId]] — per (true label, prediction): count,
    * row share in integer ppm of the true-language total, and the
    * diagonal flag. The quality-eval query a curation pipeline runs
    * whenever the classifier (or the corpus mix) changes; off-diagonal
    * hot cells name WHICH confusion is eating accuracy.
    * Shape: prediction is [[langIdCore]]'s row-local scoring (no
    * presentation sort), the label join is doc-keyed (co-partitioned
    * with the corpus), the matrix is |langs|²-bounded so the row-total
    * window is trivial. */
  def langIdConfusion(docs: DataFrame): DataFrame = {
    val pred = langIdCore(docs, 20).select("doc_id", "pred_lang")
    docs.select(col("doc_id"), col("lang").as("true_lang"))
      .join(pred, "doc_id")
      .groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
      .withColumn("tn", sum("n").over(Window.partitionBy("true_lang")))
      .select(col("true_lang"), col("pred_lang"), col("n"),
        expr("(n * 1000000) div tn").as("row_ppm"),
        when(col("true_lang") === col("pred_lang"), 1L)
          .otherwise(0L).as("is_correct"))
      .orderBy("true_lang", "pred_lang")
  }

  /** Deterministic train/val/test assignment: bucket = h31 of the
    * doc id (SALTED string form so the split is independent of any
    * other hash use) mod 100 → <80 train, <90 val, else test.
    * Hash-based splits are the production-correct primitive: stable
    * under reruns, joins, and data arrival order — rand() splits are
    * none of those. Row-local, zero shuffles. */
  def datasetSplit(docs: DataFrame, trainPct: Int = 80,
                   valPct: Int = 10): DataFrame = {
    val bucket = PH.h31(concat(lit("split:"), col("doc_id").cast("string"))) % 100
    docs.select(col("doc_id"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
      .select("doc_id", "bucket", "split")
      .orderBy("doc_id")
  }

  /** Sequential token packing: assign docs (in doc_id order) to
    * shards of ~`shardTokens` whitespace tokens — the context-window
    * packing step of a training pipeline. shard = floor(cumulative
    * tokens BEFORE this doc / budget), via a running-window sum.
    * NOTE the deliberate scale tradeoff: a global ORDER BY doc_id
    * window is a single-partition sort; at 100 TB you partition the
    * window by a shard-group key (e.g. lang or date) and pack within
    * partitions — same expression, partitioned window. */
  def tokenPack(docs: DataFrame, shardTokens: Long = 4096L): DataFrame = {
    val nTok = size(TextOps.words(col("text"))).cast("long")
    // weak-by-design anchor (unpartitioned running-sum window — the
    // WindowExec single-partition warning in the Verify log): kept
    // as the oracle-pinned sequential-packing anchor; the 100 TB
    // scale twin is [[tokenPackBy]] / tx_pack_bylang (same
    // expression over a partitioned window).
    val before = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), nTok.as("n_tokens"))
      .withColumn("shard_id",
        floor(coalesce(sum(col("n_tokens")).over(before), lit(0L))
          / shardTokens).cast("long"))
      .orderBy("doc_id")
  }

  /** Partitioned token packing — the 100 TB shape of [[tokenPack]]:
    * the running-sum window is PARTITIONED by a shard-group key (lang,
    * date, source …), so packing is one shuffle on the key with
    * per-group sorts that each fit an executor, instead of a global
    * single-partition sort. Shard ids are therefore scoped per group:
    * (group, shard_id) is the shard key a downstream writer consumes
    * (partitionBy(group, shard_id) → one training file per shard). */
  def tokenPackBy(docs: DataFrame, groupCol: String,
                  shardTokens: Long = 4096L): DataFrame = {
    val nTok = size(TextOps.words(col("text"))).cast("long")
    val before = Window.partitionBy(groupCol).orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), col(groupCol), nTok.as("n_tokens"))
      .withColumn("shard_id",
        floor(coalesce(sum(col("n_tokens")).over(before), lit(0L))
          / shardTokens).cast("long"))
      .orderBy(groupCol, "doc_id")
  }

  /** Repetition detection (Gopher-style quality signal): how much of
    * a document is its single most-repeated word n-gram, and how
    * diverse its n-grams are overall. High top_ratio/low
    * distinct_ratio = boilerplate/looping text — a standard
    * pre-training drop signal. Shape: explode ALL n-gram occurrences
    * (multiplicity preserved — distinct shingles would erase the
    * evidence) → (doc, gram) hash-agg → per-doc hash-agg; both
    * aggregates partial/map-side combinable, so the shuffled volume is
    * bounded by distinct grams, not occurrences. Docs with < n words
    * have no n-grams and drop out (same on both engines). */
  def repetition(docs: DataFrame, n: Int = 2): DataFrame = {
    val grams = Partitioning.spread(docs).select(col("doc_id"),
      explode(TextOps.wordShinglesAll(col("text"), n)).as("g"))
    grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_grams"), max("c").as("top_n"),
        count(lit(1)).as("n_distinct"))
      .select(col("doc_id"), col("n_grams"), col("top_n"),
        floor(lit(1000000.0) * col("top_n") / col("n_grams"))
          .cast("long").as("top_ratio_ppm"),
        floor(lit(1000000.0) * col("n_distinct") / col("n_grams"))
          .cast("long").as("distinct_ratio_ppm"))
      .orderBy("doc_id")
  }

  /** Corpus-wide top-k term OCCURRENCES via the Misra–Gries
    * heavy-hitters aggregate ([[graft.functions.MisraGriesTopK]]) —
    * the bounded-memory alternative to [[topTerms]]'s word-keyed
    * count: partials are `capacity`-counter summaries that merge
    * associatively, so nothing vocabulary-sized ever shuffles. Exact
    * whenever the observed vocabulary fits `capacity` (this corpus:
    * 31 distinct tokens ≪ 256 — the declared query hash-matches the
    * exact oracle); under overflow the spec pins the
    * N/(capacity+1) error bound instead. */
  def topTermsSketch(docs: DataFrame, capacity: Int = 256,
                     k: Int = 25): DataFrame =
    Partitioning.spread(docs)
      .select(explode(TextOps.words(col("text"))).as("w"))
      .agg(graft.functions.sketchNative.mg_topk(col("w"), capacity, k)
        .as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.term").as("term"), col("e.est").as("n"))
      .orderBy(col("n").desc, col("term"))

  /** Corpus-statistics quality signal (the integer-exact form of the
    * unigram-LM familiarity score): per doc, the fraction of tokens
    * whose corpus document frequency is ≥ `minDf`, and the mean df of
    * its tokens in ppm of corpus size. Low familiarity flags OCR
    * garbage, codified text, and off-distribution content — the
    * classic cheap quality gate before an expensive model-based one.
    *
    * Scale design (r5 — the r4 form shuffled the FULL token stream on
    * the word key, the textbook Zipf hot-key: every "the" occurrence
    * landed on one reducer key): ONE corpus scan builds the
    * (doc, word, tf) table — its aggregate keys on (doc_id, word), so
    * hot words spread across docs and nothing is skewed — and that
    * checkpointed table feeds everything else: the df count (word-
    * keyed but map-side count-combined, so each partition emits at
    * most one row per word), the corpus size (distinct doc_id over the
    * checkpoint, NOT a second lake scan), and the scoring join. The df
    * table is cut to df ≥ minDf BEFORE the join and BROADCAST, so the
    * corpus side never exchanges for it; a word outside the cut table
    * contributes df = 1 to the mean (the floor of its true df, which
    * the cut made unknowable — and which is < minDf, so the clamp
    * error per token is < minDf/nDocs ppm). familiar_ppm is EXACT:
    * membership in the cut table ⟺ df ≥ minDf. All ratios are single
    * divisions of exact integers (ppm floor — sums stay below 2^53 at
    * any SF where nDocs × tokens fits a task, and the mean-df
    * numerator is bounded by n_tokens × nDocs). */
  def wordFamiliarity(docs: DataFrame, minDf: Long = 3L): DataFrame = {
    val tf = Partitioning.spread(docs)
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    // corpus size = docs contributing tokens, read from the SAME
    // materialization (explode drops only null-text rows)
    val nDocs = tf.select("doc_id").distinct().count()
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
    tf.join(broadcast(df), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        sum(when(col("df").isNotNull, col("tf")).otherwise(0L)).as("n_familiar"),
        sum(col("tf") * coalesce(col("df"), lit(1L))).as("sum_df"))
      .select(col("doc_id"), col("n_tokens"),
        floor(lit(1000000.0) * col("n_familiar") / col("n_tokens"))
          .cast("long").as("familiar_ppm"),
        floor((lit(1000000.0) * col("sum_df")) / (col("n_tokens") * lit(nDocs)))
          .cast("long").as("mean_df_ppm"))
      .orderBy("doc_id")
  }

  /** Literal public-suffix subset (r6): the most common multi-label
    * registrable-domain suffixes, embedded as a plan literal — the
    * same model-as-literal pattern as the langId profiles. A host
    * ending in one of these keeps THREE labels as its registrable
    * domain (`shop.example.co.uk` → `example.co.uk`); otherwise the
    * last two; a dotless host (intranet names) falls back to itself.
    * The full PSL is ~9k rules; this subset covers the high-traffic
    * ccTLD second-level registries, and the fallback is the old
    * last-two-labels rule — never worse than r5. Shared with the
    * DuckDB oracle generator so both engines state the SAME table. */
  val publicSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "co.nz", "net.nz", "org.nz",
    "co.in", "net.in", "org.in", "ac.in",
    "com.br", "net.br", "org.br",
    "com.cn", "net.cn", "org.cn",
    "com.mx", "com.ar", "com.tr", "com.sg", "com.hk", "com.tw",
    "co.kr", "co.za", "com.co")

  /** URL normalization + decomposition (r5; r6 hardening — the
    * web-pipeline staple: dedup and per-domain quality need canonical
    * URLs): lowercase scheme/host, strip `user:pw@` userinfo and the
    * `:port` from the host (port kept as its own column and in the
    * canonical form — a non-default port is routing-significant;
    * credentials are not), extract the registrable domain via the
    * [[publicSuffixes]] table (three labels on a listed ccTLD suffix,
    * else last two, else the bare dotless host), drop the fragment
    * and every `utm_*` tracking parameter, reassemble the canonical
    * form. Row-local codegen'd regex + array HOFs in the
    * Java/RE2-identical subset (same discipline as [[piiScrub]]) —
    * zero shuffles; the per-domain rollup downstream is one
    * partial-combinable aggregate. (IPv6 bracket authorities are out
    * of scope for the port strip — crawl URLs are hostname-form.) */
  def urlParts(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    // authority = userinfo@host:port; both regexp_replaces are
    // anchored so first-match (DuckDB) and all-match (Spark)
    // replacement semantics coincide
    val authority =
      regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    val host = lower(regexp_replace(
      regexp_replace(authority, "^[^@/]*@", ""), ":[0-9]+$", ""))
    val port = regexp_extract(authority, ":([0-9]+)$", 1)
    val path = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    val qs = regexp_extract(u, "\\?([^#]*)", 1)
    val kept = filter(split(qs, "&"),
      p => !(p.startsWith("utm_") || p === ""))
    val keptQs = array_join(kept, "&")
    val onListedSuffix = publicSuffixes
      .map(sfx => host.endsWith("." + sfx)).reduce(_ || _)
    val domain =
      when(onListedSuffix, regexp_extract(host, "([^.]+\\.[^.]+\\.[^.]+)$", 1))
        .when(host.contains("."), regexp_extract(host, "([^.]+\\.[^.]+)$", 1))
        .otherwise(host)
    df.withColumn("scheme", scheme)
      .withColumn("host", host)
      .withColumn("port", port)
      .withColumn("domain", domain)
      .withColumn("path", path)
      .withColumn("norm_url", concat(scheme, lit("://"), host,
        when(length(port) > 0, concat(lit(":"), port)).otherwise(lit("")),
        path,
        when(length(keptQs) > 0, concat(lit("?"), keptQs))
          .otherwise(lit(""))))
  }

  /** Temperature-based mixture resampling (r5): per-language keep
    * rate (n_min / n_l)^(1−α) with α = 0.5 pinned — i.e.
    * √(n_min/n_l) — so the SMALLEST language keeps everything and
    * dominant languages are downsampled toward a flatter mix (the
    * standard multilingual-pretraining rebalance; α = 1 is natural
    * proportions, α → 0 is uniform). Unlike [[sampleMix]]'s literal
    * per-language rates, the rates here are DERIVED FROM THE CORPUS:
    * one tiny lang-count aggregate (the fit), broadcast back, then
    * the same deterministic salted-hash keep rule (rerun/retry-stable
    * where rand() is not). α = 0.5 is pinned because √ is the one
    * bit-portable power (IEEE sqrt; pow(x, y) is not cross-engine
    * bit-stable). */
  def sampleTemperature(docs: DataFrame): DataFrame = {
    // n_min rides the same broadcast frame as the per-lang counts
    // (an unpartitioned min window over the k-row lang table) — one
    // Spark job end-to-end instead of a separate head() action for
    // the scalar (r6, VERDICT r5 minor #2)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
      .withColumn("n_min",
        min("n_l").over(org.apache.spark.sql.expressions.Window
          .partitionBy()))
    docs.join(broadcast(counts), "lang")
      .withColumn("rate_ppm",
        floor(lit(1000000.0) *
          sqrt(col("n_min").cast("double") / col("n_l"))).cast("long"))
      .where(pmod(PH.h31(concat(lit("temp:"), col("doc_id").cast("string"))),
        lit(1000000L)) < col("rate_ppm"))
      .select("doc_id", "lang", "rate_ppm")
      .orderBy("doc_id")
  }

  /** PII scrubbing: redact emails/phone numbers with typed
    * placeholders and count the redactions — the compliance pass every
    * training corpus needs. Row-local codegen'd regexes (no UDF); the
    * patterns deliberately use the regex subset with identical
    * semantics in Java regex (Spark) and RE2 (DuckDB oracle). The
    * corpus text carries no PII, so the declared query derives a
    * deterministic input embedding synthetic contacts for a subset of
    * docs (ExtQueries) — the operator itself takes any string column. */
  def piiScrub(df: DataFrame, textCol: String): DataFrame = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phone = "\\+1-[0-9]{3}-[0-9]{4}"
    df.withColumn("n_emails", regexp_count(col(textCol), lit(email)).cast("long"))
      .withColumn("n_phones", regexp_count(col(textCol), lit(phone)).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col(textCol), email, "<EMAIL>"),
          phone, "<PHONE>"))
  }

  /** Corpus-level top-k terms by document frequency (stopword /
    * boilerplate discovery). Plan shape matters: ORDER BY + LIMIT k
    * compiles to TakeOrderedAndProject — each partition keeps a k-heap
    * and the driver merges k·partitions rows, so there is NO global
    * sort shuffle; the only shuffle is the partial-combined term
    * count. */
  def topTerms(docs: DataFrame, k: Int = 50): DataFrame =
    Partitioning.spread(docs).select(
        explode(array_distinct(TextOps.words(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(k)

  /** Per-document top-k terms by TF-IDF — keyword extraction /
    * topical-term surfacing. IDF uses the integer-exact inverse
    * document-frequency ratio floor(1e6 * N / df) rather than its log
    * (log is not bit-portable across engines; the RANKING a top-k
    * consumer sees is what matters and df-monotone transforms rank
    * identically within a document at equal tf). Shape: (doc, term)
    * tf hash-agg → df hash-agg (both partial-combinable) → join tf
    * back to df on term → per-doc top-k window. N (corpus size) is a
    * one-number fit collect, like langId's profile model. Scale: the
    * df join shuffles on term — at 100 TB the df table (vocabulary) is
    * Zipf-bounded and far smaller than the corpus, and a broadcast of
    * the top-vocabulary plus a residual join is the standard refine. */
  def tfidf(docs: DataFrame, k: Int = 3): DataFrame = {
    val nDocs = docs.count()
    // tf feeds BOTH the df aggregate and the scoring join — two plan
    // references; materialize once so the corpus scan + explode + agg
    // run once, not twice over 100 TB
    val tf = Partitioning.spread(docs)
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = floor(lit(1000000.0) * nDocs / col("df")).cast("long")
    val scored = tf.join(broadcast(dfreq), "term")
      .select(col("doc_id"), col("term"), col("tf"), idf.as("idf_ppm"),
        (col("tf") * idf).as("tfidf"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("doc_id", "rank", "term", "tf", "idf_ppm", "tfidf")
      .orderBy("doc_id", "rank")
  }

  /** Fixed-window document chunking with stride — split long docs
    * into ≤ chunkTokens-token windows every `stride` tokens (stride <
    * chunkTokens gives overlapping context windows, the standard
    * long-document preprocessing for a bounded-context model).
    * Row-local: explode over integer window starts, slice the word
    * array — no shuffle, chunk counts scale with tokens not docs.
    * Chunk ids are (doc_id, chunk_id) — stable under any partitioning. */
  def chunk(docs: DataFrame, chunkTokens: Int = 12,
            stride: Int = 8): DataFrame = {
    require(stride >= 1 && chunkTokens >= stride)
    val ws = TextOps.words(col("text"))
    // bind the word array once (Generate), THEN explode the window
    // starts: 1, 1+stride, … while start <= n (last window may be
    // short); one generator per select
    val starts = sequence(lit(1),
      greatest(size(col("ws")) - 1, lit(0)) + 1, lit(stride))
    docs.select(col("doc_id"), explode(array(ws)).as("ws"))
      .select(col("doc_id"), col("ws"), posexplode(starts))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("chunk_id"),
        col("col").cast("long").as("start_tok"),
        array_join(slice(col("ws"), col("col"), lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(size(col("ws")) - col("col") + 1, lit(chunkTokens))
          .cast("long").as("n_tokens"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Content-defined chunking (r6): a token ENDS its chunk when
    * h31('cdc:' || token) mod 16 == 0 — the boundary depends only on
    * local content, never on position, so an insertion early in a
    * document shifts NO later chunk boundaries. That shift-invariance
    * is the whole point (Muthitacharoen et al. SOSP'01, LBFS): under
    * [[chunk]]'s fixed windows one prepended sentence re-frames every
    * downstream chunk and defeats chunk-level dedup; under CDC all
    * chunks after the edit re-align. Expected chunk ≈ 16 tokens from
    * the mask. Emits (doc_id, chunk_id, n_tokens, chunk_md5) — the
    * md5 is over the space-joined token run, so chunk-content equality
    * across docs is joinable on the hash ([[graft.operators.Dedup]]
    * composes from there). Shape: posexplode (row-local fan-out,
    * linear), then ONE exchange on doc_id serving BOTH the prefix-sum
    * window and the (doc_id, chunk_id) aggregate — hash-partitioning
    * on doc_id satisfies the grouping distribution, so no second
    * shuffle. At 100 TB chunk state never exceeds the token stream. */
  def cdcChunk(docs: DataFrame): DataFrame =
    cdcChunksRaw(docs).orderBy("doc_id", "chunk_id")

  /** [[cdcChunk]] without the deterministic output sort — the form
    * downstream operators ([[graft.operators.Dedup.cdcDedup]]) compose
    * on, so the chunk stream flows straight into their shuffle instead
    * of through a pointless global sort. */
  def cdcChunksRaw(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      posexplode(TextOps.words(col("text"))).as(Seq("pos", "w")))
    val flag = when(graft.functions.PortableHash
      .h31(concat(lit("cdc:"), col("w"))) % 16L === 0L, 1L).otherwise(0L)
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    // boundary token ends its chunk: id = boundaries strictly before
    val chunkId = coalesce(
      sum(flag).over(wd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    tok.select(col("doc_id"), col("pos"), col("w"), chunkId.as("chunk_id"))
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          s => s.getField("w")), " ")).as("chunk_md5"))
  }

  /** Compression-ratio quality signal: DEFLATE size / original size
    * in ppm — repetitive or boilerplate text compresses far below
    * natural text, a cheap row-local drop heuristic that needs no
    * model. Native codegen'd expression; engine-specific bytes → the
    * declared query uses the x_ rows-only check. */
  def compressRatio(docs: DataFrame, level: Int = 6): DataFrame =
    docs.select(col("doc_id"),
        length(col("text")).cast("long").as("orig_bytes"),
        graft.functions.textNative.deflate_size(col("text"), level)
          .as("deflate_bytes"))
      .withColumn("ratio_ppm",
        floor(lit(1000000.0) * col("deflate_bytes")
          / greatest(col("orig_bytes"), lit(1L))).cast("long"))
      .orderBy("doc_id")

  /** Document fingerprint: order-sensitive rolling polynomial hash
    * over the word sequence, h = fold(h*B + h31(w) mod P31), a
    * row-local sequential fold (aggregate HOF) — the classic
    * content-defined fingerprint, exact in both engines. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        aggregate(TextOps.words(col("text")), lit(0L),
          (h, w) => (h * PH.FpBase + PH.h31(w)) % PH.P31)
          .as("fingerprint"))
      .orderBy("doc_id")

  /** Bigram-LM quality score (r6 — the CCNet/KenLM-style "does a
    * corpus LM like this document" signal, integer-exact): fit
    * bigram context/continuation counts over the corpus itself, cut
    * bigrams below `minCount` (the model-pruning step that makes the
    * artifact bounded — rare bigrams score 0, the OOV convention),
    * then score every document by the mean conditional probability
    * floor(c(w1,w2)·10⁶ / c(w1·)) of its bigrams.
    *
    * Scale shape: the fit is one groupBy over the exploded bigram
    * stream — Zipf keys are safe under partial (map-side) aggregation
    * because hot keys collapse per-partition before the exchange (the
    * [[wordFamiliarity]] lesson: aggs tolerate skew, joins do not).
    * The score join broadcasts the PRUNED model — after a min-count
    * cut the bigram table is the bounded artifact a production KenLM
    * is (CCNet ships ~GBs); the token stream itself never exchanges
    * on a word key. */
  def ngramLm(docs: DataFrame, minCount: Long = 2L): DataFrame =
    ngramLmRaw(docs, minCount).orderBy("doc_id")

  /** [[ngramLm]] without the deterministic output sort, for
    * composition ([[lmBuckets]] re-partitions by lang anyway). */
  def ngramLmRaw(docs: DataFrame, minCount: Long = 2L): DataFrame = {
    // spread before the bigram explode (r17 — r16's comment described
    // this but the call never landed): `pairs` feeds THREE aggregate
    // branches (c12, c1, the scoring join), each replaying the
    // tokenize+explode — on the bench parquet's single scan partition
    // all three replays ran single-threaded (Probe jobs: 3 × ~0.4 s
    // one-task jobs in tx_lm_buckets). No-op on well-split input; the
    // corpus-sized pairs stream itself stays un-materialized by
    // design (rescans are storage-parallel).
    // Bigrams via the slice/zip_with shape, NOT an indexed lambda
    // (r16): higher-order lambdas are interpreted, and
    // transform(sequence(…), i -> struct(w[i], w[i+1])) pays the
    // per-element dispatch twice per bigram — the same trap
    // TextOps.wordShinglesHof documents (~10× there). The two
    // shifted slices are plain array reads; the word array is
    // Generate-BOUND so project-collapse cannot re-inline the
    // split() into each slice reference.
    val pairs = graft.functions.Partitioning.spread(docs)
      .select(col("doc_id"),
        explode(array(TextOps.words(col("text")))).as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val c12 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
    val model = c12.where(col("c12") >= minCount)
      .join(c1, "w1")
      .select(col("w1"), col("w2"),
        expr("c12 * 1000000 DIV c1").as("ppm"))
    val scored = pairs
      .join(broadcast(model), Seq("w1", "w2"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("ppm"), lit(0L))).as("sum_ppm"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(expr("sum_ppm DIV n_bigrams"), lit(0L)).as("lm_ppm"))
  }

  /** CCNet-style LM-score bucketing (r6 — Wenzek et al. 2020 §4.3:
    * split each LANGUAGE into head / middle / tail by corpus-LM
    * score tertiles, then train on head+middle or reweight — the
    * perplexity-bucket curation every CommonCrawl pipeline inherits).
    * Here the score is [[ngramLm]]'s integer bigram score (higher =
    * more corpus-like, so head = TOP tertile; CCNet's perplexity is
    * the inverted scale). Tertile = ⌊3·(rank−1)/n⌋ from integer
    * row_number over (lm_ppm, doc_id) WITHIN language — nearest-rank
    * integer math like [[qualityFilter]], portable; per-language
    * bucketing keeps a low-resource language from being wiped out by
    * the dominant language's score distribution (the same argument as
    * the within-language quantile gate). One lang-partitioned window
    * after the broadcast-model scoring; the approx-threshold swap
    * (percentile_approx on lm_ppm, broadcast the 2 cut points) is the
    * documented giant-language path. */
  def lmBuckets(docs: DataFrame, minCount: Long = 2L): DataFrame = {
    val sc = ngramLmRaw(docs, minCount).select(col("doc_id"), col("lm_ppm"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val w = Window.partitionBy("lang")
    val rn = row_number()
      .over(w.orderBy(col("lm_ppm").asc, col("doc_id").asc))
    val n = count(lit(1)).over(w)
    sc.withColumn("rn", rn.cast("long"))
      .withColumn("nl", n)
      .withColumn("bucket",
        when(expr("(rn - 1) * 3 DIV nl") === 0L, "tail")
          .when(expr("(rn - 1) * 3 DIV nl") === 1L, "middle")
          .otherwise("head"))
      .select(col("doc_id"), col("lang"), col("lm_ppm"), col("bucket"))
      .orderBy("doc_id")
  }

  /** Integer Flesch reading-ease (r6): 206.835 − 1.015·(words/
    * sentences) − 84.6·(syllables/words), in milli-points with each
    * ratio floored independently — exact integer arithmetic in both
    * engines. Syllables ≈ vowel-group count (the standard
    * dictionary-free proxy), sentences ≈ terminator count, both
    * clamped to ≥1. Row-local, codegen'd regexes, zero shuffle. */
  def readability(docs: DataFrame): DataFrame = {
    val words = greatest(size(TextOps.words(col("text"))), lit(1))
      .cast("long")
    val sentences = greatest(
      regexp_count(col("text"), lit("[.!?]")), lit(1)).cast("long")
    val syllables = greatest(
      regexp_count(lower(col("text")), lit("[aeiou]+")), lit(1))
      .cast("long")
    docs.select(col("doc_id"), words.as("n_words"),
        sentences.as("n_sentences"), syllables.as("n_syllables"))
      .withColumn("flesch_milli",
        lit(206835L) - expr("1015 * n_words DIV n_sentences")
          - expr("84600 * n_syllables DIV n_words"))
      .orderBy("doc_id")
  }

  /** Fixture phrases for [[mojibake]] — clean UTF-8 with non-ASCII
    * chars across the interesting ranges: Latin-1 accents, a char
    * above U+00FF (œ), and punctuation whose UTF-8 bytes land on C1
    * controls when misread as Latin-1 (curly quotes, em-dash). No
    * ASCII apostrophes (keeps the oracle SQL literal-safe). */
  val MojibakePhrases: Seq[String] = Seq(
    "café récit déjà vu", "naïve façade garçon", "über größe weiß",
    "mañana niño señor", "smörgåsbord på åre", "crème brûlée entrée",
    "cœur élève maîtrise", "typographie — “citée”")

  /** The UTF-8-bytes-read-as-Latin-1 corruption of each phrase —
    * computed, not hand-written, so operator and oracle share one
    * source of truth. */
  val MojibakeCorrupt: Seq[String] = MojibakePhrases.map(p =>
    new String(p.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.ISO_8859_1))

  /** ftfy-style encoding repair (r6): detect-and-invert UTF-8
    * mis-decoded as Latin-1 ([[graft.functions.TextNative.fixMojibake]]
    * — a native codegen'd expression, no digraph table, fail-closed
    * guards). Fixture: docs with doc_id % 7 != 0 get a corrupted
    * phrase appended (selected by doc_id % 8, corruption computed at
    * plan build); % 7 == 0 docs stay clean and must pass through
    * unchanged. The oracle pins the REPAIRED text (clean phrase
    * appended) by md5 + codepoint lengths — the repair must invert
    * the corruption exactly, byte for byte. Row-local projection,
    * zero shuffle, whole-stage codegen. */
  def mojibake(docs: DataFrame): DataFrame = {
    val corrupt = element_at(
      array(MojibakeCorrupt.map(lit): _*),
      (col("doc_id") % 8).cast("int") + 1)
    val input = when(col("doc_id") % 7 === 0, col("text"))
      .otherwise(concat(col("text"), lit(" "), corrupt))
    Partitioning.spread(docs)
      .select(col("doc_id"), input.as("input"))
      .select(col("doc_id"), col("input"),
        graft.functions.textNative.fix_mojibake(col("input")).as("fixed"))
      .select(col("doc_id"),
        when(col("fixed") =!= col("input"), 1L).otherwise(0L).as("changed"),
        length(col("input")).cast("long").as("len_in"),
        length(col("fixed")).cast("long").as("len_out"),
        md5(col("fixed").cast("binary")).as("out_md5"))
      .orderBy("doc_id")
  }

  /** The Harman S-stemmer CASE over one token `w` — shared verbatim
    * with the DuckDB oracle (suffix LIKE + substring are identical in
    * both dialects), so the two engines cannot state different rules:
    * "ies"→"y" (unless -eies/-aies), "es"→drop s (unless
    * -aes/-ees/-oes), "s"→drop (unless -us/-ss). */
  val SStemCaseSql: String =
    "CASE WHEN w LIKE '%eies' OR w LIKE '%aies' THEN w " +
      "WHEN w LIKE '%ies' THEN concat(substring(w, 1, length(w) - 3), 'y') " +
      "WHEN w LIKE '%aes' OR w LIKE '%ees' OR w LIKE '%oes' THEN w " +
      "WHEN w LIKE '%es' THEN substring(w, 1, length(w) - 1) " +
      "WHEN w LIKE '%us' OR w LIKE '%ss' THEN w " +
      "WHEN w LIKE '%s' THEN substring(w, 1, length(w) - 1) " +
      "ELSE w END"

  /** S-stemmer vocabulary fold (r6): the light plural stemmer
    * (Harman 1991, "How effective is suffixing?") IR pipelines run
    * before vocabulary statistics — three suffix rules, no dictionary,
    * far cheaper than Porter and nearly as effective on English
    * plurals. Per doc: token count, distinct-token count, distinct
    * count AFTER stemming (the vocabulary fold the stemmer buys), and
    * the min/max stem (pins actual stemmed CONTENT, not just counts —
    * a wrong rule shifts the extremes). Entirely row-local HOFs
    * (transform + array_distinct + array_min/max over the words
    * array): zero shuffles, the [[qualityScore]] shape. */
  def sStem(docs: DataFrame): DataFrame =
    Partitioning.spread(docs)
      .withColumn("ws", TextOps.words(col("text")))
      .withColumn("st", expr(s"transform(ws, w -> $SStemCaseSql)"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct"),
        size(array_distinct(col("st"))).cast("long").as("n_distinct_stem"),
        array_min(col("st")).as("min_stem"),
        array_max(col("st")).as("max_stem"))
      .orderBy("doc_id")

  /** Winnowing document fingerprints (r7 continuation): the MOSS
    * local fingerprinting algorithm (Schleimer–Wilkerson–Aiken
    * SIGMOD'03) — over the word k-gram hash sequence, slide a window
    * of `w` consecutive hashes and select the RIGHTMOST minimal hash
    * per window ("robust winnowing"); the distinct (position, hash)
    * pairs are the fingerprint set. Guarantees: any shared run of
    * w + k − 1 tokens between two documents shares a fingerprint
    * (unlike [[fingerprint]]'s global rolling hash or 0-mod-p
    * sampling, which have no detection floor), and selected positions
    * are never more than w apart (density bound 2/(w+1)).
    * Shorter-than-w docs select the rightmost min of what exists; the
    * checksum Σ fp·pos pins SELECTION (a leftmost-tie or off-by-one
    * window slip fails it, not just the set size). Entirely row-local
    * HOFs over codegen'd built-ins — zero shuffles, the h31 hash is
    * bit-portable so the oracle restates the whole selection. */
  def winnow(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    winnowSelected(docs, k, w)
      .select(col("doc_id"),
        size(col("hv")).cast("long").as("n_grams"),
        size(col("sel")).cast("long").as("n_fp"),
        expr("aggregate(sel, CAST(0 AS BIGINT), " +
          "(a, p) -> a + (p % 2147483648) * (p div 2147483648))")
          .as("checksum"),
        expr("coalesce(array_min(transform(sel, p -> p % 2147483648)), -1)")
          .as("min_fp"),
        expr("coalesce(array_max(transform(sel, p -> p % 2147483648)), -1)")
          .as("max_fp"))
      .orderBy("doc_id")

  /** The winnowing SELECTION shared by [[winnow]] and
    * [[graft.operators.Dedup.winnowPairs]]: (doc_id, hv, sel) where
    * sel packs each selected (pos, fp) into ONE BIGINT (pos·2³¹ + fp,
    * fp < P31 < 2³¹) — DuckDB's list_distinct can't dedup STRUCT
    * elements, and the packed form distincts identically in both
    * engines. try_element_at: out-of-window index → NULL (= DuckDB's
    * hv[j]), never an ANSI error on the clamped tail window. */
  private[graft] def winnowSelected(docs: DataFrame, k: Int,
      w: Int): DataFrame =
    // native gram-hash + winnow kernels (r17, guide §4): the HOF form
    // ([[winnowSelectedHof]], kept as the executable spec and the
    // shape the DuckDB oracle restates) paid two slice allocations,
    // an interpreted filter and two array_mins PER WINDOW — ~15 s of
    // task CPU + ~1 s GC at sf0.1 (Probe jobs dd_winnow_pairs).
    // Bit-parity pinned in TextNativeSpec.
    Partitioning.spread(docs)
      .select(col("doc_id"),
        graft.functions.textNative
          .shingle_hashes(col("text"), k).as("hv"))
      .withColumn("sel",
        graft.functions.textNative.winnow_select(col("hv"), w))

  /** HOF executable specification of [[winnowSelected]] — asserted
    * equal to the native kernels in TextNativeSpec. */
  private[graft] def winnowSelectedHof(docs: DataFrame, k: Int,
      w: Int): DataFrame = {
    val hv = transform(TextOps.wordShinglesAll(col("text"), k),
      g => graft.functions.PortableHash.h31(g))
    Partitioning.spread(docs)
      .select(col("doc_id"), hv.as("hv"))
      .withColumn("sel", expr(
        s"filter(array_distinct(transform(sequence(1, greatest(size(hv) - ${w - 1}, 1)), i -> " +
          s"array_max(filter(sequence(i, i + ${w - 1}), " +
          s"j -> try_element_at(hv, j) = array_min(slice(hv, i, $w)))) " +
          s"* 2147483648 + array_min(slice(hv, i, $w)))), " +
          "p -> p IS NOT NULL)"))
  }

  /** N-gram novelty profile (r7 continuation): per document, how
    * many of its distinct word 3-grams appear in NO earlier document
    * (first-seen attribution by min doc_id — the deterministic stand-
    * in for crawl order). The dataset-analysis signal behind
    * memorization / contamination studies: a corpus whose late
    * documents contribute near-zero novel n-grams is re-crawl
    * boilerplate; the declared query is the batch form of the
    * incremental-ingest question "what does this batch ADD".
    * Shape: distinct shingles exploded (the [[graft.operators.Dedup]]
    * family's gram stream), first-seen = one gram-keyed min
    * aggregate, attribution joins BACK on the same gram key — the
    * join co-partitions with the aggregate so the gram stream
    * shuffles once; the per-doc rollup is partial-combinable. */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = Partitioning.spread(docs).select(col("doc_id"),
      explode(TextOps.wordShingles(col("text"), n)).as("sh"))
    val first = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
    sh.join(first, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("(n_novel * 1000000) div n_grams").as("novelty_ppm"))
      .orderBy("doc_id")
  }

  /** Corpus-level collocation mining (r7 continuation): top-k bigrams
    * by pointwise mutual information — the phrase-discovery pass that
    * decides which adjacent tokens a tokenizer or phrase-merger should
    * treat as one unit (Church–Hanks CL'90). PMI's log is not
    * bit-portable across engines, so the ranking uses the exact
    * integer MONOTONE transform of exp(PMI):
    *   score_ppm = (c_xy · 10⁶ · N) div (c_x · c_y)
    * — identical BIGINTs in both engines, exact while c_xy·N < 9·10¹²
    * (at 100 TB pre-scale counts, the [[graft.relational.RelQueries.hourlyAnomaly]]
    * discipline). The min-count filter (c_xy ≥ minPair) is the
    * standard guard against PMI's low-frequency pathology.
    *
    * Scale shape: bigram occurrences partial-agg to a vocab²-bounded
    * pair table; N derives from THAT table (one tiny agg, no second
    * corpus scan); unigram counts are a vocab-bounded aggregate that
    * BROADCASTS onto the pair table twice (w1, w2); top-k compiles to
    * TakeOrderedAndProject. The corpus is scanned once per aggregate
    * family — the pair and unigram scans are independent branches, and
    * the expensive one (pairs) shuffles only gram-keyed partials. */
  /** Trained multi-class source classifier (r11) with a
    * VOCABULARY-sized model — the scale shape [[qualityLpm]] (three
    * collected weights) deliberately cannot cover: the model here is
    * |vocab| × |classes| rows, so it NEVER reaches the driver. Fit
    * and application are both DataFrames; the model is applied to
    * the test split via a shuffle join on the token.
    *
    * Fit (train = doc_id % 5 != 0): weight(w, source) = ppm share of
    * token w's training occurrences that lie in `source` docs — a
    * Rocchio-style class-share vote (integer ppm floor-division, the
    * house no-floats rule; a log-likelihood NB would put an
    * engine-dependent `ln` under the oracle hash).
    *
    * Score (test = doc_id % 5 == 0): score(doc, source) =
    * Σ over token OCCURRENCES of weight(w, source); tokens absent
    * from the training vocabulary contribute 0 to every class
    * equally, so they cannot flip an argmax. The (doc × class) grid
    * comes from a broadcast of the tiny distinct-class dim (absent
    * scores read as 0 — a doc with no vocabulary hit still gets a
    * deterministic prediction); prediction = argmax with the pinned
    * (score desc, source asc) tie-break.
    *
    * Emits the confusion matrix (true_source, predicted_source,
    * n_docs) — class-count-bounded output at any corpus size. Scale
    * shape: two token-keyed hash aggs (map-side combinable) for the
    * fit, one token-keyed shuffle join + one doc-keyed agg for the
    * scoring, one broadcast of |classes| rows; no collect anywhere.
    * The corpus is deliberately RE-SCANNED per branch (fit / score /
    * test dim) rather than localCheckpoint-ing the exploded token
    * table: the token table is corpus-sized — caching it costs more
    * than the column-pruned scans it would save (the checkpoint-
    * vs-rescan rule the semDedup assignment applies in the OPPOSITE
    * direction, because there the cached side is model-bounded). */
  /** The classifier's FIT half. Returns (w, label, weight_ppm):
    * class-share ppm of each training token, one row per
    * (token, class). */
  def sourceModel(docs: DataFrame, fold: Int = 5): DataFrame = {
    val train = Partitioning.spread(docs)
      .where(pmod(col("doc_id"), lit(fold)) =!= 0)
      .select(col("source"), explode(TextOps.words(col("text"))).as("w"))
    // ONE corpus pass: the per-token total is the label-sum of the
    // per-(token, class) counts, so c_w reduces over the (vocab ×
    // classes)-sized cwl instead of re-scanning the corpus; cwl is
    // model-sized, so materializing it for its two plan references
    // (the checkpoint-vs-rescan rule, model-sized side) is cheap
    val cwl = train.groupBy("w", "source").agg(count(lit(1)).as("c_wl"))
      .localCheckpoint(true)
    val cw = cwl.groupBy("w").agg(sum("c_wl").as("c_w"))
    cwl.join(cw, "w")
      .select(col("w"), col("source").as("label"),
        expr("(c_wl * 1000000) div c_w").as("weight_ppm"))
  }

  def sourceClassifier(docs: DataFrame, fold: Int = 5): DataFrame = {
    val words = Partitioning.spread(docs).select(col("doc_id"),
      col("source"), explode(TextOps.words(col("text"))).as("w"))
    val model = sourceModel(docs, fold)
    val labels = model.select("label").distinct()
    val testDocs = docs.where(pmod(col("doc_id"), lit(fold)) === 0)
      .select(col("doc_id"), col("source"))
    val hits = words.where(pmod(col("doc_id"), lit(fold)) === 0)
      .select("doc_id", "w")
      .join(model, "w")
      .groupBy("doc_id", "label").agg(sum("weight_ppm").as("score"))
    val grid = testDocs.crossJoin(broadcast(labels))
      .join(hits, Seq("doc_id", "label"), "left")
      .na.fill(0L, Seq("score"))
    val pred = grid.withColumn("rn", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("label"))))
      .where(col("rn") === 1)
    pred.select(col("source").as("true_source"),
        col("label").as("predicted_source"))
      .groupBy("true_source", "predicted_source")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("true_source", "predicted_source")
  }

  def collocations(docs: DataFrame, minPair: Int = 5,
                   k: Int = 50): DataFrame = {
    val spreadDocs = Partitioning.spread(docs)
    val uni = spreadDocs
      .select(explode(TextOps.words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val pairCounts = spreadDocs
      .select(explode(TextOps.wordShinglesAll(col("text"), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n_pair"))
    // n_total = Σ n_pair over bigram TYPES = total bigram occurrences
    // = Σ_docs max(words − 1, 0): the identity replaces a second full
    // bigram explode+aggregate with one row-local projection (r12 —
    // the fix that pays for the broadcast-pruning chain below)
    val totals = spreadDocs
      .agg(sum(greatest(size(TextOps.words(col("text"))) - 1, lit(0))
        .cast("long")).as("n_total"))
    // surviving pairs feed THREE consumers (the two endpoint-word
    // prunes and the PMI join) and sit behind a corpus-sized bigram
    // agg — materialize once (the multiply-referenced bounded
    // intermediate rule; n_pair >= minPair bounds the set)
    val surviving = pairCounts.filter(col("n_pair") >= minPair)
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"), col("n_pair"))
      .localCheckpoint(true)
    // the unigram table is VOCABULARY-sized — Heaps-law unbounded in
    // the corpus, the one dim in this family a broadcast may NOT
    // assume small (r11 verdict finding). Semi-join-prune it to the
    // words surviving the minPair filter (≤ 2·|surviving| rows, the
    // join's own key set) and leave the strategy to AQE: the pruned
    // dim is runtime-sized, so Spark broadcasts it exactly when it
    // is in fact small instead of on a hand-written promise.
    val survWords = surviving.select(col("w1").as("w"))
      .union(surviving.select(col("w2").as("w"))).distinct()
    val prunedUni = uni.join(survWords, Seq("w"), "left_semi")
      .localCheckpoint(true)
    surviving
      .join(prunedUni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(prunedUni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"),
        expr("(n_pair * 1000000 * n_total) div (c1 * c2)")
          .as("pmi_ppm"))
      .orderBy(col("pmi_ppm").desc, col("w1"), col("w2"))
      .limit(k)
  }
}
