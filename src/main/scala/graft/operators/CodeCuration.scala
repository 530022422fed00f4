package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Partitioning, PortableHash => PH}

/** Code-corpus curation: the source-file arm of a training-data
  * pipeline (The Stack / StarCoder-style), where near-duplication is
  * defined over *structure*, not raw bytes — two files that differ
  * only in identifier names and comments are the same training
  * example and must dedup together.
  *
  * The corpus has no source files, so — exactly like the image/audio/
  * video families (Multimodal.syntheticOrientedRasters et al.) — the
  * declared queries derive a DETERMINISTIC code rendering from each
  * document and then run the real operator chain on the rendered
  * text. The rendering salts every identifier with the doc id
  * ([[ident]]), so raw-byte shingles never match across documents;
  * only the normalization pass ([[normalizeCode]]: identifier
  * canonicalization + comment stripping) can recover the structural
  * similarity. The DuckDB oracle proves the chain end-to-end in two
  * complementary ways:
  *   - `tx_code_meta`: the oracle RE-RENDERS the file byte-for-byte
  *     in SQL and computes the same metadata with its own regex
  *     engine — a byte-level render-parity check;
  *   - `dd_code_neardup`: the oracle computes the IDEAL
  *     identifier-free result straight from the word stream (the
  *     "upright formula" pattern of mm_phash_oriented) — a wrong
  *     normalization regex or comment-strip order fails the hash.
  *
  * Everything is row-local Catalyst projection (split / transform /
  * regexp) until the single pair-join shuffle inside
  * [[Dedup.codeNearDup]] — at 100 TB the render+normalize+gram stage
  * is embarrassingly parallel over the scan and the join is the same
  * df-capped inverted index every other dedup family rides.
  */
object CodeCuration {

  /** Deterministic source-file rendering of a document: one `val`
    * statement per word, identifier-chained, each with a trailing
    * line comment — enough surface (header, identifiers, call chain,
    * comments, return) for the normalization/metadata operators to
    * exercise every rule. Pure row-local projection.
    *
    * Identifier slot for word position i (0-based):
    * `_v<h31(doc_id:i) % 997>` — salted by doc id so identical word
    * streams render with DIFFERENT identifier names per document
    * (the property the normalization pass must undo; collisions mod
    * 997 inside a doc are fine — deterministic on both engines). The
    * leading underscore keeps the identifier namespace DISJOINT from
    * corpus words: the probe corpus embeds variant-marker words
    * `v1`/`v2`, and a bare `v<digits>` pattern made the normalizer
    * eat real content (10×-probe catch, r10) — underscore never
    * occurs in a corpus token.
    *
    * Each statement references TWO identifier slots (its own and its
    * argument's), so
    * the per-position identifier array is computed ONCE and
    * Generate-BOUND before the statement transform — element_at on a
    * bound attribute is an array read, where inlining [[ident]] twice
    * per statement doubles the md5 count and (HOFs being interpreted,
    * no CSE) re-evaluates per access. */
  def renderCode(docs: DataFrame): DataFrame = {
    val docId = col("doc_id")
    val vids = transform(col("ws"), (_, i) =>
      ((PH.h31(concat(docId.cast("string"), lit(":"), i.cast("string")))
        % 997)).cast("string"))
    val stmts = transform(col("ws"), (w, i) =>
      concat(lit("  _v"), element_at(col("vids"), i + 1),
        lit(" = lib."), w, lit("("),
        when(i === 0, lit("seed"))
          .otherwise(concat(lit("_v"), element_at(col("vids"), i))),
        lit(")  # s"), i.cast("string")))
    val code = concat(
      lit("def f_"), docId.cast("string"), lit("():\n"),
      concat_ws("\n", stmts),
      lit("\n  return _v"), element_at(col("vids"), size(col("ws"))))
    // the rendered string is itself Generate-bound: consumers
    // (codeMeta) reference `code` many times, and project-collapse
    // would inline the whole render expression into each reference
    docs
      .select(docId, explode(array(split(col("text"), " "))).as("ws"))
      .select(docId, col("ws"), explode(array(vids)).as("vids"))
      .select(docId, explode(array(code)).as("code"))
  }

  /** Structural normalization: canonicalize identifiers (`v<digits>`
    * -> `V`) and strip line comments. The regex subset is chosen for
    * identical semantics in Java regex (Spark) and RE2 (DuckDB) —
    * same discipline as piiScrub. */
  def normalizeCode(code: Column): Column =
    regexp_replace(regexp_replace(code, "  # s[0-9]+", ""),
      "_v[0-9]+", "V")

  /** Statement lines of a (normalized) rendering — header and return
    * line excluded, so downstream grams are identifier-free AND
    * doc-id-free. */
  private def stmtLines(code: Column): Column =
    filter(split(code, "\n"), l => l.contains(" = lib."))

  /** Distinct md5 n-grams over consecutive statements. md5 gives the
    * fixed-width join key the pair join wants (statement text is
    * unbounded). The slice/zip_with shape, NOT an indexed lambda —
    * higher-order lambdas are interpreted (no codegen, no CSE), so
    * `transform(stmts, (_, i) => …slice(stmts, i+1, n)…)` re-evaluates
    * the whole stmts expression per ELEMENT access; the n shifted
    * slices evaluate it n times per ROW (see TextOps.wordShinglesHof,
    * measured ~10×). Callers must pass a BOUND attribute (see
    * [[codeGramTable]]'s Generate-bind) so even those n slices are
    * array reads, not chain re-runs. */
  private def stmtGrams(stmts: Column, n: Int): Column = {
    val len = greatest(size(stmts) - lit(n - 1), lit(0))
    val grams = (2 to n).foldLeft(slice(stmts, lit(1), len)) { (acc, k) =>
      zip_with(acc, slice(stmts, lit(k), len),
        (a, b) => concat(a, lit(" | "), b))
    }
    array_distinct(transform(grams, g => md5(g)))
  }

  /** Exploded (doc_id, sh) gram table over the FULL chain: render ->
    * normalize -> statement extraction -> statement n-grams. Input to
    * [[Dedup.codeNearDup]]. Files with fewer than `n` statements have
    * no grams and drop out (same on both engines). The statement
    * array is Generate-BOUND (explode of a 1-element array) before
    * the gram stage: project-collapse would otherwise inline the
    * render+normalize+split chain into every slice/size reference
    * (r10: the bind + slice shape took the sf0.1 gram build from
    * 2.3 s to ~0.3 s). */
  def codeGramTable(docs: DataFrame, n: Int = 4): DataFrame =
    // spread the RAW docs, render after the exchange (r16): the
    // render chain is indexed-lambda HOFs (interpreted), so it must
    // run at cluster parallelism, and the spread shuffle then carries
    // raw doc rows, not the ~4.5x larger rendered string (Probe jobs:
    // 0.63 s single-task render feeding a 3.7 MB exchange before)
    renderCode(Partitioning.spread(docs))
      .select(col("doc_id"),
        explode(array(stmtLines(normalizeCode(col("code"))))).as("stmts"))
      .select(col("doc_id"), explode(stmtGrams(col("stmts"), n)).as("sh"))

  /** Raw-byte gram table (NO normalization) — exists to prove the
    * negative: doc-salted identifiers make raw statement grams
    * disjoint across documents, so byte-level dedup on rendered code
    * finds nothing (CodeAssemblySpec asserts zero pairs); only the
    * normalization pass recovers the structural similarity. */
  private[graft] def codeGramTableRaw(docs: DataFrame, n: Int = 4): DataFrame =
    renderCode(Partitioning.spread(docs)) // r16: see codeGramTable
      .select(col("doc_id"),
        explode(array(stmtLines(col("code")))).as("stmts"))
      .select(col("doc_id"), explode(stmtGrams(col("stmts"), n)).as("sh"))

  /** Per-file code metadata — the file-level filter signals a code
    * pipeline gates on (The Stack drops files by line length /
    * generated-code markers / comment density). Computed off the
    * ACTUAL rendered string with row-local regexes; the oracle
    * re-renders in SQL and recomputes with RE2. */
  def codeMeta(docs: DataFrame): DataFrame = {
    val code = col("code")
    val lines = split(code, "\n")
    renderCode(Partitioning.spread(docs)).select( // r16: see codeGramTable
      col("doc_id"),
      size(lines).cast("long").as("n_lines"),
      length(code).cast("long").as("n_chars"),
      array_max(transform(lines, l => length(l))).cast("long")
        .as("max_line_len"),
      size(regexp_extract_all(code, lit("_v[0-9]+"), lit(0))).cast("long")
        .as("n_ident_refs"),
      size(array_distinct(regexp_extract_all(code, lit("_v[0-9]+"), lit(0))))
        .cast("long").as("n_distinct_idents"),
      size(regexp_extract_all(code, lit("# s[0-9]+"), lit(0))).cast("long")
        .as("n_comments"))
      .orderBy("doc_id")
  }
}
