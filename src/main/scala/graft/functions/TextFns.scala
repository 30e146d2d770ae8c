package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, token counting, and document
  * fingerprinting. Everything is built from codegen'd Catalyst built-ins
  * (higher-order array functions, regexes, md5) — no UDFs — so the whole
  * stage stays inside WholeStageCodegen and distributes trivially: each is
  * a narrow per-row map, no shuffle.
  *
  * Cross-engine determinism: hashes are md5 hex strings (identical in any
  * engine) rather than engine-private hash functions, so every operator
  * here is oracle-checkable in DuckDB.
  */
object TextFns {

  /** Fused single-pass stats struct ([[graft.expressions.TextStats]]).
    * Every signal below is a field of this one struct; within a single
    * projection Catalyst's subexpression elimination evaluates the pass
    * once per row no matter how many signals are selected. */
  def textStats(text: Column): Column =
    org.apache.spark.sql.GraftExpr.col(
      graft.expressions.TextStats(
        org.apache.spark.sql.GraftExpr.expr(text)))

  /** Whitespace tokens. NOTE Spark's split() takes a regex; a single space
    * matches DuckDB string_split(text, ' ') including trailing empties. */
  def words(text: Column): Column = split(text, " ")

  /** Word-level token count (whitespace segmentation). */
  def wsTokenCount(text: Column): Column = textStats(text).getField("n_words")

  /** Regex tokens: alnum runs (lowercased corpora). Mirrors a BPE
    * pre-tokenizer's word-split stage. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-z0-9]+"), lit(0))

  /** BPE-ish subword count: each regex token contributes ceil(len/4)
    * subwords — a deterministic proxy for a 4-chars-per-token BPE budget. */
  def bpeishCount(text: Column): Column =
    aggregate(regexTokens(text), lit(0L),
      (acc, t) => acc + ((length(t) + lit(3)) / lit(4)).cast("long"))

  /** English / Portuguese lexicons for the n-gram-free language heuristic.
    * (The reference corpus is pt-BR judicial text; the harness `documents`
    * table is en-ish synthetic — the heuristic is what's under test.) */
  val EnStop: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
  val PtStop: Seq[String] = Seq("de", "a", "o", "que", "e", "do", "da", "em", "um", "para", "com", "por")

  /** Language ID: stopword-lexicon scoring; ties/no-signal → "und". */
  def langId(text: Column): Column = {
    val st = textStats(text)
    val en = st.getField("en_hits")
    val pt = st.getField("pt_hits")
    when(en > pt, "en").when(pt > en, "pt").otherwise("und")
  }

  /** Ratio of non-[a-z0-9 space] characters to total length (0 for empty). */
  def punctRatio(text: Column): Column = {
    val punct = textStats(text).getField("punct")
    when(length(text) > 0, punct.cast("double") / length(text).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Mean word length over whitespace tokens (0 for empty). */
  def avgWordLen(text: Column): Column = {
    val st = textStats(text)
    when(st.getField("n_words") > 0,
      st.getField("total_word_len").cast("double") /
        st.getField("n_words").cast("double"))
      .otherwise(lit(0.0))
  }

  /** Stopword ratio over whitespace tokens (quality signal). */
  def stopwordRatio(text: Column): Column = {
    val st = textStats(text)
    when(st.getField("n_words") > 0,
      st.getField("en_hits").cast("double") /
        st.getField("n_words").cast("double"))
      .otherwise(lit(0.0))
  }

  /** Composite quality score in [0,1]: long-enough, low punctuation, sane
    * mean word length, some stopwords — the standard cheap pre-filter a
    * training-data pipeline applies before expensive dedup. */
  def qualityScore(text: Column): Column = {
    val lenOk = when(length(text) >= 100, 1.0).otherwise(
      length(text).cast("double") / 100.0)
    val punctOk = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val wlen = avgWordLen(text)
    val wlenOk = when(wlen >= 3.0 && wlen <= 10.0, 1.0).otherwise(0.5)
    val stopOk = least(stopwordRatio(text) * 4.0, lit(1.0))
    (lenOk + punctOk + wlenOk + stopOk) / 4.0
  }

  /** Shared text ANALYZER — the one normalization every tokenizing
    * build composes with: lowercase, every non-alphanumeric run
    * (punctuation, tabs, repeated spaces) collapsed to a single space,
    * trimmed. On real corpora the raw single-space split the index
    * builds use ([[graft.operators.Retrieval.bm25IndexBuild]],
    * [[graft.operators.Retrieval.positionalIndexBuild]],
    * [[graft.operators.Vocab.bpeTrain]]) makes "Court" and "court,"
    * distinct terms; analyzing FIRST unifies them while keeping every
    * build's tokenizer untouched — compose as
    * `docs.withColumn(textCol, TextFns.analyze(col(textCol)))` before
    * any build, and analyze queries with the SAME function (an
    * analyzer mismatch between index and query silently matches
    * nothing — one shared function, not per-site regexes).
    * One codegen'd regexp projection per document, paid at build time.
    * [[fingerprint]] is md5 ∘ analyze — the same normalization, so a
    * fingerprint-equal pair is exactly an analyzer-equal pair. */
  def analyze(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** [[analyze]] plus stopword removal: normalized tokens in
    * `stopwords` drop, survivors rejoin single-spaced (the
    * index-shrinking variant — stoplist terms carry no BM25 signal but
    * dominate posting-list volume). Stopwords must be given in
    * analyzed (lowercase) form. */
  def analyzeStop(text: Column, stopwords: Seq[String] = EnStop): Column = {
    val stop = array(stopwords.map(lit): _*)
    array_join(filter(split(analyze(text), " "),
      w => !array_contains(stop, w)), " ")
  }

  /** Content fingerprint: md5 over the punctuation/case-normalized text —
    * robust to formatting-only differences. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  /** PII redaction for training corpora: emails → `<EMAIL>`, URLs →
    * `<URL>`, long digit runs (ids/cards/phones, ≥8 digits) → `<NUM>`.
    * Order matters — emails first (their local part may contain digits),
    * then URLs (whose paths may contain digits), then bare digit runs.
    *
    * Patterns are deliberately RE2-compatible (no lookaround, no
    * backrefs) so external engines (DuckDB/RE2 with the 'g' flag)
    * reproduce the output byte-for-byte — which also keeps them in the
    * cheap-regex class (linear scan, codegen'd `regexp_replace`, no
    * backtracking blowup on adversarial documents). */
  def redactPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^ \\t\\n]+"
    val digits = "[0-9]{8,}"
    regexp_replace(
      regexp_replace(
        regexp_replace(text, email, "<EMAIL>"),
        url, "<URL>"),
      digits, "<NUM>")
  }

  /** Fused single-pass repetition stats struct
    * ([[graft.expressions.RepetitionStats]]): n_tok, n_distinct, top
    * token (+count), top bigram count — built row-locally so Gopher-style
    * repetition signals are a zero-shuffle projection, not an
    * explode/groupBy over the tokenized corpus. */
  def repetitionStats(text: Column): Column =
    org.apache.spark.sql.GraftExpr.col(
      graft.expressions.RepetitionStats(
        org.apache.spark.sql.GraftExpr.expr(text)))

  /** Rolling (polynomial) hash over characters, mod 1e9+7 — the classic
    * Rabin-Karp document fingerprint, order-sensitive unlike md5-of-whole.
    * Custom codegen'd expression ([[graft.expressions.RollingHash]]):
    * the equivalent `aggregate(sequence(...))` fold pays an interpreted
    * lambda dispatch + substring per character. */
  def rollingHash(text: Column): Column =
    org.apache.spark.sql.GraftExpr.col(
      graft.expressions.RollingHash(
        org.apache.spark.sql.GraftExpr.expr(text)))
}
