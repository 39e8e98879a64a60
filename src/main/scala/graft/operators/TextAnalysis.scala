package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language ID, document fingerprinting.
  *
  * None of these exist in the reference (its only scalar computations are
  * the fixed time-column derivations, SURVEY §2.4); they are part of the
  * repo's training-data north star. Everything here is pure Column
  * expressions over `functions._` — whole-stage-codegen'd, no UDFs, so a
  * 100 TB corpus pays one projection scan with no serialization cliff.
  *
  * Oracle-parity design note: the scoring arithmetic deliberately uses
  * only +,*,/ and replace/length (exact integer or order-fixed float ops)
  * so a DuckDB oracle computes bit-identical doubles — no exp/log whose
  * libm implementations differ across engines.
  */
object TextAnalysis {

  /** Whitespace tokens, empty strings dropped. Native single pass
    * ([[graft.functions.TokenOps.tokens]] — zero-copy UTF8String slices),
    * value-exact with the regex-split formulation (pinned by
    * GopherStatsPropertySpec). */
  def tokens(text: Column): Column =
    graft.functions.TokenOps.tokens(text)

  /** The composable tokens formulation (regression pin only). */
  private[graft] def tokensComposable(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Token count (whitespace + BPE-ish heuristic is tokenCountBpe).
    * Native single-pass byte scan ([[graft.functions.TokenCounts.wordCount]] —
    * codegen'd, LongType), value-exact with `size(tokens(text))`, which
    * paid a regex split materializing the token array plus an interpreted
    * HOF filter per document (CodegenFallback). Equivalence pinned by
    * GopherStatsPropertySpec. */
  def tokenCount(text: Column): Column =
    graft.functions.TokenCounts.wordCount(text)

  /** The composable tokenCount formulation (regression pin only). */
  private[graft] def tokenCountComposable(text: Column): Column =
    size(tokens(text)).cast(LongType)

  /** BPE-ish subword count heuristic: words + long-word overflow (a word
    * of n chars counts ceil(n/6) subwords) — a cheap, deterministic proxy
    * for a real tokenizer's token count. Native single-pass byte scan
    * ([[graft.functions.TokenCounts.bpeCount]]); value-exact with the interpreted HOF
    * fold it replaces (see its Scaladoc; pinned by
    * GopherStatsPropertySpec). */
  def tokenCountBpe(text: Column): Column =
    graft.functions.TokenCounts.bpeCount(text)

  /** The composable tokenCountBpe formulation (regression pin only). */
  private[graft] def tokenCountBpeComposable(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (acc, w) => acc + greatest(lit(1L), ceil(length(w) / lit(6.0)).cast(LongType)))

  /** GPT-2-style pre-tokenizer segment count: letter runs, digit runs,
    * and punctuation runs (each with optional leading space) — the
    * lookaround-free subset of the GPT-2 regex, deliberately
    * RE2-compatible so any engine segments identically. */
  val bpeRegex = " ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"
  def tokenCountBpeRegex(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeRegex), lit(0))).cast(LongType)

  /** Non-overlapping occurrence count of literal `needle` in `hay`:
    * (len(hay) - len(replace(hay, needle, ''))) / len(needle). Uses plain
    * replace (no regex) so any engine counts identically. */
  def occurrences(hay: Column, needle: String): Column =
    ((length(hay) - length(replace(hay, lit(needle), lit("")))) / lit(needle.length))
      .cast(LongType)

  // Char-class counts via regexp_count (match counting), NOT
  // length(regexp_replace(...)): the replace form builds a stripped COPY
  // of every document just to measure it — measured 3.4x slower at the
  // 10x fixture for identical counts (single-char classes can't overlap,
  // so match count == char count in both engines).

  /** Count of CJK (U+4E00..U+9FFF) characters. */
  def cjkCount(text: Column): Column =
    regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]"))

  /** Count of ASCII punctuation characters. */
  def punctCount(text: Column): Column =
    regexp_count(text, lit("[\\p{Punct}]"))

  /** Count of digit characters. */
  def digitCount(text: Column): Column =
    regexp_count(text, lit("[0-9]"))

  private val enStop = Seq("the", "and", "of", "to", "in", "is", "that")
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "die", "nicht", "das"),
    "en" -> Seq("the", "and", "of", "is", "that"),
    "es" -> Seq("el", "los", "que", "y", "las"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  private def padded(text: Column): Column =
    concat(lit(" "), lower(text), lit(" "))

  private def langScore(text: Column, words: Seq[String]): Column =
    words.map(w => occurrences(padded(text), s" $w ")).reduce(_ + _)

  /** N-gram/stopword-heuristic language ID over {de,en,es,fr,zh}:
    * CJK-dominant text is zh; otherwise the language whose distinctive
    * function words occur most (ties broken alphabetically); no signal
    * at all is "und". Deterministic and SQL-expressible — the DuckDB
    * oracle states the identical CASE chain.
    *
    * All five raw signals come from ONE native single-pass expression
    * ([[graft.functions.LangStats]] — codegen'd byte scan; the
    * composable form paid a CJK regex count plus TWENTY padded-replace
    * occurrence counts per document, the slowest scalar in the suite).
    * The decision chain over the struct is cheap Column logic; codegen
    * subexpression elimination evaluates the struct once per row.
    * Equivalence pinned by GopherStatsPropertySpec. */
  def langId(text: Column): Column = {
    val st = graft.functions.LangStats.langStats(lower(text))
    val scores = Seq("de" -> st.getField("s_de"), "en" -> st.getField("s_en"),
      "es" -> st.getField("s_es"), "fr" -> st.getField("s_fr"))
    val maxScore = greatest(scores.map(_._2): _*)
    // first WHEN in marker order wins ties -> alphabetical preference,
    // stated identically in the oracle's CASE chain
    val pick = scores.foldRight(lit("und")) { case ((lang, s), els) =>
      when(s === maxScore, lit(lang)).otherwise(els)
    }
    when(st.getField("cjk") > 10, lit("zh"))
      .when(maxScore === 0, lit("und"))
      .otherwise(pick)
  }

  /** The composable langId formulation (regression pin only). */
  private[graft] def langIdComposable(text: Column): Column = {
    val scores = langMarkers.map { case (lang, ws) => lang -> langScore(text, ws) }
    val maxScore = greatest(scores.map(_._2): _*)
    val pick = scores.foldRight(lit("und")) { case ((lang, s), els) =>
      when(s === maxScore, lit(lang)).otherwise(els)
    }
    when(cjkCount(text) > 10, lit("zh"))
      .when(maxScore === 0, lit("und"))
      .otherwise(pick)
  }

  /** Quality score in [0,1]: linear mix of stopword ratio, length
    * saturation, and punctuation penalty. Pure +,*,/ so any engine
    * reproduces it exactly. */
  def qualityScore(text: Column): Column =
    qualityFromStats(graft.functions.QualityStats.qualityStats(text))

  /** [[qualityScore]] over a staged raw-counts struct. All four heavy
    * counts (token count, char count, punct count, the 7-stopword
    * non-overlapping hit count) come from ONE native single-pass
    * expression (graft.functions.QualityStats — codegen'd byte scan
    * with the exact replace-counting semantics the oracle restates,
    * pinned by GopherStatsPropertySpec). The pre-round-13 composable
    * form paid a regex split + 7 full-string replaces + a regex count
    * per document, CodegenFallback because of the HOF token count.
    * Identical semantics (one formula, restated by the oracle). */
  def qualityScored(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        graft.functions.QualityStats.qualityStats(col(textCol)).as("__q"))
      .select(col(idCol), qualityFromStats(col("__q")).as("quality"))

  private def qualityFromStats(q: Column): Column = {
    val nTok = q.getField("n_words").cast(DoubleType)
    val stopRatio = when(nTok > 0,
      q.getField("stop_hits").cast(DoubleType) / nTok).otherwise(lit(0.0))
    val lenSat = least(nTok / lit(100.0), lit(1.0))
    val punctRatio = when(q.getField("n_chars") > 0,
      q.getField("n_punct").cast(DoubleType) /
        q.getField("n_chars").cast(DoubleType)).otherwise(lit(0.0))
    lit(0.4) * least(stopRatio * lit(4.0), lit(1.0)) +
      lit(0.3) * lenSat +
      lit(0.3) * (lit(1.0) - least(punctRatio * lit(5.0), lit(1.0)))
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text.
    * Identical in any engine with md5(). */
  def fingerprintMd5(text: Column): Column =
    md5(to_binary(trim(regexp_replace(lower(text), "\\s+", " ")), lit("utf-8")))

  /** Winnowing fingerprint (rolling-hash document sketch, Schleimer et al.
    * SIGMOD'03 scheme): hash all k-grams, take the min hash of each
    * sliding window of w hashes, distinct the survivors. Built entirely
    * from higher-order array functions — distributed, no UDF. Returns
    * array<long> sketch. */
  def winnowingFingerprint(text: Column, k: Int = 8, w: Int = 4): Column = {
    val n = length(text)
    val hashes = transform(
      sequence(lit(1), greatest(n - lit(k - 1), lit(1))),
      i => xxhash64(text.substr(i, lit(k))))
    val nh = size(hashes)
    val mins = transform(
      sequence(lit(1), greatest(nh - lit(w - 1), lit(1))),
      j => array_min(slice(hashes, j, lit(w))))
    array_distinct(mins)
  }

  /** Bulk winnowing: ONE native pass per document
    * ([[graft.functions.WinnowSketch]] — char offsets decode once, each
    * k-gram hashes zero-copy, window mins and the distinct run in tight
    * loops). The staged-HOF formulation it replaced
    * ([[winnowingSketchComposable]]) materialized one substring + hash
    * per character position and ran interpreted array_min(slice) per
    * window — 31.7 s at the 10x fixture vs ~1 s native, identical
    * output (pinned by ShingleSigsPropertySpec).
    *
    * portableHash: md5-56 (Dedup.portableHash56's value) instead of
    * xxhash64 — the sketch becomes reproducible on any md5-capable
    * engine (the DuckDB oracle restates it), at ~2x the hash cost. */
  def winnowingSketch(df: DataFrame, textCol: String, outCol: String,
                      k: Int = 8, w: Int = 4,
                      portableHash: Boolean = false): DataFrame =
    df.withColumn(outCol, graft.functions.WinnowSketch
      .winnowSketch(col(textCol), k, w, portableHash))

  /** The composable winnowing formulation (regression pin only). */
  private[graft] def winnowingSketchComposable(
      df: DataFrame, textCol: String, outCol: String,
      k: Int = 8, w: Int = 4, portableHash: Boolean = false): DataFrame = {
    import graft.functions.Staging.bound
    val t = col(textCol)
    val n = length(t)
    def kh(s: Column): Column =
      if (portableHash) Dedup.portableHash56(s) else xxhash64(s)
    df.withColumn("__kh", transform(
        sequence(lit(1), greatest(n - lit(k - 1), lit(1))),
        i => kh(t.substr(i, lit(k)))))
      .withColumn(outCol, bound(col("__kh"))(h =>
        array_distinct(transform(
          sequence(lit(1), greatest(size(h) - lit(w - 1), lit(1))),
          j => array_min(slice(h, j, lit(w)))))))
      .drop("__kh")
  }

  // ------------------------------------------------------- PII scrubbing

  /** RE2-safe patterns (no lookaround), so any regex engine — including
    * the DuckDB oracle — matches identically. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlRe = "https?://[^\\s]+"

  /** PII profile + scrubbed-content fingerprint: URL occurrences are
    * replaced first (URLs can embed email-shaped substrings; the reverse
    * order would scrub inside already-replaced tokens), then emails.
    * Returns (id, n_urls, n_emails, fp_scrubbed) — the counts drive
    * routing/reporting, the fingerprint dedups the scrubbed corpus. */
  def piiProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val noUrl = regexp_replace(col(textCol), urlRe, "<URL>")
    val scrubbed = regexp_replace(noUrl, emailRe, "<EMAIL>")
    df.select(col(idCol).as("id"),
      size(regexp_extract_all(col(textCol), lit(urlRe), lit(0)))
        .cast(LongType).as("n_urls"),
      size(regexp_extract_all(col(textCol), lit(emailRe), lit(0)))
        .cast(LongType).as("n_emails"),
      md5(to_binary(scrubbed, lit("utf-8"))).as("fp_scrubbed"))
  }

  // ------------------------------------------------- quality-rule signals

  /** Gopher-style per-document quality-rule signals (Rae et al. 2021,
    * "Scaling Language Models", table A1 filters): word count, mean word
    * length, alphabetic-word ratio, distinct-stopword presence — plus the
    * combined pass/fail the pipeline filters on. Pure Column arithmetic
    * over integer counts with one final division each, so the DuckDB
    * oracle reproduces every double bit-for-bit. */
  def gopherSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // All four raw counts come from ONE native single-pass expression
    // (graft.functions.GopherStats — codegen'd byte scan; see its
    // Scaladoc for the exact tokenizer/length/alpha/stopword semantics,
    // which the DuckDB oracle restates and GopherStatsPropertySpec pins
    // against the composable tokens()/HOF formulation this replaces:
    // that form paid a regex split + two interpreted HOF passes + an
    // intersect chain per document, all CodegenFallback).
    val staged = df.select(col(idCol).as("id"),
      graft.functions.GopherStats.gopherStats(col(textCol)).as("__g"))
    val n = col("__g.n_words")
    staged.select(col("id"),
        n.as("n_words"),
        when(n > 0, col("__g.sum_len").cast(DoubleType) / n.cast(DoubleType))
          .otherwise(lit(0.0)).as("mean_word_len"),
        when(n > 0, col("__g.alpha_n").cast(DoubleType) / n.cast(DoubleType))
          .otherwise(lit(0.0)).as("alpha_ratio"),
        col("__g.n_stop").as("n_stopwords"))
      .withColumn("pass",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("alpha_ratio") >= 0.8 && col("n_stopwords") >= 2)
      .select(col("id"), col("n_words"),
        round(col("mean_word_len"), 4).as("mean_word_len"),
        round(col("alpha_ratio"), 4).as("alpha_ratio"),
        col("n_stopwords"), col("pass"))
  }

  /** Per-document repetition signals (the C4/Gopher duplicate-content
    * heuristics): duplicate-token ratio, most-frequent-token share, and
    * duplicate-bigram ratio. Token stats run relationally
    * (explode -> count) so the corpus never materializes a per-doc
    * frequency map; the bigram ratio reuses the distinct-shingle
    * expression (total bigrams of an n-token doc is just n-1). */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{count => fcount}
    val base = df.select(col(idCol).as("id"),
      tokens(lower(col(textCol))).as("__t"))
    val perTok = base
      .select(col("id"), explode(col("__t")).as("tok"))
      .groupBy(col("id"), col("tok")).agg(fcount(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_tok"),
        fcount(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
    val bigrams = base.select(col("id"),
      size(col("__t")).cast(LongType).as("n"),
      when(size(col("__t")) >= 2,
        size(Dedup.wordShingleOf(col("__t"), 2)).cast(LongType))
        .otherwise(lit(0L)).as("n_bi_distinct"))
    perTok.join(bigrams, Seq("id"))
      .select(col("id"), col("n_tok"),
        round(lit(1.0) - col("n_distinct").cast(DoubleType)
          / col("n_tok").cast(DoubleType), 4).as("dup_tok_ratio"),
        round(col("top_c").cast(DoubleType)
          / col("n_tok").cast(DoubleType), 4).as("top_tok_share"),
        round(when(col("n") >= 2,
          lit(1.0) - col("n_bi_distinct").cast(DoubleType)
            / (col("n") - 1).cast(DoubleType)).otherwise(lit(0.0)), 4)
          .as("dup_bigram_ratio"))
  }

  /** Corpus-wide term frequencies: explode tokens, count, keep the top-k
    * (deterministic tiebreak on the token). One shuffle with map-side
    * combine; the classic vocabulary-building primitive. */
  def termFrequencies(df: DataFrame, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.functions.{count => fcount}
    df.select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(fcount(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)
  }

  /** TF-IDF: per-document top terms by tf * ln(N / df). Two shuffles
    * (document frequencies, then the per-doc rank); idf is computed once
    * per distinct token and joined back — never recomputed per posting. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    topPerDoc: Int): DataFrame = {
    import org.apache.spark.sql.functions.{count => fcount}
    val postings = df
      .select(col(idCol).as("id"), explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("id"), col("token")).agg(fcount(lit(1)).as("tf"))
    val n = df.count().toDouble
    val dfreq = postings.groupBy(col("token"))
      .agg(fcount(lit(1)).as("df"))
      .withColumn("idf", log(lit(n) / col("df").cast("double")))
    val scored = postings.join(dfreq, "token")
      .withColumn("tfidf", col("tf").cast("double") * col("idf"))
    Relational.topKPerGroup(scored, Seq("id"),
        Seq(("tfidf", true), ("token", false)), topPerDoc)
      .select(col("id"), col("token"), round(col("tfidf"), 4).as("tfidf"))
  }

  /** Convenience: full per-document text-analysis projection. */
  def analyze(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCount(t))
      .withColumn("n_tokens_bpe", tokenCountBpe(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("fp_md5", fingerprintMd5(t))
  }
}
