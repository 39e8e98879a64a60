package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object GopherStats {

  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("alpha_n", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false)))

  /** The Gopher stop list (SURVEY quality rules); lowercase ASCII. */
  private val stops: Array[Array[Byte]] =
    Array("the", "and", "of", "to", "in", "is", "that")
      .map(_.getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  import TextBytes.isWs

  def compute(s: UTF8String): InternalRow = {
    val b = s.getBytes
    val n = b.length
    var i = 0
    var words = 0L
    var sumLen = 0L
    var alphaWords = 0L
    var stopMask = 0
    while (i < n) {
      while (i < n && isWs(b(i))) i += 1
      if (i < n) {
        val start = i
        var chars = 0L
        var hasAlpha = false
        while (i < n && !isWs(b(i))) {
          val x = b(i) & 0xFF
          if ((x & 0xC0) != 0x80) chars += 1 // count non-continuation bytes
          if ((x >= 'A' && x <= 'Z') || (x >= 'a' && x <= 'z')) hasAlpha = true
          i += 1
        }
        words += 1
        sumLen += chars
        if (hasAlpha) alphaWords += 1
        stopMask |= stopBit(b, start, i - start)
      }
    }
    new GenericInternalRow(Array[Any](
      words, sumLen, alphaWords, java.lang.Long.bitCount(stopMask.toLong).toLong))
  }

  private def stopBit(b: Array[Byte], off: Int, len: Int): Int = {
    var k = 0
    while (k < stops.length) {
      val st = stops(k)
      if (st.length == len) {
        var j = 0
        var eq = true
        while (eq && j < len) {
          var x = b(off + j) & 0xFF
          if (x >= 'A' && x <= 'Z') x += 32
          if (x != (st(j) & 0xFF)) eq = false
          j += 1
        }
        if (eq) return 1 << k
      }
      k += 1
    }
    0
  }

  /** All four Gopher quality-rule raw counts in ONE byte-level pass over
    * the document — (n_words, sum_word_len, alpha_words, n_stop_distinct).
    *
    * The composable formulation (reference semantics: SURVEY §2.4 quality
    * scoring; Rae et al. 2021 table A1) pays per document: a regex \s+
    * split materializing the token array, an interpreted HOF filter with a
    * per-token regex for the alphabetic count, an interpreted HOF
    * aggregate for the length sum, and a transform+array_distinct+
    * array_intersect chain for stopword presence — four passes, all
    * CodegenFallback because HOFs disable whole-stage codegen for the
    * containing expression. This kernel is one JIT-friendly scan with
    * zero allocation beyond the result row.
    *
    * Semantics replicated EXACTLY (the DuckDB oracle restates them and the
    * equivalence property in GopherStatsPropertySpec pins them against the
    * composable form):
    *  - a word is a maximal run of non-whitespace, whitespace being Java
    *    regex \s = [ \t\n\x0B\f\r] — byte-exact with
    *    `split(text, "\\s+")` + empty filter (ASCII bytes never occur
    *    inside UTF-8 multibyte sequences, so the byte scan is exact);
    *  - word length counts CHARACTERS (non-continuation bytes), matching
    *    Spark `length()` = UTF8String.numChars on the token;
    *  - alphabetic word = contains an ASCII letter, matching
    *    `rlike("[A-Za-z]")`;
    *  - stopword presence = case-insensitive ASCII match of the whole
    *    token against {the, and, of, to, in, is, that}, matching
    *    `lower(token) == stopword` (the 7 stopwords are pure ASCII and no
    *    Unicode lowercasing maps a non-match into them: the only
    *    char-count-preserving non-ASCII-to-ASCII foldings, e.g. Kelvin
    *    K -> k, involve letters absent from the list). */
  def gopherStats(text: Column): Column =
    NativeKernel(this, schema, Seq(text -> StringType))
}

object QualityStats {

  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false)))

  private val stops: Array[Array[Byte]] =
    Array("the", "and", "of", "to", "in", "is", "that")
      .map(_.getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  import TextBytes.isWs

  private def isPunct(x: Int): Boolean =
    (x >= 0x21 && x <= 0x2F) || (x >= 0x3A && x <= 0x40) ||
      (x >= 0x5B && x <= 0x60) || (x >= 0x7B && x <= 0x7E)

  def compute(s: UTF8String): InternalRow = {
    val b = s.getBytes
    val n = b.length
    var i = 0
    var words = 0L
    var chars = 0L
    var punct = 0L
    var inWord = false
    while (i < n) {
      val x = b(i) & 0xFF
      if ((x & 0xC0) != 0x80) chars += 1
      if (isPunct(x)) punct += 1
      if (isWs(b(i))) inWord = false
      else if (!inWord) { words += 1; inWord = true }
      i += 1
    }
    new GenericInternalRow(Array[Any](words, chars, punct, countStops(b, n)))
  }

  /** Sum over the 7 stopwords of the greedy non-overlapping count of
    * (' ' + st + ' ') in the virtually padded
    * " " + asciiLower(text) + " " (positions 0 and n+1 are the pads;
    * position q in 1..n reads byte q-1 case-folded). ONE scan for all
    * needles: a match must start at a literal 0x20 space (the pads or a
    * space byte — NOT other \s, exactly like the replace-counting
    * formulation this reproduces), so the needle tests only run at
    * space positions, each needle carrying its own greedy
    * next-allowed-start cursor. Per needle this visits exactly the
    * positions the 7 independent scans visited, in the same order, so
    * the greedy skip semantics — including the quirk that adjacent
    * matches share a space (" the the " counts ONE " the ") — are
    * byte-identical. */
  private def countStops(b: Array[Byte], n: Int): Long = {
    // padded[q] for q in [0, n+2): pads at 0 and n+1, else fold(b(q-1))
    def at(q: Int): Int =
      if (q == 0 || q == n + 1) ' '.toInt
      else {
        var x = b(q - 1) & 0xFF
        if (x >= 'A' && x <= 'Z') x += 32
        x
      }
    val nextA = new Array[Int](stops.length)
    var hits = 0L
    var q = 0
    while (q <= n + 1) {
      if (at(q) == ' '.toInt) {
        var k = 0
        while (k < stops.length) {
          val st = stops(k)
          val m = st.length + 2
          if (q >= nextA(k) && q + m <= n + 2 && at(q + m - 1) == ' '.toInt) {
            var j = 0
            var ok = true
            while (ok && j < st.length) {
              if (at(q + 1 + j) != (st(j) & 0xFF)) ok = false else j += 1
            }
            if (ok) { hits += 1; nextA(k) = q + m }
          }
          k += 1
        }
      }
      q += 1
    }
    hits
  }

  /** The quality-score raw counts in one pass —
    * (n_words, n_chars, n_punct, stop_hits).
    *
    * Replaces the composable form's per-document regex token split + a
    * 7-stopword padded-substring replace chain (each replace builds a full
    * string copy) + a \\p{Punct} regexp_count. Semantics byte-exact with
    * the replaced Columns (pinned by GopherStatsPropertySpec's quality
    * property; the DuckDB oracle restates the same formula):
    *  - n_words: as [[GopherStats.gopherStats]] (maximal non-\s runs);
    *  - n_chars: Spark length() = UTF8String.numChars;
    *  - n_punct: Java \\p{Punct} = the 32 ASCII punctuation chars
    *    (0x21-0x2F, 0x3A-0x40, 0x5B-0x60, 0x7B-0x7E) — ASCII bytes never
    *    occur inside UTF-8 multibyte sequences, so a byte test is exact;
    *  - stop_hits: sum over the 7 stopwords of the NON-OVERLAPPING
    *    greedy count of " w " in " " + lower(text) + " " — exactly the
    *    `(length(p) - length(replace(p, " w "))) / len` counting trick it
    *    replaces, including its quirk that adjacent matches share a space
    *    (" the the " counts ONE " the "). Case folding is ASCII: the only
    *    Unicode-lower mappings into ASCII (Kelvin K -> k; İ -> i +
    *    combining dot) cannot create a match for this stop list. */
  def qualityStats(text: Column): Column =
    NativeKernel(this, schema, Seq(text -> StringType))
}
