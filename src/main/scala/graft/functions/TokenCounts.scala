package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object TokenCounts {
  import TextBytes.isWs

  def wordCount(s: UTF8String): Long = {
    val b = s.getBytes
    val n = b.length
    var i = 0
    var words = 0L
    var inWord = false
    while (i < n) {
      if (isWs(b(i))) inWord = false
      else if (!inWord) { words += 1; inWord = true }
      i += 1
    }
    words
  }

  def bpeCount(s: UTF8String): Long = {
    val b = s.getBytes
    val n = b.length
    var i = 0
    var sum = 0L
    while (i < n) {
      while (i < n && isWs(b(i))) i += 1
      if (i < n) {
        var chars = 0L
        while (i < n && !isWs(b(i))) {
          if ((b(i) & 0xC0) != 0x80) chars += 1 // non-continuation bytes
          i += 1
        }
        sum += (chars + 5) / 6 // == max(1, ceil(chars/6)) for chars >= 1
      }
    }
    sum
  }

  /** Whitespace-token count in one byte pass.
    *
    * Replaces `size(filter(split(text, "\\s+"), t => t =!= ""))` — a regex
    * split that materializes the full token array, plus an interpreted HOF
    * filter (CodegenFallback for the whole containing expression) — when
    * the caller only needs the COUNT. Semantics byte-exact with the
    * composable form it replaces (same argument as
    * [[GopherStats.gopherStats]], whose n_words field is this very count;
    * pinned by GopherStatsPropertySpec): a token is a maximal run of
    * non-whitespace, whitespace being Java regex \s = [ \t\n\x0B\f\r],
    * all ASCII bytes that never occur inside UTF-8 multibyte sequences. */
  def wordCount(text: Column): Column =
    NativeKernel(this, LongType, Seq(text -> StringType), fn = "wordCount")

  /** The BPE-ish subword-count heuristic in one byte pass — sum over
    * whitespace tokens of max(1, ceil(chars/6)).
    *
    * Replaces the interpreted HOF fold
    * `aggregate(tokens(text), 0L, (acc, w) => acc + greatest(1, ceil(length(w)/6.0)))`.
    * Value-exact: word length counts CHARACTERS (non-continuation bytes) =
    * Spark `length()`; ceil(chars/6.0) over a positive int is the integer
    * (chars+5)/6 (double division by 6.0 is exact to well past any document
    * length, so the composable form's float ceil never diverges); the
    * greatest(1, _) arm is unreachable for a non-empty token (chars >= 1 =>
    * ceil >= 1) and empty tokens don't exist (maximal runs). Pinned against
    * the composable form by GopherStatsPropertySpec. */
  def bpeCount(text: Column): Column =
    NativeKernel(this, LongType, Seq(text -> StringType), fn = "bpeCount")
}
