package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object LangStats {
  val schema: StructType = StructType(Seq(
    StructField("cjk", LongType, nullable = false),
    StructField("s_de", LongType, nullable = false),
    StructField("s_en", LongType, nullable = false),
    StructField("s_es", LongType, nullable = false),
    StructField("s_fr", LongType, nullable = false)))

  /** Marker-word lists in [[graft.operators.TextAnalysis.langId]]'s
    * order: de, en, es, fr. */
  val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "die", "nicht", "das"),
    "en" -> Seq("the", "and", "of", "is", "that"),
    "es" -> Seq("el", "los", "que", "y", "las"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  private val needles: Array[Array[Byte]] = markers.flatMap(_._2)
    .map(_.getBytes(java.nio.charset.StandardCharsets.US_ASCII)).toArray
  private val needleLang: Array[Int] =
    markers.zipWithIndex.flatMap { case ((_, ws), i) => ws.map(_ => i) }.toArray

  def compute(s: UTF8String): InternalRow = {
    val b = s.getBytes
    val n = b.length
    // ---- CJK code-point count (U+4E00..U+9FFF = 3-byte UTF-8) --------
    var cjk = 0L
    var i = 0
    while (i < n) {
      val x = b(i) & 0xFF
      if (x < 0x80) i += 1
      else if (x < 0xE0) i += 2 // 2-byte sequence: cp < 0x800, never CJK
      else if (x < 0xF0) {
        if (i + 2 < n) {
          val cp = ((x & 0x0F) << 12) | ((b(i + 1) & 0x3F) << 6) | (b(i + 2) & 0x3F)
          if (cp >= 0x4E00 && cp <= 0x9FFF) cjk += 1
        }
        i += 3
      } else i += 4 // supplementary plane, never in the CJK basic block
    }
    // ---- padded-needle scan (one pass, all 20 needles) ---------------
    // padded[q] for q in [0, n+2): pads at 0 and n+1, else b(q-1); the
    // input is already lowercase, so bytes compare directly
    def at(q: Int): Int =
      if (q == 0 || q == n + 1) ' '.toInt else b(q - 1) & 0xFF
    val scores = new Array[Long](markers.length)
    val nextA = new Array[Int](needles.length)
    var q = 0
    while (q <= n + 1) {
      if (at(q) == ' '.toInt) {
        var k = 0
        while (k < needles.length) {
          val st = needles(k)
          val m = st.length + 2
          if (q >= nextA(k) && q + m <= n + 2 && at(q + m - 1) == ' '.toInt) {
            var j = 0
            var ok = true
            while (ok && j < st.length) {
              if (at(q + 1 + j) != (st(j) & 0xFF)) ok = false else j += 1
            }
            if (ok) { scores(needleLang(k)) += 1; nextA(k) = q + m }
          }
          k += 1
        }
      }
      q += 1
    }
    new GenericInternalRow(Array[Any](
      cjk, scores(0), scores(1), scores(2), scores(3)))
  }

  /** The language-ID raw signals of already-lowercased `text` in ONE
    * pass — (cjk, s_de, s_en, s_es, s_fr).
    *
    * Replaces the composable [[graft.operators.TextAnalysis.langId]]
    * internals, which paid per document: a regex `[\x{4e00}-\x{9fff}]`
    * count plus TWENTY padded-replace occurrence counts (each building a
    * full copy of the document to measure it) — the slowest scalar in the
    * whole suite (16.8 s at sf1 before this). Here the already-lowercased
    * input (Spark's `lower()` stays outside, as with every native
    * expression in this package) is scanned once: code points decode for
    * the CJK range test, and the 20 marker-word needles test only at
    * literal-space anchor positions, each with its own greedy
    * non-overlapping cursor — exactly the
    * `(length(p) - length(replace(p, ' w ', ''))) / len` counting
    * semantics of [[graft.operators.TextAnalysis.occurrences]] over the
    * virtually padded " " + text + " ", including the adjacent-matches-
    * share-a-space quirk. Pinned against the composable formulation by
    * GopherStatsPropertySpec.
    *
    * Marker words are pure-ASCII lowercase; the input is lowercased by
    * Spark, so no folding happens here at all — byte equality is exact. */
  def langStats(text: Column): Column =
    NativeKernel(this, schema, Seq(text -> StringType))
}
