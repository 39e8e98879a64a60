package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object WinnowSketch {
  private val Seed = 42L // xxhash64's fixed seed

  def compute(s: UTF8String, k: Int, w: Int, portable: Boolean): GenericArrayData = {
    val b = s.getBytes
    val len = b.length
    // char-start byte offsets (code points = non-continuation bytes)
    var offs = new Array[Int](math.max(8, len / 2 + 2))
    var nCh = 0
    var i = 0
    while (i < len) {
      if ((b(i) & 0xC0) != 0x80) {
        if (nCh == offs.length - 1) offs = java.util.Arrays.copyOf(offs, nCh * 2)
        offs(nCh) = i
        nCh += 1
      }
      i += 1
    }
    offs(nCh) = len
    val nG = math.max(nCh - k + 1, 1)
    val md =
      if (portable) java.security.MessageDigest.getInstance("MD5") else null
    val kh = new Array[Long](nG)
    var g = 0
    while (g < nG) {
      val st = if (g < nCh) offs(g) else len
      val end = if (g + k <= nCh) offs(g + k) else len
      if (portable) {
        md.reset()
        md.update(b, st, end - st)
        val d = md.digest()
        // first 14 hex chars == first 7 bytes, big-endian, always >= 0
        var h = 0L
        var j = 0
        while (j < 7) { h = (h << 8) | (d(j) & 0xFFL); j += 1 }
        kh(g) = h
      } else {
        kh(g) = XXH64.hashUTF8String(UTF8String.fromBytes(b, st, end - st), Seed)
      }
      g += 1
    }
    // per-window min (clamped at the tail like slice), distinct in
    // first-occurrence order
    val nW = math.max(nG - w + 1, 1)
    val cap = java.lang.Integer.highestOneBit(math.max(4, nW * 2) - 1) << 1
    val mask = cap - 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val out = new Array[Long](nW)
    var nOut = 0
    var j = 0
    while (j < nW) {
      var mn = kh(j)
      var t = j + 1
      val end = math.min(j + w, nG)
      while (t < end) { if (kh(t) < mn) mn = kh(t); t += 1 }
      var slot = (mn.toInt ^ (mn >>> 32).toInt) & mask
      var dup = false
      while (used(slot) && !dup) {
        if (table(slot) == mn) dup = true else slot = (slot + 1) & mask
      }
      if (!dup) {
        used(slot) = true; table(slot) = mn
        out(nOut) = mn; nOut += 1
      }
      j += 1
    }
    new GenericArrayData(
      if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut))
  }

  /** The winnowing fingerprint sketch (Schleimer et al. SIGMOD'03) of
    * `text` as-is (no lowercasing in the winnowing contract) in ONE pass —
    * `array<long>` of the distinct per-window minimum k-gram hashes,
    * first-occurrence order.
    *
    * Replaces [[graft.operators.TextAnalysis.winnowingSketch]]'s staged
    * HOF pipeline: a transform materializing one UTF8String substring +
    * hash per character position, then a second transform running
    * `array_min(slice(...))` per window, then `array_distinct` — all
    * interpreted, the slowest per-document scalar after langid (31.7 s at
    * sf1). Here character offsets are decoded once, each k-gram hashes
    * zero-copy from the original bytes, and the window minimum is a tight
    * clamped loop.
    *
    * Value-exact with the composable form (pinned by
    * ShingleSigsPropertySpec):
    *  - k-gram i (1-based, i <= max(numChars-k+1, 1)) = `substr(text, i, k)`
    *    — CHARACTER-addressed (code points, = UTF8String.numChars), shorter
    *    at the tail exactly as substr clamps; numChars = 0 still yields the
    *    single empty k-gram (`greatest(n-k+1, 1)`);
    *  - hash: `portable = true` → md5-56, the first 14 hex chars of the
    *    md5 of the gram's UTF-8 bytes as a long
    *    ([[graft.operators.Dedup.portableHash56]]'s value — the DuckDB
    *    oracle recomputes it); `portable = false` → xxhash64 (seed 42);
    *  - windows: min over hashes j..j+w-1, clamped at the tail like
    *    `slice`; fewer than w hashes → one window over all;
    *  - distinct: first-occurrence order, as `array_distinct`. */
  def winnowSketch(text: Column, k: Int, w: Int, portable: Boolean): Column = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    NativeKernel(this, NativeKernel.LongsOut, Seq(text -> StringType),
      Seq(Literal(k), Literal(w), Literal(portable)))
  }
}
