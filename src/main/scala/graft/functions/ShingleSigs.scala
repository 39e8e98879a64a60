package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object ShingleSigs {
  private val Seed = 42L // xxhash64's fixed seed

  import TextBytes.isWs

  def compute(s: UTF8String, n: Int): GenericArrayData = {
    val b = s.getBytes
    val len = b.length
    // one pass: copy token bytes into the normalized (single-space
    // joined) buffer, recording each token's start offset within it
    val norm = new Array[Byte](len)
    var starts = new Array[Int](math.max(8, len / 4))
    var nTok = 0
    var w = 0 // write cursor in norm
    var i = 0
    while (i < len) {
      while (i < len && isWs(b(i))) i += 1
      if (i < len) {
        if (nTok == starts.length) starts = java.util.Arrays.copyOf(starts, nTok * 2)
        if (nTok > 0) { norm(w) = ' '; w += 1 }
        starts(nTok) = w
        nTok += 1
        while (i < len && !isWs(b(i))) { norm(w) = b(i); w += 1; i += 1 }
      }
    }
    val nSh = if (nTok >= n) nTok - n + 1 else 1
    // open-addressing distinct filter, first-occurrence order. Keyed on
    // the SHINGLE BYTES (hash probe + byte-slice verify), exactly like
    // array_distinct over the strings: an xxhash64 collision between two
    // distinct shingles must keep both hashes, as the composable
    // distinct-then-hash form does.
    val cap = java.lang.Integer.highestOneBit(math.max(4, nSh * 2) - 1) << 1
    val mask = cap - 1
    val table = new Array[Long](cap)   // hash of first occupant
    val slotSt = new Array[Int](cap)   // occupant's slice in norm
    val slotEnd = new Array[Int](cap)
    val used = new Array[Boolean](cap)
    val out = new Array[Long](nSh)
    var nOut = 0
    var k = 0
    while (k < nSh) {
      // shingle k (0-based): tokens k..k+n-1 = norm[starts(k), end), where
      // end is one byte before the NEXT token's start (or the buffer end).
      // cnt < n degenerates to the whole joined buffer (k == 0, end == w).
      val st = if (nTok == 0) 0 else starts(k)
      val end = if (k + n >= nTok) w else starts(k + n) - 1
      val h = XXH64.hashUTF8String(UTF8String.fromBytes(norm, st, end - st), Seed)
      var slot = (h.toInt ^ (h >>> 32).toInt) & mask
      var dup = false
      while (used(slot) && !dup) {
        if (table(slot) == h &&
            sliceEq(norm, slotSt(slot), slotEnd(slot), st, end)) dup = true
        else slot = (slot + 1) & mask
      }
      if (!dup) {
        used(slot) = true; table(slot) = h
        slotSt(slot) = st; slotEnd(slot) = end
        out(nOut) = h; nOut += 1
      }
      k += 1
    }
    new GenericArrayData(
      if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut))
  }

  private def sliceEq(b: Array[Byte], s1: Int, e1: Int, s2: Int, e2: Int): Boolean = {
    if (e1 - s1 != e2 - s2) return false
    var i = 0
    val len = e1 - s1
    while (i < len) {
      if (b(s1 + i) != b(s2 + i)) return false
      i += 1
    }
    true
  }

  /** Distinct xxhash64 word-`n`-gram shingle signatures in ONE pass over
    * the document — `array<long>`, first occurrence order.
    *
    * Replaces the three-projection composable pipeline of
    * [[graft.operators.Dedup.signatures]] (regex `\s+` tokenize dropping
    * empties -> HOF transform building every shingle STRING via concat_ws
    * -> array_distinct -> HOF transform hashing each string), which
    * materializes the token array, every shingle string, and two
    * intermediate arrays per document, all interpreted (HOFs are
    * CodegenFallback). Here the document's tokens are written once into a
    * normalized buffer (single-space joined), each shingle is a contiguous
    * SLICE of that buffer (consecutive shingle tokens are adjacent in it),
    * and the hash runs zero-copy over the slice.
    *
    * Value-exact with the composable form (pinned by
    * ShingleSigsPropertySpec):
    *  - tokens: maximal runs of non-whitespace, whitespace = Java regex
    *    \s (ASCII, never inside UTF-8 multibyte sequences — the
    *    [[GopherStats]] argument). The input must already be lowercased
    *    by the caller (Spark's own `lower()` stays outside, so Unicode
    *    case-folding parity is Spark's, not re-implemented here);
    *  - shingle i (1-based, i <= cnt-n+1) = tokens i..i+n-1 joined by one
    *    space = concat_ws(" ", slice(t, i, n)); cnt < n degenerates to
    *    the single whole-document joined string, exactly
    *    `when(cnt >= n, ...).otherwise(array(concat_ws(" ", t)))`;
    *  - hash: [[XXH64.hashUTF8String]] with seed 42 — the identical
    *    primitive the `xxhash64` expression evaluates for a string;
    *  - distinct: first-occurrence order, as `array_distinct`. */
  def shingleSigs(text: Column, n: Int): Column = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    NativeKernel(this, NativeKernel.LongsOut, Seq(text -> StringType), Seq(Literal(n)))
  }
}
