package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object WindowFps {
  import TextBytes.isWs

  private val hexDigits = "0123456789abcdef".toCharArray

  def compute(s: UTF8String, positions: ArrayData, w: Int): GenericArrayData = {
    val b = s.getBytes
    val len = b.length
    // normalized (single-space joined) token buffer + start offsets
    val norm = new Array[Byte](len)
    var starts = new Array[Int](math.max(8, len / 4))
    var nTok = 0
    var wr = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(b(i))) i += 1
      if (i < len) {
        if (nTok == starts.length) starts = java.util.Arrays.copyOf(starts, nTok * 2)
        if (nTok > 0) { norm(wr) = ' '; wr += 1 }
        starts(nTok) = wr
        nTok += 1
        while (i < len && !isWs(b(i))) { norm(wr) = b(i); wr += 1; i += 1 }
      }
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val nPos = positions.numElements()
    val out = new Array[AnyRef](nPos)
    var k = 0
    while (k < nPos) {
      if (positions.isNullAt(k)) TextBytes.failNullSlot("window_fps", k)
      val p = positions.getInt(k)
      // slice(t, p+1, w) clamps at the array end; an out-of-range start
      // yields the empty join ("" digest), matching concat_ws on the
      // empty slice
      val st = if (p >= 0 && p < nTok) starts(p) else 0
      val end =
        if (p < 0 || p >= nTok) 0
        else if (p + w >= nTok) wr
        else starts(p + w) - 1
      md.reset()
      md.update(norm, st, math.max(0, end - st))
      out(k) = hex(md.digest())
      k += 1
    }
    new GenericArrayData(out)
  }

  private def hex(d: Array[Byte]): UTF8String = {
    val cs = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      cs(2 * i) = hexDigits((d(i) >> 4) & 0xF).toByte
      cs(2 * i + 1) = hexDigits(d(i) & 0xF).toByte
      i += 1
    }
    UTF8String.fromBytes(cs)
  }

  /** The md5 window fingerprints of a document at the given token
    * positions, in ONE pass — `array<string>` of lowercase hex digests,
    * aligned with the positions array. A null position fails loudly.
    *
    * Replaces the survivor stage of
    * [[graft.operators.Dedup.substringDupWindows]]: regex re-tokenize of
    * each surviving document, then per position an interpreted
    * `slice(t, pos+1, w)` + `concat_ws(" ", ...)` building the window
    * string before `md5`. Here the document's tokens are written once into
    * a normalized (single-space joined) buffer and each window fingerprint
    * is the md5 of a contiguous SLICE of it — no token array, no window
    * strings. On replica-stress corpora where the `n_g >= 2` arm makes
    * EVERY window survive, this stage is the operator's dominant cost.
    *
    * Value-exact with the composable form (pinned by
    * ShingleSigsPropertySpec): tokens are maximal non-\s runs (ASCII \s —
    * the [[GopherStats]] argument; the caller keeps Spark's `lower()`
    * outside); position p (0-based) covers tokens p..p+w-1 =
    * `slice(t, p+1, w)`, clamped at the token count exactly as slice
    * clamps; the digest is md5 over the UTF-8 bytes of the
    * single-space-joined window, hex-encoded lowercase like Spark's
    * `md5()`. */
  def windowFps(text: Column, positions: Column, w: Int): Column = {
    require(w >= 1, s"window width must be >= 1, got $w")
    NativeKernel(this, NativeKernel.StringsOut,
      Seq(text -> StringType, positions -> ArrayType(IntegerType, containsNull = true)),
      Seq(Literal(w)))
  }
}
