package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object SubstrWindowKeys {
  private val Seed = 42L // xxhash64's fixed seed

  import TextBytes.isWs

  def compute(s: UTF8String, w: Int, mod: Long): GenericArrayData = {
    val b = s.getBytes
    val len = b.length
    // pass 1: hash each token slice into a primitive array
    var hs = new Array[Long](math.max(8, len / 4))
    var nTok = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(b(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(b(i))) i += 1
        if (nTok == hs.length) hs = java.util.Arrays.copyOf(hs, nTok * 2)
        val h = XXH64.hashUTF8String(UTF8String.fromBytes(b, start, i - start), Seed)
        hs(nTok) = ((h % mod) + mod) % mod
        nTok += 1
      }
    }
    if (nTok < w) return new GenericArrayData(Array.emptyLongArray)
    // pass 2: combine the four sampled hashes per window position
    val o1 = (w - 1) / 3
    val o2 = 2 * (w - 1) / 3
    val o3 = w - 1
    val out = new Array[Long](nTok - w + 1)
    var k = 0
    while (k < out.length) {
      out(k) = hs(k) * 1000003L + hs(k + o1) * 524287L +
        hs(k + o2) * 8191L + hs(k + o3) * 131L
      k += 1
    }
    new GenericArrayData(out)
  }

  /** The substring-dedup window keys of a document in ONE pass —
    * `array<long>`, one key per w-token sliding window, empty when the
    * document has fewer than w tokens.
    *
    * Replaces the corpus-wide stage of
    * [[graft.operators.Dedup.substringDupWindows]]: regex `\s+` tokenize
    * materializing the token array, an interpreted HOF transform hashing
    * every token (`pmod(xxhash64(tok), p)`), and a second interpreted HOF
    * transform combining four sampled hashes per window position. Here
    * tokens are slices of the input bytes (no token array), each is hashed
    * once into a primitive long array, and the window combine is a tight
    * loop over it.
    *
    * Value-exact with the composable form (pinned by
    * ShingleSigsPropertySpec):
    *  - tokens: maximal runs of non-whitespace, whitespace = Java regex \s
    *    (ASCII — the [[GopherStats]] argument); the caller keeps Spark's
    *    own `lower()` outside;
    *  - token hash: [[XXH64.hashUTF8String]] seed 42 over the token's own
    *    bytes (the identical primitive `xxhash64` evaluates), then
    *    `pmod(h, mod)` = ((h % mod) + mod) % mod;
    *  - key at 1-based window position i (i <= cnt-w+1):
    *    h(i)*1000003 + h(i+(w-1)/3)*524287 + h(i+2(w-1)/3)*8191 +
    *    h(i+w-1)*131 — with mod = 2^31-1 each term < 2^52, inside long
    *    range, so the wrap-free sum matches Spark's non-ANSI long
    *    arithmetic exactly. */
  def substrWindowKeys(text: Column, w: Int, mod: Long): Column = {
    require(w >= 2, s"window width must be >= 2, got $w")
    require(mod > 0, s"modulus must be positive, got $mod")
    NativeKernel(this, NativeKernel.LongsOut, Seq(text -> StringType),
      Seq(Literal(w), Literal(mod)))
  }
}
