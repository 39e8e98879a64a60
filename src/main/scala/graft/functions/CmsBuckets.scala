package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object CmsBuckets {

  def compute(key: UTF8String, depth: Int, width: Int): GenericArrayData = {
    val kb = key.getBytes
    val buf = new Array[Byte](kb.length + 2)
    buf(1) = ':'
    System.arraycopy(kb, 0, buf, 2, kb.length)
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](depth)
    var d = 0
    while (d < depth) {
      buf(0) = ('0' + d).toByte // depth <= 10 keeps this one digit
      md.reset()
      md.update(buf)
      val dig = md.digest()
      var h = 0L
      var j = 0
      while (j < 7) { h = (h << 8) | (dig(j) & 0xFFL); j += 1 }
      out(d) = h % width // h >= 0, so % == pmod
      d += 1
    }
    new GenericArrayData(out)
  }

  /** All `depth` count-min-sketch bucket ids of the already-cast string
    * `key` in one pass — `array<long>`, element d =
    * `pmod(md5_56("<d>:<key>"), width)`.
    *
    * Replaces a crossJoin against the depth dimension where every row
    * evaluated `pmod(conv(substring(md5(concat(cast, ':', cast)), 1, 14),
    * 16, 10), width)` — a built string, a full hex digest string, and a
    * base-16 parse per (row, d). Here the key bytes render once, the `d`
    * prefix is patched per hash, and the first 7 digest bytes fold
    * directly to the long ([[graft.operators.Dedup.portableHash56]]'s
    * value — the DuckDB oracle rebuilds the identical sketch from the
    * same md5 formula). Pinned by ShingleSigsPropertySpec. */
  def cmsBuckets(key: Column, depth: Int, width: Int): Column = {
    require(depth >= 1 && depth <= 10, s"depth must be in [1, 10], got $depth")
    require(width >= 1, s"width must be >= 1, got $width")
    NativeKernel(this, NativeKernel.LongsOut, Seq(key -> StringType),
      Seq(Literal(depth), Literal(width)))
  }
}
