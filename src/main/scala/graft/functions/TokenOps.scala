package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object TokenOps {
  import TextBytes.isWs

  def tokens(s: UTF8String): GenericArrayData = {
    val b = s.getBytes
    val len = b.length
    var out = new Array[AnyRef](math.max(8, len / 8))
    var n = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(b(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(b(i))) i += 1
        if (n == out.length) out = java.util.Arrays.copyOf(out, n * 2)
        out(n) = UTF8String.fromBytes(b, start, i - start)
        n += 1
      }
    }
    new GenericArrayData(
      if (n == out.length) out else java.util.Arrays.copyOf(out, n))
  }

  def bigrams(t: ArrayData): GenericArrayData = {
    val n = t.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](n - 1)
    var i = 0
    if (t.isNullAt(0)) TextBytes.failNullSlot("token_bigrams", 0)
    var prev = t.getUTF8String(0)
    while (i < n - 1) {
      if (t.isNullAt(i + 1)) TextBytes.failNullSlot("token_bigrams", i + 1)
      val next = t.getUTF8String(i + 1)
      out(i) = UTF8String.concat(prev, TokenOps.space, next)
      prev = next
      i += 1
    }
    new GenericArrayData(out)
  }

  private[functions] val space = UTF8String.fromString(" ")

  def bpeMerge(t: ArrayData, w1: UTF8String, w2: UTF8String,
               merged: UTF8String): GenericArrayData = {
    val n = t.numElements()
    val out = new Array[AnyRef](n)
    var nOut = 0
    var i = 0
    while (i < n) {
      if (t.isNullAt(i)) TextBytes.failNullSlot("bpe_merge_pair", i)
      if (i + 1 < n && !t.isNullAt(i + 1) && t.getUTF8String(i).equals(w1) &&
          t.getUTF8String(i + 1).equals(w2)) {
        out(nOut) = merged; nOut += 1; i += 2
      } else {
        out(nOut) = t.getUTF8String(i); nOut += 1; i += 1
      }
    }
    new GenericArrayData(
      if (nOut == n) out else java.util.Arrays.copyOf(out, nOut))
  }

  /** Whitespace tokenization — `array<string>`.
    *
    * Value-exact with `filter(split(text, "\\s+"), t => t =!= "")` (the
    * [[GopherStats.gopherStats]] byte-exactness argument), without the
    * regex engine, the dropped-empties filter pass, or per-token string
    * copies: each token is a zero-copy UTF8String view over the row's
    * byte array. */
  def tokens(text: Column): Column =
    NativeKernel(this, NativeKernel.StringsOut, Seq(text -> StringType), fn = "tokens")

  /** Adjacent-token bigram strings of a token array — `array<string>`,
    * element i = `t(i) + " " + t(i+1)`; empty for fewer than 2 tokens.
    *
    * Value-exact with
    * `zip_with(slice(t, 1, n-1), slice(t, 2, n-1), (a, b) => concat(a, " ", b))`
    * — which paid two sliced array copies and an interpreted HOF building
    * each pair string per element. A null token fails loudly
    * (UTF8String.concat would silently yield a null element). */
  def bigrams(t: Column): Column =
    NativeKernel(this, NativeKernel.StringsOut, Seq(t -> NativeKernel.StringsIn),
      fn = "bigrams")

  /** One BPE merge step over a token array — every ADJACENT (w1, w2)
    * occurrence becomes the single token "w1_w2", greedy left-to-right
    * non-overlapping — `array<string>`.
    *
    * Value-exact with the padded double-space replace trick it replaced
    * (`replace(replace(" " + concat_ws(" ", t) + " ", " ", "  "),
    * " w1  w2 ", " w1_w2 ")` re-tokenized): the doubled spaces make every
    * occurrence's boundaries disjoint except for one shared pad between
    * consecutive matches, which is exactly greedy non-overlapping
    * adjacency over the token sequence — "w w w" with pair (w, w) merges
    * ONCE. Pinned by ShingleSigsPropertySpec. A null token fails loudly. */
  def bpeMergePair(t: Column, w1: String, w2: String): Column =
    NativeKernel(this, NativeKernel.StringsOut, Seq(t -> NativeKernel.StringsIn),
      Seq(Literal(w1), Literal(w2), Literal(w1 + "_" + w2)), fn = "bpeMerge")
}
