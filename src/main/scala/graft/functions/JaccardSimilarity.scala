package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

object JaccardSimilarity {

  /** One JIT-compiled loop shared by every call site (generated code
    * emits a single static call rather than inlining the loop into each
    * generated class). */
  def compute(l: ArrayData, r: ArrayData): Double = {
    val na = l.numElements()
    val nb = r.numElements()
    if (na == 0 && nb == 0) return 0.0
    // toLongArray reads a null slot as 0
    TextBytes.requireNoNullSlots("jaccard_similarity", l)
    TextBytes.requireNoNullSlots("jaccard_similarity", r)
    val a = l.toLongArray()
    val b = r.toLongArray()
    java.util.Arrays.sort(a)
    java.util.Arrays.sort(b)
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na.toDouble + nb.toDouble - inter
    if (union > 0) inter / union else 0.0
  }

  /** Jaccard similarity of two distinct-element long arrays (hashed
    * shingle sets), |A∩B| / |A∪B|, 0.0 when the union is empty.
    *
    * The composable formulation (`size(array_intersect(a,b))` twice — once
    * for the numerator, once inside the union denominator — see
    * [[graft.operators.Dedup.jaccard]]) builds a hash set AND materializes
    * the intersection array per evaluation; worse, CollapseProject +
    * filter pushdown inline the alias into every consumer, so a
    * verify-filter pipeline evaluates it up to ~6x per candidate pair
    * (measured: the dominant cost of blocked n-gram verification at sf0.1,
    * >1M candidate pairs). This kernel fuses the whole computation into
    * one allocation-light loop: copy both arrays, sort, merge-count the
    * intersection. Duplicated evaluation is then harmless — no hash set,
    * no intermediate ArrayData, ~O(n log n) on primitive longs.
    *
    * Inputs are treated as SETS (the signature tables are array_distinct
    * by construction); elements may appear in any order. A null element
    * fails loudly. */
  def jaccardNative(a: Column, b: Column): Column =
    NativeKernel(this, DoubleType,
      Seq(a -> NativeKernel.LongsIn, b -> NativeKernel.LongsIn))
}
