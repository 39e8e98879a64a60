package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

object MinhashSig {
  /** Mersenne prime 2^31-1: the Carter-Wegman modulus. */
  val MersenneP = 2147483647L

  /** The Carter-Wegman permutation constants (a_i in [1,p), b_i in
    * [0,p)); seed fixed so every session — and the relational
    * formulation this kernel replaced — derives the identical
    * signature family. */
  val mixConsts: IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(0x5eed5eedL)
    IndexedSeq.fill(64)((
      1L + math.floorMod(rnd.nextLong(), MersenneP - 1), // a in [1, p)
      math.floorMod(rnd.nextLong(), MersenneP)))         // b in [0, p)
  }
  private val as: Array[Long] = mixConsts.map(_._1).toArray
  private val bs: Array[Long] = mixConsts.map(_._2).toArray

  def compute(hs: ArrayData, numHashes: Int): GenericArrayData = {
    val n = hs.numElements()
    val out = new Array[Long](numHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    var j = 0
    while (j < n) {
      if (hs.isNullAt(j)) TextBytes.failNullSlot("minhash_sig", j)
      val h0 = hs.getLong(j)
      val hp = ((h0 % MersenneP) + MersenneP) % MersenneP
      var i = 0
      while (i < numHashes) {
        val v = (hp * as(i) + bs(i)) % MersenneP // operands < 2^31: no overflow
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** The `numHashes`-element MinHash signature of a shingle-hash
    * (`array<long>`) column in ONE pass — `array<long>`.
    *
    * Replaces the relational formulation of
    * [[graft.operators.Dedup.minhashPairsFromSigs]] (explode the hash set,
    * groupBy(id) with `numHashes` codegen'd MIN aggregates, repack the
    * array): one row per (doc, shingle) through an aggregate hash map and
    * a by-id exchange become a tight per-row loop with NO shuffle — the
    * signature never leaves its row. Value-exact by construction: the same
    * Carter-Wegman constants ([[mixConsts]], seed 0x5eed5eed) and the same
    * arithmetic — min over shingles of pmod(pmod(h, p) * a_i + b_i, p),
    * p = 2^31-1; hp < 2^31 and a_i < 2^31 keep every product inside long
    * range. Pinned against the relational form by ShingleSigsPropertySpec.
    *
    * Callers must exclude empty arrays first (the relational explode drops
    * those docs entirely); on an empty input this returns sentinel
    * Long.MaxValue mins rather than silently fabricating a signature. A
    * null element fails loudly. */
  def minhashSig(hs: Column, numHashes: Int): Column = {
    require(numHashes >= 1 && numHashes <= 64,
      s"numHashes must be in [1, 64], got $numHashes")
    NativeKernel(this, NativeKernel.LongsOut, Seq(hs -> NativeKernel.LongsIn),
      Seq(Literal(numHashes)))
  }
}
