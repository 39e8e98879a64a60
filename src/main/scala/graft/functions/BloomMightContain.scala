package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

object BloomMightContainLong {

  def compute(key: Long, bloom: BloomFilter): Boolean = bloom.mightContainLong(key)

  /** Membership probe of a bigint key against a driver-built
    * [[org.apache.spark.util.sketch.BloomFilter]] riding the plan as an
    * object literal.
    *
    * The candidate-pruning half of the Bloom decontamination scale path
    * ([[graft.operators.Dedup.contaminationCountsBloom]]): `false` is
    * definitive (the key is certainly not in the set the filter was built
    * from — no false negatives by the Bloom contract), `true` is a
    * candidate that downstream EXACT verification must confirm. Callers
    * therefore never change results by inserting this filter; they only
    * shrink the rows reaching the verify join. */
  def mightContainLong(key: Column, bloom: BloomFilter): Column =
    NativeKernel(this, BooleanType, Seq(key -> LongType),
      Seq(Literal.create(bloom, ObjectType(classOf[BloomFilter]))))
}
