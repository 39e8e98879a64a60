package graft

import graft.operators.Similarity

/** `Similarity.ivfTrain` against an independent plain-Scala Lloyd
  * reference stating the same rules: init is the `nlist` lowest-id
  * vectors; each vector joins the centroid of highest cosine
  * (index-order double accumulation), ties going to the lowest centroid
  * id; each centroid moves to the per-dimension double mean of its
  * members, rounded to float; an empty cluster keeps its centroid.
  * Small-integer vectors keep every per-dimension sum exact, so the
  * comparison is bit-exact. */
class IvfTrainSpec extends SparkSpec {
  import SparkSpecBase.implicits._

  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    def dot(x: Seq[Float], y: Seq[Float]): Double =
      x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  /** Reference centroids, plus the number of (iteration, cluster)
    * updates that found the cluster empty. */
  private def lloyd(rows: Seq[(Long, Seq[Float])], nlist: Int,
                    iters: Int): (Seq[Seq[Float]], Int) = {
    var cs = rows.sortBy(_._1).take(nlist).map(_._2)
    var empties = 0
    for (_ <- 0 until iters) {
      def nearest(v: Seq[Float]): Int = cs.indices.foldLeft(0) { (best, i) =>
        if (cosine(v, cs(i)) > cosine(v, cs(best))) i else best }
      val members = rows.map(_._2).groupBy(nearest)
      cs = cs.indices.map { c =>
        members.get(c) match {
          case Some(vs) => vs.head.indices.map(d =>
            (vs.map(_(d).toDouble).sum / vs.size).toFloat)
          case None => empties += 1; cs(c)
        }
      }
    }
    (cs, empties)
  }

  test("ivfTrain equals the plain-Scala Lloyd reference bit for bit") {
    // ids 0 and 1 carry the same vector, so the first two initial
    // centroids tie for every vector: all ties go to centroid 0 and
    // centroid 1 starts empty
    val rows: Seq[(Long, Seq[Float])] = Seq(
      Seq(1, 0, 0), Seq(1, 0, 0), Seq(0, 1, 0), Seq(2, 1, 0), Seq(3, 0, 1),
      Seq(0, 3, 1), Seq(1, 4, 0), Seq(0, 0, 2), Seq(1, 1, 3), Seq(0, 2, 5),
      Seq(4, 1, 1), Seq(2, 2, 1), Seq(5, 1, 0), Seq(1, 0, 4))
      .zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
    val (expected, empties) = lloyd(rows, nlist = 4, iters = 4)
    assert(empties >= 1, "fixture no longer exercises the empty-cluster rule")
    assert(expected != rows.take(4).map(_._2), "fixture never moves a centroid")
    val got = Similarity.ivfTrain(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nlist = 4, iters = 4)
    def bits(cs: Seq[Seq[Float]]) = cs.map(_.map(java.lang.Float.floatToIntBits))
    assert(bits(got.toSeq) === bits(expected), s"got ${got.toSeq} expected $expected")
  }
}
