package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set against the full corpus; one scan, distributed top-k per query
  *    via window rank. The 100 TB story: the corpus side streams, nothing
  *    is ever collected; cost is O(|corpus| * |queries|) dot products, all
  *    inside one codegen'd projection.
  *  - [[lshTopK]]: approximate — random-hyperplane LSH buckets
  *    (sign-bit sketch), candidates only within the query's bucket
  *    (+ optional multi-probe neighbors), exact re-rank inside. Sub-linear
  *    candidate volume at scale; the hyperplanes are derived from a seeded
  *    hash so every executor materializes them identically with no
  *    broadcast state.
  */
object Similarity {

  /** Cosine similarity of two float arrays, computed in strict index
    * order (zip_with + left fold) — the same evaluation order DuckDB's
    * list_cosine_similarity uses, so oracle comparisons are bit-stable.
    * Composable/interpreted reference form; the hot paths use
    * [[cosineFast]]. */
  def cosineComposable(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast(DoubleType) * q.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Native codegen'd cosine ([[graft.functions.CosineSimilarity]]):
    * fused primitive loop, no intermediate arrays, bit-identical to the
    * composable form (same index-order double accumulation). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosineNative(a, b)

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` must be small (it is broadcast); `corpus` is unbounded.
    * Self-pairs excluded. Output: (q_id, rank, n_id, cosine). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", cosine(col("q_v"), col("n_v")))
    // ONE window: rank = the same row_number the top-k filter ranks on
    // ((cosine desc, n_id asc) is a total order — n_id is unique per
    // q_id group), so re-deriving it with a second window over the
    // k survivors (the pre-round-20 form) produced identical values
    // while paying an extra sort+window operator per invocation.
    Relational.rankInGroups(scored, Seq("q_id"),
        Seq(("cosine", true), ("n_id", false)), "rank")
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** Deterministic pseudo-random hyperplanes: component (plane, d) is
    * the portable md5-56 hash of "plane_d" (the same formula as
    * [[Dedup.portableHash56]]) mapped to [-1, 1) — 2^56 values / 2^55,
    * minus 1. Executor-independent AND engine-portable: any md5-capable
    * engine reproduces the identical hyperplanes, so the DuckDB oracle
    * can restate the full bucket + multi-probe + re-rank contract (the
    * same reproducibility argument as dedup_prefix / dedup_simhash).
    *
    * The value depends only on the CONSTANT (plane, d), so the matrix
    * is precomputed on the driver ([[hash56Local]], the JVM replica of
    * portableHash56) and baked into the plan as typedlit arrays — like
    * the IVF centroids. Evaluating the hash per row (the previous
    * formulation) paid an md5 of a built string per
    * (row x plane x dimension); the oracle still recomputes the same
    * values in SQL, because only the values matter. */
  private def hash56Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 14 hex chars == first 7 bytes, big-endian (always positive)
    d.take(7).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }
  private[graft] def planeVector(plane: Int, dim: Int): Seq[Double] =
    (0 until dim).map(d =>
      hash56Local(s"${plane}_$d") / 36028797018963968.0 - 1.0)

  /** Dot product of a vector column with precomputed hyperplane `plane`
    * — strict index order, same products and left-fold order as the
    * per-row md5 formulation it replaced, so buckets are bit-identical. */
  private def planeDot(vec: Column, plane: Int, dim: Int): Column =
    aggregate(
      zip_with(vec, typedlit(planeVector(plane, dim)),
        (v, p) => v.cast(DoubleType) * p),
      lit(0.0), (acc, x) => acc + x)

  /** Embedding dimensionality, sniffed from one NON-NULL row
    * (driver-side, one bounded job) — needed to size the precomputed
    * hyperplane matrix. Uniform dimensionality is a PRECONDITION of
    * every LSH/IVF operator here (the hyperplane matrices are fixed-dim);
    * [[requireDim]] turns a violating row into a loud runtime error
    * instead of a silently zero-padded dot product. */
  private def dimOf(df: DataFrame, vecCol: String): Int = {
    val row = df.select(size(col(vecCol)))
      .where(col(vecCol).isNotNull).limit(1).collect()
    require(row.nonEmpty,
      s"cannot infer embedding dimensionality: column '$vecCol' has no " +
        "non-null vectors")
    row(0).getInt(0)
  }

  /** Pass `vec` through iff it matches the sniffed dimensionality; any
    * other length (or null) raises at execution time. Guards the bucket
    * paths: a zip_with against a fixed-dim hyperplane null-pads length
    * mismatches, which would silently zero the sign bit. */
  private def requireDim(vec: Column, dim: Int): Column =
    when(vec.isNotNull && size(vec) === dim, vec)
      .otherwise(raise_error(concat(
        lit(s"embedding dimensionality mismatch: expected $dim, got "),
        coalesce(size(vec).cast("string"), lit("null")))))

  /** The full hyperplane matrix for planes [0, count), precomputed
    * driver-side (tiny: count x dim doubles) and shipped into the native
    * [[graft.functions.LshBuckets]] expression as a plan reference.
    *
    * Memoized per (count, dim): [[graft.functions.LshBuckets]] holds the
    * matrix as an `Array` field, so Catalyst's case-class equality (and
    * hence canonicalization, subexpression elimination, and exchange
    * reuse) is REFERENCE-based — two calls re-tabulating fresh arrays
    * would never compare equal even with identical planes. The memo
    * returns the one shared instance, so structurally identical bucket
    * expressions in one plan ARE recognized as equal. The matrix is
    * deterministic (portable md5-56 planes) and never mutated. */
  private val planeMatrixCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
  private def planeMatrix(count: Int, dim: Int): Array[Array[Double]] =
    planeMatrixCache.computeIfAbsent((count, dim),
      { case (c, d) => Array.tabulate(c)(p => planeVector(p, d).toArray) })

  /** Sign-bit LSH bucket id from `numPlanes` random hyperplanes of
    * dimensionality `dim`. Native one-pass ([[graft.functions.LshBuckets]]
    * with a single band): the composable per-plane HOF folds it replaced
    * are kept in [[lshBucketComposable]] as the regression pin. */
  def lshBucket(vec: Column, numPlanes: Int, dim: Int): Column =
    element_at(graft.functions.LshBuckets.lshBuckets(
      vec, planeMatrix(numPlanes, dim), numPlanes), 1)

  /** The composable lshBucket formulation (regression pin only). */
  private[graft] def lshBucketComposable(vec: Column, numPlanes: Int,
                                         dim: Int): Column =
    (0 until numPlanes).map { p =>
      when(planeDot(vec, p, dim) >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce[Column]((a, b) => a.bitwiseOR(b))

  /** Banded sign-LSH near-dup pairs over an embedding column — the
    * scale path for [[Dedup.embeddingCosinePairs]]' all-pairs baseline:
    * `bands` bands of `planesPerBand` portable hyperplane sign bits
    * each; a pair is a candidate iff ALL bits of some band agree (one
    * shuffle keyed by (band, bucket), the MinHash-banding shape), then
    * the exact cosine verifies >= threshold, so false positives never
    * survive. The banding table carries (id, band, bucket) only — the
    * vectors join back by id for verification, never riding the
    * explode. Hyperplanes are portable md5-56 ([[planeComponent]]), so
    * the DuckDB oracle replays the identical candidate contract.
    *
    * Tuning honesty: sign-LSH pruning strengthens with the threshold
    * (at cos >= 0.9, 8-bit bands reject >95% of random pairs); at a low
    * threshold like 0.45 on isotropic vectors the prune is mild and
    * recall at the boundary is ~1-(1-(1-acos(t)/pi)^p)^b (~0.96 for
    * 16x4). Both knobs are part of the stated contract.
    *
    * `planesPerBand = 0` (the default) DERIVES the band width from the
    * corpus size via [[planesForCorpus]] — a fixed width degenerates
    * toward all-pairs as the corpus grows (2^p buckets per band must
    * track N), which is exactly what a fixed 4 did at 20k vectors. */
  def lshCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, bands: Int = 16,
                     planesPerBand: Int = 0): DataFrame = {
    val dim = dimOf(df, vecCol)
    val ppb = if (planesPerBand > 0) planesPerBand
              else planesForCorpus(df.count())
    // repartition the raw vectors: the corpus parquet is one small file
    // (one scan task), and the bands*ppb*dim dot products below are the
    // dominant per-row cost — they must run on all cores. The whole
    // band-bucket array computes in ONE native pass
    // ([[graft.functions.LshBuckets]]); the composable form paid one
    // interpreted aggregate(zip_with) fold per (band, bit).
    val v = df.select(col(idCol).as("id"),
      requireDim(col(vecCol), dim).as("v")).repartition()
    val bandBuckets = graft.functions.LshBuckets.lshBuckets(
      col("v"), planeMatrix(bands * ppb, dim), ppb)
    val banded = v.select(col("id"), posexplode(bandBuckets))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // Explicit numbered repartition: the banded rows are tiny (3 longs),
    // so AQE would coalesce the pre-join exchange to ONE partition and
    // the quadratic in-bucket pair expansion — the actual work — would
    // run single-threaded. A hard repartition keeps the expansion wide.
    val parts = math.max(v.sparkSession.sparkContext.defaultParallelism, 32)
    val bandedW = banded.repartition(parts, col("band"), col("bucket"))
    Dedup.verifyPairs(Dedup.keyPairs(bandedW, Seq("band", "bucket")), v,
      cosine, threshold, "cosine")
  }

  /** Band width (sign bits per band) for a corpus of `n` vectors: the
    * smallest p in [4, 16] with n <= 128 * 2^p, i.e. ~128 vectors per
    * band bucket in expectation. Integer-exact piecewise (no float log)
    * so the DuckDB oracle restates the identical derivation as a CASE
    * chain — any float-log boundary (N/128 an exact power of two) would
    * risk the two engines deriving different widths. 4 at <= 2048
    * vectors (the sf0.001-0.1 fixtures — outputs unchanged there), 8 at
    * the 20k-vector sf1 fixture where a fixed 4 degenerated toward
    * all-pairs. */
  def planesForCorpus(n: Long): Int = {
    var p = 4
    while (p < 16 && n > (128L << p)) p += 1
    p
  }

  // ------------------------------------------------------------ IVF ANN

  /** Train IVF centroids: deterministic init (the `nlist` lowest-id
    * vectors) + `iters` Lloyd rounds. Assignment work is distributed
    * (argmax over codegen'd cosines); only the nlist x dim centroid
    * matrix ever reaches the driver — the classic IVF shape, where the
    * coarse quantizer is tiny and the corpus never moves. */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 16, iters: Int = 3): Array[Seq[Float]] = {
    var centroids: Array[Seq[Float]] = corpus
      .orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0))
    for (_ <- 0 until iters) {
      val assigned = corpus.select(col(vecCol).as("v"),
        ivfAssign(col(vecCol), centroids).as("bucket"))
      val sums = assigned
        .select(col("bucket"), posexplode(col("v")))
        .groupBy(col("bucket"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
      val byBucket = sums.groupBy(_.getInt(0))
      centroids = centroids.indices.map { b =>
        byBucket.get(b) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
          case None => centroids(b) // empty cluster keeps its centroid
        }
      }.toArray
    }
    centroids
  }

  /** Nearest-centroid id (cosine argmax; ties -> lowest id). */
  def ivfAssign(vec: Column, centroids: Array[Seq[Float]]): Column = {
    val cos = centroids.map(c => cosine(vec, typedlit(c)))
    val arr = array(cos: _*)
    (array_position(arr, array_max(arr)) - 1).cast("int")
  }

  /** `nprobe` nearest centroid ids for a query vector. */
  private def ivfProbes(vec: Column, centroids: Array[Seq[Float]],
                        nprobe: Int): Column = {
    val scored = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(cosine(vec, typedlit(c)).as("s"), lit(i).as("i"))
    }: _*)
    val sorted = reverse(array_sort(scored))
    transform(slice(sorted, 1, nprobe), p => p.getField("i"))
  }

  /** IVF approximate top-k: corpus bucketed by nearest centroid, queries
    * probe their `nprobe` nearest centroid lists, exact cosine re-rank
    * within. Compared to sign-LSH, the quantizer adapts to the data
    * distribution (Lloyd), so clustered corpora get much better
    * bucket-recall at equal candidate volume. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 4, iters: Int = 3): DataFrame = {
    val centroids = ivfTrain(corpus, idCol, vecCol, nlist, iters)
    ivfTopKFromIndex(
      ivfBucketedCorpus(corpus, idCol, vecCol, centroids), centroids,
      queries, idCol, vecCol, k, nprobe)
  }

  /** The corpus side of an IVF index: each vector tagged with its
    * nearest-centroid bucket. Train once, assign once, persist/write —
    * at scale this is the partitioned index layout queries probe into. */
  def ivfBucketedCorpus(corpus: DataFrame, idCol: String, vecCol: String,
                        centroids: Array[Seq[Float]]): DataFrame =
    corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v"))
      .withColumn("bucket", ivfAssign(col("n_v"), centroids))

  /** [[ivfTopK]] from a pre-trained index ([[ivfTrain]] centroids +
    * [[ivfBucketedCorpus]]) — index construction is prepare-phase work;
    * per-query cost is nprobe bucket joins + exact re-rank only. */
  def ivfTopKFromIndex(c: DataFrame, centroids: Array[Seq[Float]],
                       queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       nprobe: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
      .select(col("q_id"), col("q_v"),
        explode(ivfProbes(col("q_v"), centroids, nprobe)).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", cosine(col("q_v"), col("n_v")))
    Relational.topKPerGroup(scored, Seq("q_id"),
        Seq(("cosine", true), ("n_id", false)), k)
      .select(col("q_id"), col("n_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Approximate top-k: candidates restricted to the query's LSH bucket
    * plus all buckets at Hamming distance 1 (multi-probe — one extra
    * probe per plane roughly doubles recall at the same bucket
    * granularity), exact cosine re-rank within. At 100 TB the bucket
    * join replaces the full cross product with a shuffle on (bucket)
    * keys; the corpus side is hashed once and never broadcast. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              numPlanes: Int = 8, probeDistance: Int = 1): DataFrame = {
    val dim = dimOf(corpus, vecCol)
    val c = corpus.select(col(idCol).as("n_id"),
        requireDim(col(vecCol), dim).as("n_v"))
      .withColumn("bucket", lshBucket(col("n_v"), numPlanes, dim))
    val q0 = queries.select(col(idCol).as("q_id"),
        requireDim(col(vecCol), dim).as("q_v"))
      .withColumn("bucket0", lshBucket(col("q_v"), numPlanes, dim))
    // multi-probe: the query's own bucket + each single-bit flip
    val probes: Column =
      if (probeDistance <= 0) array(col("bucket0"))
      else array(col("bucket0") +:
        (0 until numPlanes).map(p => col("bucket0").bitwiseXOR(lit(1L << p))): _*)
    val q = q0.select(col("q_id"), col("q_v"),
      explode(probes).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
      .withColumn("cosine", cosine(col("q_v"), col("n_v")))
    Relational.topKPerGroup(scored, Seq("q_id"),
        Seq(("cosine", true), ("n_id", false)), k)
      .select(col("q_id"), col("n_id"), round(col("cosine"), 4).as("cosine"))
  }
}
