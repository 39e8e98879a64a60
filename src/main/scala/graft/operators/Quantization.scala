package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding quantization: int8 scalar quantization with per-dimension
  * affine ranges.
  *
  * At 100 TB an embedding column is routinely the widest thing in the
  * table — float32 x 1k dims = 4 KB/row. Int8 quantization cuts storage
  * and shuffle volume 4x while preserving neighbor ordering well enough
  * for candidate generation (exact re-rank can read the float column for
  * the handful of survivors).
  *
  * Train = one aggregate pass for per-dim (min, max); encode/decode are
  * pure array expressions. Ranges are driver-held literals (dims x 2
  * doubles), baked into the plan like the IVF centroids — no broadcast
  * state, identical on every executor.
  */
object Quantization {

  /** Per-dimension (min, max) over the corpus — one explode + groupBy
    * pass, dims rows collected. */
  def trainRanges(df: DataFrame, vecCol: String): Array[(Double, Double)] = {
    val stats = df.select(posexplode(col(vecCol)))
      .groupBy(col("pos"))
      .agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
      .collect()
    val out = new Array[(Double, Double)](stats.length)
    stats.foreach { r =>
      out(r.getInt(0)) = (r.getFloat(1).toDouble, r.getFloat(2).toDouble)
    }
    out
  }

  /** Encode float vector -> int8 codes (stored as array<int> in [0,255]
    * for parquet simplicity; a production layout would pack to binary). */
  def encode(vec: Column, ranges: Array[(Double, Double)]): Column = {
    val mins = lit(ranges.map(_._1))
    val scales = lit(ranges.map { case (mn, mx) =>
      if (mx > mn) 255.0 / (mx - mn) else 0.0 })
    zip_with(vec, sequence(lit(0), lit(ranges.length - 1)), (v, i) =>
      round((v.cast(DoubleType) - element_at(mins, i + 1))
        * element_at(scales, i + 1)).cast(IntegerType))
  }

  /** Decode int8 codes back to (approximate) doubles. */
  def decode(codes: Column, ranges: Array[(Double, Double)]): Column = {
    val mins = lit(ranges.map(_._1))
    val invScales = lit(ranges.map { case (mn, mx) =>
      if (mx > mn) (mx - mn) / 255.0 else 0.0 })
    zip_with(codes, sequence(lit(0), lit(ranges.length - 1)), (c, i) =>
      c.cast(DoubleType) * element_at(invScales, i + 1) + element_at(mins, i + 1))
  }

  /** Cosine similarity computed on decoded int8 vectors (double math in
    * index order, like [[Similarity.cosineComposable]]). */
  def cosineQuantized(a: Column, b: Column,
                      ranges: Array[(Double, Double)]): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val da = decode(a, ranges)
    val db = decode(b, ranges)
    dot(da, db) / (sqrt(dot(da, da)) * sqrt(dot(db, db)))
  }

  /** Int8 scalar-quantized approximate top-k with exact re-rank — the
    * simplest quantized candidate path: score candidates on DECODED int8
    * corpus CODES against the raw query (4x less candidate I/O than
    * float32 at scale), shortlist refine*k by that approximate cosine,
    * re-rank the shortlist with exact float cosine read back from the
    * float table for the SURVIVORS only. Unlike PQ there is NO trained
    * state beyond the per-dim (min, max) aggregate, so the WHOLE path —
    * ranges, round-half-up encode, affine decode, both folds, both
    * cutoffs — restates exactly in SQL: this is the fully-hash-verified
    * member of the quantized-ANN family.
    *
    * The codes come from a pre-encoded code table `codes` (n_id, codes)
    * persisted at WRITE time (re-encoding the corpus per query through
    * interpreted HOFs made this entry the one comparable-workload bench
    * row >2x its DuckDB twin — quantization is prepare-phase work, paid
    * once), so the scan reads the 4x-smaller code column only; the float column is touched
    * exclusively by the refine*k re-rank join. Per-pair scoring is ONE
    * native fused loop ([[graft.functions.CosineSimilarity]] on the
    * decoded-double / query-double arrays — bit-identical to the three
    * separate index-order folds it replaces); the interpreted decode HOF
    * runs once per CORPUS ROW, below the broadcast join, never per pair. */
  def int8TopKFromCodes(codes: DataFrame, corpus: DataFrame,
                        queries: DataFrame, idCol: String, vecCol: String,
                        k: Int, ranges: Array[(Double, Double)],
                        refine: Int = 4): DataFrame = {
    // decode is a per-row projection BELOW the join (computed once per
    // corpus row); the per-pair expression above the join sees only the
    // bound `dec` attribute, so it stays native/codegen
    val dec = codes.select(col("n_id"), decode(col("codes"), ranges).as("dec"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
      .withColumn("qd", transform(col("q_v"), x => x.cast(DoubleType)))
    val scored = dec.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", Similarity.cosine(col("dec"), col("qd")))
    rerankShortlist(scored, corpus, idCol, vecCol, k, refine)
  }

  // ------------------------------------------------ product quantization

  /** PQ codebooks: `m` subspaces x `k` centroids x (dim/m) doubles.
    *
    * Train = deterministic init (subvectors of the k lowest-id vectors) +
    * `iters` Lloyd rounds. Each round is ONE distributed pass — encode
    * every vector (codegen'd argmin per subspace), explode to
    * (subspace, code, dim, value), average — and only the m*k*(dim/m)
    * codebook matrix reaches the driver. The corpus never moves: this is
    * the IVF training shape (Similarity.ivfTrain) applied per-subspace.
    *
    * Why PQ at 100 TB: float32 x 1k dims = 4 KB/row; m=8/k=256 PQ codes
    * are 8 BYTES/row (500x), and ADC search scans codes with per-query
    * lookup tables — the difference between an ANN index that fits in
    * cluster memory and one that does not. */
  def trainPq(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, k: Int = 16, iters: Int = 3): Array[Array[Array[Double]]] = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    var codebooks: Array[Array[Array[Double]]] = {
      val rows = corpus.orderBy(col(idCol)).limit(k)
        .select(col(vecCol)).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      Array.tabulate(m)(s => rows.map(v => v.slice(s * dsub, (s + 1) * dsub)))
    }
    for (_ <- 0 until iters) {
      val means = corpus
        .select(col(vecCol).as("v"), posexplode(encodePq(col(vecCol), codebooks)))
        .withColumnRenamed("pos", "s").withColumnRenamed("col", "code")
        .select(col("s"), col("code"),
          posexplode(slice(col("v"), col("s") * dsub + 1, lit(dsub))))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(avg(col("col")).as("mean"))
        .collect()
      val byKey = means.groupBy(r => (r.getInt(0), r.getInt(1)))
      // quantize each mean to float32 (same as the oracle's CAST(avg AS
      // REAL), mirroring the IVF centroid treatment): avg() sums in
      // whatever partial-aggregate association order the engine picked,
      // so the raw doubles can differ between Spark and DuckDB at the
      // ulp level — and those doubles feed encodePq's squared-L2 argmin
      // and the ADC refine*k cutoff, where a near-tie would flip a code
      // or shortlist member data-dependently. Float rounding absorbs
      // the divergence.
      codebooks = Array.tabulate(m)(s => Array.tabulate(k)(c =>
        byKey.get((s, c)) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat.toDouble).toArray
          case None => codebooks(s)(c) // empty cell keeps its centroid
        }))
    }
    codebooks
  }

  /** Encode: array of `m` codes, code s = argmin over the subspace-s
    * codebook of squared L2 to subvector s (ties -> lowest code). All
    * codebook entries ride the plan as a codegen reference object — no
    * broadcast state. Native single-pass ([[graft.functions.PqEncode]];
    * the composable m*k interpreted-HOF-folds form it replaced is kept
    * below as the regression pin). */
  def encodePq(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    graft.functions.PqOps.pqEncode(vec, codebooks)

  /** The composable encodePq formulation (regression pin only). */
  private[graft] def encodePqComposable(
      vec: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    array((0 until m).map { s =>
      val sub = slice(vec, s * dsub + 1, dsub)
      val scored = array(codebooks(s).zipWithIndex.map { case (c, j) =>
        struct(
          aggregate(zip_with(sub, typedlit(c.toSeq),
              (a, b) => (a.cast(DoubleType) - b) * (a.cast(DoubleType) - b)),
            lit(0.0), (acc, v) => acc + v).as("d"),
          lit(j).as("j"))
      }: _*)
      array_min(scored).getField("j")
    }: _*)
  }

  /** Per-query ADC lookup table T[s*k + c] = <q_sub_s, codebook[s][c]>,
    * computed as a COLUMN on the query row (m*k*dsub multiplies once per
    * QUERY, not per pair) — the classic ADC trick, relationally. The
    * codebook rides the plan as a literal; index-order double folds keep
    * the values bit-identical to a driver-side precompute. */
  private def queryLut(qv: Column,
                       codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    val kk = codebooks(0).length
    val dsub = codebooks(0)(0).length
    val cbLit = typedlit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    transform(sequence(lit(0), lit(m * kk - 1)), idx => {
      val s = (idx / kk).cast(IntegerType)
      val j = idx % kk
      aggregate(
        zip_with(element_at(element_at(cbLit, s + 1), j + 1),
          slice(qv, s * dsub + 1, lit(dsub)),
          (c, q) => c * q.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v)
    })
  }

  /** ADC approximate-cosine column from a codes column and the per-query
    * lookup arrays: sum_s lut[s*k + code_s] — 2m array lookups per pair,
    * native ([[graft.functions.PqOps.adcFold]]; this runs per candidate PAIR,
    * where the interpreted zip_with/aggregate fold it replaced was the
    * dominant per-pair cost). */
  private def adcScore(codes: Column, qlut: Column, qNorm: Column,
                       normLut: Column, kk: Int): Column = {
    def fold(lut: Column) = graft.functions.PqOps.adcFold(codes, lut, kk)
    fold(qlut) / (qNorm * sqrt(fold(normLut)))
  }

  /** The ADC query side shared by every FromCodes path:
    * `(q_id, q_v, qlut, qn)` — the per-query lookup table ([[queryLut]])
    * and the query's L2 norm, computed once per QUERY row. */
  private def adcQueries(queries: DataFrame, idCol: String, vecCol: String,
                         codebooks: Array[Array[Array[Double]]]): DataFrame =
    queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
      .withColumn("qlut", queryLut(col("q_v"), codebooks))
      .withColumn("qn", sqrt(aggregate(
        transform(col("q_v"), x => x.cast(DoubleType) * x.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v)))

  /** normLut[s*k + c] = ||codebook[s][c]||², the ADC norm table. */
  private def normLut(codebooks: Array[Array[Array[Double]]]): Column =
    typedlit(codebooks.flatMap(_.map(c => c.map(x => x * x).sum)).toSeq)

  /** The probe list of both IVF paths, as an expression over `q_v`: sort
    * struct(-cos, i) ascending = cosine desc with ties to the LOWEST
    * centroid id, keep the first `nprobe` centroid ids. */
  private def probeList(centroids: Array[Seq[Float]], nprobe: Int): Column = {
    val scoredArr = array(centroids.zipWithIndex.map { case (c, i) =>
      struct((-Similarity.cosine(col("q_v"), typedlit(c))).as("ns"),
        lit(i).as("i"))
    }: _*)
    transform(slice(array_sort(scoredArr), 1, nprobe), p => p.getField("i"))
  }

  /** PQ-ADC approximate top-k with exact re-rank, as ONE plan for any
    * number of queries: the query side (with its per-query ADC lookup
    * table, [[queryLut]]) broadcasts against the coded corpus, the
    * `refine`*k ADC survivors per query are re-ranked with exact cosine
    * on the float columns. No driver-side query loop and no per-query
    * plan branch — |queries| only widens the broadcast, so the operator
    * scales past the handful-of-queries contract the earlier union-based
    * formulation was bounded by. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, codebooks: Array[Array[Array[Double]]],
             refine: Int = 4): DataFrame =
    pqTopKFromCodes(
      corpus.select(col(idCol).as("n_id"),
        encodePq(col(vecCol), codebooks).as("codes")),
      corpus, queries, idCol, vecCol, k, codebooks, refine)

  /** Flat PQ-ADC query path over a PERSISTED code table `(n_id, codes)`:
    * ADC-score every code row (no coarse quantizer — the flat-scan PQ
    * shape), exact re-rank of the refine*k shortlist via a broadcast
    * join back to the float table. Identical output to the inline-encode
    * form — the shortlist is a function of (codes, query) only. */
  def pqTopKFromCodes(codes: DataFrame, corpus: DataFrame,
                      queries: DataFrame, idCol: String,
                      vecCol: String, k: Int,
                      codebooks: Array[Array[Array[Double]]],
                      refine: Int = 4): DataFrame = {
    val q = adcQueries(queries, idCol, vecCol, codebooks)
    val scored = codes.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", adcScore(col("codes"), col("qlut"), col("qn"),
        normLut(codebooks), codebooks(0).length))
    rerankShortlist(scored, corpus, idCol, vecCol, k, refine)
  }

  /** IVF+PQ with RESIDUAL encoding — the production layout refinement
    * (FAISS IndexIVFPQ's default): PQ codes quantize `v - centroid[b]`
    * instead of `v`, so the 2^codes budget describes the WITHIN-cluster
    * spread rather than re-describing cluster positions the coarse
    * quantizer already knows — higher recall at identical code bytes.
    * ADC decomposes exactly over the residual:
    *   <q, v̂>  = <q, c_b> + <q, r̂>
    *   ||v̂||²  = ||c_b||² + 2<c_b, r̂> + ||r̂||²
    * where <q, r̂> reuses the plain per-query LUT (global residual
    * codebooks), and both centroid cross terms are per-BUCKET plan
    * literals: ||c_b||² (nlist doubles) and bLut[b][s*k+j] =
    * <c_b_sub_s, codebook[s][j]> (nlist x m x k doubles — 2 KB at the
    * demo parameters, centroid-matrix-sized state like everything else
    * here). Exact float cosine re-ranks the ADC shortlist, so emitted
    * values are exact; only WHICH candidates the shortlist holds is
    * approximate — recall measured against brute force in
    * PLANS.md round-15 addendum 6 / PipelineSpec. */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int,
                        nlist: Int = 16, nprobe: Int = 4,
                        m: Int = 8, kCodes: Int = 16, refine: Int = 4): DataFrame = {
    val centroids = Similarity.ivfTrain(corpus, idCol, vecCol, nlist)
    val codebooks = trainResidualCodebooks(corpus, idCol, vecCol, centroids,
      m, kCodes)
    ivfPqResidualTopKFromIndex(corpus, queries, idCol, vecCol, k,
      centroids, codebooks, nprobe, refine)
  }

  /** residual = v - centroid[nearest bucket], float32-cast (the same
    * discipline as codebook means: downstream argmins must not sit on
    * ulp ties). */
  private def residualized(df: DataFrame, vc: String,
                           centroids: Array[Seq[Float]]): DataFrame = {
    val centLit = typedlit(centroids.map(_.map(_.toDouble)).toSeq)
    df.withColumn("bucket", Similarity.ivfAssign(col(vc), centroids))
      .withColumn("resid",
        zip_with(col(vc), element_at(centLit, col("bucket") + 1),
          (v, c) => (v.cast(DoubleType) - c).cast(FloatType)))
  }

  /** Residual PQ codebooks: [[trainPq]] over `v - centroid[bucket]`
    * (the within-cluster spread) instead of the raw vectors. Training is
    * deterministic given the centroids, so persisted codebooks replayed
    * through [[ivfPqResidualTopKFromIndex]] are bit-identical to an
    * inline train — the property the parquet-persisted oracle state
    * relies on. */
  def trainResidualCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                             centroids: Array[Seq[Float]],
                             m: Int = 8, kCodes: Int = 16,
                             iters: Int = 3): Array[Array[Array[Double]]] = {
    val residTrain = residualized(
        corpus.select(col(idCol), col(vecCol)), vecCol, centroids)
      .select(col(idCol), col("resid").as(vecCol))
    trainPq(residTrain, idCol, vecCol, m, kCodes, iters)
  }

  /** The corpus side of a residual IVF+PQ index: `(n_id, bucket, codes)`
    * — nearest IVF bucket + residual PQ codes per vector. Assign once,
    * encode once, persist/write: at scale the ADC scan reads this narrow
    * code table, never the float vectors (the `int8_codes` discipline
    * applied to residual PQ). */
  def residualCodedCorpus(corpus: DataFrame, idCol: String, vecCol: String,
                          centroids: Array[Seq[Float]],
                          codebooks: Array[Array[Array[Double]]]): DataFrame =
    residualized(
        corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v")), "n_v",
        centroids)
      .withColumn("codes", encodePq(col("resid"), codebooks))
      .select(col("n_id"), col("bucket"), col("codes"))

  /** [[ivfPqResidualTopK]] from pre-trained state (IVF centroids +
    * residual codebooks) — index training is prepare-phase work persisted
    * once per corpus; the corpus is assigned+encoded inline and handed to
    * [[ivfPqResidualTopKFromCodes]]. Callers that persist the coded
    * corpus too ([[residualCodedCorpus]]) should call FromCodes directly:
    * per-query cost is then an ADC scan of the code column + exact
    * re-rank of refine*k survivors only. */
  def ivfPqResidualTopKFromIndex(corpus: DataFrame, queries: DataFrame,
                                 idCol: String, vecCol: String, k: Int,
                                 centroids: Array[Seq[Float]],
                                 codebooks: Array[Array[Array[Double]]],
                                 nprobe: Int = 4, refine: Int = 4): DataFrame =
    ivfPqResidualTopKFromCodes(
      residualCodedCorpus(corpus, idCol, vecCol, centroids, codebooks),
      corpus, queries, idCol, vecCol, k, centroids, codebooks, nprobe, refine)

  /** Residual IVF+PQ query path over a PERSISTED coded corpus
    * ([[residualCodedCorpus]]): probe nprobe buckets, residual-ADC score
    * candidates from codes alone (never touching float vectors), then
    * exact-cosine re-rank ONLY the refine*k shortlist by joining the
    * survivors back to the float table (broadcast shortlist — the
    * [[int8TopKFromCodes]] re-rank shape). Identical output to the
    * inline-encode form: the shortlist is a function of (codes, query)
    * only, and the re-rank cosine reads the same float rows. */
  def ivfPqResidualTopKFromCodes(coded: DataFrame, corpus: DataFrame,
                                 queries: DataFrame,
                                 idCol: String, vecCol: String, k: Int,
                                 centroids: Array[Seq[Float]],
                                 codebooks: Array[Array[Array[Double]]],
                                 nprobe: Int = 4, refine: Int = 4): DataFrame = {
    val m = codebooks.length
    val dim = centroids(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val centLit = typedlit(centroids.map(_.map(_.toDouble)).toSeq)
    val kk = codebooks(0).length

    val cbNorm = typedlit(centroids.map(_.map(x => x.toDouble * x).sum).toSeq)
    val bLut = typedlit(centroids.map { cent =>
      val cd = cent.map(_.toDouble).toArray
      codebooks.zipWithIndex.flatMap { case (cb, s) =>
        cb.map(cw => cw.zipWithIndex.map { case (x, i) =>
          x * cd(s * dsub + i) }.sum)
      }.toSeq
    }.toSeq)

    def dotQ(centArr: Column): Column =
      aggregate(zip_with(col("q_v"), centArr,
        (a, b) => a.cast(DoubleType) * b), lit(0.0), (acc, v) => acc + v)
    val q = adcQueries(queries, idCol, vecCol, codebooks)
      .select(col("q_id"), col("q_v"), col("qlut"), col("qn"),
        explode(probeList(centroids, nprobe)).as("bucket"))
      // <q, c_b> per (query, probed bucket): nprobe dot products per
      // query, on the tiny broadcast side
      .withColumn("qc", dotQ(element_at(centLit, col("bucket") + 1)))

    def fold(codes: Column, lut: Column) =
      graft.functions.PqOps.adcFold(codes, lut, kk)
    val scored = coded.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc",
        (col("qc") + fold(col("codes"), col("qlut"))) /
          (col("qn") * sqrt(
            element_at(cbNorm, col("bucket") + 1)
              + lit(2.0) * fold(col("codes"), element_at(bLut, col("bucket") + 1))
              + fold(col("codes"), normLut(codebooks)))))
    rerankShortlist(scored, corpus, idCol, vecCol, k, refine)
  }

  /** Exact-cosine re-rank of the per-query ADC shortlist: float vectors
    * are read ONLY for the refine*k survivors — broadcast the
    * (|queries| x refine*k)-row shortlist, stream the float table past
    * it. Shared by every FromCodes query path, int8 included; `scored`
    * carries the approximate score as `adc`. */
  private def rerankShortlist(scored: DataFrame, corpus: DataFrame,
                              idCol: String, vecCol: String,
                              k: Int, refine: Int): DataFrame = {
    val shortlist = Relational.topKPerGroup(scored, Seq("q_id"),
        Seq(("adc", true), ("n_id", false)), refine * k)
      .select(col("q_id"), col("q_v"), col("n_id"))
    val reranked = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v"))
      .join(broadcast(shortlist), Seq("n_id"))
      .withColumn("cosine", Similarity.cosine(col("q_v"), col("n_v")))
    Relational.topKPerGroup(reranked, Seq("q_id"),
        Seq(("cosine", true), ("n_id", false)), k)
      .select(col("q_id"), col("n_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** IVF+PQ — the production ANN layout: an IVF coarse quantizer prunes
    * the corpus to the query's `nprobe` nearest buckets, PQ-ADC scores
    * only those candidates from 8-byte codes, exact cosine re-ranks the
    * shortlist. At 100 TB the scan reads (nprobe/nlist) of the rows and
    * only the code column — neither full vectors nor full corpus move. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, kCodes: Int = 16, refine: Int = 4): DataFrame = {
    val centroids = Similarity.ivfTrain(corpus, idCol, vecCol, nlist)
    val codebooks = trainPq(corpus, idCol, vecCol, m, kCodes)
    ivfPqTopKFromCodes(
      pqCodedCorpus(corpus, idCol, vecCol, centroids, codebooks),
      corpus, queries, idCol, vecCol, k, centroids, codebooks, nprobe, refine)
  }

  /** The corpus side of an IVF+PQ index: `(n_id, bucket, codes)` —
    * nearest IVF bucket + PQ codes per vector. Assign once, encode once,
    * persist/write: at scale the ADC scan reads this narrow code table,
    * never the float vectors. */
  def pqCodedCorpus(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Seq[Float]],
                    codebooks: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v"))
      .withColumn("bucket", Similarity.ivfAssign(col("n_v"), centroids))
      .withColumn("codes", encodePq(col("n_v"), codebooks))
      .select(col("n_id"), col("bucket"), col("codes"))

  /** IVF+PQ query path over a PERSISTED coded corpus ([[pqCodedCorpus]]):
    * probe nprobe buckets, ADC-score candidates from codes alone, exact
    * re-rank ONLY the refine*k shortlist via a broadcast join back to the
    * float table. Identical output to the inline-encode form — the
    * shortlist is a function of (codes, query) only. */
  def ivfPqTopKFromCodes(coded: DataFrame, corpus: DataFrame,
                         queries: DataFrame, idCol: String,
                         vecCol: String, k: Int,
                         centroids: Array[Seq[Float]],
                         codebooks: Array[Array[Array[Double]]],
                         nprobe: Int = 4, refine: Int = 4): DataFrame = {
    val q = adcQueries(queries, idCol, vecCol, codebooks)
      .select(col("q_id"), col("q_v"), col("qlut"), col("qn"),
        explode(probeList(centroids, nprobe)).as("bucket"))
    // candidates = corpus rows in a probed bucket only; each vector has
    // ONE bucket and probes are distinct, so no pair appears twice
    val scored = coded.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", adcScore(col("codes"), col("qlut"), col("qn"),
        normLut(codebooks), codebooks(0).length))
    rerankShortlist(scored, corpus, idCol, vecCol, k, refine)
  }
}
