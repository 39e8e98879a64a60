package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

import org.apache.spark.sql.functions._

/** Equivalence property for the native single-pass ShingleSigs
  * expression: on arbitrary text — repeated tokens (distinct filter!),
  * mixed whitespace kinds, multi-byte UTF-8, docs shorter than the
  * shingle width, empty/whitespace-only docs — its hash array equals the
  * composable Dedup.signatures formulation (regex tokenize -> staged
  * shingle strings -> array_distinct -> xxhash64), element order
  * included. */
object ShingleSigsPropertySpec extends Properties("shingle-sigs") {

  private lazy val spark = SparkSpecBase.spark

  private val word: Gen[String] = Gen.oneOf(
    Gen.oneOf("the", "and", "dup", "dup", "x", "naïve", "東京", "a1",
      "Mixed", "CASE", "wo-rd", "..."),
    Gen.listOfN(3, Gen.alphaNumChar).map(_.mkString))
  private val sep: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(" ", "\t", "\n", "\r", "\f", "  ")).map(_.mkString)
  private val genText: Gen[String] = for {
    n <- Gen.choose(0, 30)
    ws <- Gen.listOfN(n, word)
    ss <- Gen.listOfN(n + 1, sep)
    lead <- Gen.oneOf("", " ", "\n")
  } yield lead + ws.zip(ss).map { case (w, s) => w + s }.mkString

  property("native == composable signatures, order included") =
    Prop.forAll(Gen.listOfN(15, genText), Gen.choose(1, 5)) { (texts, n) =>
      import SparkSpecBase.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def grab(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
        d.select(col("id"), col("hs")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val composable =
        grab(graft.operators.Dedup.signaturesComposable(df, "doc_id", "text", n))
      val native =
        grab(graft.operators.Dedup.signatures(df, "doc_id", "text", n))
      val diffs = composable.keySet.filter(k => composable(k) != native(k))
      diffs.isEmpty :| diffs.take(3).map(k =>
        s"n=$n id=$k text='${texts(k.toInt).take(60).replace("\n", "\\n")}' " +
          s"composable=${composable(k).take(5)} native=${native(k).take(5)}")
        .mkString("; ")
    }

  property("native SubstrWindowKeys == staged pmod/xxhash64 HOF form") =
    Prop.forAll(Gen.listOfN(12, genText), Gen.choose(2, 20)) { (texts, w) =>
      import SparkSpecBase.implicits._
      val MersenneP = (1L << 31) - 1
      val o1 = (w - 1) / 3; val o2 = 2 * (w - 1) / 3; val o3 = w - 1
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val t = graft.operators.TextAnalysis.tokens(lower(col("text")))
      val composable = df.select(col("id"),
        when(size(t) >= w,
          transform(sequence(lit(1), size(t) - lit(w - 1)), i => {
            def h(c: org.apache.spark.sql.Column) = pmod(xxhash64(c), lit(MersenneP))
            h(element_at(t, i)) * lit(1000003L) +
              h(element_at(t, i + o1)) * lit(524287L) +
              h(element_at(t, i + o2)) * lit(8191L) +
              h(element_at(t, i + o3)) * lit(131L)
          })).otherwise(array().cast("array<bigint>")).as("ks"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val native = df.select(col("id"),
        graft.functions.SubstrWindowKeys
          .substrWindowKeys(lower(col("text")), w, MersenneP).as("ks"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val diffs = composable.keySet.filter(k => composable(k) != native(k))
      diffs.isEmpty :| diffs.take(3).map(k =>
        s"w=$w id=$k text='${texts(k.toInt).take(60).replace("\n", "\\n")}' " +
          s"composable=${composable(k).take(4)} native=${native(k).take(4)}")
        .mkString("; ")
    }

  property("native MinhashSig == relational explode/groupBy-min form") =
    Prop.forAll(
      Gen.listOfN(12, Gen.nonEmptyListOf(Gen.choose(Long.MinValue, Long.MaxValue))),
      Gen.choose(1, 32)) { (hsLists, numHashes) =>
      import SparkSpecBase.implicits._
      val MersenneP = 2147483647L
      val consts = graft.functions.MinhashSig.mixConsts
      val df = hsLists.zipWithIndex.map { case (hs, i) => (i.toLong, hs) }
        .toDF("id", "hs")
      val exploded = df.select(col("id"), explode(col("hs")).as("h0"))
        .withColumn("hp", pmod(col("h0"), lit(MersenneP)))
      val minCols = (0 until numHashes).map { i =>
        min(pmod(col("hp") * lit(consts(i)._1) + lit(consts(i)._2),
          lit(MersenneP))).as(s"m$i")
      }
      val relational = exploded.groupBy(col("id"))
        .agg(minCols.head, minCols.tail: _*)
        .select(col("id"),
          array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val native = df.select(col("id"),
        graft.functions.MinhashSig.minhashSig(col("hs"), numHashes).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val diffs = relational.keySet.filter(k => relational(k) != native(k))
      diffs.isEmpty :| diffs.take(3).map(k =>
        s"numHashes=$numHashes id=$k relational=${relational(k).take(4)} " +
          s"native=${native(k).take(4)}").mkString("; ")
    }

  property("native WinnowSketch == staged substr/hash/min HOF form") =
    Prop.forAll(Gen.listOfN(10, genText), Gen.choose(1, 10),
      Gen.choose(1, 6), Gen.oneOf(true, false)) { (texts, k, w, portable) =>
      import SparkSpecBase.implicits._
      import graft.operators.TextAnalysis
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      def grab(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
        d.select(col("id"), col("sk")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val composable = grab(TextAnalysis.winnowingSketchComposable(
        df, "text", "sk", k, w, portable))
      val native = grab(TextAnalysis.winnowingSketch(
        df, "text", "sk", k, w, portable))
      val diffs = composable.keySet.filter(x => composable(x) != native(x))
      diffs.isEmpty :| diffs.take(3).map(x =>
        s"k=$k w=$w portable=$portable id=$x " +
          s"text='${texts(x.toInt).take(50).replace("\n", "\\n")}' " +
          s"composable=${composable(x).take(4)} native=${native(x).take(4)}")
        .mkString("; ")
    }

  property("native PqEncode/AdcFold == composable struct-argmin/HOF-fold") =
    Prop.forAll(
      Gen.listOfN(8, Gen.listOfN(8, Gen.choose(-4.0f, 4.0f))),
      Gen.choose(0L, Long.MaxValue)) { (vecs, seed) =>
      import SparkSpecBase.implicits._
      import org.apache.spark.sql.types.DoubleType
      val m = 4; val kk = 3; val dsub = 2
      val rnd = new scala.util.Random(seed)
      val codebooks = Array.fill(m, kk, dsub)(rnd.nextDouble() * 4 - 2)
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val q = graft.operators.Quantization
      val composable = df.select(col("id"),
        q.encodePqComposable(col("v"), codebooks).as("c"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val native = df.select(col("id"),
        q.encodePq(col("v"), codebooks).as("c"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val encOk = composable.keySet.forall(x => composable(x) == native(x))
      // AdcFold vs the composable per-pair fold, over the same codes
      val lut = (0 until m * kk).map(i => rnd.nextDouble()).toArray
      val withCodes = df.select(col("id"), q.encodePq(col("v"), codebooks).as("c"))
      val foldComposable = withCodes.select(col("id"),
        aggregate(zip_with(col("c"), sequence(lit(0), lit(m - 1)),
            (code, s) => element_at(typedlit(lut.toSeq), s * kk + code + 1)),
          lit(0.0), (acc, v) => acc + v).as("f"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val foldNative = withCodes.select(col("id"),
        graft.functions.PqOps.adcFold(col("c"), typedlit(lut.toSeq), kk).as("f"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val foldOk = foldComposable.keySet.forall(x =>
        foldComposable(x) == foldNative(x))
      (encOk && foldOk) :| s"encOk=$encOk foldOk=$foldOk"
    }

  property("native LshBuckets == composable per-plane HOF sign folds") =
    Prop.forAll(
      Gen.listOfN(6, Gen.listOfN(6, Gen.choose(-2.0f, 2.0f))),
      Gen.choose(1, 4), Gen.choose(1, 6)) { (vecs, bands, ppb) =>
      import SparkSpecBase.implicits._
      val dim = 6
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val composable = df.select(col("id"),
        graft.operators.Similarity.lshBucketComposable(col("v"), bands * ppb, dim)
          .as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the native single-band bucket must equal the composable OR-fold
      val nativeSingle = df.select(col("id"),
        graft.operators.Similarity.lshBucket(col("v"), bands * ppb, dim).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val singleOk = composable.keySet.forall(k => composable(k) == nativeSingle(k))
      // and the banded array must decompose the same sign bits band-wise:
      // band j's bucket bits are the global planes j*ppb..(j+1)*ppb-1
      val planes = (0 until bands * ppb)
        .map(p => graft.operators.Similarity.planeVector(p, dim).toArray).toArray
      val bandArr = df.select(col("id"),
        graft.functions.LshBuckets.lshBuckets(col("v"), planes, ppb).as("bs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val bandOk = composable.keySet.forall { k =>
        val full = composable(k)
        bandArr(k).zipWithIndex.forall { case (bucket, b) =>
          (0 until ppb).forall { j =>
            ((bucket >> j) & 1L) == ((full >> (b * ppb + j)) & 1L)
          }
        }
      }
      (singleOk && bandOk) :| s"singleOk=$singleOk bandOk=$bandOk"
    }

  property("native Tokens/TokenBigrams/BpeMergePair == composable forms") =
    Prop.forAll(Gen.listOfN(12, genText),
      Gen.oneOf("dup", "the", "x"), Gen.oneOf("dup", "and", "x")) {
      (texts, w1, w2) =>
      import SparkSpecBase.implicits._
      import graft.operators.TextAnalysis
      import graft.functions.TokenOps
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      def grabArr(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
        d.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val tokC = grabArr(df.select(col("id"),
        TextAnalysis.tokensComposable(lower(col("text"))).as("t")))
      val tokN = grabArr(df.select(col("id"),
        TokenOps.tokens(lower(col("text"))).as("t")))
      val tokOk = tokC == tokN
      val tN = df.select(col("id"), TokenOps.tokens(lower(col("text"))).as("t"))
      val biC = grabArr(tN.select(col("id"),
        when(size(col("t")) >= 2,
          zip_with(slice(col("t"), lit(1), size(col("t")) - 1),
            slice(col("t"), lit(2), size(col("t")) - 1),
            (a, b) => concat(a, lit(" "), b)))
          .otherwise(array().cast("array<string>")).as("b")))
      val biN = grabArr(tN.select(col("id"), TokenOps.bigrams(col("t")).as("b")))
      val biOk = biC == biN
      // merge step vs the padded double-space replace + re-tokenize trick
      val mC = grabArr(tN.select(col("id"),
        TextAnalysis.tokensComposable(
          call_function("replace",
            call_function("replace",
              concat(lit(" "), concat_ws(" ", col("t")), lit(" ")),
              lit(" "), lit("  ")),
            lit(s" $w1  $w2 "), lit(s" ${w1}_$w2 "))).as("m")))
      val mN = grabArr(tN.select(col("id"),
        TokenOps.bpeMergePair(col("t"), w1, w2).as("m")))
      val mOk = mC == mN
      (tokOk && biOk && mOk) :| s"tokOk=$tokOk biOk=$biOk mergeOk=$mOk " +
        s"pair=($w1,$w2) ex=${texts.headOption.map(_.take(40))}"
    }

  property("native CmsBuckets == composable md5-56 pmod buckets") =
    Prop.forAll(Gen.listOfN(12, Gen.choose(Long.MinValue, Long.MaxValue)),
      Gen.choose(1, 6), Gen.oneOf(16, 256, 1000)) { (keys, depth, width) =>
      import SparkSpecBase.implicits._
      import org.apache.spark.sql.types.StringType
      val df = keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("id", "key")
      val composable = (0 until depth).map { d =>
        df.select(col("id"),
          pmod(graft.operators.Dedup.portableHash56(
            concat(lit(d.toString), lit(":"), col("key").cast(StringType))),
            lit(width)).as("b"))
          .collect().map(r => (r.getLong(0), d) -> r.getLong(1)).toMap
      }.reduce(_ ++ _)
      val native = df.select(col("id"),
        posexplode(graft.functions.CmsBuckets
          .cmsBuckets(col("key").cast(StringType), depth, width)))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      val diffs = composable.keySet.filter(k => composable(k) != native(k))
      diffs.isEmpty :| diffs.take(3).map { case (id, d) =>
        s"depth=$depth width=$width id=$id d=$d key=${keys(id.toInt)} " +
          s"composable=${composable((id, d))} native=${native((id, d))}"
      }.mkString("; ")
    }

  // The null-slot policy (TextBytes.failNullSlot): the native kernels
  // ACCEPT containsNull=true input types (Catalyst infers them
  // conservatively for join outputs and HOF-composed arrays) but an
  // ACTUAL null element must fail loudly — never read garbage under the
  // declared containsNull=false output, nor a null as 0 (jaccard's
  // toLongArray). Covers both enforcement styles: the shared compute
  // helpers (minhash_sig, token_bigrams, jaccard_similarity) and the
  // inline generated-code throw (cosine_similarity).
  property("null array slots fail loudly, never compute") = Prop.secure {
    import SparkSpecBase.implicits._
    def failsLoudly(body: => Unit): Boolean =
      try { body; false }
      catch {
        case e: Throwable =>
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
            .exists(c => Option(c.getMessage).exists(_.contains("null array element")))
      }
    val mh = failsLoudly {
      Seq((1L, Seq(Some(3L), None))).toDF("id", "hs")
        .select(graft.functions.MinhashSig.minhashSig(col("hs"), 4)).collect()
    }
    val bi = failsLoudly {
      Seq((1L, Seq(Some("a"), None, Some("b")))).toDF("id", "t")
        .select(graft.functions.TokenOps.bigrams(col("t"))).collect()
    }
    val cos = failsLoudly {
      Seq((Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f))))
        .toDF("a", "b")
        .select(graft.functions.CosineSimilarity
          .cosineNative(col("a"), col("b"))).collect()
    }
    val jac = failsLoudly {
      Seq((Seq(Some(3L), None), Seq(Some(3L), Some(0L)))).toDF("a", "b")
        .select(graft.functions.JaccardSimilarity
          .jaccardNative(col("a"), col("b"))).collect()
    }
    (mh && bi && cos && jac) :| s"minhash=$mh bigrams=$bi cosine=$cos jaccard=$jac"
  }

  property("native WindowFps == slice/concat_ws/md5 form") =
    Prop.forAll(Gen.listOfN(10, genText), Gen.choose(1, 8)) { (texts, w) =>
      import SparkSpecBase.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      // positions: every valid window start plus two out-of-range probes
      // (slice clamps; past-the-end yields the empty-join digest)
      val t = graft.operators.TextAnalysis.tokens(lower(col("text")))
      val pos = concat(
        when(size(t) >= 1, transform(sequence(lit(1), size(t)), i => i - 1))
          .otherwise(array().cast("array<int>")),
        array(size(t), size(t) + lit(3))).cast("array<int>")
      val composable = df
        .select(col("id"), t.as("t"), posexplode(pos))
        .select(col("id"), col("pos"),
          md5(to_binary(concat_ws(" ", slice(col("t"), col("col") + 1, lit(w))),
            lit("utf-8"))).as("fp"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
      val native = df
        .select(col("id"),
          posexplode(graft.functions.WindowFps
            .windowFps(lower(col("text")), pos, w)))
        .select(col("id"), col("pos"), col("col").as("fp"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
      val diffs = composable.keySet.filter(k => composable(k) != native(k))
      diffs.isEmpty :| diffs.take(3).map { case (id, p) =>
        s"w=$w id=$id pos=$p text='${texts(id.toInt).take(50).replace("\n", "\\n")}' " +
          s"composable=${composable((id, p))} native=${native((id, p))}"
      }.mkString("; ")
    }
}
