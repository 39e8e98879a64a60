package graft

import org.apache.spark.sql.functions._
import graft.functions.JaccardSimilarity
import graft.operators.Dedup

/** JaccardSimilarity native expression: parity with the composable
  * size(array_intersect) formulation, edge cases, and codegen/interpreted
  * agreement. */
class JaccardSpec extends SparkSpec {
  import SparkSpecBase.implicits._

  private def jac(a: Seq[Long], b: Seq[Long]): Double = {
    val df = Seq((a, b)).toDF("a", "b")
    df.select(JaccardSimilarity.jaccardNative(col("a"), col("b")).as("j"))
      .head().getDouble(0)
  }

  test("jaccard native: basic overlap, disjoint, identical, empty") {
    assert(jac(Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)) === 2.0 / 4.0)
    assert(jac(Seq(1L, 2L), Seq(3L, 4L)) === 0.0)
    assert(jac(Seq(5L, 6L, 7L), Seq(7L, 5L, 6L)) === 1.0) // order-free
    assert(jac(Seq.empty, Seq.empty) === 0.0)
    assert(jac(Seq(1L), Seq.empty) === 0.0)
  }

  test("jaccard native equals composable size(array_intersect) form") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200) {
      val a = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct
      val b = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct
      (a, b)
    }
    val df = rows.toDF("a", "b")
    val both = df.select(
      JaccardSimilarity.jaccardNative(col("a"), col("b")).as("native"),
      Dedup.jaccard(col("a"), col("b")).as("composable"))
    val mismatch = both.filter(col("native") =!= col("composable")).count()
    assert(mismatch === 0)
  }

  test("jaccard native agrees between codegen and interpreted eval") {
    // the same filter + projection plan under each expression factory
    // mode (whole-stage codegen off in the interpreted arm, which would
    // otherwise compile the stage anyway); the local input is kept a
    // relation, not folded on the driver, so each arm evaluates the
    // kernel in its own mode
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(3L, 4L, 5L, 6L)),
      (Seq(10L), Seq(10L))).toDF("a", "b")
    val confs = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage",
      "spark.sql.optimizer.excludedRules")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    val excluded = (saved(2)._2.toSeq :+
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation").mkString(",")
    try Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach { mode =>
      spark.conf.set(confs(0), mode)
      spark.conf.set(confs(1), mode == "CODEGEN_ONLY")
      spark.conf.set(confs(2), excluded)
      val q = df
        .withColumn("j", JaccardSimilarity.jaccardNative(col("a"), col("b")))
        .filter(col("j") >= 0.3).select(col("j"))
      val plan = q.queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.FilterExec]), plan)
      assert(plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]) ==
        (mode == "CODEGEN_ONLY"), plan)
      val viaPlan = q.collect().map(_.getDouble(0)).sorted
      assert(viaPlan.toSeq === Seq(2.0 / 6.0, 1.0), mode)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a native kernel given an uncastable input fails at analysis") {
    // the kernel call declares its input types: a map into minhash_sig
    // or a bare long into jaccard must be refused by the analyzer, not
    // reach codegen or the kernel at run time
    val df = Seq((Map(1L -> 2L), 7L)).toDF("m", "x")
    Seq(
      graft.functions.MinhashSig.minhashSig(col("m"), 4),
      JaccardSimilarity.jaccardNative(col("x"), col("x"))).foreach { c =>
      val e = intercept[org.apache.spark.sql.AnalysisException](df.select(c))
      assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), e.getMessage)
    }
  }

  test("candidate-pair core: keyPairs expands each pair once, verifyPairs keeps and rounds") {
    // ids 1 and 2 share keys 10, 11 and 12; id 3 shares 12 with both;
    // key 99 (id 1 only) and key 77 (id 4's only key) have one holder
    val keyed = Seq(
      (2L, 10L, "x2"), (1L, 10L, "x1"), (1L, 11L, "x1"), (2L, 11L, "x2"),
      (3L, 12L, "x3"), (2L, 12L, "x2"), (1L, 12L, "x1"), (1L, 99L, "x1"),
      (4L, 77L, "x4")).toDF("id", "k", "tag")
    val pairs = Dedup.keyPairs(keyed, Seq("k"))
    assert(pairs.columns.toSeq === Seq("a_id", "b_id", "a_tag", "b_tag", "shared"))
    val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2), r.getString(3), r.getLong(4))).toSeq.sortBy(r => (r._1, r._2))
    assert(rows.forall(r => r._1 < r._2), rows.toString)
    assert(rows === Seq((1L, 2L, "x1", "x2", 3L), (1L, 3L, "x1", "x3", 1L),
      (2L, 3L, "x2", "x3", 1L)))

    // score a_v / b_v: 1/3, 1/7, 3/7 — the 0.2 threshold drops the 1/7 pair, the
    // survivors round to 4 places
    val side = Seq((1L, 1.0), (2L, 3.0), (3L, 7.0)).toDF("id", "v")
    val verified = Dedup.verifyPairs(pairs, side, _ / _, 0.2, "ratio")
    assert(verified.columns.toSeq === Seq("a_id", "b_id", "ratio"))
    assert(verified.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(r => (r._1, r._2)) === Seq((1L, 2L, 0.3333), (2L, 3L, 0.4286)))
  }

  test("candidate-pair core leaves the join strategy to the caller's hint") {
    // the unbounded pair_counts expansion must stay a (spillable) sort-merge
    // join; bounded callers opt into shuffle_hash by hinting their input
    val keyed = Seq((1L, 10L), (2L, 10L), (3L, 11L)).toDF("id", "k")
    val side = Seq((1L, 1.0), (2L, 3.0)).toDF("id", "v")
    def plan(df: org.apache.spark.sql.DataFrame): String = df.queryExecution.sparkPlan.toString
    def count(p: String, s: String): Int = s.r.findAllMatchIn(p).size
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plain = plan(Dedup.verifyPairs(Dedup.keyPairs(keyed, Seq("k")), side,
        _ / _, 0.0, "r"))
      assert(count(plain, "SortMergeJoin") === 3 && count(plain, "ShuffledHashJoin") === 0, plain)
      val hinted = plan(Dedup.verifyPairs(Dedup.keyPairs(keyed.hint("shuffle_hash"), Seq("k")),
        side.hint("shuffle_hash"), _ / _, 0.0, "r"))
      assert(count(hinted, "ShuffledHashJoin .*BuildRight") === 3 &&
        count(hinted, "SortMergeJoin") === 0, hinted)
      val sigs = Seq((1L, Seq(1L, 2L)), (2L, Seq(2L, 3L))).toDF("id", "hs")
      assert(count(plan(Dedup.pairCountsFromSigs(sigs)), "ShuffledHashJoin") === 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("stop-profile pass recovers the boilerplate class the df-cap provably loses") {
    // Fixture shaped like the dedup skew rung's adversarial mix (PLANS.md
    // round 17, judge #5), shrunk:
    //  - boilerplate family (ids 100..105): 30 shared shingles whose df
    //    (6) exceeds the cap (3) — similarity entirely on above-cap
    //    shingles, so the blocked generator has no rare seed and MISSES
    //    every pair; plus 2 uniques each.
    //  - a rare-shingle near-dup pair (200, 201): found by blocked,
    //    profile-empty so the stop-profile pass correctly ignores it.
    //  - a hot single-shingle population (300..311, all holding shingle
    //    50): profile {50} buckets 12 > bucketCap=10 docs — excluded,
    //    the quadratic the cap exists to bound stays bounded.
    //  - an exact replica (106 == 105): the rep collapse + expansion
    //    must surface it at jaccard 1.0.
    def uniq(id: Long, k: Int): Seq[Long] = (0 until k).map(j => id * 64 + j + 100000L)
    val boiler = (100L to 105L).map(id => (id, (1L to 30L) ++ uniq(id, 2)))
    val replica = Seq((106L, (1L to 30L) ++ uniq(105L, 2)))
    val rare = Seq(
      (200L, (900L to 934L) ++ uniq(200L, 5)),
      (201L, (900L to 934L) ++ uniq(201L, 5)))
    val hot = (300L to 311L).map(id => (id, Seq(50L) ++ uniq(id, 40)))
    val sigs = (boiler ++ replica ++ rare ++ hot).toDF("id", "hs")

    val exhaustive = Dedup.ngramJaccardPairsFromSigs(sigs, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val blocked = Dedup.ngramJaccardPairsBlockedFromSigs(sigs,
      threshold = 0.3, dfCap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sp = Dedup.stopProfilePairsFromSigs(sigs,
      threshold = 0.3, dfCap = 3, bucketCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    val boilerIds = (100L to 106L).toSet
    val boilerPairs = exhaustive.keySet.filter(p =>
      boilerIds(p._1) && boilerIds(p._2))
    assert(boilerPairs.size === 21, s"fixture: ${boilerPairs.size}") // C(7,2)
    // the documented blind spot: of the family, blocked reports ONLY the
    // exact-replica pair (its rep expansion covers identical text) —
    // every near-but-not-identical pair is invisible to it
    assert(blocked.keySet.intersect(boilerPairs) === Set((105L, 106L)))
    // ...and the rare pair, which blocked does find
    assert(blocked.contains((200L, 201L)))
    // the stop-profile pass recovers the family EXACTLY (same jaccard
    // as the exhaustive ground truth), ignores the profile-empty rare
    // pair, and stays out of the over-cap hot bucket
    assert(boilerPairs.subsetOf(sp.keySet))
    boilerPairs.foreach(p => assert(sp(p) === exhaustive(p), p.toString))
    assert(!sp.contains((200L, 201L)))
    assert(sp.keySet.forall(p => p._1 < 300L && p._2 < 300L),
      "hot bucket leaked past bucketCap")
    // precision: everything it reports is in the exhaustive truth with
    // the identical jaccard
    assert(sp.keySet.subsetOf(exhaustive.keySet))
    sp.foreach { case (p, j) => assert(exhaustive(p) === j, p.toString) }
    // the replica surfaced through collapse + expansion
    assert(sp((105L, 106L)) === 1.0)
  }

  test("stop-profile families surface boilerplate clusters linearly, including above-bucketCap") {
    // same adversarial fixture as the recovery test above; the contract
    // under test is the pair pass's documented scale boundary — a family
    // larger than bucketCap generates NO pairs there, and the FAMILY
    // product is what covers it: linear rows, no pair expansion.
    def uniq(id: Long, k: Int): Seq[Long] = (0 until k).map(j => id * 64 + j + 100000L)
    val boiler = (100L to 105L).map(id => (id, (1L to 30L) ++ uniq(id, 2)))
    val replica = Seq((106L, (1L to 30L) ++ uniq(105L, 2)))
    val rare = Seq(
      (200L, (900L to 934L) ++ uniq(200L, 5)),
      (201L, (900L to 934L) ++ uniq(201L, 5)))
    val hot = (300L to 311L).map(id => (id, Seq(50L) ++ uniq(id, 40)))
    val sigs = (boiler ++ replica ++ rare ++ hot).toDF("id", "hs")

    val fams = Dedup.stopProfileFamilies(sigs, dfCap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // boilerplate family (ids 100..106, replica expanded): one family,
    // keyed by its min member id, every member row carrying size 7
    val fam100 = fams.filter(_._1 == 100L)
    assert(fam100.map(_._2).toSet === (100L to 106L).toSet)
    assert(fam100.forall(_._3 == 7L))
    // the 12-doc hot bucket (profile {50}) exceeds the pair pass's
    // bucketCap=10 — invisible there BY CONTRACT, one linear family here
    val fam300 = fams.filter(_._1 == 300L)
    assert(fam300.map(_._2).toSet === (300L to 311L).toSet)
    assert(fam300.forall(_._3 == 12L))
    // the rare near-dup pair's shared shingles sit AT/below the cap
    // (df 2 <= 3): profile-empty, correctly absent from the family view
    assert(!fams.exists(t => t._2 == 200L || t._2 == 201L))
    assert(fams.map(_._1).toSet === Set(100L, 300L))
  }

  test("stage auto-select is output-invariant: direct, staged, and auto forms agree") {
    // staging is a materialization choice, never a semantics choice —
    // the auto-select (plan-stats bytes per core, Dedup.autoStage) must
    // be free to pick either form without changing a single pair
    val docs = graft.sources.ParquetNanos.read(spark, s"$sfDir/documents.parquet")
    val sigs = Dedup.signatures(docs, "doc_id", "text", 3)
    def pairs(stage: Option[Boolean]) =
      Dedup.minhashPairsFromSigs(sigs, numHashes = 32, rowsPerBand = 2,
        threshold = 0.5, stage = stage)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = pairs(Some(false))
    assert(direct === pairs(Some(true)))
    assert(direct === pairs(None))
    assert(direct.nonEmpty)
    // Direction assertion only when the plan-stats estimate is
    // DECISIVELY below the threshold (half of it): the parity asserts
    // above carry the correctness load, and coupling a hard direction
    // assert to Catalyst's size estimate of the fixture would let a
    // fixture regeneration or a Spark stats-estimation change flip the
    // spec with no behavior bug (advisor, round 18).
    val bytesPerCore = sigs.queryExecution.optimizedPlan.stats.sizeInBytes /
      math.max(sigs.sparkSession.sparkContext.defaultParallelism, 1)
    if (bytesPerCore < BigInt(Dedup.StageBytesPerCore / 2))
      assert(!Dedup.autoStage(sigs))
  }

  test("supplied RepIndex == self-derived for blocked, stop-profile and families (round-20 pin)") {
    // round 20 moved the rep collapse + df-classified inverted index to
    // prepare-once artifacts; a supplied index must be a pure
    // materialization choice — identical pair/family sets, identical
    // jaccard values. Fixture: the adversarial mix from the recovery
    // test (boilerplate family + replica + rare pair + hot bucket).
    def uniq(id: Long, k: Int): Seq[Long] = (0 until k).map(j => id * 64 + j + 100000L)
    val boiler = (100L to 105L).map(id => (id, (1L to 30L) ++ uniq(id, 2)))
    val replica = Seq((106L, (1L to 30L) ++ uniq(105L, 2)))
    val rare = Seq(
      (200L, (900L to 934L) ++ uniq(200L, 5)),
      (201L, (900L to 934L) ++ uniq(201L, 5)))
    val hot = (300L to 311L).map(id => (id, Seq(50L) ++ uniq(id, 40)))
    val sigs = (boiler ++ replica ++ rare ++ hot).toDF("id", "hs")
    val idx = Dedup.repIndexFromSigs(sigs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(Dedup.ngramJaccardPairsBlockedFromSigs(sigs,
        threshold = 0.3, dfCap = 3, index = Some(idx)))
      === rows(Dedup.ngramJaccardPairsBlockedFromSigs(sigs,
        threshold = 0.3, dfCap = 3)))
    assert(rows(Dedup.stopProfilePairsFromSigs(sigs,
        threshold = 0.3, dfCap = 3, bucketCap = 10, index = Some(idx)))
      === rows(Dedup.stopProfilePairsFromSigs(sigs,
        threshold = 0.3, dfCap = 3, bucketCap = 10)))
    def famRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(famRows(Dedup.stopProfileFamilies(sigs, dfCap = 3,
        index = Some(idx)))
      === famRows(Dedup.stopProfileFamilies(sigs, dfCap = 3)))
  }

  test("a RepIndex used with another corpus's sigs fails loudly") {
    val sigsA = Seq((1L, Seq(1L, 2L, 3L)), (2L, Seq(1L, 2L, 4L))).toDF("id", "hs")
    val sigsB = Seq((1L, Seq(7L, 8L, 9L)), (2L, Seq(7L, 8L, 6L))).toDF("id", "hs")
    val idx = Some(Dedup.repIndexFromSigs(sigsA))
    Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      Dedup.ngramJaccardPairsBlockedFromSigs(_, index = idx),
      Dedup.stopProfilePairsFromSigs(_, index = idx),
      Dedup.stopProfileFamilies(_, index = idx)).foreach { pass =>
      pass(sigsA) // its own sigs pass
      val e = intercept[IllegalArgumentException](pass(sigsB))
      assert(e.getMessage.contains("another signature table"), e.getMessage)
    }
  }

  test("signatures + FromSigs variants equal the text-based operators") {
    val docs = graft.sources.ParquetNanos.read(spark, s"$sfDir/documents.parquet")
    val sigs = Dedup.signatures(docs, "doc_id", "text", 3)
    val fromText = Dedup.ngramJaccardPairsBlocked(docs, "doc_id", "text",
      n = 3, threshold = 0.3, dfCap = 30).collect().toSet
    val fromSigs = Dedup.ngramJaccardPairsBlockedFromSigs(sigs,
      threshold = 0.3, dfCap = 30).collect().toSet
    assert(fromText === fromSigs)
    assert(fromSigs.nonEmpty)
  }
}
