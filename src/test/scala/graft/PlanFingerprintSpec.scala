package graft

import graft.tools.Probe

/** Plan-fingerprint regression net over the whole headline set: the
  * AQE-final shuffle-exchange count per entry, pinned in source. A new
  * exchange in any headline plan (a lost broadcast, a window that
  * stopped reusing a partitioning, a join that started re-shuffling an
  * already-shuffled side) fails here even when no point assertion in
  * PlanAuditSpec covers that entry — the round-12 vacuous-audit episode
  * showed point assertions can silently rot, and a wholesale sweep
  * catches plan drift the points miss. Counts may legitimately DECREASE
  * (that's an improvement — update the pin); an increase needs either a
  * fix or a justified re-pin with the reasoning in the commit.
  *
  * Counts are AQE-final (executed first) at sf0.001 under the shared
  * test session, with pooled dedup intermediates dropped first so suite
  * ordering cannot change which upstream stages appear as cached scans.
  * Regenerate with `runMain graft.tools.Probe <headline entries>
  * <sf0.001 dir> 1` (its `exchanges=` field). The probe's session confs
  * can read higher (ext_merge_upsert_bucketed: 2 against its pin of 1,
  * see its pin); a count is a regression only when this spec fails. */
class PlanFingerprintSpec extends SparkSpec {

  private val pinned: Map[String, Int] = Map(
    "ann_brute_topk" -> 1,
    "ann_ivf_topk" -> 1,
    "dedup_clusters" -> 0,
    // 7 since round 13's native MinhashSig: the signature no longer
    // passes through an explode + groupBy(id) min-aggregate, so the
    // by-id exchange (and the reuse that made the two banded sides
    // share one subtree) is gone — strictly LESS data moves (zero
    // pre-banding exchanges; one row per doc never explodes), but more
    // of the join fan-out's own exchanges are now distinct nodes
    "dedup_minhash" -> 7,
    // 4 since round 20's prepare-once RepIndex artifacts: the old pin
    // of 2 was an artifact of the per-pass pooled persists (rep,
    // repSigs, the classified inverted index) whose cache-BUILD jobs
    // carried this entry's real exchanges invisibly to the final plan;
    // the per-pass rebuild is gone (one written artifact, zero build
    // exchanges per invocation) and the candidate self-join + pair/
    // profile aggregations over the persisted index are now the visible
    // exchanges. Same class as the minhash 7 re-pin: strictly less data
    // moves per invocation (isolated warm 2.19 -> 1.44 s at sf0.1),
    // more of it is visible as distinct nodes
    "dedup_ngram_blocked" -> 4,
    "dedup_ngram_jaccard" -> 0,
    // 3 since round 13's native rewrite: the old pin of 1 was an
    // artifact of the full-corpus token persist, whose InMemoryRelation
    // HID the keyed-shuffle/survivor exchanges from the executed plan;
    // the persist is gone (it would spill at scale) and all three real
    // exchanges (window-key groupBy, survivor-position groupBy, final
    // fingerprint groupBy) are now visible
    "dedup_substrings" -> 3,
    "ext_asof_join" -> 1,
    "ext_cdc_compact" -> 1,
    "ext_funnel" -> 2,
    "ext_global_agg" -> 0,
    "ext_merge_upsert" -> 2,
    // a GraftSession probe reads 2: its
    // spark.sql.adaptive.coalescePartitions.initialPartitionNum (8 x
    // cores) shuffles the delta side wider than the table's
    // shuffle.partitions buckets, so the bucketed base side re-shuffles
    // too; the probe with that conf set to the core count reads 1
    "ext_merge_upsert_bucketed" -> 1,
    "ext_moving_avg" -> 1,
    "ext_pack_sequences" -> 1,
    "ext_rollup" -> 1,
    "ext_window_topk_per_group" -> 1,
    "join_broadcast_dim" -> 1,
    "join_shuffle_fact" -> 3,
    "pipeline_curate_pack" -> 1,
    "r13_order_multi" -> 0,
    "r9_agg_sum" -> 0,
    "route_reagg_type" -> 0,
    "route_residual_filters" -> 0,
    "scan_partition_pruned" -> 0,
    "sessionize" -> 1,
    "text_gopher_rules" -> 0,
    "text_quality" -> 0,
    "tpch_q1" -> 1,
    "tpch_q10" -> 5,
    "tpch_q13" -> 3,
    "tpch_q21" -> 0,
    "tpch_q3" -> 4,
    "tpch_q5" -> 5,
    "tpch_q9" -> 3)

  /** The AQE-final count through the dev probe's own pass and counter,
    * so the regenerate command above is what this spec runs. */
  private def shuffleExchanges(name: String): Int =
    Probe.shuffleExchanges(Bench.timeOne(spark, sfDir, name)._3)

  test("headline executed-plan shuffle-exchange counts never increase") {
    graft.operators.Dedup.releaseIntermediates()
    val headline = (Bench.relational ++ Bench.pipeline).sorted
    assert(headline.toSet == pinned.keySet,
      s"pin set out of date: missing=${headline.toSet -- pinned.keySet} " +
        s"stale=${pinned.keySet -- headline.toSet}")
    val regressed = headline.flatMap { name =>
      val n = shuffleExchanges(name)
      if (n > pinned(name)) Some(s"$name: $n > pinned ${pinned(name)}") else None
    }
    assert(regressed.isEmpty,
      s"shuffle-exchange regressions:\n${regressed.mkString("\n")}")
  }

  test("Probe rejects bad input before any job; its r9_agg_sum record matches the pin") {
    val (_, jobs) = Probe.jobsOf(spark) {
      // a valid entry first: a lazy check would run it before failing
      intercept[IllegalArgumentException](
        Probe.run(spark, Seq("r9_agg_sum", "no_such_entry"), sfDir, 1))
      intercept[IllegalArgumentException](
        Probe.run(spark, Seq("r9_agg_sum"), sfDir, 0))
      intercept[IllegalArgumentException](Probe.run(spark, Seq("r9_agg_sum"),
        sfDir, 1, Seq("spark.sql.shufle.partitions" -> "1")))
      Seq("spark.sql.shuffle.partitions", "=1", "spark.sql.shuffle.partitions=")
        .foreach(kv => intercept[IllegalArgumentException](Probe.parseOverride(kv)))
      intercept[IllegalArgumentException](Probe.main(
        Array("r9_agg_sum", sfDir, "1", "spark.sql.shuffle.partitions")))
      intercept[IllegalArgumentException](Probe.main(Array("no_such_entry", sfDir)))
    }
    assert(jobs == 0, s"$jobs jobs ran before the input checks failed")

    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val Seq(r) = Probe.run(spark, Seq("r9_agg_sum"), sfDir, 1,
      Seq("spark.sql.shuffle.partitions" -> "3"))
    assert(r.rows == SparkEntry.queries("r9_agg_sum")(spark, sfDir).collect().length)
    assert(r.exchanges == pinned("r9_agg_sum"))
    assert(r.confs == Seq("spark.sql.shuffle.partitions" -> "3"))
    assert(r.warmS.length == 1 && r.coldS > 0)
    assert(r.jobs >= 1, s"a warm pass that returns rows launched ${r.jobs} jobs")
    assert(r.compiles == 0, s"a warm pass compiled ${r.compiles} generated classes")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions,
      "override not restored")
  }
}
