package graft

import org.apache.spark.sql.SparkSession

/** Canonical session configuration for the engine.
  *
  * One place for the settings every entry point needs:
  *  - shuffle partitions sized to the core count (local mode — not 200);
  *  - UTC session time (the data is UTC-naive, SURVEY §1.3);
  *  - TIMESTAMP(NANOS) parquet interop (see [[graft.sources.ParquetNanos]]);
  *  - AQE on (runtime coalescing + skew-join splitting);
  *  - InferFiltersFromGenerate excluded (clones expensive generator-input
  *    expressions into vacuous filters — see [[graft.functions.Staging]]);
  *  - a generated-class cache that holds the engine's whole working set
  *    ([[CodegenCacheEntries]]), so a warm pass compiles nothing.
  */
object GraftSession {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100): a stable
    * working set larger than the cache recompiles every class on every
    * pass, although the same classes come back each time. Measured
    * working sets (cache entries, counted as Janino compiles under a
    * cache too large to evict; a class used on both sides compiles
    * once for the driver's class loader and once for the tasks'): one
    * `graft.Verify` run of all 202 entries at sf0.01 needs 1,715, so
    * 4,000 covers it with 2x headroom; under the default, every warm
    * pass of the 35 headline entries at sf0.001 recompiled 451 classes,
    * under this size none. Memory at the end of that Verify run,
    * default cache -> this one: metaspace 205 -> 218 MB, heap after GC
    * 143 -> 192 MB (a cache key holds its class's source text).
    * The cache is one per JVM and sized when Spark first generates
    * code, from the session that does so: every session builder must
    * carry this value ([[codegenConfs]]). Code that churns — a plan
    * that emits new code for every query — is a bug a larger cache
    * would only hide; `CodegenCacheSpec` fails on it. */
  val CodegenCacheEntries: Int = 4000

  /** The generated-code settings of every session (test sessions too):
    *  - the class cache sized to [[CodegenCacheEntries]];
    *  - no whole-stage codegen id in generated class names. AQE numbers
    *    the stages it re-plans in the order their inputs finish, so the
    *    same stage can be `...Stage3` in one pass and `...Stage13` in
    *    the next: same code, new class text, a cache miss. Measured at
    *    sf0.001 over the headline set: `dedup_ngram_blocked` recompiled
    *    0-20 classes and `dedup_minhash` 0-4 per warm pass with the ids
    *    in, and none for this reason with them out. The id stays in the
    *    generated source's comment. */
  val codegenConfs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.codegen.useIdInClassName" -> "false")

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.catalyst.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // unadjusted micros timestamps (timestamp[us], isAdjustedToUTC=false)
      // must read as TimestampType (UTC session), not TimestampNTZType:
      // keeps parquet filter pushdown on ts columns and matches DuckDB's
      // naive-timestamp view of the same files.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // Shuffles START wide (8x the core count) and AQE coalesces back
      // to the advisory size at runtime. shuffle.partitions=32 alone is
      // a FIXED layout: per-partition state (a shuffled-hash-join build
      // side, an aggregation map) grows linearly with the input until
      // it bursts execution memory — measured at the 300x fixture,
      // where join_shuffle_fact/tpch_q9 died with "Can't acquire ...
      // to build hash relation" under 32 fixed partitions. Starting
      // wide bounds per-partition state by the ADVISORY size instead of
      // by input/32 (the property a 1000-executor cluster relies on),
      // and small scale factors coalesce back to few partitions, so
      // the sf0.1 headline is unaffected.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (scala.util.Try(cpus.toInt).getOrElse(32) * 8).toString)
      // ...and let AQE coalesce INSIDE cached plans too: by default a
      // persist materializes at the pre-coalesce width (256 tiny cache
      // partitions here), taxing every cache reader — measured +1 s on
      // the persist-heavy blocked-jaccard entry at sf0.1 when
      // initialPartitionNum landed without this.
      .config(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // The fixture tables are single ~5-40 MB parquet files; the 128 MB
      // default puts each whole table in ONE scan task, serializing the
      // decode while 31 cores idle. 8 MB recovers intra-file parallelism
      // (the files are written with small row groups). At real cluster
      // scale tables are many >=128 MB files and the default is right —
      // this is a local-fixture setting, not a scale recommendation.
      .config("spark.sql.files.maxPartitionBytes", "8m")
      // Runtime Bloom-filter join pruning keeps the STOCK gates
      // (injection on; application-side scan >= 10 GiB, creation side
      // <= 10 MB) — a DELIBERATE measured negative, round 20. Four
      // sittings at the 100x fixture with the gates dropped
      // (tpch_bloom_sf10_r20*.json, PLANS.md "One dev probe"): the filter injects into
      // tpch_q5/q10/q21 with identical row counts, but only q5 wins
      // repeatably (~20-32%); q10 loses 10-20% every sitting (bloom
      // build + probe overhead exceeds the pruning) and q21 flips sign
      // with box noise. A gate low enough to fire at sf10 (the pruned
      // scan estimate is ~100 MB, not the 354 MB file) would take the
      // q10 loss everywhere to win on one query; at >= 10 GiB scans —
      // real 100 TB partitions — the stock gate fires on its own.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config(codegenConfs)
      // root log level from context START (setLogLevel only applies
      // after init): keeps the ~90 lines of startup INFO out of the
      // driver's BENCH tail capture, where they crowded the one-line
      // JSON artifact (round-11 cosmetic finding)
      .config("spark.log.level", "WARN")
      .config("spark.ui.enabled", "false")

  /** Standard session, the one reader of SPARK_GRAFT_CPUS: that many
    * cores, or every core of the machine when it is unset. */
  def create(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val s = builder(cpus).appName(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
