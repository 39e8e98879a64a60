package graft
import java.nio.file.{Files, Paths}
import graft.prepare.ArtifactStore
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.create("graft-verify")
    new java.io.File(outDir).mkdirs()
    // GRAFT_VERIFY_ONLY: dev knob — run just these entries (and restrict
    // oracle_sql.json to them) for fast single-entry oracle iteration.
    // The driver never sets it; an unset value is the full run.
    val only = sys.env.getOrElse("GRAFT_VERIFY_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // A typo'd ONLY must fail LOUDLY: unknown names would make skip the
    // full key set and the run would verify nothing while exiting green
    // (advisor, round 18).
    val unknownOnly = only.diff(SparkEntry.queries.keySet)
    require(unknownOnly.isEmpty,
      s"GRAFT_VERIFY_ONLY names not in SparkEntry.queries: ${unknownOnly.mkString(",")}")
    val skip: Set[String] =
      if (only.nonEmpty) SparkEntry.queries.keySet.diff(only) else Set.empty
    // Per-entry wall seconds (plan + execute + write): verify already runs
    // every entry, so recording times here closes the perf blind spot on
    // the ~150 entries the bench headline never touches — diffed
    // round-over-round in the PLANS ledger (round-14 advice #2).
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // UNTIMED warm-up: parquet reader/writer, shuffle+join machinery and
    // first-use codegen-compiler classloading otherwise land on whichever
    // entry happens to run first (tpch_q3 in a fresh JVM: first run 3.0 s
    // vs 0.8 s warm at sf0.01 — PLANS.md round-15 addendum 4), skewing the
    // round-over-round verify_times diff. One small scan+join+agg+sort+
    // write over the KB-sized dims pays those costs before the clock
    // starts; per-entry plan compilation stays attributed to its entry.
    // Under target/tmp, NOT outDir: a mid-run failure must not leave a
    // _warmup dir inside the verify output where the driver's compare
    // or artifact diffs would trip over it (round-15 advice).
    val warmupDir = "target/tmp/verify_warmup"
    locally {
      val nation = graft.sources.ParquetNanos.read(spark, s"$sfDir/nation.parquet")
      val region = graft.sources.ParquetNanos.read(spark, s"$sfDir/region.parquet")
      nation.join(region, nation("n_regionkey") === region("r_regionkey"))
        .groupBy("r_name").count().orderBy("r_name")
        .coalesce(1).write.mode("overwrite").parquet(warmupDir)
    }
    def rmAll(f: java.io.File): Unit =
      org.apache.spark.network.util.JavaUtils.deleteRecursively(f)
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!skip(name)) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          times(name) = (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      } else {
        // Remove any stale output from an earlier full run into the same
        // outDir: a leftover dir with the entry filtered out of
        // oracle_sql.json would read as an entry without an oracle.
        rmAll(new java.io.File(s"$outDir/$name"))
      }
    }
    // Resolve the pipeline-artifact path token per sfDir: oracles of
    // entries with parquet-persisted trained state (IVF/PQ/int8) read
    // that state by absolute path in the DuckDB gate.
    ArtifactStore.writeOracleJson(s"$outDir/oracle_sql.json", sfDir,
      SparkEntry.oracleSql.filterNot { case (k, _) => skip(k) })
    val timesJson = times.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"${ArtifactStore.jsonString(k)}: ${"%.3f".format(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_times.json"), timesJson)
    rmAll(new java.io.File(warmupDir))
    spark.stop()
  }
}
