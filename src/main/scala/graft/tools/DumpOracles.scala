package graft.tools

/** Dev tool: write SparkEntry.oracleSql to <outDir>/oracle_sql.json
  * WITHOUT executing any query — tools/bench_oracle.py only needs the
  * SQL map, so scale-fixture DuckDB timing runs don't have to pay a
  * full graft.Verify dump first. The sfDir arg resolves the pipeline-
  * artifact path token (persisted-state oracles).
  * Usage: runMain graft.tools.DumpOracles <outDir> [sfDir] */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "target/verify_out"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    new java.io.File(outDir).mkdirs()
    graft.prepare.ArtifactStore.writeOracleJson(s"$outDir/oracle_sql.json",
      sfDir, graft.SparkEntry.oracleSql.toSeq.sortBy(_._1))
    println(s"wrote $outDir/oracle_sql.json")
  }
}
