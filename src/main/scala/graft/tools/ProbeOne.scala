package graft.tools
/** Dev probe: dump one or more SparkEntry queries (comma-separated) +
  * their oracles for tools/check.py — the targeted inner loop next to
  * the full graft.Verify run. */
object ProbeOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/root/repo/target/verify_one"
    val spark = graft.GraftSession.builder("8").appName("probe-one").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    graft.prepare.ArtifactStore.writeOracleJson(s"$outDir/oracle_sql.json",
      sfDir, names.toSeq.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)))
    spark.stop()
  }
}
