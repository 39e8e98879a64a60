package graft

import graft.engine.Engine
import graft.prepare.Prepare

/** CLI runner mirroring the reference's main.py contract
  * (main.py:89-118): read a JSON array of DSL queries, execute each, and
  * write q1.csv, q2.csv, ... with per-query timings on stdout.
  *
  * Usage:
  *   runMain graft.Runner <queries.json> <dataDir> <outDir> [preparedRoot]
  *
  * With a prepared root the engine routes onto the rollup tables and
  * the z-ordered layout (the reference's --optimized-dir mode); without,
  * it scans `<dataDir>/<table>.parquet` directly.
  */
object Runner {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Runner <queries.json> <dataDir> <outDir> [preparedRoot]")
    val Array(queriesFile, dataDir, outDir) = args.take(3)
    val spark = GraftSession.create("graft-runner")

    val engine = args.lift(3) match {
      case Some(preparedRoot) => Prepare.engine(spark, preparedRoot)
      case None => Engine.forDir(spark, dataDir)
    }
    val json = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(queriesFile)),
      java.nio.charset.StandardCharsets.UTF_8)
    val t0 = System.nanoTime()
    val results = engine.runBatch(json, outDir)
    val total = (System.nanoTime() - t0) / 1e9
    results.zipWithIndex.foreach { case (_, i) =>
      println(s"q${i + 1}: written to $outDir/q${i + 1}.csv")
    }
    println(f"total: $total%.3f s (${results.size} queries, " +
      f"cache hits ${engine.cache.hits})")
    spark.stop()
  }
}
