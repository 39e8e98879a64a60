package graft.tools

import org.apache.spark.sql.functions._

/** Skew-adversarial fixture builder: replicates the events table K times
  * with disjoint id universes (same discipline as [[MakeSfN]]), then
  * reassigns a fixed percentage of rows' user_id to ONE hot key — the
  * Zipf-head adversary every scale fixture so far lacked (MakeSfN
  * replicas keep per-key group sizes CONSTANT, so no key ever owns more
  * than its sf0.1 share). Here one user owns ~hotPct% of all rows, the
  * regime where a key-partitioned window or join sends a double-digit
  * percentage of the table through a single reducer.
  *
  * The hot assignment hashes the (replica-unique) event_id, so it is
  * deterministic, uniform across replicas, and independent of the
  * original user distribution; cold rows keep their replica-offset
  * user_id (disjoint per replica, ~1500 x K cold users).
  *
  * Output: `<out>/events.parquet` as one zstd file with 2 MB row groups
  * (splittable scan — same rationale as MakeSfN).
  *
  * Usage: runMain graft.tools.MakeSkew <inDir> <outDir> [k] [hotPct]
  */
object MakeSkew {
  /** The hot key. Chosen ABOVE every replica's cold-id band for any
    * realistic k (band r covers [r*Stride, r*Stride + maxBaseUserId];
    * 9e17 / Stride = 9e10 replicas — unreachable), so a cold row can
    * never collide with it. The previous 777777777 sat INSIDE replica
    * 77's band and was collision-free only because sf0.1 base user_ids
    * top out at 1499 (advisor round-17, low) — the build now also
    * asserts the disjointness instead of relying on the fixture. */
  val HotUser = 900_000_000_000_000_000L
  private val Stride = 10_000_000L

  def main(args: Array[String]): Unit = {
    val inDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/skew10"
    val k = if (args.length > 2) args(2).toInt else 100
    val hotPct = if (args.length > 3) args(3).toInt else 20
    val spark = graft.GraftSession.create("make-skew")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    val base = graft.sources.ParquetNanos.read(spark, s"$inDir/events.parquet")
    // loud disjointness contract: no cold (replica-offset) id may equal
    // the hot key, or hot/cold rows would merge into one group and the
    // ladder's max-task attribution would be silently wrong
    val maxBase = base.agg(max(col("user_id"))).collect()(0).getLong(0)
    require(k.toLong * Stride + maxBase < HotUser,
      s"cold-id bands reach ${k.toLong * Stride + maxBase}, colliding with HotUser=$HotUser")
    val replicated = base
      .withColumn("__r", explode(sequence(lit(0L), lit(k - 1L))))
      .withColumn("event_id", col("event_id") + col("__r") * lit(Stride))
      .withColumn("user_id", col("user_id") + col("__r") * lit(Stride))
      .drop("__r")
    val skewed = replicated.withColumn("user_id",
      when(pmod(xxhash64(col("event_id")), lit(100L)) < hotPct, lit(HotUser))
        .otherwise(col("user_id")))
      // TIMESTAMP(MICROS, isAdjustedToUTC=false), the testdata layout
      .withColumn("ts", col("ts").cast(
        org.apache.spark.sql.types.TimestampNTZType))

    val tmp = s"$outDir/_tmp_events"
    new java.io.File(outDir).mkdirs()
    skewed.coalesce(1).write.mode("overwrite")
      .option("compression", "zstd")
      .option("parquet.block.size", (2 * 1024 * 1024).toString)
      .parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = java.nio.file.Paths.get(s"$outDir/events.parquet")
    java.nio.file.Files.move(part.toPath, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.spark.network.util.JavaUtils.deleteRecursively(new java.io.File(tmp))
    println(s"wrote $dst (k=$k hotPct=$hotPct hotUser=$HotUser)")
    spark.stop()
  }
}
