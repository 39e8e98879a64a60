package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev fixture builder: replicate an sf directory K times into a larger
  * scale factor (e.g. sf0.1 x 10 -> sf1) for scale-evidence runs.
  *
  * Every id/key column is offset by replica * 10^7, so each replica is a
  * disjoint key universe and all join/group semantics scale like real
  * data (row counts x K, per-key group sizes unchanged). Dimension
  * tables (region, nation) stay single-copy, as TPC-H dims do across
  * scale factors. Text/embedding PAYLOADS are replicated verbatim, so
  * the corpus deliberately contains K exact copies of every document —
  * a dedup STRESS input (cross-replica duplicate pairs are real
  * duplicates, and the oracle replays the same contract over them).
  *
  * Output: one single parquet FILE per table (`<out>/<name>.parquet`),
  * the layout both graft's DirCatalog and the DuckDB oracle expect. */
object MakeSfN {
  private val Stride = 10_000_000L

  def main(args: Array[String]): Unit = {
    val inDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.create("make-sfn")
    // INT64 micros (not the INT96 default): keeps DuckDB, the vectorized
    // reader, and the file-stream path on one timestamp layout
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    val offsets: Map[String, Seq[String]] = Map(
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      "customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"))

    def writeOne(name: String, df0: DataFrame): Unit = {
      // write timestamps as TIMESTAMP(MICROS, isAdjustedToUTC=false) —
      // the driver testdata's layout (naive wall clock). A TimestampType
      // column would write adjusted micros, which DuckDB surfaces as
      // TIMESTAMPTZ and the oracle compare then formats with "+00:00".
      val df = df0.schema.fields.foldLeft(df0) { (d, f) =>
        f.dataType match {
          case org.apache.spark.sql.types.TimestampType =>
            d.withColumn(f.name, col(f.name).cast(
              org.apache.spark.sql.types.TimestampNTZType))
          case _ => d
        }
      }
      val tmp = s"$outDir/_tmp_$name"
      // 2 MB row groups: a coalesce(1) file otherwise lands as ONE row
      // group (6M rows for sf1 lineitem), and a single row group is an
      // unsplittable scan — every sf1 query would decode the whole table
      // on one core. Real corpora have many files/row groups; small
      // groups restore the intra-file parallelism both engines (Spark
      // splits by range, DuckDB by row group) would have at real scale.
      df.coalesce(1).write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.block.size", (2 * 1024 * 1024).toString)
        .parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$outDir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.spark.network.util.JavaUtils.deleteRecursively(new java.io.File(tmp))
      println(s"wrote $dst")
    }

    // optional 4th arg: comma-separated table subset (e.g. "events") for
    // single-table stress fixtures where replicating the full directory
    // would waste minutes and GBs
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    def wanted(t: String): Boolean = only.forall(_.contains(t))

    new java.io.File(outDir).mkdirs()
    val dims = Seq("region", "nation").filter(wanted)
    dims.foreach { t =>
      writeOne(t, graft.sources.ParquetNanos.read(spark, s"$inDir/$t.parquet"))
    }
    offsets.filter { case (t, _) => wanted(t) }.foreach { case (t, keys) =>
      val base = graft.sources.ParquetNanos.read(spark, s"$inDir/$t.parquet")
      val replicated = base
        .withColumn("__r", explode(sequence(lit(0L), lit(k - 1L))))
      val shifted = keys.foldLeft(replicated) { (d, c) =>
        d.withColumn(c, (col(c) + col("__r") * lit(Stride)).cast(
          base.schema(c).dataType))
      }.drop("__r")
      writeOne(t, shifted)
    }
    spark.stop()
  }
}
