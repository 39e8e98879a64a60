package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** TIMESTAMP(NANOS) parquet interop.
  *
  * Spark has no nanosecond timestamp type and refuses TIMESTAMP(NANOS)
  * parquet columns outright (PARQUET_TYPE_ILLEGAL) unless
  * `spark.sql.legacy.parquet.nanosAsLong=true`, which surfaces them as
  * LongType nanos-since-epoch. The harness events table is written with
  * nanos timestamps, so we: (1) enable the conf, (2) detect nanos fields
  * from the parquet footer (cheap: one footer read per path, cached), and
  * (3) convert to TimestampType via floor-division to micros — the same
  * truncation DuckDB applies when it reads TIMESTAMP_NS into its
  * microsecond TIMESTAMP, so both engines see identical values.
  */
object ParquetNanos {

  private val cache = TrieMap.empty[String, Set[String]]

  /** Names of TIMESTAMP(NANOS) fields in the parquet file(s) at `path`. */
  def nanosFields(spark: SparkSession, path: String): Set[String] =
    footerNanos(spark, path, path)

  /** Footer detection of the first data file at `path` (the file itself,
    * or the first one directly inside the directory), memoized under
    * `key`. */
  private def footerNanos(spark: SparkSession, key: String,
                          path: String): Set[String] =
    cache.getOrElseUpdate(key, {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val file =
        if (fs.getFileStatus(p).isFile) p
        else fs.listStatus(p).iterator
          .map(_.getPath)
          .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          .getOrElse(return Set.empty)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        reader.getFileMetaData.getSchema.getFields.asScala.flatMap { f =>
          f.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                if t.getUnit == TimeUnit.NANOS => Some(f.getName)
            case _ => None
          }
        }.toSet
      } finally reader.close()
    })

  /** Read parquet, converting any TIMESTAMP(NANOS) columns to
    * TimestampType (micros, floor like DuckDB). */
  def read(spark: SparkSession, path: String): DataFrame =
    load(spark, nanosFields(spark, path))(_.parquet(path))

  /** Leaf-paths form: read only the partition directories `leaves` of
    * the hive-partitioned table at `basePath` (partition columns still
    * discovered from the leaf names, relative to `basePath`), so the
    * file listing touches the leaves and never the rest of the tree.
    * Footer detection reads one file of the first leaf, memoized under
    * `basePath`: every leaf of one table shares its schema. */
  def read(spark: SparkSession, basePath: String,
           leaves: Seq[String]): DataFrame = {
    require(leaves.nonEmpty, s"no leaf paths to read under $basePath")
    load(spark, footerNanos(spark, basePath, leaves.head))(
      _.option("basePath", basePath).parquet(leaves: _*))
  }

  private def load(spark: SparkSession, nanos: Set[String])(
      open: DataFrameReader => DataFrame): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) columns must surface as
    // TimestampType (UTC session == naive wall clock), not NTZ — same
    // values DuckDB sees, and parquet filter pushdown keeps working.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val probe = open(spark.read)
    // Spark-WRITTEN parquet embeds its own schema in the footer
    // (org.apache.spark.sql.parquet.row.metadata), which OVERRIDES the
    // NTZ-inference conf above: a file whose embedded schema says
    // timestamp_ntz (e.g. the MakeSfN scale fixtures, which cast to NTZ
    // to get unadjusted-micros physical layout) surfaces as
    // TimestampNTZType no matter the conf. Normalize to TimestampType —
    // an identity on wall-clock values in this UTC session — by
    // RE-READING with an explicit user schema (NTZ fields mapped to
    // TimestampType), not by casting above the scan: a post-read cast
    // blocks parquet predicate pushdown on exactly the columns the scale
    // fixtures' date filters hit, while a user schema makes the scan
    // itself emit TimestampType so PushedFilters survive (round-12
    // ADVICE; pinned by TimestampLayoutSpec's pushdown test).
    import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
    val df =
      if (!probe.schema.fields.exists(_.dataType == TimestampNTZType)) probe
      else {
        val fixed = StructType(probe.schema.fields.map(f =>
          if (f.dataType == TimestampNTZType) f.copy(dataType = TimestampType)
          else f))
        open(spark.read.schema(fixed))
      }
    nanos.foldLeft(df) { (d, c) =>
      d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
    }
  }
}
