package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

import scala.jdk.CollectionConverters._

/** The one parquet reader: schema from one footer, TIMESTAMP(NANOS)
  * interop, and no Spark job before the query's own.
  *
  * Spark has no nanosecond timestamp type and refuses TIMESTAMP(NANOS)
  * parquet columns outright (PARQUET_TYPE_ILLEGAL) unless
  * `spark.sql.legacy.parquet.nanosAsLong=true`, which surfaces them as
  * LongType nanos-since-epoch. The harness events table is written with
  * nanos timestamps, so we: (1) enable the conf, (2) detect nanos fields
  * from the parquet footer, and (3) convert to TimestampType via
  * floor-division to micros — the same truncation DuckDB applies when it
  * reads TIMESTAMP_NS into its microsecond TIMESTAMP, so both engines
  * see identical values.
  *
  * The Spark schema comes from the same footer, through the function
  * Spark's own inference calls (`ParquetFileFormat.readSchemaFromFooter`
  * with a converter built from the session conf), and the read is
  * `spark.read.schema(...)`. Spark's inference reads that one footer in
  * a Spark job of its own, once per read; here it is one driver-side
  * footer read, re-done on every read (no memo), so a path rewritten
  * with a new schema is read with the new one.
  */
object ParquetNanos {

  /** Names of TIMESTAMP(NANOS) fields in the parquet file(s) at `path`. */
  def nanosFields(spark: SparkSession, path: String): Set[String] =
    firstFooter(spark, Seq(path)).fold(Set.empty[String])(f => nanosOf(f.getParquetMetadata))

  /** Read parquet, converting any TIMESTAMP(NANOS) columns to
    * TimestampType (micros, floor like DuckDB). */
  def read(spark: SparkSession, path: String): DataFrame =
    load(spark, Seq(path))(_.parquet(path))

  /** Leaf-paths form: read only the partition directories `leaves` of
    * the hive-partitioned table at `basePath` (partition columns still
    * discovered from the leaf names, relative to `basePath`), so the
    * file listing touches the leaves and never the rest of the tree.
    * The schema comes from the first leaf holding a data file: every
    * leaf of one table shares its schema. */
  def read(spark: SparkSession, basePath: String,
           leaves: Seq[String]): DataFrame = {
    require(leaves.nonEmpty, s"no leaf paths to read under $basePath")
    load(spark, leaves)(_.option("basePath", basePath).parquet(leaves: _*))
  }

  /** `df` coalesced to one partition when its analyzed size is no larger
    * than the smallest scan split Spark ever plans; larger reads are
    * returned as they are. Spark's split size is
    * `min(maxPartitionBytes, max(openCostInBytes, bytes / cores))`, so
    * a file of at most `min(maxPartitionBytes, openCostInBytes)` (4 MB
    * by default) is one scan task whatever the core count: one partition
    * costs such a read no scan parallelism. A one-partition child
    * reports `SinglePartition`, which satisfies every distribution an
    * aggregate or sort above it asks for: the planner inserts no
    * `Exchange`, AQE runs no shuffle stage, and collecting the result is
    * one job of one task. A file scan of one small file reports no
    * partitioning at all, so without this even a one-file rollup pays a
    * shuffle per query. */
  def oneSplit(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    if (df.queryExecution.analyzed.stats.sizeInBytes <=
        BigInt(math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)))
      df.coalesce(1)
    else df
  }

  private def load(spark: SparkSession, paths: Seq[String])(
      open: DataFrameReader => DataFrame): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) columns must surface as
    // TimestampType (UTC session == naive wall clock), not NTZ — same
    // values DuckDB sees, and parquet filter pushdown keeps working.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    firstFooter(spark, paths) match {
      // no data file: Spark's own inference reports the empty table
      case None => open(spark.read)
      case Some(footer) =>
        // Spark-WRITTEN parquet embeds its own schema in the footer
        // (org.apache.spark.sql.parquet.row.metadata), which OVERRIDES
        // the NTZ-inference conf above: a file whose embedded schema
        // says timestamp_ntz (e.g. the MakeSfN scale fixtures, which
        // cast to NTZ to get unadjusted-micros physical layout) would
        // surface as TimestampNTZType. Normalize to TimestampType — an
        // identity on wall-clock values in this UTC session — in the
        // read schema, not by casting above the scan: a post-read cast
        // blocks parquet predicate pushdown on exactly the columns the
        // scale fixtures' date filters hit, while a read schema makes
        // the scan itself emit TimestampType so PushedFilters survive
        // (pinned by TimestampLayoutSpec's pushdown test).
        val schema = ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        val fixed = StructType(schema.fields.map(f =>
          if (f.dataType == TimestampNTZType) f.copy(dataType = TimestampType)
          else f))
        val df = open(spark.read.schema(fixed))
        nanosOf(footer.getParquetMetadata).foldLeft(df) { (d, c) =>
          d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
        }
    }
  }

  /** The footer of the first data file under `paths` (a file, or the
    * first in name order below a directory, descending into partition
    * directories), read on the driver; None when no data file exists. */
  private def firstFooter(spark: SparkSession, paths: Seq[String]): Option[Footer] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.iterator.map(new Path(_))
      .flatMap { p =>
        val fs = p.getFileSystem(conf)
        // a missing path falls through to Spark's own PATH_NOT_FOUND
        try firstDataFile(fs, fs.getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None }
      }.nextOption()
      .map { file =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
        try new Footer(file, reader.getFooter) finally reader.close()
      }
  }

  private def nanosOf(meta: ParquetMetadata): Set[String] =
    meta.getFileMetaData.getSchema.getFields.asScala.flatMap { f =>
      f.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if t.getUnit == TimeUnit.NANOS => Some(f.getName)
        case _ => None
      }
    }.toSet

  /** Depth-first, in name order, skipping the names Spark's file index
    * hides (`_SUCCESS`, `.crc`, `.old_` backups, `_temporary`). */
  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[Path] =
    if (st.isFile) Some(st.getPath)
    else fs.listStatus(st.getPath).sortBy(_.getPath.getName).iterator
      .filter { s =>
        val n = s.getPath.getName
        !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))
      }
      .flatMap(firstDataFile(fs, _)).nextOption()
}
