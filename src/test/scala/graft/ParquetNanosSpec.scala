package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.ParquetNanos
import graft.tools.Probe

/** The one parquet reader: its schema is the footer's as the path stands
  * at read time, it finds the footer below partition directories, and a
  * read launches no Spark job. */
class ParquetNanosSpec extends SparkSpec {

  /** 2024-01-15 10:30:00.123456789 UTC in epoch nanoseconds. */
  private val Nanos = 1705314600123456789L
  private val Micros = "2024-01-15 10:30:00.123456"

  /** One parquet file with a TIMESTAMP(NANOS) `ts` column, which Spark
    * cannot write itself. */
  private def writeNanos(file: String, id: Long): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withType(schema).withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", id).append("ts", Nanos))
    finally w.close()
  }

  private def rmRec(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmRec)); f.delete(); ()
  }

  private def tsStrings(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy(col("id")).select(col("ts").cast(StringType))
      .collect().map(_.getString(0)).toSeq

  test("a path rewritten with a new schema is read with the new schema") {
    import SparkSpecBase.implicits._
    val dir = "target/tmp/spec_footer_rewrite"
    rmRec(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    writeNanos(s"$dir/part-0.parquet", 1L)
    val first = ParquetNanos.read(spark, dir)
    assert(first.schema("ts").dataType == TimestampType)
    assert(tsStrings(first) == Seq(Micros))
    // same path, same JVM: micros ts (Spark-written) and one more column
    rmRec(new java.io.File(dir))
    Seq((2L, java.sql.Timestamp.valueOf(Micros), "x")).toDF("id", "ts", "extra")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val second = ParquetNanos.read(spark, dir)
    assert(second.columns.toSeq == Seq("id", "ts", "extra"))
    assert(second.schema("ts").dataType == TimestampType)
    assert(tsStrings(second) == Seq(Micros))
    assert(ParquetNanos.nanosFields(spark, dir).isEmpty)
  }

  test("a hive-partitioned root: the footer is found below its partition dirs") {
    val root = "target/tmp/spec_footer_partitioned"
    rmRec(new java.io.File(root))
    Seq("a" -> 1L, "b" -> 2L).foreach { case (p, id) =>
      new java.io.File(s"$root/p=$p").mkdirs()
      writeNanos(s"$root/p=$p/part-0.parquet", id)
    }
    assert(ParquetNanos.nanosFields(spark, root) == Set("ts"))
    // reading builds the relation without a Spark job: no schema inference
    val (df, jobs) = Probe.jobsOf(spark)(ParquetNanos.read(spark, root))
    assert(jobs == 0, s"$jobs Spark jobs while reading")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.schema("p").dataType == StringType)
    assert(tsStrings(df) == Seq(Micros, Micros))
    assert(df.orderBy(col("id")).select(col("p")).collect().map(_.getString(0)).toSeq ==
      Seq("a", "b"))
  }
}
