package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Timestamp physical-layout interop (the round-10 regression class).
  *
  * The driver's testdata has shipped with DIFFERENT parquet timestamp
  * layouts across regenerations: TIMESTAMP(NANOS) (read as LongType via
  * nanosAsLong and converted) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
  * (which Spark 4 infers as TimestampNTZType unless told otherwise — that
  * inference crashed EventTime.withDerived, broke the prepared-engine
  * pipeline at sf0.1, and silently nulled the CSV/JSONL roundtrips whose
  * writers format NTZ columns with timestampNTZFormat).
  */
class TimestampLayoutSpec extends SparkSpec {

  test("driver testdata ts surfaces as TimestampType (any physical layout)") {
    // the pyarrow-written events table carries no Spark schema metadata,
    // so the session's inferTimestampNTZ=false (micros layout) or the
    // nanosAsLong conversion (nanos layout) must both land on
    // TimestampType — the type every downstream operator assumes
    val ev = graft.sources.ParquetNanos.read(spark, s"$sfDir/events.parquet")
    assert(ev.schema("ts").dataType == TimestampType,
      s"expected TimestampType, got ${ev.schema("ts").dataType}")
  }

  test("Spark-NTZ-written parquet (scale fixtures) keeps values and derives") {
    import SparkSpecBase.implicits._
    val dir = "target/tmp/spec_ntz_micros"
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-15 10:30:00.123456")),
      (2L, java.sql.Timestamp.valueOf("2024-06-30 23:59:59.999999")))
    // cast to NTZ on write => TIMESTAMP(MICROS, isAdjustedToUTC=false)
    // with Spark schema metadata, which overrides NTZ inference on read
    // (the MakeSfN fixture path) — values must round-trip and the
    // derived-time attach must work on the NTZ column
    rows.toDF("id", "ts")
      .withColumn("ts", col("ts").cast(TimestampNTZType))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val back = graft.schema.EventTime.withDerived(
      graft.sources.ParquetNanos.read(spark, dir))
    val got = back.orderBy(col("id"))
      .select(col("ts").cast(StringType), col("day").cast(StringType))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(
      ("2024-01-15 10:30:00.123456", "2024-01-15"),
      ("2024-06-30 23:59:59.999999", "2024-06-30")), got)
  }

  test("NTZ-embedded parquet: ts filters still push down to the scan") {
    import SparkSpecBase.implicits._
    val dir = "target/tmp/spec_ntz_pushdown"
    (1 to 100).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 12:00:00")))
      .toDF("id", "ts")
      .withColumn("ts", col("ts").cast(TimestampNTZType))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val filtered = graft.sources.ParquetNanos.read(spark, dir)
      .filter(col("ts") >= lit("2024-01-20 00:00:00").cast(TimestampType))
    // the scan itself must emit TimestampType (explicit user schema), so
    // the predicate reaches parquet — a cast above the scan loses this
    val plan = filtered.queryExecution.sparkPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      s"ts filter not pushed:\n$plan")
    assert(filtered.schema("ts").dataType == TimestampType)
    assert(filtered.count() ==
      (1 to 100).count(i => i % 28 + 1 >= 20))
  }

  test("leaf-paths read: NTZ-embedded partitions surface as TimestampType, only the leaves read") {
    import SparkSpecBase.implicits._
    val dir = "target/tmp/spec_ntz_leaves"
    (1 to 40).map(i => (i.toLong, i % 4,
        java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 12:00:00.000001")))
      .toDF("id", "p", "ts")
      .withColumn("ts", col("ts").cast(TimestampNTZType))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val df = graft.sources.ParquetNanos.read(spark, dir, Seq(s"$dir/p=1", s"$dir/p=3"))
    assert(df.schema("ts").dataType == TimestampType, df.schema.simpleString)
    val got = df.select(col("id"), col("p"), col("ts").cast(StringType))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == (1 to 40).filter(i => i % 4 == 1 || i % 4 == 3).map(i =>
      (i.toLong, i % 4, f"2024-01-${i % 28 + 1}%02d 12:00:00.000001")).toSet)
  }

  test("withDerived accepts TimestampNTZ frames (non-parquet sources)") {
    import SparkSpecBase.implicits._
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-03-10 07:45:00")))
      .toDF("id", "ts")
      .withColumn("ts", col("ts").cast(TimestampNTZType))
    val d = graft.schema.EventTime.withDerived(df).select(
      col("day").cast(StringType), col("hour").cast(StringType),
      col("minute")).collect().head
    assert(d.getString(0) == "2024-03-10", d)
    assert(d.getString(1) == "2024-03-10 07:00:00", d)
    assert(d.getString(2) == "2024-03-10 07:45", d)
  }

  test("CSV roundtrip preserves micros through a TimestampType schema") {
    import SparkSpecBase.implicits._
    val dir = "target/tmp/spec_csv_micros"
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val src = Seq((1L, java.sql.Timestamp.valueOf("2024-01-15 10:30:00.123456")))
      .toDF("id", "ts")
    src.write.mode("overwrite")
      .option("header", "true").option("timestampFormat", tsFmt).csv(dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType)))
    val back = spark.read.schema(schema).option("header", "true")
      .option("timestampFormat", tsFmt).csv(dir).collect().head
    assert(back.getTimestamp(1).toString == "2024-01-15 10:30:00.123456", back)
  }
}
