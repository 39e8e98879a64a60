package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV ingestion in the reference's permissive style (SURVEY §2.1 S2;
  * the S1 strict read is `s1_csv_strict`'s own schema'd read).
  *
  * Raw reference input is `events_part_*.csv` with NULLs encoded as either
  * the empty string or the literal "null" (prepare_optimized.py:53-54,
  * baseline/main.py:68,70). Spark's csv reader takes a single nullValue,
  * so a strict read handles "" (default) and the permissive reader
  * reproduces the baseline's all-VARCHAR + TRY_CAST pipeline
  * (baseline/main.py:39-73): read everything as string, map both null
  * encodings to NULL, then cast — a failed cast yields NULL, exactly
  * DuckDB's TRY_CAST.
  */
object CsvSource {

  /** S2: all-VARCHAR + TRY_CAST-style permissive read. Handles both null
    * encodings for every type including strings, and never throws on
    * malformed numerics. */
  def readPermissive(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val asStrings = StructType(schema.fields.map(f =>
      StructField(f.name, StringType, nullable = true)))
    val raw = spark.read
      .schema(asStrings)
      .option("header", "true")
      .csv(path)
    val casted = schema.fields.map { f =>
      val c = col(f.name)
      val nulled = when(c === "" || c === "null", lit(null)).otherwise(c)
      try_cast(nulled, f.dataType).as(f.name)
    }
    raw.select(casted: _*)
  }

  private def try_cast(c: org.apache.spark.sql.Column, t: DataType) =
    c.try_cast(t)
}
