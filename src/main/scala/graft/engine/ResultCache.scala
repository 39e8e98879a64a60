package graft.engine

import java.util.{LinkedHashMap => JLinkedHashMap, Map => JMap}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Materialized query-result cache.
  *
  * The reference keys an in-memory dict by md5 of the canonical query JSON
  * and returns a cloned DataFrame (query_engine.py:41-58, 63-67). Spark's
  * `df.cache()` caches *lineage*, not results, so we materialize: store the
  * collected rows + schema and rebuild a local DataFrame on hit
  * (`spark.createDataFrame` over a local seq plans as a LocalRelation — no
  * cluster work at all on a hit).
  *
  * Guard rails for scale: results bigger than `maxRows` are never cached
  * (a 100 TB scan result must not be collected to the driver), and the
  * cache is LRU-bounded at `maxEntries`.
  */
final class ResultCache(maxEntries: Int = 256, maxRows: Int = 500000) {

  private final case class Entry(schema: StructType, rows: Array[Row])

  private val lru: JMap[String, Entry] =
    java.util.Collections.synchronizedMap(
      new JLinkedHashMap[String, Entry](64, 0.75f, true) {
        override def removeEldestEntry(e: JMap.Entry[String, Entry]): Boolean =
          size() > maxEntries
      })

  private val hitCount, missCount = new java.util.concurrent.atomic.AtomicLong
  def hits: Long = hitCount.get
  def misses: Long = missCount.get

  /** Keys whose results proved over-budget: never probe them again (the
    * probe itself costs a full execution). LRU-bounded like the cache. */
  private val tooBig: JMap[String, java.lang.Boolean] =
    java.util.Collections.synchronizedMap(
      new JLinkedHashMap[String, java.lang.Boolean](64, 0.75f, true) {
        override def removeEldestEntry(e: JMap.Entry[String, java.lang.Boolean]): Boolean =
          size() > maxEntries
      })

  def get(spark: SparkSession, key: String): Option[DataFrame] =
    Option(lru.get(key)).map { e =>
      hitCount.incrementAndGet()
      spark.createDataFrame(
        new java.util.ArrayList[Row](java.util.Arrays.asList(e.rows: _*)),
        e.schema)
    }

  /** Execute-through: materialize `df` (bounded), cache, return a local
    * DataFrame. When over budget, the original lazy plan is returned, so
    * THE FIRST over-budget execution pays the probe as an extra run; the
    * key is then negative-cached and never probed again. */
  def put(spark: SparkSession, key: String, df: DataFrame): DataFrame = {
    missCount.incrementAndGet()
    if (tooBig.containsKey(key)) return df
    val taken = df.limit(maxRows + 1).collect()
    if (taken.length > maxRows) { tooBig.put(key, true); df }
    else {
      lru.put(key, Entry(df.schema, taken))
      spark.createDataFrame(
        new java.util.ArrayList[Row](java.util.Arrays.asList(taken: _*)),
        df.schema)
    }
  }

  def clear(): Unit = { lru.clear(); tooBig.clear() }
}
