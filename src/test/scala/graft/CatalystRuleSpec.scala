package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.catalyst.AggRewriteRule
import graft.prepare.Prepare

/** The Catalyst materialized-view rewrite must fire for RAW DataFrame /
  * SQL aggregates over the prepared fact table (not just DSL queries),
  * produce identical results, and refuse unsound rewrites. */
class CatalystRuleSpec extends SparkSpec {

  private lazy val root: String = SparkEntry.preparedRoot(spark, sfDir)

  /** Points the rule GraftExtensions injected into `s` at the prepared
    * layout; the returned registry counts `s`'s rewrites. */
  private def configure(s: SparkSession): AggRewriteRule.Registry =
    AggRewriteRule.configure(s, s"$root/events", Prepare.defaultAggregates(),
      name => s.read.parquet(s"$root/aggregates/$name"))

  private lazy val reg: AggRewriteRule.Registry = configure(spark)

  private def factDf = spark.read.parquet(s"$root/events")

  test("rewrites a raw DataFrame aggregate onto the rollup") {
    reg // ensure configured
    val before = reg.fired
    val df = factDf.groupBy(col("event_type"))
      .agg(sum(col("value")).as("s"), count(lit(1)).as("c"),
        avg(col("value")).as("a"))
    val rows = df.collect().map(r =>
      (r.getString(0), math.round(r.getDouble(1) * 1e4), r.getLong(2),
        math.round(r.getDouble(3) * 1e4))).toSet
    assert(reg.fired > before, "rule did not fire")
    // plan actually scans the rollup, not the fact table
    assert(scanRoots(df).exists(_.endsWith("/agg_type_day_value")),
      df.queryExecution.optimizedPlan.toString)

    // equal to the unrewritten result (computed via a fresh unregistered path)
    val raw = graft.sources.ParquetNanos.read(spark, s"$sfDir/events.parquet")
    val expect = raw.groupBy(col("event_type"))
      .agg(sum(col("value")), count(lit(1)), avg(col("value")))
      .collect().map(r =>
        (r.getString(0), math.round(r.getDouble(1) * 1e4), r.getLong(2),
          math.round(r.getDouble(3) * 1e4))).toSet
    assert(rows == expect)
  }

  test("rewrites filtered aggregates when the filter is on rollup keys") {
    reg
    val before = reg.fired
    val df = factDf.filter(col("event_type") === "purchase")
      .groupBy(col("day")).agg(sum(col("value")).as("s"))
    val n = df.count()
    assert(reg.fired > before, "rule did not fire on key-filtered agg")
    assert(n > 0)
  }

  /** Rows of `df` as strings, doubles rounded to 4 places. */
  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.4f"
      case v => String.valueOf(v)
    }.mkString("|")).toSet

  /** The same aggregate over the raw, unregistered fact data. */
  private def rawEvents = graft.schema.DirCatalog(sfDir).table(spark, "events")

  /** Root paths of every file scan in the optimized plan (the plan's
    * string form truncates long locations). */
  private def scanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.rootPaths.map(_.toString)
    }.flatten

  private def scansFact(df: DataFrame): Boolean =
    scanRoots(df).exists(_.endsWith(s"$root/events"))

  test("serves the FILTERED rollup agg_purchase_day through the router's proof") {
    reg
    val before = reg.fired
    def q(events: DataFrame) =
      events.filter(col("event_type") === "purchase").groupBy(col("day"))
        .agg(sum(col("value")).as("s"), count(lit(1)).as("c"), max(col("value")).as("m"))
    val df = q(factDf)
    val got = rowSet(df)
    assert(reg.fired > before, "rule did not fire on the purchase-filtered agg")
    assert(scanRoots(df).exists(_.endsWith("/agg_purchase_day")) && !scansFact(df),
      df.queryExecution.optimizedPlan.toString)
    assert(got.nonEmpty && got == rowSet(q(rawEvents)))
    // under a count, column pruning leaves a grouping-only aggregate
    assert(df.count() == got.size)
  }

  test("shapes the DSL form cannot state leave the plan untouched, answers unchanged") {
    reg
    val shapes: Seq[DataFrame => DataFrame] = Seq(
      // a standalone IS NOT NULL on a key: no DSL op states it
      _.filter(col("day").isNotNull).groupBy(col("event_type")).agg(sum(col("value")).as("s")),
      // one aggregate under two aliases: two outputs, one AggItem
      _.groupBy(col("event_type")).agg(sum(col("value")).as("a"), sum(col("value")).as("b")),
      // a cast-wrapped measure: the partial sums hold the uncast values
      _.groupBy(col("event_type")).agg(sum(col("value").cast("int")).as("s")))
    shapes.foreach { shape =>
      val before = reg.fired
      val df = shape(factDf)
      val got = rowSet(df)
      assert((reg.fired > before) != scansFact(df), df.queryExecution.optimizedPlan.toString)
      assert(got.nonEmpty && got == rowSet(shape(rawEvents)))
    }
  }

  test("rewrites filters on keys of ANY matching rollup (user_id via agg_user_type)") {
    reg
    val before = reg.fired
    val df = factDf.filter(col("user_id") === 3)
      .groupBy(col("event_type")).agg(sum(col("value")))
    df.collect()
    assert(reg.fired > before, "agg_user_type rollup should serve this")
  }

  test("refuses rewrite when a filter touches a measure (non-key) column") {
    reg
    val before = reg.fired
    val df = factDf.filter(col("value") > 100)
      .groupBy(col("event_type")).agg(count(lit(1)))
    df.collect()
    assert(reg.fired == before, "unsound rewrite fired (measure filter)")
  }

  test("refuses rewrite for a disjunctive filter touching a measure") {
    reg
    val before = reg.fired
    // a same-column OR would be folded to In (routable, sound) by
    // OptimizeIn; an OR reaching a MEASURE must fall through to the scan
    val df = factDf.filter(col("event_type") === "purchase" || col("value") > 100)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    df.collect()
    assert(reg.fired == before, "unsound rewrite fired (OR over a measure)")
  }

  test("refuses rewrite for non-measure aggregates") {
    reg
    val before = reg.fired
    val df = factDf.groupBy(col("event_type")).agg(sum(col("user_id")))
    df.collect()
    assert(reg.fired == before, "unsound rewrite fired (non-measure agg)")
  }

  test("refuses rewrite for DISTINCT aggregates (countDistinct over a measure)") {
    reg
    val before = reg.fired
    val df = factDf.groupBy(col("event_type"))
      .agg(count_distinct(col("value")).as("d"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reg.fired == before, "unsound rewrite fired (COUNT DISTINCT)")
    // and the values are the true distinct counts, not rollup partial sums
    val raw = graft.sources.ParquetNanos.read(spark, s"$sfDir/events.parquet")
    val expect = raw.groupBy(col("event_type"))
      .agg(count_distinct(col("value")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("refuses rewrite for FILTER (WHERE ...) aggregates") {
    reg
    factDf.createOrReplaceTempView("fact_events")
    val before = reg.fired
    val df = spark.sql(
      """SELECT event_type,
           sum(value) FILTER (WHERE value > 100) AS s
         FROM fact_events GROUP BY event_type""")
    val got = df.collect().map(r => r.getString(0) -> math.round(r.getDouble(1) * 1e4)).toMap
    assert(reg.fired == before, "unsound rewrite fired (agg FILTER clause)")
    val raw = graft.sources.ParquetNanos.read(spark, s"$sfDir/events.parquet")
    raw.createOrReplaceTempView("raw_events")
    val expect = spark.sql(
      """SELECT event_type,
           sum(value) FILTER (WHERE value > 100) AS s
         FROM raw_events GROUP BY event_type""")
      .collect().map(r => r.getString(0) -> math.round(r.getDouble(1) * 1e4)).toMap
    assert(got == expect)
  }

  test("GraftExtensions injects the rewrite rule via SparkSessionExtensions") {
    val rules = spark.sessionState.optimizer.extendedOperatorOptimizationRules
    assert(rules.collect { case r: AggRewriteRule => r.spark } == Seq(spark),
      s"operator-optimization rules: ${rules.map(_.getClass.getName)}")
  }

  test("cosine_sim is callable from SQL via the injected function descriptor") {
    val r = spark.sql(
      """SELECT cosine_sim(
           array(cast(1.0 as float), cast(0.0 as float)),
           array(cast(1.0 as float), cast(0.0 as float))) AS c,
         cosine_sim(
           array(cast(1.0 as float), cast(0.0 as float)),
           array(cast(0.0 as float), cast(1.0 as float))) AS o""")
      .collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("fires for spark.sql text queries too") {
    reg
    factDf.createOrReplaceTempView("fact_events")
    val before = reg.fired
    val r = spark.sql(
      "SELECT event_type, sum(value) FROM fact_events GROUP BY event_type")
    r.collect()
    assert(reg.fired > before, "rule did not fire for SQL")
  }

  test("one install route, scoped to the configured session") {
    reg
    assert(!spark.experimental.extraOptimizations.exists(_.isInstanceOf[AggRewriteRule]),
      s"extra optimizations: ${spark.experimental.extraOptimizations}")
    def agg(s: SparkSession) = s.read.parquet(s"$root/events")
      .groupBy(col("event_type")).agg(sum(col("value")).as("s"))
    val before = reg.fired
    val own = agg(spark)
    own.collect()
    assert(reg.fired > before && !scansFact(own), own.queryExecution.optimizedPlan.toString)

    val (on, off) = (spark.newSession(), spark.newSession())
    val (onReg, offReg) = (configure(on), AggRewriteRule.registryFor(off))
    val counts = () => (reg.fired, onReg.fired, offReg.fired)
    val (main0, on0, off0) = counts()
    val rewritten = agg(on)
    val onRows = rowSet(rewritten)
    assert(!scansFact(rewritten), rewritten.queryExecution.optimizedPlan.toString)
    val (main1, on1, off1) = counts()
    assert(on1 > on0 && main1 == main0 && off1 == off0,
      s"counts (test, configured, unconfigured) ${(main0, on0, off0)} -> ${counts()}")
    val scanned = agg(off)
    val offRows = rowSet(scanned)
    assert(scansFact(scanned), scanned.queryExecution.optimizedPlan.toString)
    assert(counts() == ((main1, on1, off1)), "an unconfigured session rewrote")
    assert(onRows.nonEmpty && onRows == offRows)
  }
}
