package graft

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Engine
import graft.operators.Relational
import graft.prepare.{ArtifactStore, Prepare}
import graft.schema.DirCatalog
import graft.sources.CsvSource

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), each with a DuckDB-equivalent `oracleSql` on the same
  * parquet tables.
  *
  * Conventions shared by every entry and its oracle (driver hashing is
  * column-name-sorted and exact-value, so both sides must agree):
  *  - every DoubleType output column is round(x, 4) on BOTH sides, because
  *    Spark and DuckDB legitimately sum floating point in different orders;
  *  - output columns use parquet-safe snake_case aliases (the DSL's
  *    internal `sum(value)` naming is renamed at the boundary);
  *  - derived time columns: day = CAST(ts AS DATE), week = Monday truncate,
  *    hour = hour truncate, minute = 'yyyy-MM-dd HH:mm' string.
  */
object SparkEntry {

  // ---------------------------------------------------------------- utils

  /** Round all double columns to 4dp (both sides of the compare do this). */
  private def round4(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType => round(col(s"`${f.name}`"), 4).as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }.toIndexedSeq: _*)

  /** Run a DSL query through the scan-path engine over `<dir>/<table>.parquet`
    * tables, then rename to parquet-safe aliases and round doubles. */
  private def dsl(json: String, renames: (String, String)*)
      : (SparkSession, String) => DataFrame =
    (s, dir) => {
      val df = Engine.forDir(s, dir).executeJson(json)
      round4(renames.foldLeft(df) { case (d, (from, to)) =>
        d.withColumnRenamed(from, to)
      })
    }

  /** The corpus's `prepared` root, written once by [[Prepare.run]] under
    * the store's stage-once lock: the build key and the fixture identity
    * of [[ArtifactStore.artifactPath]] are its whole basis. */
  private[graft] def preparedRoot(s: SparkSession, sfDir: String): String =
    ArtifactStore.staged(sfDir, "prepared")(r =>
      Prepare.run(s, graft.sources.ParquetNanos.read(s, s"$sfDir/events.parquet"), r,
        zorder = Prepare.defaultZOrder))

  /** One engine per sf dir over [[preparedRoot]], with the result cache
    * off: every call runs, and an audit sees, the routed plan. */
  private val preparedEngines = scala.collection.concurrent.TrieMap.empty[String, Engine]
  private[graft] def preparedEngine(s: SparkSession, sfDir: String): Engine =
    preparedEngines.getOrElseUpdate(sfDir,
      Prepare.engine(s, preparedRoot(s, sfDir), cacheResults = false))

  private def dslPrepared(json: String, renames: (String, String)*)
      : (SparkSession, String) => DataFrame =
    (s, dir) => {
      val df = preparedEngine(s, dir).executeJson(json)
      round4(renames.foldLeft(df) { case (d, (from, to)) =>
        d.withColumnRenamed(from, to)
      })
    }

  private def events(s: SparkSession, dir: String): DataFrame =
    DirCatalog(dir).table(s, "events")
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.ParquetNanos.read(s, s"$dir/$name.parquet")

  /** Temp-view prefix unique per sf dir, so spark.sql entries never read a
    * view another dir's invocation registered. */
  private def viewPrefix(dir: String): String =
    "graft_" + dir.replaceAll("[^A-Za-z0-9]", "_") + "_"
  private val tpchViewsRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerTpchViews(s: SparkSession, dir: String): Unit =
    if (tpchViewsRegistered.add(s.hashCode() + ":" + dir)) {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem").foreach { t =>
        tbl(s, dir, t).createOrReplaceTempView(viewPrefix(dir) + t)
      }
    }
  /** Test-only access (TpchSuiteSpec restates q21's EXISTS formulation). */
  def registerTpchViewsForTest(s: SparkSession, dir: String): Unit =
    registerTpchViews(s, dir)
  def viewPrefixForTest(dir: String): String = viewPrefix(dir)

  // ------------------------------------------------------------- flagship

  /** Flagship: the end-to-end curation funnel (quality gate ∧ language
    * filter ∧ near-dup removal → token-budget sequence packing) as one
    * Catalyst plan — the library's distinctive surface in a single query.
    * Runs on sf0.001; the driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("pipeline_curate_pack")(spark, "/root/testdata/sf0.001")

  // -------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    PipelineEntries.queries ++ AnalyticsEntries.queries ++ coreQueries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- R1-R16: the reference DSL surface (SURVEY §2.2), via the JSON
    // ---- DSL -> IR -> Compiler path on the harness events table.

    "r1_projection" -> dsl(
      """{"select":["event_id","event_type","value"],"from":"events"}"""),

    "r2_filter_eq" -> dsl(
      """{"select":["day",{"COUNT":"*"}],"from":"events",
         "where":[{"col":"event_type","op":"eq","val":"click"}],
         "group_by":["day"]}""",
      "count(*)" -> "cnt"),

    "r3_filter_neq" -> dsl(
      """{"select":["event_type",{"COUNT":"*"}],"from":"events",
         "where":[{"col":"event_type","op":"neq","val":"view"}],
         "group_by":["event_type"]}""",
      "count(*)" -> "cnt"),

    "r4_filter_in" -> dsl(
      """{"select":["event_type",{"COUNT":"*"}],"from":"events",
         "where":[{"col":"event_type","op":"in","val":["click","purchase"]}],
         "group_by":["event_type"]}""",
      "count(*)" -> "cnt"),

    "r5_filter_between" -> dsl(
      """{"select":["event_type",{"COUNT":"*"},{"SUM":"value"}],"from":"events",
         "where":[{"col":"value","op":"between","val":[10.5,90.25]}],
         "group_by":["event_type"]}""",
      "count(*)" -> "cnt", "sum(value)" -> "sum_value"),

    "r5_filter_between_date" -> dsl(
      """{"select":["week",{"COUNT":"*"}],"from":"events",
         "where":[{"col":"day","op":"between","val":["2024-01-10","2024-01-20"]}],
         "group_by":["week"]}""",
      "count(*)" -> "cnt"),

    "r6_filter_cmp" -> dsl(
      """{"select":["event_type",{"COUNT":"*"}],"from":"events",
         "where":[{"col":"value","op":"gt","val":50},
                  {"col":"value","op":"lte","val":150},
                  {"col":"user_id","op":"gte","val":5},
                  {"col":"user_id","op":"lt","val":900}],
         "group_by":["event_type"]}""",
      "count(*)" -> "cnt"),

    "r7_filter_and_global" -> dsl(
      """{"select":[{"COUNT":"*"}],"from":"events",
         "where":[{"col":"event_type","op":"eq","val":"purchase"},
                  {"col":"value","op":"gt","val":100}]}""",
      "count(*)" -> "cnt"),

    // OR/NOT predicate trees — a strict DSL extension (the reference
    // spec forbids nested conditions); never rollup-routed (obligation 0)
    "r7b_filter_or_not" -> dsl(
      """{"select":["event_type",{"COUNT":"*"}],"from":"events",
         "where":[{"or":[{"col":"event_type","op":"eq","val":"purchase"},
                         {"and":[{"col":"event_type","op":"eq","val":"click"},
                                 {"col":"value","op":"gt","val":150}]}]},
                  {"not":{"col":"user_id","op":"lt","val":10}}],
         "group_by":["event_type"]}""",
      "count(*)" -> "cnt"),

    "r9_agg_sum" -> dsl(
      """{"select":["event_type",{"SUM":"value"}],"from":"events",
         "group_by":["event_type"]}""",
      "sum(value)" -> "sum_value"),

    "r10_agg_avg" -> dsl(
      """{"select":["event_type",{"AVG":"value"}],"from":"events",
         "group_by":["event_type"]}""",
      "avg(value)" -> "avg_value"),

    "r11_agg_count_star" -> dsl(
      """{"select":["event_type",{"COUNT":"*"}],"from":"events",
         "group_by":["event_type"]}""",
      "count(*)" -> "cnt"),

    "r12_agg_count_col" -> dsl(
      """{"select":["event_type",{"COUNT":"value"}],"from":"events",
         "group_by":["event_type"]}""",
      "count(value)" -> "cnt_value"),

    "ext_agg_min_max" -> dsl(
      """{"select":["event_type",{"MIN":"value"},{"MAX":"value"}],"from":"events",
         "group_by":["event_type"]}""",
      "min(value)" -> "min_value", "max(value)" -> "max_value"),

    // multi-key ORDER BY as ONE sort (reference bug §4.3 #4 fixed), with
    // case-insensitive resolution of "COUNT(*)" -> "count(*)"
    "r13_order_multi" -> dsl(
      """{"select":["event_type","day",{"COUNT":"*"}],"from":"events",
         "group_by":["event_type","day"],
         "order_by":[{"col":"event_type","dir":"asc"},
                     {"col":"COUNT(*)","dir":"desc"},
                     {"col":"day","dir":"asc"}]}""",
      "count(*)" -> "cnt"),

    "r14_limit" -> dsl(
      """{"select":["event_id","user_id"],"from":"events",
         "order_by":[{"col":"event_id","dir":"asc"}],"limit":100}"""),

    // global aggregation with no GROUP BY (reference bug §4.3 #5 fixed)
    "ext_global_agg" -> dsl(
      """{"select":[{"COUNT":"*"},{"SUM":"value"},{"AVG":"value"},
                    {"MIN":"value"},{"MAX":"value"}],"from":"events"}""",
      "count(*)" -> "cnt", "sum(value)" -> "sum_value",
      "avg(value)" -> "avg_value", "min(value)" -> "min_value",
      "max(value)" -> "max_value"),

    // ---- derived time columns (SURVEY §1.3)

    "derived_hour" -> dsl(
      """{"select":["hour",{"COUNT":"*"}],"from":"events","group_by":["hour"]}""",
      "count(*)" -> "cnt"),

    "derived_minute" -> dsl(
      """{"select":["minute",{"SUM":"value"}],"from":"events",
         "where":[{"col":"day","op":"eq","val":"2024-01-15"}],
         "group_by":["minute"],
         "order_by":[{"col":"minute","dir":"asc"}]}""",
      "sum(value)" -> "sum_value"),

    // ---- the reference's 5 golden benchmark queries (inputs.py:7-47),
    // ---- schema-mapped to the harness events table and run through the
    // ---- prepared engine — the same DSL surface + routing path the
    // ---- reference exercises with them. Mapping: type -> event_type
    // ---- ('impression' -> 'view'), bid_price/total_price -> value,
    // ---- publisher_id/advertiser_id -> user_id, country -> a user_id
    // ---- band (the fixture has no second categorical; an eq becomes a
    // ---- between, keeping the 3-conjunct filter shape), dates shifted
    // ---- into the fixtures' 2024-01 range.

    "golden_q1" -> dslPrepared(
      """{"select":["day",{"SUM":"value"}],"from":"events",
         "where":[{"col":"event_type","op":"eq","val":"view"}],
         "group_by":["day"]}""",
      "sum(value)" -> "sum_value"),

    "golden_q2" -> dslPrepared(
      """{"select":["user_id",{"SUM":"value"}],"from":"events",
         "where":[{"col":"event_type","op":"eq","val":"view"},
                  {"col":"user_id","op":"between","val":[100,300]},
                  {"col":"day","op":"between","val":["2024-01-10","2024-01-13"]}],
         "group_by":["user_id"]}""",
      "sum(value)" -> "sum_value"),

    // country (low-cardinality) -> day, not user_id: the fixture's
    // mostly-2dp values put a 1000-group AVG on a 4dp rounding boundary
    // every few hundred groups (engines legitimately associate the sums
    // differently), while ~30 day groups stay clear — same shape, and
    // closer to country's cardinality anyway
    "golden_q3" -> dslPrepared(
      """{"select":["day",{"AVG":"value"}],"from":"events",
         "where":[{"col":"event_type","op":"eq","val":"purchase"}],
         "group_by":["day"],
         "order_by":[{"col":"AVG(value)","dir":"desc"}]}""",
      "avg(value)" -> "avg_value"),

    "golden_q4" -> dslPrepared(
      """{"select":["user_id","event_type",{"COUNT":"*"}],"from":"events",
         "group_by":["user_id","event_type"],
         "order_by":[{"col":"COUNT(*)","dir":"desc"}]}""",
      "count(*)" -> "cnt"),

    "golden_q5" -> dslPrepared(
      """{"select":["minute",{"SUM":"value"}],"from":"events",
         "where":[{"col":"event_type","op":"eq","val":"view"},
                  {"col":"day","op":"eq","val":"2024-01-15"}],
         "group_by":["minute"],
         "order_by":[{"col":"minute","dir":"asc"}]}""",
      "sum(value)" -> "sum_value"),

    // ---- the reference's 3 ALTERNATE golden queries
    // ---- (custom_queries_example.json:1-30), same schema mapping as
    // ---- golden_q1..q5: type->event_type ('impression'->'view'),
    // ---- bid_price->value, country->day (alt1, the low-card group) or a
    // ---- user_id band (alt3's eq filter, per golden_q2's precedent),
    // ---- publisher_id->user_id. alt2 is the no-WHERE COUNT(*)-by-type
    // ---- global path; alt3 exercises AVG decomposition (sum/cnt)
    // ---- through the aggregate router with a key-band residual.

    "golden_alt1" -> dslPrepared(
      """{"select":["day",{"SUM":"value"}],"from":"events",
         "where":[{"col":"event_type","op":"eq","val":"view"}],
         "group_by":["day"],
         "order_by":[{"col":"SUM(value)","dir":"desc"}]}""",
      "sum(value)" -> "sum_value"),

    "golden_alt2" -> dslPrepared(
      """{"select":["event_type",{"COUNT":"*"}],"from":"events",
         "group_by":["event_type"]}""",
      "count(*)" -> "cnt"),

    // AVG of 2dp values is k/(100*cnt), which lands EXACTLY on a 4dp
    // rounding boundary whenever 200k = cnt*(2m+1) (e.g. user 116 at
    // sf0.01: 43.56875) — there a 1-ulp float-reassociation difference
    // between engines flips round(.,4) in opposite directions. Both
    // sides therefore round avg+1e-9: an exact-boundary quotient is
    // pushed firmly up on both engines, and any non-boundary quotient
    // is >= 1/(20000*cnt) ~ 1e-7 from the boundary, so the nudge can't
    // flip it (same epsilon-guard idea as Dedup's PPJoin ceil).
    "golden_alt3" -> ((s, dir) => {
      preparedEngine(s, dir).executeJson(
        """{"select":["user_id",{"AVG":"value"}],"from":"events",
           "where":[{"col":"event_type","op":"eq","val":"view"},
                    {"col":"user_id","op":"between","val":[100,130]}],
           "group_by":["user_id"],
           "order_by":[{"col":"AVG(value)","dir":"desc"}]}""")
        .select(col("user_id"),
          round(col("`avg(value)`") + lit(1e-9), 4).as("avg_value"))
    }),

    // ---- S1/S2: CSV sources (SURVEY §2.1). Roundtrip events through CSV
    // ---- (microsecond-preserving format) and aggregate.

    "s1_csv_strict" -> ((s, dir) => csvRoundtrip(s, dir, permissive = false)),
    "s2_csv_permissive" -> ((s, dir) => csvRoundtrip(s, dir, permissive = true)),
    "s8_jsonl_roundtrip" -> ((s, dir) => jsonlRoundtrip(s, dir)),
    "s9_orc_roundtrip" -> ((s, dir) => orcRoundtrip(s, dir)),

    // ---- S3/S4 + routing: prepared layout (partitionBy(type,day) ZSTD
    // ---- parquet + rollup tables), aggregate router with containment
    // ---- proof, re-aggregation (R15), partition-pruned scans.

    // routed: coarser re-aggregation over agg_type_day_value incl. AVG
    // decomposed as sum/cnt (R15 generalized)
    "route_reagg_type" -> dslPrepared(
      """{"select":["event_type",{"SUM":"value"},{"AVG":"value"},{"COUNT":"*"}],
         "from":"events","group_by":["event_type"]}""",
      "sum(value)" -> "sum_value", "avg(value)" -> "avg_value",
      "count(*)" -> "cnt"),

    // routed onto the FILTERED rollup (agg_purchase_day): the query's
    // WHERE contains the rollup's build filter verbatim, so the router's
    // obligation-1 proof admits the 5x-smaller table
    "route_filtered_rollup" -> dslPrepared(
      """{"select":["day",{"SUM":"value"},{"AVG":"value"}],"from":"events",
         "where":[{"col":"event_type","op":"eq","val":"purchase"}],
         "group_by":["day"]}""",
      "sum(value)" -> "sum_value", "avg(value)" -> "avg_value"),

    // routed with residual conditions on rollup keys (containment §4.3 #2-3)
    "route_residual_filters" -> dslPrepared(
      """{"select":["day",{"SUM":"value"},{"COUNT":"*"}],"from":"events",
         "where":[{"col":"event_type","op":"eq","val":"purchase"},
                  {"col":"day","op":"between","val":["2024-01-05","2024-01-25"]}],
         "group_by":["day"]}""",
      "sum(value)" -> "sum_value", "count(*)" -> "cnt"),

    // DSL box query on BOTH (user_id, ts) routes to the z-ordered
    // secondary layout (ZOrderRouter): covering-cell partition pruning +
    // every original predicate re-applied — oracle is the plain filter
    // over the raw table, proving layout-independence end to end.
    "route_zorder_box" -> dslPrepared(
      """{"select":["event_id","user_id","value"],"from":"events",
         "where":[{"col":"user_id","op":"between","val":[40,90]},
                  {"col":"ts","op":"gte","val":"2024-01-08 00:00:00"},
                  {"col":"ts","op":"lt","val":"2024-01-13 00:00:00"}]}"""),

    // the z route composes with aggregation: a grouped aggregate whose
    // WHERE boxes both dimensions is un-routable to any rollup (ts is no
    // rollup key), so it lands on the pruned box scan and aggregates
    // there — same covering-cell pruning, same exactness anchor
    "route_zorder_box_agg" -> dslPrepared(
      """{"select":["event_type",{"COUNT":"*"},{"SUM":"value"}],"from":"events",
         "where":[{"col":"user_id","op":"between","val":[40,90]},
                  {"col":"ts","op":"gte","val":"2024-01-08 00:00:00"},
                  {"col":"ts","op":"lt","val":"2024-01-13 00:00:00"}],
         "group_by":["event_type"]}""",
      "count(*)" -> "cnt", "sum(value)" -> "sum_value"),

    // derived-day predicates route too: day bounds map to whole-day
    // second ranges (superset), the exact day predicates re-apply on the
    // pruned scan — the DSL's most common time filter shape gets 2-D
    // pruning without mentioning ts
    "route_zorder_box_day" -> dslPrepared(
      """{"select":["event_id","user_id","value"],"from":"events",
         "where":[{"col":"user_id","op":"between","val":[40,90]},
                  {"col":"day","op":"between","val":["2024-01-08","2024-01-12"]}]}"""),

    // SPARSE In on the x dimension: {3, 77, 1399} spans nearly the whole
    // user range, so a min-max box would cover almost every cell — the
    // multi-box route (one per-value box, covering cells deduped) reads
    // only the cells of the three user stripes instead
    // (ZOrderRouter.inPoints; audited in PlanAuditSpec)
    "route_zorder_box_in" -> dslPrepared(
      """{"select":["event_id","user_id","value"],"from":"events",
         "where":[{"col":"user_id","op":"in","val":[3,77,1399]},
                  {"col":"day","op":"between","val":["2024-01-08","2024-01-12"]}]}"""),

    "route_user_type" -> dslPrepared(
      """{"select":["user_id",{"COUNT":"*"},{"SUM":"value"}],"from":"events",
         "group_by":["user_id"]}""",
      "count(*)" -> "cnt", "sum(value)" -> "sum_value"),

    "route_minute_rollup" -> dslPrepared(
      """{"select":["minute",{"SUM":"value"}],"from":"events",
         "where":[{"col":"day","op":"eq","val":"2024-01-15"}],
         "group_by":["minute"]}""",
      "sum(value)" -> "sum_value"),

    // scan fallback on the partitioned layout: projection can't route,
    // eq filters on (event_type, day) prune partitions (explain shows
    // PartitionFilters)
    "scan_partition_pruned" -> dslPrepared(
      """{"select":["event_id","value"],"from":"events",
         "where":[{"col":"event_type","op":"eq","val":"purchase"},
                  {"col":"day","op":"eq","val":"2024-01-15"}]}"""),

    // ---- P11/S7: dataset statistics

    "p11_stats" -> ((s, dir) => {
      val eng = preparedEngine(s, dir)
      eng.catalog.table(s, "stats").filter(col("key") =!= "approx_users")
    }),

    // ---- extensions: TPC-H-style relational coverage (joins, top-k,
    // ---- windows, distinct, set ops) — absent from the reference
    // ---- (SURVEY §2.4) but required of a complete engine.

    "tpch_q1" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      round4(li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        avg(col("l_quantity")).as("avg_qty"),
        avg(col("l_extendedprice")).as("avg_price"),
        avg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order")))
    }),

    // ---- multi-join TPC-H shapes (Catalyst picks join order/strategies;
    // ---- constants shifted into the fixtures' 1995-2001 date range)

    "tpch_q3" -> ((s, dir) => {
      val cutoff = lit("1997-03-15").cast(TimestampType)
      val cust = tbl(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = tbl(s, dir, "orders").filter(col("o_orderdate") < cutoff)
      val li = tbl(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
      // shuffle_hash build on the (customer x filtered orders) side —
      // the same scale shape as q5: SMJ would sort the full filtered
      // lineitem per partition for no benefit on an equal-width keyed join.
      // The INNER join is hinted too (build = the segment-filtered
      // customer side): unhinted, the planner broadcasts the whole
      // customer fact scan — fine at sf0.01, fatal at 100 TB (round-12
      // ADVICE; same AQE compressed-size promotion as q9/q13's orders).
      cust.hint("shuffle_hash")
        .join(ord, col("c_custkey") === col("o_custkey"))
        .hint("shuffle_hash")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
        .orderBy(col("rev").desc, col("o_orderdate").asc, col("l_orderkey").asc)
        .limit(10)
        .select(col("l_orderkey"),
          round(col("rev"), 4).as("revenue"),
          col("o_orderdate").cast(DateType).as("o_orderdate"))
    }),

    "tpch_q5" -> ((s, dir) => {
      val ord = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      // shuffle_hash on the (customer x date-filtered orders) build side:
      // both q5 join inputs are equal-width keyed shuffles, and the SMJ
      // Spark otherwise plans sorts the full lineitem table per
      // partition (6M rows at sf1, the query's dominant cost). The
      // build side is one hash partition of the FILTERED orders join
      // (~1/7 of orders x 2 narrow cols) — bounded per partition at any
      // scale by the shuffle partition count, unlike a broadcast of a
      // year of orders, which would not survive 100 TB. The inner
      // customer x orders join is hinted as well (build = customer, the
      // narrower side) — unhinted it broadcasts the customer fact scan.
      tbl(s, dir, "customer").hint("shuffle_hash")
        .join(ord, col("c_custkey") === col("o_custkey"))
        .hint("shuffle_hash")
        .join(tbl(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(tbl(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(tbl(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(tbl(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey") && col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
    }),

    "tpch_q6" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-01-01").cast(TimestampType) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4)
          .as("revenue"))),

    "tpch_q10" -> ((s, dir) => {
      val ord = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-10-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      // shuffle_hash build on (customer x one-quarter orders) — q5's
      // shape. Inner join hinted with build = the quarter-filtered
      // orders side (smaller than the full customer table); unhinted the
      // planner broadcasts the customer fact scan.
      tbl(s, dir, "customer")
        .join(ord.hint("shuffle_hash"), col("c_custkey") === col("o_custkey"))
        .hint("shuffle_hash")
        .join(tbl(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(tbl(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
        .orderBy(col("rev").desc, col("c_custkey").asc)
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          round(col("rev"), 4).as("revenue"))
    }),

    // q4 shape: EXISTS decorrelated to a left-semi join with a non-equi
    // conjunct (the fixtures lack l_commitdate/l_receiptdate, so "late"
    // means shipped after the order date)
    "tpch_q4" -> ((s, dir) => {
      val ord = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1997-07-01").cast(TimestampType))
      val li = tbl(s, dir, "lineitem")
      ord.join(li,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // q12 shape: join + conditional (CASE WHEN) counts; l_returnflag
    // stands in for the fixtures' missing l_shipmode
    "tpch_q12" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      li.join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(high, 1).otherwise(0)).as("high_line_count"),
          sum(when(!high, 1).otherwise(0)).as("low_line_count"))
    }),

    // q14 shape: conditional-revenue ratio over one month
    "tpch_q14" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-09-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-10-01").cast(TimestampType))
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      li.join(tbl(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) /
          sum(rev), 4).as("promo_revenue"))
    }),

    // q18 shape: large-volume orders — HAVING over a grouped fact, then
    // joined back to orders + customer
    "tpch_q18" -> ((s, dir) => {
      val big = tbl(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast(DateType).as("o_orderdate"),
          round(col("o_totalprice"), 4).as("o_totalprice"),
          round(col("sum_qty"), 4).as("sum_qty"))
    }),

    // q19 shape: disjunction of brand/size/quantity conjuncts — the
    // classic OR-of-ANDs predicate the optimizer must evaluate post-join
    // (it references both sides) while still pushing the partkey equi-key
    "tpch_q19" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val cond =
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#19" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30))
      li.join(tbl(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
    }),

    // ---- the remaining TPC-H shapes, adapted to the fixture schema (no
    // ---- partsupp table, no l_commitdate/l_receiptdate, no c_phone /
    // ---- p_container / o_comment columns — each adaptation keeps the
    // ---- query's CHARACTERISTIC operator shape and notes the stand-in).

    // q7 shape: bidirectional nation-pair volume shipping; the disjunctive
    // pair predicate references both nation roles so it must stay post-join
    "tpch_q7" -> ((s, dir) => {
      val n1 = tbl(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = tbl(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val li = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
      tbl(s, dir, "supplier")
        .join(li, col("s_suppkey") === col("l_suppkey"))
        .join(tbl(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(tbl(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
    }),

    // q8 shape: market share — conditional share of one nation's volume
    // within a region's total, per order year
    "tpch_q8" -> ((s, dir) => {
      val n1 = tbl(s, dir, "nation")
        .select(col("n_nationkey").as("cust_nk"), col("n_regionkey").as("cust_rk"))
      val n2 = tbl(s, dir, "nation")
        .select(col("n_nationkey").as("supp_nk"), col("n_name").as("supp_nation"))
      val ord = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      tbl(s, dir, "part").filter(col("p_type") === "ECONOMY")
        .join(tbl(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
        .join(tbl(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("cust_nk"))
        .join(broadcast(tbl(s, dir, "region")).filter(col("r_name") === "AMERICA"),
          col("cust_rk") === col("r_regionkey"))
        .join(broadcast(n2), col("s_nationkey") === col("supp_nk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_1", vol).otherwise(lit(0.0))) /
            sum(vol), 4).as("mkt_share"))
    }),

    // q9 shape: profit by supplier nation and order year over a part-name
    // LIKE filter (fixtures lack partsupp, so profit = discounted revenue
    // rather than revenue minus ps_supplycost)
    "tpch_q9" -> ((s, dir) => {
      // orders joins on l_orderkey as a shuffle_hash build side: both
      // inputs are fact-sized (AQE's compressed-size estimate otherwise
      // BROADCASTS the full orders table at sf1 — the q21 lesson; a
      // hashed relation of every order dies long before 100 TB), and
      // per-partition build = |orders|/shuffle-partitions narrow rows.
      tbl(s, dir, "part").filter(col("p_name").contains("red"))
        .join(tbl(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
        .join(tbl(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(tbl(s, dir, "orders").hint("shuffle_hash"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("sum_profit"))
    }),

    // q11 shape: per-key value vs a scalar fraction of the global total —
    // the 1-row aggregate re-enters as a broadcast nested-loop join
    // (fixtures lack partsupp: value = a nation's suppliers' discounted
    // revenue per part, threshold 0.02% of the total — TPC-H scales its
    // fraction as 0.0001/SF; a fixed 0.02% keeps parts above it at both
    // sf0.01 and sf0.1, where 0.15% left sf0.1 with none)
    "tpch_q11" -> ((s, dir) => {
      val supval = tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tbl(s, dir, "nation")).filter(col("n_name") === "NATION_7"),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("l_partkey").as("ps_partkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("value"))
      val thresh = supval.agg((sum(col("value")) * lit(0.0002)).as("thresh"))
      supval.join(broadcast(thresh), col("value") > col("thresh"))
        .select(col("ps_partkey"), round(col("value"), 4).as("value"))
    }),

    // q13 shape: customer order-count distribution — LEFT OUTER join with
    // a secondary join-condition conjunct, zero-preserved by count(col)
    // (o_orderpriority stands in for the missing o_comment filter)
    "tpch_q13" -> ((s, dir) => {
      // shuffle_hash: customer LEFT OUTER orders is a fact-fact join on
      // custkey; AQE's compressed-size estimate otherwise BROADCASTS the
      // whole orders table (hash relation of every order — scale-wrong)
      val ord = tbl(s, dir, "orders")
      tbl(s, dir, "customer")
        .join(ord.hint("shuffle_hash"),
          col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "1-URGENT", "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // q15 shape: top supplier — the revenue CTE is referenced twice (rows
    // and its own max), the classic aggregate-vs-its-extreme self-reference;
    // revenue is rounded to 2dp on BOTH sides so the equality predicate
    // compares identical doubles in Spark and the oracle
    "tpch_q15" -> ((s, dir) => {
      val revenue = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-04-01").cast(TimestampType))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("total_revenue"))
      val top = revenue.agg(max(col("total_revenue")).as("max_revenue"))
      tbl(s, dir, "supplier")
        .join(revenue, col("s_suppkey") === col("supplier_no"))
        .join(broadcast(top), col("total_revenue") === col("max_revenue"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("total_revenue"), 4).as("total_revenue"))
    }),

    // q16 shape: supplier diversity per part attribute — COUNT(DISTINCT)
    // with a NOT IN exclusion subquery (decorrelated to a left-anti join;
    // "customer complaints" stands in as negative account balance)
    "tpch_q16" -> ((s, dir) => {
      val excluded = tbl(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      val p = tbl(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#15" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 15, 25, 35, 45))
      tbl(s, dir, "lineitem")
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // q17 shape: small-quantity revenue below a per-part average — the
    // correlated avg is an exact integral comparison (5*qty*n < sum_qty)
    // so Spark and DuckDB evaluate bit-identical booleans
    "tpch_q17" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val perPart = li.groupBy(col("l_partkey").as("pq_partkey"))
        .agg(sum(col("l_quantity")).as("pq_sum"), count(lit(1)).as("pq_n"))
      li.join(tbl(s, dir, "part").filter(col("p_brand") === "Brand#23"),
          col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("pq_partkey"))
        .filter(lit(5.0) * col("l_quantity") * col("pq_n") < col("pq_sum"))
        .agg(round(sum(col("l_extendedprice")) / lit(7.0), 4).as("avg_yearly"))
    }),

    // q20 shape: nested semi-join chain — suppliers IN (grouped HAVING
    // subquery over a part-name LIKE filter); quantities are integral so
    // the HAVING threshold is exact
    "tpch_q20" -> ((s, dir) => {
      val heavy = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
        .join(tbl(s, dir, "part").filter(col("p_name").contains("red")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 100)
        .select(col("l_suppkey"))
      tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation")).filter(col("n_name") === "NATION_2"),
          col("s_nationkey") === col("n_nationkey"))
        .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"))
    }),

    // q21 shape: suppliers who kept orders waiting ("late" = shipped >30
    // days after order date; fixtures lack l_commitdate/l_receiptdate).
    // The correlated EXISTS / NOT EXISTS pair decomposes EXACTLY into
    // per-order profiles over the one lineitem-orders join:
    //   EXISTS other-supplier line       == countDistinct(supplier) >= 2
    //   NOT EXISTS other LATE supplier,
    //   for a row that is itself late    == countDistinct(late supplier) = 1
    // This is the scale-correct formulation: Catalyst's decorrelation of
    // the EXISTS form plans lineitem-vs-lineitem semi/anti self-joins,
    // and AQE's compressed-size threshold then BROADCASTS the 6M-row
    // projected build side at sf1 (~100 MB hashed relation — a scale
    // killer; measured 27-50 s warm vs ~8 s for a decomposed shape).
    // The profiles fold into a TWO-LEVEL hash aggregate over the one
    // lineitem-orders join — no self-join, no window sort: lo is
    // hash-partitioned on l_orderkey by the join, and HashPartitioning
    // on a SUBSET of the grouping keys satisfies ClusteredDistribution,
    // so groupBy(l_orderkey, l_suppkey) and then groupBy(l_orderkey)
    // both run exchange-free on the join's partitioning. A qualifying
    // order (>=2 suppliers, exactly 1 late) identifies its unique late
    // supplier and carries that supplier's late-row count, so no join
    // back to lineitem is needed at all — lineitem and orders are
    // scanned and shuffled ONCE (the old aggregate-join-back shape
    // built the whole lo subtree twice; its branches' differing
    // pushdown filters kept ReuseExchange from deduping them.
    // PlanAuditSpec pins the single-scan property). The per-order
    // result is tiny (~|orders| rows pre-filter), so the supplier side
    // join is hint-broadcast (the one-nation subset, |supplier|/25 —
    // the canonical q21 broadcast side).
    "tpch_q21" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val ords = tbl(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val lo = li.join(ords.hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL '30' DAY"))
      val perOS = lo.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("late")).as("any_late"),
          sum(when(col("late"), 1L).otherwise(0L)).as("late_rows"))
      val prof = perOS.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supp"),
          count(when(col("any_late"), 1)).as("n_late_supp"),
          max(when(col("any_late"), col("l_suppkey"))).as("late_supp"),
          sum(when(col("any_late"), col("late_rows"))).as("late_row_cnt"))
        .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      prof.join(broadcast(tbl(s, dir, "supplier")
            .join(broadcast(tbl(s, dir, "nation"))
                .filter(col("n_name") === "NATION_4"),
              col("s_nationkey") === col("n_nationkey"))),
          col("late_supp") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(sum(col("late_row_cnt")).cast(LongType).as("numwait"))
    }),

    // q2 shape: min-cost supplier — correlated scalar MIN subquery per
    // part (equality against a value read from the same parquet doubles,
    // so the comparison is exact); fixtures lack partsupp, so "supplies
    // the part" = shipped it, and cost = supplier account balance
    "tpch_q2" -> ((s, dir) => {
      registerTpchViews(s, dir)
      val v = viewPrefix(dir)
      s.sql(
        s"""SELECT DISTINCT round(s.s_acctbal, 4) AS s_acctbal, s.s_name,
              n.n_name, p.p_partkey, p.p_name
            FROM ${v}part p
            JOIN ${v}lineitem l ON p.p_partkey = l.l_partkey
            JOIN ${v}supplier s ON s.s_suppkey = l.l_suppkey
            JOIN ${v}nation n ON s.s_nationkey = n.n_nationkey
            JOIN ${v}region r ON n.n_regionkey = r.r_regionkey
            WHERE p.p_size = 15 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'
              AND s.s_acctbal = (
                SELECT min(s2.s_acctbal)
                FROM ${v}supplier s2
                JOIN ${v}lineitem l2 ON s2.s_suppkey = l2.l_suppkey
                JOIN ${v}nation n2 ON s2.s_nationkey = n2.n_nationkey
                JOIN ${v}region r2 ON n2.n_regionkey = r2.r_regionkey
                WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')""")
    }),

    // q22 shape: above-average idle customers — scalar AVG subquery
    // threshold plus anti-join NOT EXISTS (c_nationkey stands in for the
    // missing c_phone country code; "idle" = no urgent orders, since every
    // fixture customer has orders)
    "tpch_q22" -> ((s, dir) => {
      registerTpchViews(s, dir)
      val v = viewPrefix(dir)
      round4(s.sql(
        s"""SELECT c_nationkey AS cntrycode, count(*) AS numcust,
              sum(c_acctbal) AS totacctbal
            FROM ${v}customer c
            WHERE c_nationkey IN (1,2,3,4,5,6,7)
              AND c_acctbal > (SELECT avg(c_acctbal) FROM ${v}customer
                WHERE c_acctbal > 0.0 AND c_nationkey IN (1,2,3,4,5,6,7))
              AND NOT EXISTS (SELECT 1 FROM ${v}orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
            GROUP BY c_nationkey"""))
    }),

    // value-distribution window functions (ntile/percent_rank/cume_dist)
    "ext_window_distribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      tbl(s, dir, "orders").filter(col("o_custkey") < 50)
        .select(col("o_orderkey"), col("o_custkey"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 4).as("pct_rank"),
          round(cume_dist().over(w), 4).as("cume"))
    }),

    "join_broadcast_dim" -> ((s, dir) => {
      val joined = Relational.broadcastDimJoin(
        tbl(s, dir, "orders"), tbl(s, dir, "customer")
          .withColumnRenamed("c_custkey", "o_custkey"),
        Seq("o_custkey"))
      round4(joined.groupBy(col("c_mktsegment")).agg(
        count(lit(1)).as("cnt"),
        sum(col("o_totalprice")).as("sum_price")))
    }),

    "join_shuffle_fact" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
      val joined = Relational.shuffleJoin(li, tbl(s, dir, "orders"), Seq("o_orderkey"))
      round4(joined.groupBy(col("o_orderpriority")).agg(
        count(lit(1)).as("cnt"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue")))
    }),

    "join_semi" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
      Relational.semiJoin(c, tbl(s, dir, "orders"), Seq("o_custkey"))
        .select(col("o_custkey").as("c_custkey"))
    }),

    // customers with no URGENT order: every fixture customer has SOME
    // order, so an anti join against all orders is empty at sf0.01
    "join_anti" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
      Relational.antiJoin(c,
        tbl(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        Seq("o_custkey"))
        .select(col("o_custkey").as("c_custkey"))
    }),

    // full outer join: a sliced customer dim x per-customer order counts,
    // so BOTH null sides survive (customers with no orders, order groups
    // whose customer fell outside the slice)
    "ext_join_outer" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").filter(col("c_custkey") < 500)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      val o = tbl(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"))
      c.join(o, Seq("custkey"), "full_outer")
        .select(col("custkey"), col("c_mktsegment"), col("n_orders"))
    }),

    // scalar subquery through Catalyst's subquery rewrite (turns into a
    // broadcast of the 1-row aggregate — no per-row re-execution)
    "ext_scalar_subquery" -> ((s, dir) => {
      val v = "orders_ssq_" + java.lang.Integer.toHexString(dir.hashCode)
      tbl(s, dir, "orders").createOrReplaceTempView(v)
      s.sql(s"""SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
                FROM $v
                WHERE o_totalprice > 1.9 * (SELECT avg(o_totalprice) FROM $v)""")
    }),

    "ext_topk" -> ((s, dir) =>
      round4(Relational.topK(tbl(s, dir, "orders"), 10,
          ("o_totalprice", true), ("o_orderkey", false))
        .select(col("o_orderkey"), col("o_totalprice")))),

    "ext_window_topk_per_group" -> ((s, dir) =>
      Relational.topKPerGroup(tbl(s, dir, "orders"),
          Seq("o_orderpriority"),
          Seq(("o_totalprice", true), ("o_orderkey", false)), k = 3)
        .select(col("o_orderpriority"), col("o_orderkey"))),

    // same semantics via the two-phase SALTED window — the shape that
    // survives a handful of enum groups over a 100 TB fact, where the
    // plain window sorts each whole group on one reducer. Same oracle
    // (exactness of the salted phase-1 cut is part of the contract).
    "ext_topk_salted_per_group" -> ((s, dir) =>
      Relational.topKPerGroupSalted(tbl(s, dir, "orders"),
          Seq("o_orderpriority"),
          Seq(("o_totalprice", true), ("o_orderkey", false)), k = 3,
          disambig = "o_orderkey")
        .select(col("o_orderpriority"), col("o_orderkey"))),

    "ext_window_rank" -> ((s, dir) =>
      Relational.rankInGroups(tbl(s, dir, "orders"),
          Seq("o_orderpriority"),
          Seq(("o_totalprice", true), ("o_orderkey", false)), "rn")
        .filter(col("rn") <= 5)
        .select(col("o_orderpriority"), col("o_orderkey"), col("rn"))),

    "ext_distinct" -> ((s, dir) =>
      events(s, dir).select(col("event_type")).distinct()),

    "ext_count_distinct" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("users"))),

    "ext_union" -> ((s, dir) => {
      val e = events(s, dir)
      e.filter(col("event_type") === "purchase").select(col("user_id"))
        .union(e.filter(col("event_type") === "error").select(col("user_id")))
        .distinct()
    }),

    "ext_intersect" -> ((s, dir) => {
      val e = events(s, dir)
      e.filter(col("event_type") === "purchase").select(col("user_id"))
        .intersect(e.filter(col("event_type") === "error").select(col("user_id")))
    }),

    // purchasers with no signup worth over 100: every fixture user has
    // events of every type, so purchasers EXCEPT all signups is empty
    "ext_except" -> ((s, dir) => {
      val e = events(s, dir)
      e.filter(col("event_type") === "purchase").select(col("user_id"))
        .except(e.filter(col("event_type") === "signup" && col("value") > 100)
          .select(col("user_id")))
    }),

    // multiset semantics: EXCEPT ALL / INTERSECT ALL keep duplicates
    "ext_except_all" -> ((s, dir) => {
      val e = events(s, dir)
      e.filter(col("event_type") === "purchase").select(col("user_id"))
        .exceptAll(e.filter(col("event_type") === "signup").select(col("user_id")))
    }),

    "ext_intersect_all" -> ((s, dir) => {
      val e = events(s, dir)
      e.filter(col("event_type") === "purchase").select(col("user_id"))
        .intersectAll(e.filter(col("event_type") === "view").select(col("user_id")))
    }),

    // analytic window functions: lag/lead deltas + running (cumulative) sum
    // per user timeline — one shuffle, one sort, all three in one window
    "ext_window_lag_lead" -> ((s, dir) => {
      val w = Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .filter(col("user_id") < 50)
        .select(col("event_id"), col("user_id"),
          round(col("value") - lag(col("value"), 1).over(w), 4).as("delta_prev"),
          round(lead(col("value"), 1).over(w) - col("value"), 4).as("delta_next"),
          round(sum(col("value")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4)
            .as("running_sum"))
    }),

    // first/last value over an ordered frame per group
    "ext_first_last" -> ((s, dir) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      events(s, dir)
        .filter(col("user_id") < 50)
        .select(col("event_id"), col("user_id"),
          first(col("event_type")).over(w).as("first_type"),
          last(col("event_type")).over(w).as("last_type"))
    }),

    // approximate distinct (HLL) with a both-engines-computable verdict:
    // the HLL estimate itself is engine-specific (so it is NOT in the
    // output), but |approx - exact| / exact <= 0.15 is, and the oracle
    // restates it against DuckDB's own exact count. The entry therefore
    // hash-fails if Spark's HLL ever drifts out of tolerance, instead of
    // being exempt from checking. Threshold: approx_count_distinct's
    // default rsd=0.05 is a relative STANDARD DEVIATION, not a bound —
    // 3x rsd keeps the probability of a legitimate estimate tripping the
    // gate negligible (~0.3%) on any corpus, not just the committed one.
    "ext_approx_distinct" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          count_distinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double") /
            col("exact_users").cast("double") <= 0.15).as("within_tol")))
  )

  /** Events without `props`, staged once by `write`, read back from the
    * staged dir by `read` and totalled per day: the contract of the CSV,
    * JSON-lines and ORC roundtrips (microsecond timestamps preserved). */
  private def roundtrip(s: SparkSession, dir: String, name: String)
                       (write: DataFrameWriter[Row] => String => Unit)
                       (read: String => DataFrame): DataFrame = {
    val staged = ArtifactStore.staged(dir, name)(write(tbl(s, dir, "events").drop("props").write))
    round4(graft.schema.EventTime.withDerived(read(staged)).groupBy(col("day"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value")))
  }
  private val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  private val roundtripSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** s1/s2: parquet events -> CSV -> read via [[CsvSource]] or strict. */
  private def csvRoundtrip(s: SparkSession, dir: String,
                           permissive: Boolean): DataFrame =
    roundtrip(s, dir, "events_csv")(
      _.option("header", "true").option("timestampFormat", tsFmt).csv) { d =>
      if (permissive) CsvSource.readPermissive(s, s"$d/*.csv", roundtripSchema)
      else s.read.schema(roundtripSchema).option("header", "true")
        .option("timestampFormat", tsFmt).option("nullValue", "null")
        .csv(s"$d/*.csv")
    }

  /** JSON-lines roundtrip: the JSON source/sink pair every pipeline
    * needs beside CSV/parquet. */
  private def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame =
    roundtrip(s, dir, "events_jsonl")(_.option("timestampFormat", tsFmt).json)(d =>
      s.read.schema(roundtripSchema).option("timestampFormat", tsFmt).json(s"$d/*.json"))

  /** S-extension: ORC sink + read-back — Spark's second built-in columnar
    * format beside parquet (column pruning, predicate pushdown, and zlib
    * compression all apply). */
  private def orcRoundtrip(s: SparkSession, dir: String): DataFrame =
    roundtrip(s, dir, "events_orc")(_.orc)(s.read.orc)

  // ------------------------------------------------------------- oracles

  /** Derived-column SQL fragments (DuckDB). */
  private val dayE = "CAST(ts AS DATE)"
  private val weekE = "CAST(date_trunc('week', ts) AS DATE)"
  private val hourE = "date_trunc('hour', ts)"
  private val minuteE = "strftime(ts, '%Y-%m-%d %H:%M')"

  def oracleSql: Map[String, String] =
    PipelineEntries.oracleSql ++ AnalyticsEntries.oracleSql ++ coreOracleSql

  private def coreOracleSql: Map[String, String] = Map(
    "r1_projection" ->
      "SELECT event_id, event_type, round(value,4) AS value FROM events",
    "r2_filter_eq" ->
      s"SELECT $dayE AS day, count(*) AS cnt FROM events WHERE event_type = 'click' GROUP BY 1",
    "r3_filter_neq" ->
      "SELECT event_type, count(*) AS cnt FROM events WHERE event_type <> 'view' GROUP BY 1",
    "r4_filter_in" ->
      "SELECT event_type, count(*) AS cnt FROM events WHERE event_type IN ('click','purchase') GROUP BY 1",
    "r5_filter_between" ->
      "SELECT event_type, count(*) AS cnt, round(sum(value),4) AS sum_value FROM events WHERE value BETWEEN 10.5 AND 90.25 GROUP BY 1",
    "r5_filter_between_date" ->
      s"SELECT $weekE AS week, count(*) AS cnt FROM events WHERE $dayE BETWEEN DATE '2024-01-10' AND DATE '2024-01-20' GROUP BY 1",
    "r6_filter_cmp" ->
      "SELECT event_type, count(*) AS cnt FROM events WHERE value > 50 AND value <= 150 AND user_id >= 5 AND user_id < 900 GROUP BY 1",
    "r7_filter_and_global" ->
      "SELECT count(*) AS cnt FROM events WHERE event_type = 'purchase' AND value > 100",
    "r7b_filter_or_not" ->
      """SELECT event_type, count(*) AS cnt FROM events
         WHERE (event_type = 'purchase' OR (event_type = 'click' AND value > 150))
           AND NOT (user_id < 10) GROUP BY 1""",
    "r9_agg_sum" ->
      "SELECT event_type, round(sum(value),4) AS sum_value FROM events GROUP BY 1",
    "r10_agg_avg" ->
      "SELECT event_type, round(avg(value),4) AS avg_value FROM events GROUP BY 1",
    "r11_agg_count_star" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY 1",
    "r12_agg_count_col" ->
      "SELECT event_type, count(value) AS cnt_value FROM events GROUP BY 1",
    "ext_agg_min_max" ->
      "SELECT event_type, round(min(value),4) AS min_value, round(max(value),4) AS max_value FROM events GROUP BY 1",
    "r13_order_multi" ->
      s"SELECT event_type, $dayE AS day, count(*) AS cnt FROM events GROUP BY 1, 2 ORDER BY event_type ASC, cnt DESC, day ASC",
    "r14_limit" ->
      "SELECT event_id, user_id FROM events ORDER BY event_id ASC LIMIT 100",
    "ext_global_agg" ->
      "SELECT count(*) AS cnt, round(sum(value),4) AS sum_value, round(avg(value),4) AS avg_value, round(min(value),4) AS min_value, round(max(value),4) AS max_value FROM events",
    "derived_hour" ->
      s"SELECT $hourE AS hour, count(*) AS cnt FROM events GROUP BY 1",
    "derived_minute" ->
      s"SELECT $minuteE AS minute, round(sum(value),4) AS sum_value FROM events WHERE $dayE = DATE '2024-01-15' GROUP BY 1 ORDER BY 1 ASC",
    "golden_q1" ->
      s"SELECT $dayE AS day, round(sum(value),4) AS sum_value FROM events WHERE event_type = 'view' GROUP BY 1",
    "golden_q2" ->
      s"""SELECT user_id, round(sum(value),4) AS sum_value FROM events
          WHERE event_type = 'view' AND user_id BETWEEN 100 AND 300
            AND $dayE BETWEEN DATE '2024-01-10' AND DATE '2024-01-13'
          GROUP BY 1""",
    "golden_q3" ->
      s"SELECT $dayE AS day, round(avg(value),4) AS avg_value FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY avg(value) DESC",
    "golden_q4" ->
      "SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2 ORDER BY cnt DESC",
    "golden_q5" ->
      s"SELECT $minuteE AS minute, round(sum(value),4) AS sum_value FROM events WHERE event_type = 'view' AND $dayE = DATE '2024-01-15' GROUP BY 1 ORDER BY 1 ASC",
    "golden_alt1" ->
      s"SELECT $dayE AS day, round(sum(value),4) AS sum_value FROM events WHERE event_type = 'view' GROUP BY 1 ORDER BY sum(value) DESC",
    "golden_alt2" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY 1",
    "golden_alt3" ->  // +1e-9: exact-boundary guard, see queries entry
      ("SELECT user_id, round(avg(value) + 1e-9, 4) AS avg_value FROM events " +
       "WHERE event_type = 'view' AND user_id BETWEEN 100 AND 130 " +
       "GROUP BY 1 ORDER BY avg(value) DESC"),
    "s1_csv_strict" ->
      s"SELECT $dayE AS day, count(*) AS cnt, round(sum(value),4) AS sum_value FROM events GROUP BY 1",
    "s2_csv_permissive" ->
      s"SELECT $dayE AS day, count(*) AS cnt, round(sum(value),4) AS sum_value FROM events GROUP BY 1",
    "s8_jsonl_roundtrip" ->
      s"SELECT $dayE AS day, count(*) AS cnt, round(sum(value),4) AS sum_value FROM events GROUP BY 1",
    "s9_orc_roundtrip" ->
      s"SELECT $dayE AS day, count(*) AS cnt, round(sum(value),4) AS sum_value FROM events GROUP BY 1",
    "ext_join_outer" ->
      ("SELECT coalesce(c.custkey, o.custkey) AS custkey, c.c_mktsegment, o.n_orders " +
       "FROM (SELECT c_custkey AS custkey, c_mktsegment FROM customer WHERE c_custkey < 500) c " +
       "FULL OUTER JOIN (SELECT o_custkey AS custkey, count(*) AS n_orders FROM orders GROUP BY 1) o " +
       "ON c.custkey = o.custkey"),
    "ext_scalar_subquery" ->
      ("SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice FROM orders " +
       "WHERE o_totalprice > 1.9 * (SELECT avg(o_totalprice) FROM orders)"),
    "route_reagg_type" ->
      "SELECT event_type, round(sum(value),4) AS sum_value, round(avg(value),4) AS avg_value, count(*) AS cnt FROM events GROUP BY 1",
    "route_filtered_rollup" ->
      s"SELECT $dayE AS day, round(sum(value),4) AS sum_value, round(avg(value),4) AS avg_value FROM events WHERE event_type = 'purchase' GROUP BY 1",
    "route_residual_filters" ->
      s"SELECT $dayE AS day, round(sum(value),4) AS sum_value, count(*) AS cnt FROM events WHERE event_type = 'purchase' AND $dayE BETWEEN DATE '2024-01-05' AND DATE '2024-01-25' GROUP BY 1",
    "route_user_type" ->
      "SELECT user_id, count(*) AS cnt, round(sum(value),4) AS sum_value FROM events GROUP BY 1",
    "route_zorder_box" ->
      ("SELECT event_id, user_id, round(value,4) AS value FROM events " +
       "WHERE user_id BETWEEN 40 AND 90 " +
       "AND ts >= TIMESTAMP '2024-01-08 00:00:00' " +
       "AND ts < TIMESTAMP '2024-01-13 00:00:00'"),
    "route_zorder_box_agg" ->
      ("SELECT event_type, count(*) AS cnt, round(sum(value),4) AS sum_value " +
       "FROM events WHERE user_id BETWEEN 40 AND 90 " +
       "AND ts >= TIMESTAMP '2024-01-08 00:00:00' " +
       "AND ts < TIMESTAMP '2024-01-13 00:00:00' GROUP BY event_type"),
    "route_zorder_box_day" ->
      ("SELECT event_id, user_id, round(value,4) AS value FROM events " +
       "WHERE user_id BETWEEN 40 AND 90 " +
       "AND CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-12'"),
    "route_zorder_box_in" ->
      ("SELECT event_id, user_id, round(value,4) AS value FROM events " +
       "WHERE user_id IN (3, 77, 1399) " +
       "AND CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-12'"),
    "route_minute_rollup" ->
      s"SELECT $minuteE AS minute, round(sum(value),4) AS sum_value FROM events WHERE $dayE = DATE '2024-01-15' GROUP BY 1",
    "scan_partition_pruned" ->
      s"SELECT event_id, round(value,4) AS value FROM events WHERE event_type = 'purchase' AND $dayE = DATE '2024-01-15'",
    "p11_stats" ->
      ("SELECT 'total_rows' AS key, CAST(count(*) AS VARCHAR) AS value FROM events " +
       s"UNION ALL SELECT 'min_day', CAST(min($dayE) AS VARCHAR) FROM events " +
       s"UNION ALL SELECT 'max_day', CAST(max($dayE) AS VARCHAR) FROM events " +
       "UNION ALL SELECT 'rows_' || event_type, CAST(count(*) AS VARCHAR) FROM events GROUP BY event_type"),
    "tpch_q1" ->
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity),4) AS sum_qty, " +
       "round(sum(l_extendedprice),4) AS sum_base_price, " +
       "round(sum(l_extendedprice * (1 - l_discount)),4) AS sum_disc_price, " +
       "round(avg(l_quantity),4) AS avg_qty, round(avg(l_extendedprice),4) AS avg_price, " +
       "round(avg(l_discount),4) AS avg_disc, count(*) AS count_order " +
       "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY 1, 2"),
    "tpch_q3" ->
      """SELECT l_orderkey, round(rev, 4) AS revenue,
           CAST(o_orderdate AS DATE) AS o_orderdate FROM (
           SELECT l.l_orderkey, o.o_orderdate,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
           FROM customer c
           JOIN orders o ON c.c_custkey = o.o_custkey
           JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           WHERE c.c_mktsegment = 'BUILDING'
             AND o.o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
             AND l.l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
           GROUP BY 1, 2)
         ORDER BY rev DESC, o_orderdate ASC, l_orderkey ASC LIMIT 10""",
    "tpch_q5" ->
      """SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
           AND c.c_nationkey = s.s_nationkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name = 'ASIA'
           AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1""",
    "tpch_q6" ->
      ("SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue " +
       "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
       "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' " +
       "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),
    "tpch_q10" ->
      """SELECT c_custkey, c_name, n_name, round(rev, 4) AS revenue FROM (
           SELECT c.c_custkey, c.c_name, n.n_name,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
           FROM customer c
           JOIN orders o ON c.c_custkey = o.o_custkey
           JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey
           WHERE o.o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
             AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             AND l.l_returnflag = 'R'
           GROUP BY 1, 2, 3)
         ORDER BY rev DESC, c_custkey ASC LIMIT 20""",
    "tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders o
         WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey
               AND l.l_shipdate > o.o_orderdate)
         GROUP BY 1""",
    "tpch_q12" ->
      """SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1""",
    "tpch_q14" ->
      """SELECT round(100.0 *
           sum(CASE WHEN p_type = 'PROMO'
             THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) /
           sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""",
    "tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           round(o_totalprice, 4) AS o_totalprice,
           round(sum_qty, 4) AS sum_qty
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
               FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250) b
           ON o.o_orderkey = b.l_orderkey
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""",
    "tpch_q19" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 35
                AND l_quantity BETWEEN 20 AND 30)""",
    "tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year, round(sum(volume),4) AS revenue FROM (
           SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
           FROM supplier s
           JOIN lineitem l ON s.s_suppkey = l.l_suppkey
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           JOIN customer cu ON cu.c_custkey = o.o_custkey
           JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
           JOIN nation n2 ON cu.c_nationkey = n2.n_nationkey
           WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
             AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
         GROUP BY 1, 2, 3""",
    "tpch_q8" ->
      """SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)
             / sum(volume), 4) AS mkt_share FROM (
           SELECT year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
           FROM part p
           JOIN lineitem l ON p.p_partkey = l.l_partkey
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer cu ON o.o_custkey = cu.c_custkey
           JOIN nation n1 ON cu.c_nationkey = n1.n_nationkey
           JOIN region r ON n1.n_regionkey = r.r_regionkey
           JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
           WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
             AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
         GROUP BY 1""",
    "tpch_q9" ->
      """SELECT nation, o_year, round(sum(amount),4) AS sum_profit FROM (
           SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS amount
           FROM part p
           JOIN lineitem l ON p.p_partkey = l.l_partkey
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           WHERE p.p_name LIKE '%red%')
         GROUP BY 1, 2""",
    "tpch_q11" ->
      """WITH supval AS (
           SELECT l.l_partkey AS ps_partkey,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS value
           FROM lineitem l
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           WHERE n.n_name = 'NATION_7' GROUP BY 1)
         SELECT ps_partkey, round(value, 4) AS value FROM supval
         WHERE value > (SELECT sum(value) * 0.0002 FROM supval)""",
    "tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c.c_custkey, count(o.o_orderkey) AS c_count
           FROM customer c
           LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
           GROUP BY 1)
         GROUP BY 1""",
    "tpch_q15" ->
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
           GROUP BY 1)
         SELECT s.s_suppkey, s.s_name, round(r.total_revenue, 4) AS total_revenue
         FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
         WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)""",
    "tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand <> 'Brand#15' AND p.p_type <> 'PROMO'
           AND p.p_size IN (1, 5, 15, 25, 35, 45)
           AND l.l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3""",
    "tpch_q17" ->
      """WITH pq AS (SELECT l_partkey, sum(l_quantity) AS pq_sum,
             count(*) AS pq_n FROM lineitem GROUP BY 1)
         SELECT round(sum(l.l_extendedprice) / 7.0, 4) AS avg_yearly
         FROM lineitem l
         JOIN part p ON p.p_partkey = l.l_partkey
         JOIN pq ON pq.l_partkey = l.l_partkey
         WHERE p.p_brand = 'Brand#23'
           AND 5.0 * l.l_quantity * pq.pq_n < pq.pq_sum""",
    "tpch_q20" ->
      """SELECT s_name FROM supplier s
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         WHERE n.n_name = 'NATION_2' AND s.s_suppkey IN (
           SELECT l_suppkey FROM lineitem l
           JOIN part p ON l.l_partkey = p.p_partkey
           WHERE p.p_name LIKE '%red%'
             AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           GROUP BY l_suppkey HAVING sum(l_quantity) > 100)""",
    "tpch_q21" ->
      """SELECT s_name, count(*) AS numwait FROM supplier s
         JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
         JOIN orders o ON o.o_orderkey = l1.l_orderkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         WHERE o.o_orderstatus = 'F' AND n.n_name = 'NATION_4'
           AND l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
             WHERE l2.l_orderkey = l1.l_orderkey
               AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
             WHERE l3.l_orderkey = l1.l_orderkey
               AND l3.l_suppkey <> l1.l_suppkey
               AND l3.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
         GROUP BY 1""",
    "tpch_q2" ->
      """SELECT DISTINCT round(s.s_acctbal, 4) AS s_acctbal, s.s_name,
           n.n_name, p.p_partkey, p.p_name
         FROM part p
         JOIN lineitem l ON p.p_partkey = l.l_partkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE p.p_size = 15 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'
           AND s.s_acctbal = (
             SELECT min(s2.s_acctbal)
             FROM supplier s2
             JOIN lineitem l2 ON s2.s_suppkey = l2.l_suppkey
             JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
             JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
             WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')""",
    "tpch_q22" ->
      """SELECT c_nationkey AS cntrycode, count(*) AS numcust,
           round(sum(c_acctbal), 4) AS totacctbal
         FROM customer c
         WHERE c_nationkey IN (1,2,3,4,5,6,7)
           AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
             WHERE c_acctbal > 0.0 AND c_nationkey IN (1,2,3,4,5,6,7))
           AND NOT EXISTS (SELECT 1 FROM orders o
             WHERE o.o_custkey = c.c_custkey
               AND o.o_orderpriority = '1-URGENT')
         GROUP BY 1""",
    "ext_window_distribution" ->
      """SELECT o_orderkey, o_custkey,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 4) AS pct_rank,
           round(cume_dist() OVER w, 4) AS cume
         FROM orders WHERE o_custkey < 50
         WINDOW w AS (PARTITION BY o_custkey
           ORDER BY o_totalprice ASC, o_orderkey ASC)""",
    "join_broadcast_dim" ->
      ("SELECT c.c_mktsegment, count(*) AS cnt, round(sum(o.o_totalprice),4) AS sum_price " +
       "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY 1"),
    "join_shuffle_fact" ->
      ("SELECT o.o_orderpriority, count(*) AS cnt, " +
       "round(sum(l.l_extendedprice * (1 - l.l_discount)),4) AS revenue " +
       "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey GROUP BY 1"),
    "join_semi" ->
      "SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)",
    "join_anti" ->
      ("SELECT c_custkey FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o " +
       "WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')"),
    "ext_topk" ->
      "SELECT o_orderkey, round(o_totalprice,4) AS o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10",
    "ext_window_topk_per_group" ->
      ("SELECT o_orderpriority, o_orderkey FROM (SELECT o_orderpriority, o_orderkey, " +
       "ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn " +
       "FROM orders) WHERE rn <= 3"),
    "ext_topk_salted_per_group" ->
      ("SELECT o_orderpriority, o_orderkey FROM (SELECT o_orderpriority, o_orderkey, " +
       "ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn " +
       "FROM orders) WHERE rn <= 3"),
    "ext_window_rank" ->
      ("SELECT o_orderpriority, o_orderkey, rn FROM (SELECT o_orderpriority, o_orderkey, " +
       "ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn " +
       "FROM orders) WHERE rn <= 5"),
    "ext_distinct" ->
      "SELECT DISTINCT event_type FROM events",
    "ext_count_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS users FROM events GROUP BY 1",
    "ext_union" ->
      ("SELECT user_id FROM events WHERE event_type = 'purchase' " +
       "UNION SELECT user_id FROM events WHERE event_type = 'error'"),
    "ext_intersect" ->
      ("SELECT user_id FROM events WHERE event_type = 'purchase' " +
       "INTERSECT SELECT user_id FROM events WHERE event_type = 'error'"),
    "ext_except" ->
      ("SELECT user_id FROM events WHERE event_type = 'purchase' " +
       "EXCEPT SELECT user_id FROM events WHERE event_type = 'signup' AND value > 100"),
    "ext_except_all" ->
      ("SELECT user_id FROM events WHERE event_type = 'purchase' " +
       "EXCEPT ALL SELECT user_id FROM events WHERE event_type = 'signup'"),
    "ext_intersect_all" ->
      ("SELECT user_id FROM events WHERE event_type = 'purchase' " +
       "INTERSECT ALL SELECT user_id FROM events WHERE event_type = 'view'"),
    "ext_window_lag_lead" ->
      """SELECT event_id, user_id,
           round(value - lag(value, 1) OVER w, 4) AS delta_prev,
           round(lead(value, 1) OVER w - value, 4) AS delta_next,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING), 4) AS running_sum
         FROM events WHERE user_id < 50
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "ext_first_last" ->
      """SELECT event_id, user_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type) OVER w AS last_type
         FROM events WHERE user_id < 50
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    // ext_approx_distinct: the HLL estimate is engine-specific, so the
    // compared columns are the exact count and the tolerance verdict the
    // Spark side computes from its own estimate (TRUE here = the oracle's
    // claim that the estimate is within 3x the default rsd of 0.05)
    "ext_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
           TRUE AS within_tol
         FROM events GROUP BY 1"""
  )
}
