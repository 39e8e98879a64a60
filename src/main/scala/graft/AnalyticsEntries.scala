package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsofJoin, Cdc}
import graft.prepare.ArtifactStore

/** Advanced-analytics operator entries: as-of join, rollup/cube, pivot,
  * exact + approximate percentiles, JSON extraction, windowed moving
  * aggregates, range join. All absent from the reference (SURVEY §2.4);
  * each is a first-class operator of a complete engine, expressed
  * declaratively so Catalyst owns the physical plan. */
object AnalyticsEntries {

  private def events(s: SparkSession, dir: String): DataFrame =
    graft.schema.DirCatalog(dir).table(s, "events")
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.ParquetNanos.read(s, s"$dir/$name.parquet")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // as-of join (backward, inclusive): latest purchase value at or
    // before each event, per user — one shuffle, no range explosion
    "ext_asof_join" -> ((s, dir) => {
      val ev = events(s, dir).select("user_id", "ts", "event_id")
      val purchases = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("last_purchase"))
      AsofJoin.asofBackward(ev, purchases, Seq("user_id"), "ts", "ts",
          Seq("last_purchase"))
        .select(col("event_id"), col("user_id"),
          round(col("last_purchase"), 4).as("last_purchase"))
    }),

    "ext_rollup" -> ((s, dir) =>
      events(s, dir).rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))),

    "ext_cube" -> ((s, dir) =>
      events(s, dir).cube(col("event_type"), col("week"))
        .agg(count(lit(1)).as("cnt"))),

    "ext_grouping_sets" -> ((s, dir) => {
      events(s, dir).createOrReplaceTempView("ev_gs")
      s.sql("""SELECT event_type, day, count(*) AS cnt FROM ev_gs
               GROUP BY GROUPING SETS ((event_type), (day), ())""")
    }),

    // fixed-width histogram of the value distribution
    "ext_histogram" -> ((s, dir) =>
      events(s, dir)
        .groupBy(floor(col("value") / 50).cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("cnt"))),

    // statistical aggregates: sample stddev/variance, covariance,
    // Pearson correlation
    "ext_stats_agg" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type")).agg(
        round(stddev_samp(col("value")), 4).as("sd"),
        round(var_samp(col("value")), 4).as("vr"),
        round(covar_samp(col("value"), col("user_id").cast("double")), 4).as("cv"),
        round(corr(col("value"), col("user_id").cast("double")), 4).as("cr"))),

    "ext_pivot" -> ((s, dir) =>
      events(s, dir).groupBy(col("day"))
        .pivot("event_type", Seq("click", "view", "purchase", "error", "signup"))
        .agg(round(sum(col("value")), 4))),

    // skew handling as first-class operators: salted forms are
    // semantically identical to the plain join/aggregate (which is what
    // the oracle states), but split each hot key across saltFactor
    // reducers — the defense when one key holds 1% of 100 TB and AQE's
    // runtime skew split does not apply (aggregations, non-SMJ plans)
    "ext_salted_join" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("event_type"))
      val dim = ev.select(col("event_type")).distinct()
        .withColumn("type_tag", concat(lit("t_"), col("event_type")))
      graft.operators.Relational.saltedJoin(ev, dim, Seq("event_type"),
          disambig = "event_id", saltFactor = 8)
        .select(col("event_id"), col("type_tag"))
    }),

    "ext_salted_agg" -> ((s, dir) =>
      graft.operators.Relational.saltedAggregate(
          events(s, dir), Seq("event_type"), disambig = "event_id",
          aggs = Seq(("sum", "value", "sum_value"),
            ("count", "event_id", "cnt"),
            ("min", "value", "min_value"),
            ("max", "value", "max_value")))
        .select(col("event_type"), round(col("sum_value"), 4).as("sum_value"),
          col("cnt"), round(col("min_value"), 4).as("min_value"),
          round(col("max_value"), 4).as("max_value"))),

    // exact percentiles (linear interpolation — same definition as
    // DuckDB quantile_cont)
    "ext_percentile" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type")).agg(
        round(expr("percentile(value, 0.25)"), 4).as("p25"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"))),

    // GK-sketch percentile. The accuracy knob trades sketch memory for
    // rank error; at max accuracy the sketch is exact and returns the
    // same data element as DuckDB's quantile_disc — which is what makes
    // this oracle-able (production uses accuracy ~1000 for bounded-memory
    // sketches at unbounded cardinality; same operator, same plan shape)
    "ext_approx_percentile" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type")).agg(
        round(expr(s"approx_percentile(value, 0.5, ${Int.MaxValue})"), 4)
          .as("ap50"))),

    // JSON column extraction (events.props is a JSON string)
    "ext_json_extract" -> ((s, dir) =>
      events(s, dir).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))),

    // windowed moving average per user ordered by event time
    "ext_moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-3, Window.currentRow)
      events(s, dir).select(col("event_id"),
        round(avg(col("value")).over(w), 4).as("mavg"))
    }),

    // bucketed co-located join: both sides pre-bucketed on the join key
    // -> sort-merge join with zero exchange (see Bucketing)
    "ext_bucketed_join" -> ((s, dir) => {
      val sf = ArtifactStore.corpusKey(dir)
      graft.prepare.Bucketing.writeBucketed(s,
        graft.sources.ParquetNanos.read(s, s"$dir/lineitem.parquet")
          .withColumnRenamed("l_orderkey", "o_orderkey"),
        s"li_bkt_$sf", "o_orderkey", 8, ArtifactStore.artifactPath(dir, "li_bkt"))
      graft.prepare.Bucketing.writeBucketed(s,
        graft.sources.ParquetNanos.read(s, s"$dir/orders.parquet"),
        s"ord_bkt_$sf", "o_orderkey", 8, ArtifactStore.artifactPath(dir, "ord_bkt"))
      val joined = graft.prepare.Bucketing.bucketedJoin(
        s, s"li_bkt_$sf", s"ord_bkt_$sf", "o_orderkey")
      joined.groupBy(col("o_orderpriority")).agg(
        count(lit(1)).as("cnt"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
    }),

    // Z-order (Morton) layout: events written partitioned by the
    // interleaved-bit cell of (user_id, ts) so a TWO-dimensional box
    // query prunes at the partition level on BOTH dimensions (S3/S4's
    // 1-D partitionBy can only prune its leading column). The covering
    // cells are enumerated driver-side; the exact box predicates stay as
    // residual filters, so results are layout-independent — the oracle
    // is the plain filter over the raw table. ts_sec = floor epoch
    // seconds, so ts_sec BETWEEN t0 AND t1-1 <=> ts >= t0 AND ts < t1.
    "scan_zorder_box" -> ((s, dir) => {
      val path = ArtifactStore.artifactPath(dir, "events_zorder")
      val ev = events(s, dir).withColumn("ts_sec", unix_timestamp(col("ts")))
      graft.prepare.ZOrder.writeZOrdered(s, ev, path, "user_id", "ts_sec",
        cellBits = 6)
      val t0 = java.time.Instant.parse("2024-01-08T00:00:00Z").getEpochSecond
      val t1 = java.time.Instant.parse("2024-01-13T00:00:00Z").getEpochSecond
      graft.prepare.ZOrder.boxScan(s, path, "user_id", "ts_sec",
          40L, 90L, t0, t1 - 1)
        .select(col("event_id"), col("user_id"),
          round(col("value"), 4).as("value"))
    }),

    // range (interval) join: purchases within 5 minutes after a signup
    // bivariate aggregates: Pearson correlation + sample covariance
    // (single-pass co-moment form in both engines)
    "ext_corr" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type")).agg(
        round(corr(col("value"), col("user_id").cast(DoubleType)), 4)
          .as("corr_value_user"),
        round(covar_samp(col("value"), col("user_id").cast(DoubleType)), 4)
          .as("covar_value_user"))),

    // gap-filled per-type daily counts over a data-driven date spine
    // (sequence bounds come from the data, not constants, so the query
    // is scale-factor independent); the missing (type, day) cells a
    // plain groupBy would silently drop come back as explicit zeros
    "ext_date_spine" -> ((s, dir) => {
      val ev = events(s, dir)
      val daily = ev
        .groupBy(col("event_type"), col("ts").cast(DateType).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val spine = ev
        .agg(min(col("ts").cast(DateType)).as("d0"),
          max(col("ts").cast(DateType)).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(spine))
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
    }),

    // per-group z-score outliers: two-pass curation filter (grouped
    // moments, then a broadcast join back onto the fact — the fact table
    // is scanned, never collected)
    "ext_zscore_outliers" -> ((s, dir) => {
      val ev = events(s, dir)
      val stats = ev.groupBy(col("event_type"))
        .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sigma"))
      ev.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", (col("value") - col("mu")) / col("sigma"))
        .filter(abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 4).as("value"), round(col("z"), 4).as("zscore"))
    }),

    // portable hash-based Bernoulli sample (5%): any md5-capable engine
    // re-derives the identical subset (unlike rand() sampling), and the
    // hash decorrelates the choice from id-assignment structure (unlike
    // the id-modulus split of ext_deterministic_split)
    "ext_sample_hash" -> ((s, dir) =>
      events(s, dir)
        .filter(pmod(graft.operators.Dedup.portableHash56(col("event_id")),
          lit(20)) === 0)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 4).as("value"))),

    "ext_range_join" -> ((s, dir) => {
      val e = events(s, dir)
      val signup = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("signup_id"),
          col("ts").as("signup_ts"))
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      signup.join(purch, Seq("user_id"))
        .filter(col("purchase_ts") >= col("signup_ts") &&
          col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 5 MINUTES"))
        .select(col("signup_id"), col("purchase_id"))
    }),

    // FULL OUTER join of two grouped activity profiles — users appearing
    // on either side survive, absent side zero-filled via coalesce
    "ext_full_outer_join" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(count(lit(1)).as("p_cnt"))
        .withColumnRenamed("user_id", "p_uid")
      val q = e.filter(col("event_type") === "error")
        .groupBy(col("user_id")).agg(count(lit(1)).as("e_cnt"))
        .withColumnRenamed("user_id", "e_uid")
      p.join(q, col("p_uid") === col("e_uid"), "full_outer")
        .select(coalesce(col("p_uid"), col("e_uid")).as("user_id"),
          coalesce(col("p_cnt"), lit(0L)).as("purchases"),
          coalesce(col("e_cnt"), lit(0L)).as("errors"))
    }),

    // CROSS join of two small dims into a dense grid, zero-filled from a
    // fact aggregate — the standard dense-report shape (a cross join is
    // only ever sane between broadcast-sized sides; the fact side still
    // arrives via hash join)
    "ext_cross_join" -> ((s, dir) => {
      val seg = tbl(s, dir, "customer").select(col("c_mktsegment")).distinct()
      val grid = broadcast(tbl(s, dir, "region").select(col("r_name")))
        .crossJoin(broadcast(seg))
      val counts = tbl(s, dir, "customer")
        .join(tbl(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(tbl(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"))
      grid.join(counts, Seq("r_name", "c_mktsegment"), "left")
        .select(col("r_name"), col("c_mktsegment"),
          coalesce(col("cnt"), lit(0L)).as("n_cust"))
    }),

    // RANGE-interval window frame (vs ext_moving_avg's ROWS frame): all
    // events of the user within the trailing 10 minutes, whatever their
    // count. Ordered on epoch seconds — Spark's long cast and the
    // oracle's floor(epoch(ts)) truncate the nanos identically.
    "ext_range_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").cast(LongType))
        .rangeBetween(-600, 0)
      events(s, dir).filter(col("user_id") < 50)
        .select(col("event_id"),
          count(lit(1)).over(w).as("cnt_10m"),
          round(sum(col("value")).over(w), 4).as("sum_10m"))
    }),

    // argmax with deterministic tiebreak: lexicographic MAX over a
    // (value, id) struct — one codegen'd agg, no join-back or window
    "ext_argmax" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(max(struct(col("value").as("v"), col("event_id").as("id")))
          .as("m"))
        .select(col("event_type"),
          round(col("m.v"), 4).as("max_value"),
          col("m.id").as("arg_event_id"))),

    // boolean aggregates: ALL / ANY / conditional count
    "ext_bool_agg" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(bool_and(col("value") > 0).as("all_pos"),
          bool_or(col("value") > 990).as("any_huge"),
          sum(when(col("value") > 900, 1L).otherwise(0L)).as("n_big"))),

    // UNPIVOT: wide per-day metric columns melted back to long form —
    // the inverse of ext_pivot, via the native Dataset.unpivot operator
    "ext_unpivot" -> ((s, dir) => {
      val wide = events(s, dir).groupBy(col("day"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"))
      wide.unpivot(Array(col("day")),
        Array(col("clicks"), col("purchases"), col("views")),
        "metric", "cnt")
    }),

    // skew diagnostics: top-10 heavy-hitter keys with their share of all
    // rows — the profile that decides when a join/agg needs salting. One
    // map-side-combined count shuffle + a broadcast scalar total.
    "ext_heavy_hitters" -> ((s, dir) => {
      val cnt = events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"))
      val tot = cnt.agg(sum(col("cnt")).as("tot"))
      cnt.join(broadcast(tot))
        .select(col("user_id"), col("cnt"),
          round(col("cnt").cast(DoubleType) / col("tot").cast(DoubleType), 4)
            .as("share"))
        .orderBy(col("cnt").desc, col("user_id").asc)
        .limit(10)
    }),

    // ordered funnel: signup -> first later click -> first later purchase.
    // ONE fact scan + ONE wide shuffle: a single groupBy(user_id) collects
    // t1 = min signup ts plus the per-user click/purchase ts arrays
    // (map-side partials; per-user arrays are small — bounded by a user's
    // own event count, never the corpus). t2/t3 then derive locally via
    // array_min(filter(...)). The old shape re-scanned events three times
    // and paid three keyed shuffles + two joins; at 100x the fact table
    // that is 3 scans and 4 exchanges where 1+1 suffice (round-13 fix).
    // t2 is a projection alias referenced twice (guard + lambda), so
    // CollapseProject keeps it staged and the interpreted HOF lambda for
    // t3 compares against a bound attribute, never re-deriving t2 per
    // element (CLAUDE.md HOF-staging invariant).
    "ext_funnel" -> ((s, dir) => {
      val per = events(s, dir)
        .filter(col("event_type").isin("signup", "click", "purchase"))
        .groupBy(col("user_id")).agg(
          min(when(col("event_type") === "signup", col("ts"))).as("t1"),
          collect_list(when(col("event_type") === "click", col("ts")))
            .as("clicks"),
          collect_list(when(col("event_type") === "purchase", col("ts")))
            .as("purchases"))
        .filter(col("t1").isNotNull)
      per
        .withColumn("t2",
          array_min(filter(col("clicks"), x => x > col("t1"))))
        .withColumn("t3",
          when(col("t2").isNotNull,
            array_min(filter(col("purchases"), x => x > col("t2")))))
        .agg(count(col("t1")).as("n_signup"),
          count(col("t2")).as("n_click"),
          count(col("t3")).as("n_purchase"))
    }),

    // day-over-day retention: users active on d AND d+1, per day. One
    // distinct-projection + a self-join keyed (user, day+1) — both sides
    // shuffle once on the same key.
    "ext_retention" -> ((s, dir) => {
      val act = events(s, dir)
        .select(col("ts").cast(DateType).as("day"), col("user_id")).distinct()
      val nxt = act.select(date_sub(col("day"), 1).as("prev_day"),
        col("user_id").as("ret_uid"))
      act.join(nxt,
          col("day") === col("prev_day") && col("user_id") === col("ret_uid"),
          "left")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("active"),
          count(col("ret_uid")).as("retained"))
        .withColumn("retention",
          round(col("retained").cast(DoubleType) /
            col("active").cast(DoubleType), 4))
    }),

    // count-min sketch frequency estimation (depth 4 x width 256): the
    // bounded-memory heavy-hitter estimator. The sketch is a grouped
    // count over (row, bucket) — mergeable across partitions/days by
    // cell-wise addition, unlike an exact per-key count whose state is
    // unbounded. Estimates use the portable md5-56 hash so the oracle
    // rebuilds the identical sketch.
    "ext_countmin" -> ((s, dir) => {
      val width = 256
      // all 4 bucket ids per row from ONE native md5 pass
      // (CmsBuckets: the depth crossJoin + per-(row, d) built-string ->
      // hex-digest -> base-16-parse chain it replaced is restated by the
      // oracle and pinned by ShingleSigsPropertySpec); posexplode's pos
      // IS the depth coordinate
      def buckets(key: Column) = posexplode(graft.functions.CmsBuckets
        .cmsBuckets(key.cast(StringType), 4, width))
      val ev = events(s, dir).select(col("user_id"))
      val cms = ev.select(col("user_id"), buckets(col("user_id")))
        .groupBy(col("pos").as("d"), col("col").as("bucket"))
        .agg(count(lit(1)).as("c"))
      val probes = ev.filter(col("user_id") < 25).distinct()
      probes.select(col("user_id"), buckets(col("user_id")))
        .select(col("user_id"), col("pos").as("d"), col("col").as("bucket"))
        .join(cms, Seq("d", "bucket"))
        .groupBy(col("user_id"))
        .agg(min(col("c")).as("est_cnt"))
    }),

    // windowed COUNT(DISTINCT): running distinct event-type count per
    // user (Spark windows reject DISTINCT aggregates; the first-seen-flag
    // running sum is the standard scalable restatement — two window
    // passes, no per-row set state)
    "ext_window_count_distinct" -> ((s, dir) => {
      val first = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val run = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir).filter(col("user_id") < 50)
        .withColumn("fst",
          when(row_number().over(first) === 1, 1L).otherwise(0L))
        .select(col("event_id"),
          sum(col("fst")).over(run).as("n_types_seen"))
    }),

    // changelog compaction: latest change per key via the window-free
    // struct-MAX aggregate — map-side partials mean a key with a million
    // changes costs one combiner cell per task, not a million rows
    // through one reducer (the hot-key CDC shape at corpus scale)
    "ext_cdc_compact" -> ((s, dir) =>
      Cdc.latestPerKeyAgg(events(s, dir), Seq("user_id"),
          Seq(col("ts"), col("event_id")), Seq("event_type", "value"))
        .select(col("user_id"), col("event_type").as("last_type"),
          round(col("value"), 4).as("last_value"))),

    // MERGE INTO / upsert: fold a compacted delta (latest order per
    // customer; final-status orders are deletes) into a base snapshot.
    // One full-outer shuffle join on the key — never a corpus rewrite.
    // Base drops custkey%3==0 so the delta exercises the INSERT path too.
    "ext_merge_upsert" -> ((s, dir) => {
      val base = tbl(s, dir, "customer")
        .filter(pmod(col("c_custkey"), lit(3)) =!= 0)
        .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
      // struct-MAX compaction, not the row_number window: the (date,
      // orderkey) sort key is unique per row so the lexicographic MAX
      // picks the identical latest order, with map-side partials instead
      // of a full per-key sort of the change log (see Cdc scale notes)
      val delta = Cdc.latestPerKeyAgg(tbl(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")),
          Seq("o_orderstatus", "o_totalprice"))
        .select(col("o_custkey").as("key"),
          when(col("o_orderstatus") === "F", lit("D")).otherwise(lit("U"))
            .as("op"),
          col("o_totalprice").as("new_bal"))
      Cdc.mergeUpsert(base, delta, "key", "op", "D",
          Seq("bal" -> ("bal", "new_bal")))
        .select(col("key"), round(col("bal"), 4).as("bal"), col("src"))
    }),

    // MERGE INTO a BUCKETED base snapshot — same semantics (and oracle)
    // as ext_merge_upsert, but the base lives in the layout Cdc's scale
    // notes promise: bucketed on the merge key with bucket count ==
    // spark.sql.shuffle.partitions, so the compacted delta arrives from
    // its own compaction groupBy already hash-partitioned on the key and
    // the full-outer join runs with ZERO exchange anywhere — the base is
    // read co-located and the delta's single compaction shuffle is the
    // whole data movement. At 100 TB this is how a snapshot absorbs a
    // daily delta: bucketing is a one-time layout cost amortized over
    // every subsequent merge; the merge itself never re-shuffles the
    // snapshot. (Plan pinned by PlanAuditSpec's bucketed-merge test.)
    "ext_merge_upsert_bucketed" -> ((s, dir) => {
      val sf = ArtifactStore.corpusKey(dir)
      graft.prepare.Bucketing.writeBucketed(s,
        tbl(s, dir, "customer")
          .filter(pmod(col("c_custkey"), lit(3)) =!= 0)
          .select(col("c_custkey").as("key"), col("c_acctbal").as("bal")),
        s"merge_base_bkt_$sf", "key",
        s.conf.get("spark.sql.shuffle.partitions").toInt,
        ArtifactStore.artifactPath(dir, "merge_base_bkt"))
      val base = s.table(s"merge_base_bkt_$sf")
      val delta = Cdc.latestPerKeyAgg(tbl(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")),
          Seq("o_orderstatus", "o_totalprice"))
        .select(col("o_custkey").as("key"),
          when(col("o_orderstatus") === "F", lit("D")).otherwise(lit("U"))
            .as("op"),
          col("o_totalprice").as("new_bal"))
      Cdc.mergeUpsert(base, delta, "key", "op", "D",
          Seq("bal" -> ("bal", "new_bal")))
        .select(col("key"), round(col("bal"), 4).as("bal"), col("src"))
    }),

    // SCD type-2 dimension build: one row per change with effective-dated
    // [valid_from, valid_to) intervals via lead(); the open interval is
    // the current version. Ordered on epoch seconds (both engines
    // truncate identically), event_id tiebreak.
    "ext_scd2" -> ((s, dir) => {
      val ch = events(s, dir)
        .filter(col("event_type") === "purchase" && col("user_id") < 40)
      Cdc.scd2(ch, "user_id", col("ts").cast(LongType), col("event_id"),
        Seq(col("event_id"), round(col("value"), 4).as("value")))
    }),

    // order-sensitive ARRAY_AGG: per-group sorted distinct id list,
    // flattened to CSV (the driver compare can't sort array cells) — the
    // collect stays bounded by the user_id < 20 filter
    "ext_array_agg" -> ((s, dir) =>
      events(s, dir).filter(col("user_id") < 20)
        .groupBy(col("event_type"))
        .agg(array_join(
            transform(sort_array(collect_set(col("user_id"))),
              x => x.cast(StringType)), ",").as("users"),
          count(lit(1)).as("cnt")))
  )

  def oracleSql: Map[String, String] = Map(
    // the z-order layout changes WHERE rows live, never WHICH rows
    // qualify (covering cells are a superset; exact residual filters) —
    // the oracle is the plain box filter over the raw table
    "scan_zorder_box" ->
      ("SELECT event_id, user_id, round(value, 4) AS value FROM events " +
       "WHERE user_id BETWEEN 40 AND 90 " +
       "AND ts >= TIMESTAMP '2024-01-08 00:00:00' " +
       "AND ts < TIMESTAMP '2024-01-13 00:00:00'"),
    "ext_asof_join" ->
      ("SELECT l.event_id, l.user_id, round(r.value, 4) AS last_purchase " +
       "FROM events l ASOF LEFT JOIN " +
       "(SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r " +
       "ON l.user_id = r.user_id AND l.ts >= r.ts"),
    "ext_rollup" ->
      ("SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt, " +
       "round(sum(value), 4) AS sum_value FROM events " +
       "GROUP BY ROLLUP(event_type, CAST(ts AS DATE))"),
    "ext_cube" ->
      ("SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week, " +
       "count(*) AS cnt FROM events " +
       "GROUP BY CUBE(event_type, CAST(date_trunc('week', ts) AS DATE))"),
    "ext_grouping_sets" ->
      ("SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt FROM events " +
       "GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())"),
    "ext_histogram" ->
      ("SELECT CAST(floor(value / 50) AS BIGINT) AS bucket, count(*) AS cnt " +
       "FROM events GROUP BY 1"),
    "ext_stats_agg" ->
      ("SELECT event_type, round(stddev_samp(value), 4) AS sd, " +
       "round(var_samp(value), 4) AS vr, " +
       "round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS cv, " +
       "round(corr(value, CAST(user_id AS DOUBLE)), 4) AS cr " +
       "FROM events GROUP BY 1"),
    "ext_pivot" ->
      ("SELECT CAST(ts AS DATE) AS day, " +
       "round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click, " +
       "round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view, " +
       "round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase, " +
       "round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error, " +
       "round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup " +
       "FROM events GROUP BY 1"),
    "ext_salted_join" ->
      """WITH dim AS (SELECT DISTINCT event_type,
           't_' || event_type AS type_tag FROM events)
         SELECT e.event_id, d.type_tag
         FROM events e JOIN dim d USING (event_type)""",
    "ext_salted_agg" ->
      ("SELECT event_type, round(sum(value), 4) AS sum_value, " +
       "count(event_id) AS cnt, round(min(value), 4) AS min_value, " +
       "round(max(value), 4) AS max_value FROM events GROUP BY 1"),
    "ext_percentile" ->
      ("SELECT event_type, round(quantile_cont(value, 0.25), 4) AS p25, " +
       "round(quantile_cont(value, 0.5), 4) AS p50, " +
       "round(quantile_cont(value, 0.9), 4) AS p90 FROM events GROUP BY 1"),
    "ext_json_extract" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k " +
       "FROM events"),
    "ext_moving_avg" ->
      ("SELECT event_id, round(avg(value) OVER (PARTITION BY user_id " +
       "ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) " +
       "AS mavg FROM events"),
    "ext_bucketed_join" ->
      ("SELECT o.o_orderpriority, count(*) AS cnt, " +
       "round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue " +
       "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey GROUP BY 1"),
    "ext_range_join" ->
      ("SELECT s.event_id AS signup_id, p.event_id AS purchase_id " +
       "FROM events s JOIN events p ON s.user_id = p.user_id " +
       "AND s.event_type = 'signup' AND p.event_type = 'purchase' " +
       "AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 5 MINUTE"),
    "ext_approx_percentile" ->
      ("SELECT event_type, round(quantile_disc(value, 0.5), 4) AS ap50 " +
       "FROM events GROUP BY 1"),
    "ext_corr" ->
      ("SELECT event_type, " +
       "round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_value_user, " +
       "round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS covar_value_user " +
       "FROM events GROUP BY 1"),
    "ext_date_spine" ->
      """WITH b AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
                    FROM events),
         spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
                   FROM b),
         t AS (SELECT DISTINCT event_type FROM events),
         daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
                   FROM events GROUP BY 1, 2)
         SELECT t.event_type, s.day,
           CAST(COALESCE(d.cnt, 0) AS BIGINT) AS cnt
         FROM t CROSS JOIN spine s
         LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day""",
    "ext_zscore_outliers" ->
      """SELECT event_id, event_type, round(value, 4) AS value,
           round(z, 4) AS zscore FROM (
           SELECT e.event_id, e.event_type, e.value,
             (e.value - s.mu) / s.sigma AS z
           FROM events e JOIN (
             SELECT event_type, avg(value) AS mu,
               stddev_samp(value) AS sigma
             FROM events GROUP BY 1) s USING (event_type))
         WHERE abs(z) > 3""",
    "ext_sample_hash" ->
      ("SELECT event_id, event_type, round(value, 4) AS value FROM events " +
       "WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 14))::BIGINT " +
       "% 20 = 0"),
    "ext_full_outer_join" ->
      """SELECT coalesce(p.user_id, e.user_id) AS user_id,
           CAST(coalesce(p_cnt, 0) AS BIGINT) AS purchases,
           CAST(coalesce(e_cnt, 0) AS BIGINT) AS errors
         FROM (SELECT user_id, count(*) AS p_cnt FROM events
               WHERE event_type = 'purchase' GROUP BY 1) p
         FULL OUTER JOIN (SELECT user_id, count(*) AS e_cnt FROM events
               WHERE event_type = 'error' GROUP BY 1) e
           ON p.user_id = e.user_id""",
    "ext_cross_join" ->
      """SELECT g.r_name, g.c_mktsegment,
           CAST(coalesce(x.cnt, 0) AS BIGINT) AS n_cust
         FROM (SELECT r_name, c_mktsegment FROM region
               CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer)) g
         LEFT JOIN (SELECT r.r_name, c.c_mktsegment, count(*) AS cnt
               FROM customer c
               JOIN nation n ON c.c_nationkey = n.n_nationkey
               JOIN region r ON n.n_regionkey = r.r_regionkey
               GROUP BY 1, 2) x
           ON g.r_name = x.r_name AND g.c_mktsegment = x.c_mktsegment""",
    "ext_array_agg" ->
      """SELECT event_type,
           array_to_string(list_sort(list(DISTINCT user_id)), ',') AS users,
           count(*) AS cnt
         FROM events WHERE user_id < 20 GROUP BY 1""",
    "ext_heavy_hitters" ->
      """WITH cnt AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
         SELECT user_id, cnt,
           round(CAST(cnt AS DOUBLE) / (SELECT sum(cnt) FROM cnt), 4) AS share
         FROM cnt ORDER BY cnt DESC, user_id ASC LIMIT 10""",
    "ext_range_window" ->
      """SELECT event_id, count(*) OVER w AS cnt_10m,
           round(sum(value) OVER w, 4) AS sum_10m
         FROM events WHERE user_id < 50
         WINDOW w AS (PARTITION BY user_id
           ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
           RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)""",
    "ext_argmax" ->
      """SELECT event_type, round(m.v, 4) AS max_value, m.id AS arg_event_id
         FROM (SELECT event_type,
                 max(struct_pack(v := value, id := event_id)) AS m
               FROM events GROUP BY 1)""",
    "ext_bool_agg" ->
      """SELECT event_type, bool_and(value > 0) AS all_pos,
           bool_or(value > 990) AS any_huge,
           CAST(sum(CASE WHEN value > 900 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
         FROM events GROUP BY 1""",
    "ext_funnel" ->
      """WITH s AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'signup' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
               JOIN s ON e.user_id = s.user_id
               WHERE e.event_type = 'click' AND e.ts > s.t1 GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
               JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
         SELECT (SELECT count(*) FROM s) AS n_signup,
                (SELECT count(*) FROM c) AS n_click,
                (SELECT count(*) FROM p) AS n_purchase""",
    "ext_retention" ->
      """WITH act AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                      FROM events)
         SELECT a.day, count(*) AS active,
           count(b.user_id) AS retained,
           round(CAST(count(b.user_id) AS DOUBLE) / count(*), 4) AS retention
         FROM act a LEFT JOIN act b
           ON a.user_id = b.user_id AND b.day = a.day + 1
         GROUP BY 1""",
    "ext_countmin" ->
      """WITH ds AS (SELECT * FROM (VALUES (0),(1),(2),(3)) t(d)),
         cms AS (SELECT d,
             ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' ||
               CAST(user_id AS VARCHAR)), 1, 14))::BIGINT % 256 AS bucket,
             count(*) AS c
           FROM events CROSS JOIN ds GROUP BY 1, 2),
         probes AS (SELECT DISTINCT user_id FROM events WHERE user_id < 25),
         pb AS (SELECT p.user_id, ds.d,
             ('0x' || substr(md5(CAST(ds.d AS VARCHAR) || ':' ||
               CAST(p.user_id AS VARCHAR)), 1, 14))::BIGINT % 256 AS bucket
           FROM probes p CROSS JOIN ds)
         SELECT pb.user_id, min(c.c) AS est_cnt
         FROM pb JOIN cms c ON pb.d = c.d AND pb.bucket = c.bucket
         GROUP BY 1""",
    "ext_window_count_distinct" ->
      """SELECT event_id,
           CAST(sum(fst) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_types_seen
         FROM (SELECT event_id, user_id, ts,
                 CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS fst
               FROM events WHERE user_id < 50)""",
    "ext_cdc_compact" ->
      """SELECT user_id, event_type AS last_type,
           round(value, 4) AS last_value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1""",
    "ext_merge_upsert" ->
      """WITH delta AS (
           SELECT o_custkey AS key,
             CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS new_bal
           FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                 FROM orders)
           WHERE rn = 1),
         base AS (SELECT c_custkey AS key, c_acctbal AS bal FROM customer
                  WHERE c_custkey % 3 <> 0)
         SELECT coalesce(d.key, b.key) AS key,
           round(CASE WHEN d.key IS NOT NULL THEN d.new_bal ELSE b.bal END, 4)
             AS bal,
           CASE WHEN d.key IS NOT NULL THEN 'delta' ELSE 'base' END AS src
         FROM base b FULL OUTER JOIN delta d ON b.key = d.key
         WHERE d.op IS NULL OR d.op <> 'D'""",
    // identical semantics to ext_merge_upsert — the bucketed layout is a
    // physical-plan property, invisible to the logical result
    "ext_merge_upsert_bucketed" ->
      """WITH delta AS (
           SELECT o_custkey AS key,
             CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS new_bal
           FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                 FROM orders)
           WHERE rn = 1),
         base AS (SELECT c_custkey AS key, c_acctbal AS bal FROM customer
                  WHERE c_custkey % 3 <> 0)
         SELECT coalesce(d.key, b.key) AS key,
           round(CASE WHEN d.key IS NOT NULL THEN d.new_bal ELSE b.bal END, 4)
             AS bal,
           CASE WHEN d.key IS NOT NULL THEN 'delta' ELSE 'base' END AS src
         FROM base b FULL OUTER JOIN delta d ON b.key = d.key
         WHERE d.op IS NULL OR d.op <> 'D'""",
    "ext_scd2" ->
      """SELECT user_id, event_id, round(value, 4) AS value,
           CAST(row_number() OVER w AS INTEGER) AS version,
           CAST(floor(epoch(ts)) AS BIGINT) AS valid_from,
           lead(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER w AS valid_to,
           (lead(ts, 1) OVER w IS NULL) AS is_current
         FROM events WHERE event_type = 'purchase' AND user_id < 40
         WINDOW w AS (PARTITION BY user_id
           ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)""",
    "ext_unpivot" ->
      """WITH wide AS (SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
             CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
             CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS views
           FROM events GROUP BY 1)
         SELECT day, 'clicks' AS metric, clicks AS cnt FROM wide
         UNION ALL SELECT day, 'purchases', purchases FROM wide
         UNION ALL SELECT day, 'views', views FROM wide"""
  )
}
