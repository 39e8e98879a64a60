package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.engine.Engine
import graft.schema.DirCatalog
import graft.tools.Probe

/** Physical-plan audits: these assert the *plan shape* that makes the
  * operators viable at 100 TB — partition pruning, parquet filter
  * pushdown, column pruning, broadcast vs shuffle join choice, top-k as
  * TakeOrderedAndProject, codegen presence. A correctness-green operator
  * with the wrong plan shape fails here. */
class PlanAuditSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Adaptive plans print "== Final Plan ==" followed by an
    * "== Initial Plan ==" echo; keep only the final section so node
    * counts aren't doubled. */
  private def finalPlan(df: DataFrame): String =
    physical(df).split("== Initial Plan ==")(0)

  /** Engines with result caching OFF: the cache materializes hits as
    * LocalTableScan, hiding the plan under audit. */
  private def scanEngine = new Engine(spark, DirCatalog(sfDir), Nil, cacheResults = false)

  test("partition-pruned scan: eq filters on partition cols become PartitionFilters") {
    val eng = SparkEntry.preparedEngine(spark, sfDir)
    val df = eng.executeJson(
      """{"select":["event_id","value"],"from":"events",
         "where":[{"col":"event_type","op":"eq","val":"purchase"},
                  {"col":"day","op":"eq","val":"2024-01-15"}]}""")
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan)
    assert(plan.contains("event_type"), plan)
    // data filters must NOT appear as a post-scan Filter on partition cols
    assert(!plan.contains("PushedFilters: [IsNotNull(event_id)"), plan)
  }

  test("z-order box scan: covering-cell PartitionFilters, real pruning, raw-filter parity") {
    // the entry writes the layout; its own box (users 40-90) lies past the
    // sf0.001 fixture's user_id range 0-14, so the parity below scans a
    // box inside that range over the same layout
    val entry = SparkEntry.queries("scan_zorder_box")(spark, sfDir)
    assert(entry.queryExecution.sparkPlan.toString.contains("z_cell"))
    val path = graft.prepare.ArtifactStore.artifactPath(sfDir, "events_zorder")
    val t0 = java.time.Instant.parse("2024-01-08T00:00:00Z").getEpochSecond
    val t1 = java.time.Instant.parse("2024-01-13T00:00:00Z").getEpochSecond
    val df = graft.prepare.ZOrder.boxScan(spark, path, "user_id", "ts_sec",
      2L, 9L, t0, t1 - 1).select(col("event_id"))
    val got = df.collect().map(r => r.getLong(0)).toSet
    // 2-D partition pruning is in the plan: the covering-cell IN-list
    // lands in PartitionFilters (planning-time directory pruning), the
    // box predicates in PushedFilters
    val plan = finalPlan(df)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("z_cell"), plan)
    // pruning is REAL: the layout holds more cells than the box reads
    val meta = graft.prepare.ZOrder.readMeta(path)
    val covering =
      graft.prepare.ZOrder.coveringCells(meta, 2L, 9L, t0, t1 - 1)
    val cellDirs = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("z_cell="))
    assert(covering.size < cellDirs,
      s"covering=${covering.size} of $cellDirs cells — no pruning")
    // layout-independence: identical rows to the plain filter on the raw
    // table (the oracle restates exactly this)
    val raw = graft.sources.ParquetNanos.read(spark, s"$sfDir/events.parquet")
      .filter(col("user_id").between(2, 9) &&
        col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-13 00:00:00").cast("timestamp"))
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(raw.nonEmpty, "vacuous parity: the box holds no rows")
    assert(got === raw)
  }

  test("z-order ROUTED dsl box query: ZRouted + covering-cell PartitionFilters + scan parity") {
    val eng = SparkEntry.preparedEngine(spark, sfDir)
    val json =
      """{"select":["event_id","user_id","value"],"from":"events",
         "where":[{"col":"user_id","op":"between","val":[2,9]},
                  {"col":"ts","op":"gte","val":"2024-01-08 00:00:00"},
                  {"col":"ts","op":"lt","val":"2024-01-13 00:00:00"}]}"""
    // building plus planning the routed DataFrame launches no Spark job:
    // the file listing touches the covering cells only (a layout-root
    // read lists all 64 cells in a 64-task job) and the schema comes from
    // one driver-side footer read (Spark's inference is a job of its own)
    val (df, buildJobs) = Probe.jobsOf(spark) {
      val built = eng.executeJson(json)
      built.queryExecution.executedPlan
      built
    }
    assert(buildJobs == 0, s"$buildJobs Spark jobs while building and planning")
    // the engine chose the z layout, not the fact scan
    assert(eng.lastRoute == Engine.ZRouted("z_user_ts"), eng.lastRoute.toString)
    // 2-D pruning is in the plan: covering-cell IN-list as PartitionFilters
    val pf = df.queryExecution.sparkPlan.toString.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("z_cell"), pf)
    // the scan's file index is rooted at exactly the covering cells that
    // exist on disk, never at the layout root
    val d = eng.zlayouts.find(_.name == "z_user_ts").get
    val meta = graft.prepare.ZOrder.readMeta(d.path)
    val liveCovering = graft.engine.ZOrderRouter
      .matches(graft.dsl.QueryJson.parse(json), d).get
      .flatMap(b => graft.prepare.ZOrder.coveringCells(meta, b.xLo, b.xHi, b.yLo, b.yHi))
      .distinct.map(c => new java.io.File(s"${d.path}/z_cell=$c"))
      .filter(_.isDirectory).map(_.getCanonicalPath).toSet
    val rootPaths = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.relation.location.rootPaths
    }.flatten.map(p => new java.io.File(p.toUri.getPath).getCanonicalPath).toSet
    assert(liveCovering.nonEmpty, "vacuous: no covering cell exists")
    assert(rootPaths === liveCovering)
    // exactness: identical rows to the same DSL query on the raw table
    val routed = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val scanned = scanEngine.executeJson(json).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(scanned.nonEmpty, "vacuous parity: the box holds no rows")
    assert(routed === scanned)
    // a query bounded on only ONE dimension must NOT route
    val one = eng.executeJson(
      """{"select":["event_id"],"from":"events",
         "where":[{"col":"user_id","op":"between","val":[2,9]}]}""")
    one.queryExecution.sparkPlan // force planning
    assert(eng.lastRoute == Engine.Scanned, eng.lastRoute.toString)
    // the route composes with aggregation (no rollup admits a ts
    // residual, so the box scan is the winning path)
    val agg = eng.executeJson(
      """{"select":["event_type",{"COUNT":"*"}],"from":"events",
         "where":[{"col":"user_id","op":"between","val":[2,9]},
                  {"col":"ts","op":"gte","val":"2024-01-08 00:00:00"},
                  {"col":"ts","op":"lt","val":"2024-01-13 00:00:00"}],
         "group_by":["event_type"]}""")
    assert(eng.lastRoute == Engine.ZRouted("z_user_ts"), eng.lastRoute.toString)
    val aggScan = scanEngine.executeJson(
      """{"select":["event_type",{"COUNT":"*"}],"from":"events",
         "where":[{"col":"user_id","op":"between","val":[2,9]},
                  {"col":"ts","op":"gte","val":"2024-01-08 00:00:00"},
                  {"col":"ts","op":"lt","val":"2024-01-13 00:00:00"}],
         "group_by":["event_type"]}""")
    val aggWant = aggScan.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(aggWant.nonEmpty, "vacuous parity: the box holds no rows")
    assert(agg.collect().map(r => (r.getString(0), r.getLong(1))).toSet === aggWant)
    // derived-day bounds route too (whole-day superset mapping)
    val dayJson =
      """{"select":["event_id"],"from":"events",
         "where":[{"col":"user_id","op":"eq","val":5},
                  {"col":"day","op":"between","val":["2024-01-08","2024-01-12"]}]}"""
    val dayDf = eng.executeJson(dayJson)
    assert(eng.lastRoute == Engine.ZRouted("z_user_ts"), eng.lastRoute.toString)
    val dayWant = scanEngine.executeJson(dayJson).collect().map(_.getLong(0)).toSet
    assert(dayWant.nonEmpty, "vacuous parity: the day box holds no rows")
    assert(dayDf.collect().map(_.getLong(0)).toSet === dayWant)
  }

  test("sparse-In z route: per-value boxes, strictly fewer cells than min-max, parity") {
    val eng = SparkEntry.preparedEngine(spark, sfDir)
    val json =
      """{"select":["event_id","user_id","value"],"from":"events",
         "where":[{"col":"user_id","op":"in","val":[3,77,1399]},
                  {"col":"day","op":"between","val":["2024-01-08","2024-01-12"]}]}"""
    val df = eng.executeJson(json)
    assert(eng.lastRoute == Engine.ZRouted("z_user_ts"), eng.lastRoute.toString)
    // the router produced ONE BOX PER In VALUE, not a min-max band
    val q = graft.dsl.QueryJson.parse(json)
    val d = eng.zlayouts.find(_.name == "z_user_ts").get
    val boxes = graft.engine.ZOrderRouter.matches(q, d).get
    assert(boxes.size == 3 && boxes.forall(b => b.xLo == b.xHi),
      boxes.toString)
    assert(boxes.map(_.xLo).toSet == Set(3L, 77L, 1399L), boxes.toString)
    // the deduped multi-box covering is a strict subset of the min-max
    // box's covering — the route can never read MORE than the old
    // single-box mapping, and on this sparse list it reads far less
    val meta = graft.prepare.ZOrder.readMeta(d.path)
    val multi = boxes.flatMap(b =>
      graft.prepare.ZOrder.coveringCells(meta, b.xLo, b.xHi, b.yLo, b.yHi))
      .distinct
    val minmax = graft.prepare.ZOrder.coveringCells(meta,
      boxes.map(_.xLo).min, boxes.map(_.xHi).max,
      boxes.head.yLo, boxes.head.yHi)
    assert(multi.toSet.subsetOf(minmax.toSet),
      s"multi covering not contained in min-max covering")
    assert(multi.size < minmax.size,
      s"multi=${multi.size} cells vs minmax=${minmax.size} — no win")
    // exactness: identical rows to the same DSL query on the raw table
    val routed = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val scanned = scanEngine.executeJson(json).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(routed === scanned)
    assert(routed.nonEmpty, "vacuous parity: sparse-In query matched no rows")
    // a wider-than-cap In still routes (as the min-max box): the cap
    // bounds driver-side enumeration, never refuses the route
    val wide = (0 to 200).map(_ * 7).mkString(",")
    val wideJson =
      s"""{"select":["event_id"],"from":"events",
         "where":[{"col":"user_id","op":"in","val":[$wide]},
                  {"col":"day","op":"eq","val":"2024-01-10"}]}"""
    val wq = graft.dsl.QueryJson.parse(wideJson)
    val wboxes = graft.engine.ZOrderRouter.matches(wq, d).get
    assert(wboxes.size == 1, wboxes.toString)
  }

  test("raw-table filter pushes to parquet (PushedFilters) and prunes columns") {
    val df = scanEngine.executeJson(
      """{"select":["event_id",{"COUNT":"*"}],"from":"events",
         "where":[{"col":"user_id","op":"gte","val":5}],
         "group_by":["event_id"]}""")
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), GreaterThanOrEqual(user_id,5)"), plan)
    // only the referenced columns are read: no text-ish columns in ReadSchema
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("event_id") && readSchema.contains("user_id"), readSchema)
    assert(!readSchema.contains("props") && !readSchema.contains("event_type"), readSchema)
  }

  test("small dim join is a BroadcastHashJoin; fact-fact join is shuffle-based") {
    val o = graft.sources.ParquetNanos.read(spark, s"$sfDir/orders.parquet")
    val c = graft.sources.ParquetNanos.read(spark, s"$sfDir/customer.parquet")
      .withColumnRenamed("c_custkey", "o_custkey")
    val bPlan = physical(graft.operators.Relational.broadcastDimJoin(o, c, Seq("o_custkey")))
    assert(bPlan.contains("BroadcastHashJoin"), bPlan)

    val li = graft.sources.ParquetNanos.read(spark, s"$sfDir/lineitem.parquet")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    // disable auto-broadcast to prove the operator itself plans a shuffle join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sPlan = physical(graft.operators.Relational.shuffleJoin(li, o, Seq("o_orderkey")))
      assert(sPlan.contains("SortMergeJoin") || sPlan.contains("ShuffledHashJoin"), sPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ORDER BY + LIMIT plans as distributed top-k (TakeOrderedAndProject)") {
    val df = scanEngine.executeJson(
      """{"select":["event_id","user_id"],"from":"events",
         "order_by":[{"col":"event_id","dir":"asc"}],"limit":100}""")
    assert(physical(df).contains("TakeOrderedAndProject"), physical(df))
  }

  test("DSL aggregate runs inside WholeStageCodegen with partial aggregation") {
    val df = scanEngine.executeJson(
      """{"select":["event_type",{"SUM":"value"}],"from":"events",
         "group_by":["event_type"]}""")
    df.collect() // materialize the adaptive plan so the final stages show
    val plan = physical(df)
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact form
    assert(plan.contains("*(1)"), plan)
    // partial (map-side) aggregation before the exchange: the shuffle
    // moves pre-aggregated rows, not raw events
    assert(plan.contains("partial_sum"), plan)
    val finalPart = plan.split("== Initial Plan ==").head
    assert("HashAggregate".r.findAllIn(finalPart).size >= 2, plan)
  }

  test("routed rollup query never touches the fact table") {
    val eng = SparkEntry.preparedEngine(spark, sfDir)
    val df = eng.executeJson(
      """{"select":["event_type",{"SUM":"value"}],"from":"events",
         "group_by":["event_type"]}""")
    assert(eng.lastRoute.toString.contains("Routed"))
    // every relation the query reads, against the fact and rollup dirs
    // of the root the engine serves (a plan string truncates long
    // locations; the analyzed plan still names a cached rollup's files)
    val root = new java.io.File(SparkEntry.preparedRoot(spark, sfDir)).getCanonicalPath
    val roots = df.queryExecution.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.rootPaths
    }.flatten.map(p => new java.io.File(p.toUri.getPath).getCanonicalPath)
    assert(roots.nonEmpty && new java.io.File(root, "events").isDirectory, roots)
    assert(roots.forall(_.startsWith(s"$root/aggregates/")), roots)
    assert(!roots.exists(_.startsWith(s"$root/events")), roots)
  }

  /** A rollup route and a z route over the small prepared root, each
    * with an ORDER BY so the answer order is fixed. */
  private val rollupJson =
    """{"select":["event_type",{"COUNT":"*"},{"MAX":"value"}],"from":"events",
       "group_by":["event_type"],"order_by":[{"col":"event_type","dir":"asc"}]}"""
  private val zJson =
    """{"select":["event_type",{"COUNT":"*"},{"MIN":"value"}],"from":"events",
       "where":[{"col":"user_id","op":"between","val":[2,9]},
                {"col":"ts","op":"gte","val":"2024-01-08 00:00:00"},
                {"col":"ts","op":"lt","val":"2024-01-20 00:00:00"}],
       "group_by":["event_type"],"order_by":[{"col":"event_type","dir":"asc"}]}"""

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  test("a routed query is one Spark job: no Exchange in its plan, one job in runBatch") {
    val eng = SparkEntry.preparedEngine(spark, sfDir)
    Seq(rollupJson -> Engine.Routed("agg_type_day_value"),
        zJson -> Engine.ZRouted("z_user_ts")).foreach { case (json, route) =>
      val df = eng.executeJson(json)
      assert(eng.lastRoute == route, eng.lastRoute.toString)
      // the small read is one partition: no shuffle above it
      val got = rows(df)
      assert(!finalPlan(df).contains("Exchange"), finalPlan(df))
      assert(got.nonEmpty && got == rows(scanEngine.executeJson(json)))
    }
    // runBatch: one toLocalIterator job per query, nothing else (no
    // schema inference, no shuffle stage); the rollup cache was filled
    // by the collect above
    val (_, jobs) = Probe.jobsOf(spark)(
      eng.runBatch(s"[$rollupJson,$zJson]", "target/tmp/spec_one_job_batch"))
    assert(jobs == 2, s"$jobs Spark jobs for a batch of two routed queries")
  }

  test("Prepare.run over a small fixture reads its fact layout as one split") {
    // the layout write, then per rollup one job over the one-partition
    // fact re-read, the z-layout write, and the stats over the rollups;
    // a fact re-read in its file splits planned a multi-task scan and a
    // shuffle stage per rollup (16 jobs at sf0.001)
    val pinned = 11
    val raw = graft.sources.ParquetNanos.read(spark, s"$sfDir/events.parquet")
    val (_, jobs) = Probe.jobsOf(spark)(graft.prepare.Prepare.run(spark, raw,
      "target/tmp/spec_prepare_jobs", zorder = graft.prepare.Prepare.defaultZOrder))
    assert(jobs <= pinned, s"Prepare.run launched $jobs Spark jobs, pinned $pinned")
  }

  test("a rollup larger than one scan split keeps its exchange plan and its answer") {
    val root = SparkEntry.preparedRoot(spark, sfDir)
    val rollupBytes = new java.io.File(s"$root/aggregates/agg_type_day_value")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // either bound of the smallest scan split, set below the rollup
    Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes").foreach { key =>
      val prev = spark.conf.get(key)
      val eng = graft.prepare.Prepare.engine(spark, root, cacheResults = false)
      try {
        spark.conf.set(key, math.max(1L, rollupBytes / 2).toString)
        val df = eng.executeJson(rollupJson)
        assert(eng.lastRoute == Engine.Routed("agg_type_day_value"), eng.lastRoute.toString)
        val got = rows(df)
        assert(finalPlan(df).contains("Exchange"), s"$key: ${finalPlan(df)}")
        spark.conf.set(key, prev)
        assert(got == rows(scanEngine.executeJson(rollupJson)), key)
      } finally {
        spark.conf.set(key, prev)
        eng.invalidate()
      }
    }
  }

  test("golden queries route the way the reference's benchmark suite expects") {
    // the 5 reference benchmark queries (inputs.py:7-47, schema-mapped):
    // routable shapes hit a rollup, the user_id-band query (whose day
    // filter is not on the user rollup's keys) must fall back to a scan
    val eng = SparkEntry.preparedEngine(spark, sfDir)
    def routeOf(json: String): String = { eng.executeJson(json).collect(); eng.lastRoute.toString }
    val routed = Seq(
      // golden_q1: eq on a rollup key, day grouping
      """{"select":["day",{"SUM":"value"}],"from":"events",
         "where":[{"col":"event_type","op":"eq","val":"view"}],
         "group_by":["day"]}""",
      // golden_q4: (user_id, event_type) grouping
      """{"select":["user_id","event_type",{"COUNT":"*"}],"from":"events",
         "group_by":["user_id","event_type"]}""")
    routed.foreach { q =>
      assert(routeOf(q).contains("Routed"), s"expected Routed for $q")
    }
    // golden_q2's day-between filter is not on the user rollup's keys, so
    // it must NEVER hit a rollup; since the derived-day z routing
    // (ZOrderRouter.dayAsTsConds) its user-band x day-band shape rides
    // the z-order layout instead of a raw scan — strictly less I/O, with
    // scan parity pinned by the "z-order ROUTED" audits above
    val banded = """{"select":["user_id",{"SUM":"value"}],"from":"events",
       "where":[{"col":"event_type","op":"eq","val":"view"},
                {"col":"user_id","op":"between","val":[3,10]},
                {"col":"day","op":"between","val":["2024-01-10","2024-01-13"]}],
       "group_by":["user_id"]}"""
    assert(routeOf(banded) == "ZRouted(z_user_ts)",
      s"expected ZRouted(z_user_ts), got ${routeOf(banded)}")
    // row-level parity for THIS query shape (user-band x derived-day
    // band): the routed result must equal the same query compiled on
    // the plain fact scan — pins the dayAsTsConds mapping directly
    // instead of relying on the sibling z-order audits (round-15
    // advice #4)
    locally {
      val q = graft.dsl.QueryJson.parse(banded)
      val zrouted = eng.executeJson(banded).collect().map(_.toString).sorted
      val rawScan = graft.engine.Compiler.compile(spark, q, eng.catalog)
        .collect().map(_.toString).sorted
      assert(rawScan.nonEmpty, "vacuous parity: the banded query matched no rows")
      assert(zrouted.sameElements(rawScan),
        s"ZRouted(z_user_ts) result diverges from the raw scan: " +
          s"${zrouted.length} vs ${rawScan.length} rows")
    }

    // the alternate corpus (custom_queries_example.json:1-30, schema-
    // mapped): alt1 = golden_q1 + ORDER BY on the measure (still the
    // (type, day) cube); alt2 = no-WHERE COUNT(*) by type (coarser
    // re-aggregation of the same cube); alt3 = AVG by user band, which
    // must route to the (user, type) cube with AVG DECOMPOSED to
    // sum/cnt and the user_id band applied as a key-range residual on
    // the rollup — falling back to a fact scan here would mean the
    // router can't decompose AVG, the reference suite's key trick.
    val alt1Route = routeOf(
      """{"select":["day",{"SUM":"value"}],"from":"events",
         "where":[{"col":"event_type","op":"eq","val":"view"}],
         "group_by":["day"],
         "order_by":[{"col":"SUM(value)","dir":"desc"}]}""")
    assert(alt1Route.contains("Routed(agg_type_day_value)"), alt1Route)
    val alt2Route = routeOf(
      """{"select":["event_type",{"COUNT":"*"}],"from":"events",
         "group_by":["event_type"]}""")
    assert(alt2Route.contains("Routed(agg_type_day_value)"), alt2Route)
    val alt3Route = routeOf(
      """{"select":["user_id",{"AVG":"value"}],"from":"events",
         "where":[{"col":"event_type","op":"eq","val":"view"},
                  {"col":"user_id","op":"between","val":[3,9]}],
         "group_by":["user_id"],
         "order_by":[{"col":"AVG(value)","dir":"desc"}]}""")
    assert(alt3Route.contains("Routed(agg_user_type)"), alt3Route)
  }

  test("bucketed join plans with zero exchange on the join inputs") {
    val wh = "target/warehouse/spec"
    graft.prepare.Bucketing.writeBucketed(spark,
      graft.sources.ParquetNanos.read(spark, s"$sfDir/lineitem.parquet")
        .withColumnRenamed("l_orderkey", "o_orderkey"),
      "li_bkt_spec", "o_orderkey", 4, s"$wh/li_bkt")
    graft.prepare.Bucketing.writeBucketed(spark,
      graft.sources.ParquetNanos.read(spark, s"$sfDir/orders.parquet"),
      "ord_bkt_spec", "o_orderkey", 4, s"$wh/ord_bkt")
    // force the merge-join path (at sf0.001 Spark would broadcast the
    // tiny orders side, which also avoids exchanges but proves nothing
    // about bucketing)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = graft.prepare.Bucketing.bucketedJoin(
        spark, "li_bkt_spec", "ord_bkt_spec", "o_orderkey")
      // executed plan: exchanges only exist post-EnsureRequirements, so
      // asserting their absence on sparkPlan would be vacuous
      joined.collect()
      val plan = finalPlan(joined)
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      // and it returns the same rows as the plain join
      val expect = graft.sources.ParquetNanos.read(spark, s"$sfDir/lineitem.parquet")
        .withColumnRenamed("l_orderkey", "o_orderkey")
        .join(graft.sources.ParquetNanos.read(spark, s"$sfDir/orders.parquet"),
          Seq("o_orderkey")).count()
      assert(joined.count() == expect)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed-base merge/upsert: zero exchange on the base side") {
    // the 100 TB merge plan Cdc's scale notes promise: the snapshot is
    // bucketed on the merge key (bucket count == shuffle partitions), so
    // the full-outer join reads the base co-located and the only data
    // movement in the whole plan is the delta's own compaction shuffle
    // exchanges only exist post-EnsureRequirements, so audit the
    // EXECUTED (AQE-final) plan — sparkPlan never contains them
    val df = SparkEntry.queries("ext_merge_upsert_bucketed")(spark, sfDir)
    df.collect()
    val plan = finalPlan(df)
    assert(plan.contains("Bucketed: true"), plan)
    assert(plan.contains("ShuffledHashJoin") && plan.contains("FullOuter"), plan)
    // exactly one exchange in the whole executed plan, and it is the
    // delta's own compaction shuffle (keyed on o_custkey) — the bucketed
    // base is never re-shuffled
    val exch = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.size == 1,
      s"expected 1 exchange (delta compaction), got ${exch.size}:\n$plan")
    assert(exch.head.contains("o_custkey"),
      s"the single exchange is not the delta compaction:\n${exch.head}")
  }

  test("runtime Bloom-filter join pruning fires for a selectively-filtered build side") {
    // At 100 TB the win is big: a selective dim filter becomes a Bloom
    // filter evaluated INSIDE the fact scan, so non-joining fact rows die
    // before the shuffle instead of after it. Default thresholds require
    // a 10 GB application side; lower them so the plan shape is provable
    // on test data.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = graft.sources.ParquetNanos.read(spark, s"$sfDir/lineitem.parquet")
      val ord = graft.sources.ParquetNanos.read(spark, s"$sfDir/orders.parquet")
        .filter(col("o_totalprice") > 400000.0) // selective build side
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("l_orderkey"), col("o_totalprice"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n${plan.take(3000)}")
      assert(joined.count() > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("CDC compaction: map-side partial struct-MAX, exactly one shuffle") {
    val ev = graft.sources.ParquetNanos.read(spark, s"$sfDir/events.parquet")
    val df = graft.operators.Cdc.latestPerKeyAgg(ev, Seq("user_id"),
      Seq(col("ts"), col("event_id")), Seq("event_type", "value"))
    df.collect()
    val plan = finalPlan(df)
    // the whole point of the agg formulation vs a window: partial (map
    // side) aggregation collapses hot keys BEFORE the exchange
    assert(plan.contains("partial_max"), plan)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected exactly one shuffle, got $exchanges:\n$plan")
  }

  test("merge/upsert: one full-outer join; delta window partitioning is reused") {
    val cust = graft.sources.ParquetNanos.read(spark, s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
    val delta = graft.operators.Cdc.latestPerKey(
        graft.sources.ParquetNanos.read(spark, s"$sfDir/orders.parquet"),
        Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")))
      .select(col("o_custkey").as("key"), lit("U").as("op"),
        col("o_totalprice").as("new_bal"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val merged = graft.operators.Cdc.mergeUpsert(cust, delta, "key", "op", "D",
        Seq("bal" -> ("bal", "new_bal")))
      merged.collect()
      val plan = finalPlan(merged)
      assert(plan.contains("FullOuter"), plan)
      // the delta branch already shuffled by the key for its window;
      // the join must reuse that partitioning (alias keeps the attribute
      // id), so only TWO exchanges appear — one per input branch
      val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 2, s"expected <=2 shuffles, got $exchanges:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("substring-window dedup: digest-only shuffle, pruned corpus scan") {
    val wins = graft.operators.Dedup.substringDupWindows(
      graft.sources.ParquetNanos.read(spark, s"$sfDir/documents.parquet"),
      "doc_id", "text", w = 16)
    wins.collect()
    val plan = finalPlan(wins)
    // corpus scan reads only (doc_id, text) — never lang/source/n_chars
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("n_chars") && !readSchema.contains("source"), readSchema)
    // aggregation is two-phase: a map-side partial runs BEFORE the
    // exchange, so every shuffle carries longs (doc_id/pos window
    // routing, rolling keys k) or 16-byte md5 digests (fp) plus partial
    // counts — never token arrays or window text
    assert(plan.contains("partial_"), plan)
    val exch = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.nonEmpty &&
      exch.forall(l => l.contains("fp") || l.contains("k#") ||
        l.contains("doc_id")),
      exch.mkString("\n"))
    assert(!exch.exists(l => l.contains("win") || l.contains("text") ||
      l.contains("t#")), exch.mkString("\n"))
    // the native window-key expression must evaluate ONCE, in the
    // projection — never inside a scan's DataFilters (PushDownPredicates
    // substitutes computed-column filters below the projection and
    // re-evaluates the expression per document: the CLAUDE.md trap this
    // operator hit and removed in round 13 — posexplode drops empty
    // arrays, so no size filter is needed at all)
    val scanFilters = plan.linesIterator
      .filter(l => l.contains("DataFilters") || l.contains("PushedFilters"))
    assert(!scanFilters.exists(l => l.toLowerCase.contains("substrwindowkeys")),
      scanFilters.mkString("\n"))
    // and the full-corpus token persist is gone: no InMemoryTableScan's
    // OUTPUT list may carry a token-array attribute (`t#N`). Checked on
    // the cache lines themselves — the old form
    // (`!contains("InMemoryTableScan [doc_id") || !contains("t#")`) was
    // vacuously true here (sf0.01 has no replicas, so the pre-pass is
    // off and no cache exists) and would have FALSE-FAILED had the
    // pre-pass activated: `t#` matches the scan attribute `text#N`
    // anywhere in the plan, and the legitimate narrow (doc_id, n_g) rep
    // cache matches the `[doc_id` prefix (round-13 advice; the
    // vacuous-audit class from the round-12 lesson)
    def assertNarrowCaches(p: String): Unit = {
      val cacheLines = p.linesIterator
        .filter(_.contains("InMemoryTableScan")).toSeq
      val tokenArrayAttr = """InMemoryTableScan \[[^\]]*\bt#""".r
      assert(!cacheLines.exists(l => tokenArrayAttr.findFirstIn(l).isDefined),
        cacheLines.mkString("\n"))
    }
    assertNarrowCaches(plan)
    // exercise the pre-pass branch too (off above: sf0.01 has no exact
    // replicas) — with replicaGate=Some(true) the pooled rep table IS
    // cached, and its InMemoryTableScan must still be (doc_id, n_g)-
    // narrow, never a token or text array
    val winsPre = graft.operators.Dedup.substringDupWindows(
      graft.sources.ParquetNanos.read(spark, s"$sfDir/documents.parquet"),
      "doc_id", "text", w = 16, replicaGate = Some(true))
    winsPre.collect()
    val prePlan = finalPlan(winsPre)
    assert(prePlan.contains("InMemoryTableScan"),
      s"replicaGate=Some(true) should cache the rep table:\n$prePlan")
    assertNarrowCaches(prePlan)
  }

  test("curation funnel: id-set joins broadcast, anti-join included") {
    val df = SparkEntry.queries("pipeline_curate_pack")(spark, sfDir)
    df.collect()
    val plan = finalPlan(df)
    // the pass-id and drop-id sets are tiny relative to the corpus —
    // both gates must be broadcast joins (no corpus shuffle to filter),
    // with the near-dup removal as an ANTI join
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("LeftAnti"), plan)
  }

  test("sequence packing: no single-reducer window — every Window/Sort is hash-sharded") {
    // the scale contract of ext_pack_sequences / pipeline_curate_pack:
    // the running-sum window must partition by (lang, shard), never by
    // lang alone (lang cardinality is tiny — and the flagship filters to
    // ONE language, which would funnel the kept corpus through a single
    // reducer at 100 TB)
    // ext_shuffle_order's whole reason to exist is the same contract:
    // the reproducible permutation must be a SHARDED row_number, never
    // a global ORDER BY funneling every row through one reducer
    for (name <- Seq("ext_pack_sequences", "pipeline_curate_pack",
                     "ext_shuffle_order")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val plan = finalPlan(df)
      val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
      assert(windowLines.nonEmpty, s"$name: no Window node found:\n$plan")
      assert(windowLines.forall(l => l.contains("shard")),
        s"$name: Window not partitioned by shard:\n${windowLines.mkString("\n")}")
      // and the partitioning exchange feeding it keys on the shard too
      val exch = plan.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exch.exists(_.contains("shard")),
        s"$name: no shard-keyed exchange:\n${exch.mkString("\n")}")
    }
  }

  test("vocabulary normalizations run as broadcast totals, not empty-key windows") {
    // text_unigram_logprob / text_source_divergence: the corpus total
    // must be a 1-row aggregate joined back (broadcast), never a
    // Window.partitionBy() — an empty-key window moves the whole |vocab|
    // table (billions of rows at web scale) through one partition
    for (name <- Seq("text_unigram_logprob", "text_source_divergence")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val plan = finalPlan(df)
      assert(!plan.contains("Window"),
        s"$name: unexpected Window node (should be agg + broadcast join):\n$plan")
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastHashJoin"),
        s"$name: no broadcast join for the totals:\n$plan")
    }
  }

  test("unbounded |vocab|-keyed joins carry no broadcast hint (AQE decides)") {
    // text_unigram_logprob / text_source_divergence: a whitespace-token
    // web vocabulary (typos, URLs) is 10^8-10^9 rows — a broadcast()
    // hint on it OOMs the driver before the plan runs. Only the 1-row /
    // |sources|-row totals may be hinted; the token-keyed joins must be
    // unhinted so AQE broadcasts only when the runtime size fits.
    for (name <- Seq("text_unigram_logprob", "text_source_divergence",
        "text_bigram_logprob")) {
      val opt = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.optimizedPlan.toString
      val hinted = opt.linesIterator.filter(l =>
        l.contains("Join") && l.contains("token") &&
          l.contains("strategy=broadcast")).toSeq
      assert(hinted.isEmpty,
        s"$name: broadcast hint on a |vocab|-keyed join:\n${hinted.mkString("\n")}")
    }
  }

  test("the bounded all-pairs embedding baseline is the ONLY unhinted cartesian") {
    // Global audit: an unhinted `Join Cross` is the canonical 100 TB
    // scale-killer plan shape. The single permitted instance is
    // dedup_embedding_cosine — the O(N^2) recall-verification baseline,
    // whose input Dedup.embeddingCosinePairs counts eagerly and caps.
    // Hinted crosses (broadcast 1-row totals, the ext_cross_join dim
    // grid) carry strategy=broadcast and are keyed out. Streaming
    // entries are excluded only because constructing them executes the
    // stream; their joins are watermark-keyed and tested in their specs.
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("stream_"))
      .flatMap { name =>
        val opt = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.optimizedPlan.toString
        val crosses = opt.linesIterator.filter(l =>
          l.contains("Join Cross") && !l.contains("strategy=broadcast")).toSeq
        if (crosses.isEmpty) Nil else Seq(name -> crosses)
      }
    assert(offenders.map(_._1) == Seq("dedup_embedding_cosine"),
      offenders.map { case (n, ls) => s"$n:\n${ls.mkString("\n")}" }
        .mkString("\n\n"))
  }

  test("banded embedding LSH never plans a cartesian product") {
    // the whole point of the scale path vs dedup_embedding_cosine: the
    // candidate join is keyed on (band, bucket) — a hash join — while
    // the baseline is an explicit crossJoin
    val df = SparkEntry.queries("dedup_embedding_lsh")(spark, sfDir)
    df.collect()
    val plan = finalPlan(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan)
    // the candidate join is KEYED on (band, bucket) — a hash join (AQE
    // may broadcast one side at tiny scale; keyed either way)
    assert(plan.linesIterator.exists(l =>
      (l.contains("HashJoin") || l.contains("SortMergeJoin")) &&
        l.contains("bucket")), plan)
  }

  test("PQ-ADC is one plan: no per-query union branches") {
    // pqTopK/ivfPqTopK must scale in |queries| via the broadcast query
    // side, not by unioning one plan branch per query
    for (name <- Seq("ann_pq_topk", "ann_ivfpq_topk")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val plan = finalPlan(df)
      assert(!plan.contains("Union"), s"$name plans a per-query Union:\n$plan")
      assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
        s"$name: query side not broadcast:\n$plan")
    }
  }

  test("tpch_q21 scans lineitem and orders exactly once (single-pass profile)") {
    // the EXISTS/NOT-EXISTS decomposition folds into a two-level hash
    // aggregate over ONE lineitem-orders join; the old aggregate-join-back
    // shape built the whole join subtree twice and its branches' differing
    // pushdown filters kept ReuseExchange from deduping them
    // static physical plan: at sf0.001 the result is empty and AQE
    // collapses the executed plan to EmptyRelation, hiding the scans
    val plan = SparkEntry.queries("tpch_q21")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    for (t <- Seq("lineitem", "orders")) {
      val scans = plan.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains(s"$t.parquet"))
      assert(scans == 1, s"$t scanned $scans times:\n$plan")
    }
    // and the per-order profile aggregates run on the join's partitioning:
    // the only hash exchanges are the two join inputs plus the final
    // s_name aggregation. Exchanges only exist post-EnsureRequirements,
    // so this part runs the EXECUTED plan — and against sf0.01, where
    // q21 returns rows (3 at that scale), because at sf0.001 the empty
    // result lets AQE collapse the plan and the bound would be vacuous
    // (the pre-round-12 form counted exchanges on sparkPlan, where the
    // count is zero by construction).
    val df01 = SparkEntry.queries("tpch_q21")(spark, "/root/testdata/sf0.01")
    assert(df01.collect().nonEmpty, "q21 empty at sf0.01 — exchange audit vacuous")
    val exch = finalPlan(df01).linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.size <= 3, s"expected <=3 shuffles:\n${exch.mkString("\n")}")
  }

  test("fact-fact joins plan as shuffled hash joins, never fact broadcasts") {
    // Round-11 lesson from the 10x fixture: unhinted, SMJ sorts the
    // full lineitem probe side (q3/q5/q10), and AQE's compressed-size
    // estimate promotes the WHOLE orders table to a broadcast hash
    // relation (q9/q13/join_shuffle_fact) — tolerable at 10x, fatal at
    // 100 TB. The shuffle_hash hints pin the exchange-partitioned plan;
    // this audit pins the hints. Static plan (pre-AQE): the hint's
    // effect is visible there, and hinted strategies win regardless of
    // what runtime sizes would suggest.
    // Audited by WALKING the static plan tree, not by string offsets:
    // BroadcastExchange nodes are only inserted by EnsureRequirements
    // into the executed plan, so a grep for them over sparkPlan can
    // never fire (round-12 ADVICE — the old form was vacuous). The
    // strategy decision itself lives in the BroadcastHashJoin node's
    // build side, which the static plan does contain.
    import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val facts = Seq("orders.parquet", "lineitem.parquet", "customer.parquet")
    for (q <- Seq("tpch_q3", "tpch_q5", "tpch_q9", "tpch_q10", "tpch_q13",
        "join_shuffle_fact")) {
      val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.sparkPlan
      assert(plan.toString.contains("ShuffledHashJoin"), s"$q lost its SHJ:\n$plan")
      // no broadcast build side may contain a fact-table scan
      // (orders/lineitem/customer); dims (nation, region, part, the
      // one-nation supplier subset) may broadcast
      val buildSides = plan.collect {
        case b: BroadcastHashJoinExec =>
          b.buildSide match { case BuildLeft => b.left; case BuildRight => b.right }
        case b: BroadcastNestedLoopJoinExec =>
          b.buildSide match { case BuildLeft => b.left; case BuildRight => b.right }
      }
      val broadcastFactScans = buildSides.flatMap(_.collect {
        case f: FileSourceScanExec if facts.exists(f.toString.contains) => f.toString
      })
      assert(broadcastFactScans.isEmpty,
        s"$q broadcasts a fact scan:\n${broadcastFactScans.mkString("\n")}\n$plan")
    }
  }

  test("funnel: one fact scan + one wide shuffle (fused groupBy form)") {
    // round-13 fix of r12's only `weak` entry: the staged 3-filter/2-join
    // funnel paid three events scans and four keyed exchanges; the fused
    // form collects per-type ts structures in ONE groupBy(user_id), so
    // the executed plan carries exactly one hash exchange (the user_id
    // shuffle) ahead of the 1-row global-count SinglePartition exchange.
    val df = SparkEntry.queries("ext_funnel")(spark, sfDir)
    df.collect()
    val plan = finalPlan(df)
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("events.parquet"))
    assert(scans == 1, s"events scanned $scans times:\n$plan")
    val exch = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.size == 1 && exch.head.contains("user_id"),
      s"expected exactly one user_id exchange:\n${exch.mkString("\n")}\n$plan")
    // and the event-type membership filter reaches the parquet scan
    assert(plan.contains("In(event_type"), plan)
  }

  test("dedup explode path carries no vacuous inferred generate-filter") {
    val pairs = graft.operators.Dedup.minhashPairs(
      graft.sources.ParquetNanos.read(spark, s"$sfDir/documents.parquet"),
      "doc_id", "text", 32, 2, 0.5)
    val opt = pairs.queryExecution.optimizedPlan.toString
    // the pathological shape (InferFiltersFromGenerate) clones the
    // tokenize->shingle subtree into a vacuous `Filter (size(...) > 0)`
    // ahead of every Generate — the tokenizer must never appear inside a
    // Filter node. (It legitimately appears once per plan BRANCH that
    // reads the signature table; callers with more than one dedup pass
    // persist it via the *FromSigs contract.)
    val filterLines = opt.linesIterator.filter(_.trim.startsWith("Filter "))
    val vacuous = filterLines.filter(_.contains("split(lower(text")).toSeq
    assert(vacuous.isEmpty, s"tokenizer inside Filter:\n${vacuous.mkString("\n").take(2000)}")
  }

  test("stop-profile passes derive profiles join-free: no join on the Zipf-head key at all") {
    // round-18 1M-family rung: a g-keyed shuffle of the above-cap
    // posting lists funneled 30M+ inv rows onto ~30 Zipf-head keys and
    // dragged the per-id partial agg into the skewed stage (148.9 s /
    // 80.5 s max task; 8.8 s / 2.1 s after broadcasting the vocab).
    // Round 20 subsumed the broadcast too: the stop profile is a FILTER
    // (c > dfCap) over the persisted df-CLASSIFIED inverted index
    // (rep_inverted: id, g, c), so no join of ANY strategy touches the
    // LONG shingle key `g` before the per-id aggregation (the set-digest
    // join also uses a column named g, but STRING-typed — the type
    // disambiguates; the blocked entry's rare-candidate self-join is a
    // different entry). Static plan carries the strategy decision
    // (round-12 lesson: walk join nodes, never grep sparkPlan).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.types.LongType
    def longG(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.size == 1 && keys.head.dataType == LongType &&
        keys.head.references.exists(_.name == "g")
    // intermediates sit under pooledPersist, so joins hide inside
    // InMemoryRelation subtrees — recurse through cachedPlan or the
    // walk is vacuous (the round-12 lesson's cached-relation variant)
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(nodes)) ++ (p match {
        case i: InMemoryTableScanExec => nodes(i.relation.cachedPlan)
        // cached relations compile eagerly with AQE: their cachedPlan is
        // an AdaptiveSparkPlanExec whose physical tree is NOT in children
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          nodes(a.executedPlan)
        case _ => Nil
      })
    for (q <- Seq("dedup_stop_profile", "dedup_stop_profile_families")) {
      val qe = SparkEntry.queries(q)(spark, sfDir).queryExecution
      val all = nodes(qe.sparkPlan)
      val gJoins = all.collect {
        case b: BroadcastHashJoinExec if longG(b.leftKeys) || longG(b.rightKeys) => b
        case s: ShuffledHashJoinExec if longG(s.leftKeys) || longG(s.rightKeys) => s
        case s: SortMergeJoinExec if longG(s.leftKeys) || longG(s.rightKeys) => s }
      assert(gJoins.isEmpty,
        s"$q: a join re-appeared on the long shingle key g (the stop " +
          s"profile must be a filter over the classified index) —\n" +
          gJoins.mkString("\n"))
      // positive evidence of the new shape: the pass reads the persisted
      // classified inverted index, not a per-invocation rebuild
      // (plan.toString truncates scan locations — inspect the scans)
      val scanPaths = all.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.mkString(",")
      }
      assert(scanPaths.exists(_.contains("rep_inverted")),
        s"$q: no scan of the rep_inverted artifact — scans:\n" +
          scanPaths.mkString("\n"))
    }
  }
}
