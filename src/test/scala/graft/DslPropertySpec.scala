package graft

import org.scalacheck.{Gen, Prop, Properties}

import org.apache.spark.sql.DataFrame

import graft.catalyst.AggRewriteRule
import graft.dsl.QueryIR.{Cond, Gt, ILit, Lt, Query}
import graft.dsl.QueryJson
import graft.engine.{Compiler, Engine}
import graft.prepare.Prepare
import graft.schema.DirCatalog

/** Property-based differential testing: random queries within the closed
  * DSL grammar, executed through the DSL->Compiler path AND as equivalent
  * Spark SQL text over the same derived view; results must match as
  * multisets. This is the check the reference could never run (its only
  * oracle was 5 fixed queries) — SURVEY §5 test plan item (3). */
object DslPropertySpec extends Properties("dsl-vs-sql") {

  private lazy val spark = SparkSpecBase.spark
  private lazy val engine = {
    val e = new Engine(spark, DirCatalog(SparkSpecBase.sfDir), Nil, cacheResults = false)
    DirCatalog(SparkSpecBase.sfDir).table(spark, "events")
      .createOrReplaceTempView("ev_prop")
    e
  }

  // ---- grammar -----------------------------------------------------------

  private val types = Seq("click", "view", "purchase", "error", "signup")
  private val dims = Seq("event_type", "day", "week", "user_id")

  /** (dsl-json-fragment, sql-fragment) pairs. */
  private val genCond: Gen[(String, String)] = Gen.oneOf(
    Gen.oneOf(types).map(t =>
      (s"""{"col":"event_type","op":"eq","val":"$t"}""", s"event_type = '$t'")),
    Gen.oneOf(types).map(t =>
      (s"""{"col":"event_type","op":"neq","val":"$t"}""", s"event_type <> '$t'")),
    Gen.someOf(types).suchThat(_.nonEmpty).map { ts =>
      (s"""{"col":"event_type","op":"in","val":[${ts.map("\"" + _ + "\"").mkString(",")}]}""",
        s"event_type IN (${ts.map("'" + _ + "'").mkString(",")})")
    },
    for (a <- Gen.choose(0, 400); b <- Gen.choose(0, 400)) yield {
      val (lo, hi) = (math.min(a, b).toDouble, math.max(a, b).toDouble)
      (s"""{"col":"value","op":"between","val":[$lo,$hi]}""",
        s"value BETWEEN $lo AND $hi")
    },
    Gen.choose(0, 500).map(v =>
      (s"""{"col":"value","op":"gt","val":$v}""", s"value > $v")),
    Gen.choose(0, 1500).map(v =>
      (s"""{"col":"user_id","op":"lt","val":$v}""", s"user_id < $v")),
    Gen.choose(1, 30).map(d =>
      (f"""{"col":"day","op":"eq","val":"2024-01-$d%02d"}""",
        f"day = DATE '2024-01-$d%02d'")),
    for (a <- Gen.choose(1, 30); b <- Gen.choose(1, 30)) yield {
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      (f"""{"col":"day","op":"between","val":["2024-01-$lo%02d","2024-01-$hi%02d"]}""",
        f"day BETWEEN DATE '2024-01-$lo%02d' AND DATE '2024-01-$hi%02d'")
    })

  /** Random OR/AND/NOT predicate trees (the DSL extension) as
    * (json, sql) pairs, bottoming out in [[genCond]] leaves. */
  private def genPred(depth: Int): Gen[(String, String)] =
    if (depth <= 0) genCond
    else Gen.frequency(
      3 -> genCond,
      2 -> Gen.listOfN(2, genPred(depth - 1)).map(ps =>
        (s"""{"or":[${ps.map(_._1).mkString(",")}]}""",
          ps.map(_._2).mkString("(", " OR ", ")"))),
      1 -> Gen.listOfN(2, genPred(depth - 1)).map(ps =>
        (s"""{"and":[${ps.map(_._1).mkString(",")}]}""",
          ps.map(_._2).mkString("(", " AND ", ")"))),
      1 -> genPred(depth - 1).map(p =>
        (s"""{"not":${p._1}}""", s"(NOT ${p._2})")))

  /** (dsl-select-item, dsl-output-name, sql-select-expr). */
  private val aggs: Seq[(String, String, String)] = Seq(
    ("""{"SUM":"value"}""", "sum(value)", "sum(value)"),
    ("""{"AVG":"value"}""", "avg(value)", "avg(value)"),
    ("""{"MIN":"value"}""", "min(value)", "min(value)"),
    ("""{"MAX":"value"}""", "max(value)", "max(value)"),
    ("""{"COUNT":"*"}""", "count(*)", "count(*)"),
    ("""{"COUNT":"value"}""", "count(value)", "count(value)"))

  private case class Q(json: String, sql: String, outNames: Seq[String])

  private val genQuery: Gen[Q] = for {
    groupCols <- Gen.someOf(dims)
    nAggs <- Gen.choose(1, 3)
    aggPicks <- Gen.pick(nAggs, aggs)
    nConds <- Gen.choose(0, 3)
    conds <- Gen.listOfN(nConds, genCond)
    withOrder <- Gen.oneOf(true, false)
    withLimit <- Gen.oneOf(true, false)
  } yield {
    val sel = groupCols.map("\"" + _ + "\"") ++ aggPicks.map(_._1)
    val outNames = groupCols.toSeq ++ aggPicks.map(_._2)
    val sqlSel = (groupCols.toSeq ++
      aggPicks.map(a => s"${a._3} AS `${a._2}`")).mkString(", ")
    val whereJson =
      if (conds.isEmpty) ""
      else s""","where":[${conds.map(_._1).mkString(",")}]"""
    val whereSql =
      if (conds.isEmpty) "" else " WHERE " + conds.map(_._2).mkString(" AND ")
    val groupJson =
      if (groupCols.isEmpty) ""
      else s""","group_by":[${groupCols.map("\"" + _ + "\"").mkString(",")}]"""
    val groupSql =
      if (groupCols.isEmpty) "" else " GROUP BY " + groupCols.mkString(", ")
    // ORDER BY all output columns (total order on the multiset) makes a
    // LIMIT deterministic; keys referenced in UPPERCASE to exercise the
    // case-insensitive resolution path
    val orderJson =
      if (!withOrder) ""
      else s""","order_by":[${outNames.map(n =>
        s"""{"col":"${n.toUpperCase}","dir":"asc"}""").mkString(",")}]"""
    val orderSql =
      if (!withOrder) "" else " ORDER BY " + outNames.map(n => s"`$n`").mkString(", ")
    val limitJson = if (withOrder && withLimit) ""","limit":50""" else ""
    val limitSql = if (withOrder && withLimit) " LIMIT 50" else ""
    Q(
      s"""{"select":[${sel.mkString(",")}],"from":"events"$whereJson$groupJson$orderJson$limitJson}""",
      s"SELECT $sqlSel FROM ev_prop$whereSql$groupSql$orderSql$limitSql",
      outNames)
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map { r =>
      r.toSeq.map {
        case d: Double => f"$d%.4f"
        case null => "NULL"
        case v => v.toString
      }.mkString("")
    }.toSeq.sorted

  property("engine result equals Spark SQL result") = Prop.forAll(genQuery) { q =>
    engine // force view registration
    val viaDsl = canon(engine.executeJson(q.json))
    val viaSql = canon(spark.sql(q.sql))
    val ok = viaDsl == viaSql
    if (!ok) {
      println(s"MISMATCH\n  json=${q.json}\n  sql=${q.sql}\n  " +
        s"dsl=${viaDsl.take(3)}\n  sql=${viaSql.take(3)}")
    }
    ok
  }

  property("engine equals Spark SQL under OR/AND/NOT predicate trees") =
    Prop.forAll(genPred(2)) { case (predJson, predSql) =>
      engine // force view registration
      val viaDsl = canon(engine.executeJson(
        s"""{"select":["event_type",{"COUNT":"*"}],"from":"events",
            "where":[$predJson],"group_by":["event_type"]}"""))
      val viaSql = canon(spark.sql(
        s"SELECT event_type, count(*) AS `count(*)` FROM ev_prop " +
          s"WHERE $predSql GROUP BY event_type"))
      val ok = viaDsl == viaSql
      if (!ok) println(s"TREE-MISMATCH\n  json=$predJson\n  sql=$predSql")
      ok
    }

  // ---- routed-vs-scanned: any query answerable from a rollup must give
  // ---- the same answer through the router as through the fact scan

  private val genRoutable: Gen[String] = for {
    groupCols <- Gen.someOf(Seq("event_type", "day"))
    nAggs <- Gen.choose(1, 3)
    aggPicks <- Gen.pick(nAggs, aggs)
    nConds <- Gen.choose(0, 2)
    conds <- Gen.listOfN(nConds, Gen.oneOf(
      Gen.oneOf(types).map(t => s"""{"col":"event_type","op":"eq","val":"$t"}"""),
      Gen.choose(1, 30).map(d => f"""{"col":"day","op":"eq","val":"2024-01-$d%02d"}"""),
      for (a <- Gen.choose(1, 30); b <- Gen.choose(1, 30)) yield {
        val (lo, hi) = (math.min(a, b), math.max(a, b))
        f"""{"col":"day","op":"between","val":["2024-01-$lo%02d","2024-01-$hi%02d"]}"""
      }))
  } yield {
    val sel = groupCols.map("\"" + _ + "\"") ++ aggPicks.map(_._1)
    val whereJson = if (conds.isEmpty) "" else s""","where":[${conds.mkString(",")}]"""
    val groupJson = if (groupCols.isEmpty) ""
      else s""","group_by":[${groupCols.map("\"" + _ + "\"").mkString(",")}]"""
    s"""{"select":[${sel.mkString(",")}],"from":"events"$whereJson$groupJson}"""
  }

  /** Rows keyed by their non-double fields (the unique group keys);
    * doubles compared with relative tolerance — re-aggregation legally
    * re-associates floating-point sums, so bit-equality is not the
    * contract (1e-9 relative is). */
  private def tolerantEqual(a: DataFrame, b: DataFrame): Boolean = {
    def keyed(df: DataFrame): Map[String, Seq[Any]] =
      df.collect().map { r =>
        val cells = r.toSeq
        val key = cells.filterNot(_.isInstanceOf[Double]).map(String.valueOf).mkString("|")
        key -> cells
      }.toMap
    val (ka, kb) = (keyed(a), keyed(b))
    ka.keySet == kb.keySet && ka.forall { case (k, cells) =>
      cells.zip(kb(k)).forall {
        case (x: Double, y: Double) =>
          (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
        case (x, y) => String.valueOf(x) == String.valueOf(y)
      }
    }
  }

  property("routed result equals scanned result") = Prop.forAll(genRoutable) { json =>
    val prepared = SparkEntry.preparedEngine(spark, SparkSpecBase.sfDir)
    val routed = prepared.executeJson(json)
    val didRoute = prepared.lastRoute.toString.contains("Routed")
    val scanned = engine.executeJson(json)
    val ok = didRoute && tolerantEqual(routed, scanned)
    if (!ok) println(s"ROUTE-MISMATCH route=${prepared.lastRoute}\n  json=$json")
    ok
  }

  // ---- the two front ends agree: the same query built with the DataFrame
  // ---- API over the prepared fact parquet, with the Catalyst rule
  // ---- configured, is rewritten exactly when the DSL routes

  /** The session's rule pointed at the prepared layout (its registry
    * counts the rewrites), and its fact table read straight from
    * parquet (no catalog, no derived columns). */
  private lazy val ruleAndFact: (AggRewriteRule.Registry, DataFrame) = {
    val root = SparkEntry.preparedRoot(spark, SparkSpecBase.sfDir)
    val reg = AggRewriteRule.configure(spark, s"$root/events",
      Prepare.defaultAggregates(), name => spark.read.parquet(s"$root/aggregates/$name"))
    (reg, spark.read.parquet(s"$root/events"))
  }

  /** A routable query, half the time with one residual on a non-key
    * column, so both front ends must also agree on refusing. */
  private val genAgreement: Gen[Query] = for {
    json <- genRoutable
    offKey <- Gen.option(Gen.oneOf(
      Gen.choose(0, 500).map(v => Cond("value", Gt, Seq(ILit(v.toLong)))),
      Gen.choose(0, 1500).map(v => Cond("user_id", Lt, Seq(ILit(v.toLong))))))
  } yield {
    val q = QueryJson.parse(json)
    q.copy(where = q.where ++ offKey)
  }

  /** Queries whose contradictory filter (e.g. two different `event_type`
    * equalities) Catalyst folds to an empty relation: no fact aggregate
    * is left to rewrite, so only their answers are compared. */
  private val folded = new java.util.concurrent.atomic.AtomicInteger

  property("Catalyst rule fires exactly when the DSL routes; both equal the scan") =
    Prop.forAll(genAgreement) { q =>
      val prepared = SparkEntry.preparedEngine(spark, SparkSpecBase.sfDir)
      val routed = prepared.execute(q)
      val didRoute = prepared.lastRoute.toString.contains("Routed")
      val (reg, fact) = ruleAndFact
      val before = reg.fired
      val viaApi = Compiler.compileOn(spark, q, fact)
      val isFolded = viaApi.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }.isEmpty
      val fired = reg.fired > before // read after optimization ran the rule
      if (isFolded) println(s"CATALYST-FOLDED #${folded.incrementAndGet()} query=$q")
      val scanned = engine.execute(q)
      val ok = (isFolded || fired == didRoute) &&
        tolerantEqual(viaApi, scanned) && tolerantEqual(routed, scanned)
      if (!ok) println(s"FRONT-END-MISMATCH fired=$fired route=${prepared.lastRoute}" +
        s" folded=$isFolded\n  query=$q")
      ok
    }
}
