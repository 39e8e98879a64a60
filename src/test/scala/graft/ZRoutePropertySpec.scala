package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import org.apache.spark.sql.functions.{col, max, min}

import graft.engine.Engine
import graft.schema.DirCatalog

/** Property-based differential testing of the z-order route: random
  * flat-conjunction DSL queries whose WHERE bounds both layout
  * dimensions in random shapes (Eq/Between/In/cmp on user_id; ts
  * timestamps, derived-day dates, or a mix on the time side, plus
  * unrelated extra predicates), executed through the prepared engine
  * (which MUST choose the z route) AND through the plain scan engine —
  * identical row sets required. This is the routed-vs-scanned net
  * [[DslPropertySpec]] provides for the rollup router, extended to the
  * round-15 z layout: any unsound bound mapping (an off-by-one on a
  * day edge, a floor on the wrong side) surfaces as a missing row. */
object ZRoutePropertySpec extends Properties("zroute-vs-scan") {

  private lazy val spark = SparkSpecBase.spark
  private lazy val zEngine =
    SparkEntry.preparedEngine(spark, SparkSpecBase.sfDir)
  private lazy val scanEngine =
    new Engine(spark, DirCatalog(SparkSpecBase.sfDir), Nil, cacheResults = false)

  /** The fixture's own `user_id` range: bounds drawn inside it select
    * rows, so the parity check compares answers that are not all empty. */
  private lazy val userRange: (Long, Long) = {
    val r = DirCatalog(SparkSpecBase.sfDir).table(spark, "events")
      .agg(min(col("user_id")).cast("long"), max(col("user_id")).cast("long")).head()
    (r.getLong(0), r.getLong(1))
  }

  // --- generators: every case BOUNDS its dimension (so routing is
  // --- guaranteed and the parity check is never vacuous)

  private lazy val genXConds: Gen[Seq[String]] = {
    val (lo, hi) = userRange
    val user = Gen.choose(lo, hi)
    Gen.oneOf(
      user.map(v => Seq(s"""{"col":"user_id","op":"eq","val":$v}""")),
      for (a <- user; b <- user) yield {
        val (l, h) = (math.min(a, b), math.max(a, b))
        Seq(s"""{"col":"user_id","op":"between","val":[$l,$h]}""")
      },
      for (a <- user; span <- Gen.choose(0L, hi - lo)) yield Seq(
        s"""{"col":"user_id","op":"gte","val":$a}""",
        s"""{"col":"user_id","op":"lte","val":${a + span}}"""),
      Gen.nonEmptyListOf(user).map(vs =>
        Seq(s"""{"col":"user_id","op":"in","val":[${vs.distinct.mkString(",")}]}""")))
  }

  private def tsLit(day: Int, h: Int, m: Int, s: Int): String =
    f"2024-01-$day%02d $h%02d:$m%02d:$s%02d"

  private val genTimeConds: Gen[Seq[String]] = Gen.oneOf(
    // raw timestamps, arbitrary second edges
    for {
      d1 <- Gen.choose(1, 28); d2 <- Gen.choose(1, 28)
      h1 <- Gen.choose(0, 23); s1 <- Gen.choose(0, 59)
    } yield {
      val (lo, hi) = (math.min(d1, d2), math.max(d1, d2) + 1)
      Seq(
        s"""{"col":"ts","op":"gte","val":"${tsLit(lo, h1, 0, s1)}"}""",
        s"""{"col":"ts","op":"lt","val":"${tsLit(hi, 23, 59, 59)}"}""")
    },
    // derived-day bounds
    for (d1 <- Gen.choose(1, 30); d2 <- Gen.choose(1, 30)) yield {
      val (lo, hi) = (math.min(d1, d2), math.max(d1, d2))
      Seq(f"""{"col":"day","op":"between","val":["2024-01-$lo%02d","2024-01-$hi%02d"]}""")
    },
    Gen.choose(1, 30).map(d =>
      Seq(f"""{"col":"day","op":"eq","val":"2024-01-$d%02d"}""")),
    // a MIX: day lower bound, ts upper bound — both tighten one interval
    // (d2 >= d1 keeps the box consistent; a contradictory box refuses to
    // route by design, which is covered by the one-dim plan-audit test)
    for (d1 <- Gen.choose(1, 15); span <- Gen.choose(0, 13)) yield Seq(
      f"""{"col":"day","op":"gte","val":"2024-01-$d1%02d"}""",
      s"""{"col":"ts","op":"lte","val":"${tsLit(d1 + span, 12, 30, 0)}"}"""))

  private val genExtra: Gen[Seq[String]] = Gen.oneOf(
    Gen.const(Seq.empty[String]),
    Gen.oneOf(Seq("click", "view", "purchase", "error", "signup")).map(t =>
      Seq(s"""{"col":"event_type","op":"eq","val":"$t"}""")),
    Gen.choose(0, 400).map(v =>
      Seq(s"""{"col":"value","op":"gt","val":$v}""")))

  /** The run's case count, and how many of its cases compared non-empty
    * answers: parity over empty answers passes whatever the route drops. */
  private val cases, nonEmpty = new AtomicInteger
  @volatile private var runLength = Test.Parameters.default.minSuccessfulTests
  override def overrideParameters(p: Test.Parameters): Test.Parameters = {
    runLength = p.minSuccessfulTests
    p
  }
  /** The least share of non-empty cases a run may have: a run over the
    * spec fixture measured 0.81 (81 of 100), about five standard
    * deviations above this. */
  private val NonEmptyFloor = 0.6

  property("z-routed rows == scanned rows for random 2-D-bounded queries") =
    // NoShrink: shrinking drops conditions, which legitimately un-routes
    // the query and would report a vacuous counterexample
    Prop.forAllNoShrink(genXConds, genTimeConds, genExtra) { (xs, tss, extra) =>
      val where = (xs ++ tss ++ extra).mkString(",")
      val json =
        s"""{"select":["event_id"],"from":"events","where":[$where]}"""
      val routed = zEngine.executeJson(json)
      val routeTaken = zEngine.lastRoute
      val got = routed.collect().map(_.getLong(0)).toSet
      val want = scanEngine.executeJson(json).collect().map(_.getLong(0)).toSet
      if (want.nonEmpty) nonEmpty.incrementAndGet()
      val n = cases.incrementAndGet()
      // the run's last case carries the floor over all of its cases
      val floor = n < runLength || nonEmpty.get >= NonEmptyFloor * n
      (routeTaken == Engine.ZRouted("z_user_ts")) :| s"route=$routeTaken" &&
        (got == want) :| s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)} where=[$where]" &&
        floor :| s"only ${nonEmpty.get} of $n cases compared non-empty answers"
    }
}
