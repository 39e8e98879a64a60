package graft.catalyst

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.dsl.QueryIR.{AggFn, AggItem, BLit, CmpOp, ColItem, Cond, DLit, ILit, Lit,
  Query, SLit, SelectItem, Eq => EqOp, Gt => GtOp, Gte => GteOp, In => InOp, Lt => LtOp,
  Lte => LteOp, Neq => NeqOp, Avg => AvgFn, Count => CountFn, Max => MaxFn, Min => MinFn,
  Sum => SumFn}
import graft.engine.{AggTableDef, AggregateRouter}

/** Catalyst front end of rollup routing: a translator, not a prover.
  *
  * `Aggregate(Filter* / attribute-only Project* / fact scan)` over the
  * registered fact relation (identified by its file-source root path) is
  * translated into the DSL's [[graft.dsl.QueryIR.Query]] form; the
  * containment proof is [[AggregateRouter.matches]] and the
  * re-aggregation algebra is [[AggregateRouter.executeOn]] — the same
  * code the DSL route runs, so a soundness fix lands once for both front
  * ends. The rewritten subplan replaces the aggregate under a `Project`
  * that restores each original output's name, exprId and data type.
  *
  * This is the idiomatic-Catalyst restatement of the reference's "query
  * planner" (its five hard-coded dict matchers, query_engine.py:73-232),
  * but at the *logical plan* level, so it fires for ANY front end
  * (spark.sql, raw DataFrame code), not just queries phrased through the
  * engine. OSS Spark has no built-in materialized-view rewriting.
  *
  * Translation: grouping attributes -> `groupBy`; output attributes ->
  * `ColItem`; `attr op literal` conjuncts -> `Cond` (`Not(EqualTo)` ->
  * neq, `In`/`InSet` -> in, a literal on the left flips the comparison,
  * a date literal -> an ISO string the compiler casts back); COUNT(*),
  * COUNT(1), COUNT/SUM/AVG/MIN/MAX of an attribute without DISTINCT or
  * FILTER -> `AggItem` (a grouping-only aggregate gets a COUNT(*) the
  * splice drops). An inferred `IsNotNull(a)` is dropped when another
  * conjunct constrains `a` (every DSL op already rejects nulls). Any other
  * shape (PLANS.md "One containment proof" lists them) leaves the plan
  * untouched, and nothing throws out of the optimizer.
  */
case class AggRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] with PredicateHelper {

  private val reg = AggRewriteRule.registryFor(spark)

  private val rewrites = new java.util.concurrent.atomic.AtomicLong

  /** Count of successful rewrites (for tests/inspection). */
  def fired: Long = rewrites.get

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val path = reg.factPath.getOrElse(return plan)
    plan.transformDown {
      case agg: Aggregate => rewrite(agg, path).getOrElse(agg)
    }
  }

  private def rewrite(agg: Aggregate, path: String): Option[LogicalPlan] = for {
    q <- translate(agg, path)
    (d, residual) <- reg.defs.iterator
      .flatMap(d => AggregateRouter.matches(q, d).map(d -> _)).nextOption()
    sub <- Try(AggregateRouter.executeOn(q, d, residual, reg.rollupLoader(d.name))
      .queryExecution.analyzed).toOption
  } yield {
    rewrites.incrementAndGet()
    // zip stops at agg.output: a COUNT(*) added by translate is dropped
    Project(agg.output.zip(sub.output).map { case (o, s) =>
      Alias(if (s.dataType == o.dataType) s else Cast(s, o.dataType), o.name)(exprId = o.exprId)
    }, sub)
  }

  // -------------------------------------------------------- translation

  private def translate(agg: Aggregate, path: String): Option[Query] = {
    val conjuncts = childFilters(agg.child, path).getOrElse(return None)
    val groupBy = agg.groupingExpressions.map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    val select: Seq[SelectItem] = agg.aggregateExpressions.map {
      case a: AttributeReference => ColItem(a.name)
      case Alias(AggregateExpression(fn, _, false, None, _), _) =>
        aggItem(fn).getOrElse(return None)
      case _ => return None
    }
    if (select.distinct.size != select.size) return None
    // a grouping-only aggregate (a DISTINCT, or the inner aggregate of a
    // count whose functions column pruning removed) is stated with a
    // COUNT(*) that the splice's Project drops
    val stated =
      if (select.exists(_.isInstanceOf[AggItem])) select else select :+ AggItem(CountFn, "*")
    val (notNull, rest) = conjuncts.partition(_.isInstanceOf[IsNotNull])
    val conds = rest.map(e => cond(e).getOrElse(return None))
    val constrained = notNull.forall {
      case IsNotNull(a: AttributeReference) => conds.exists(_.col == a.name)
      case _ => false
    }
    // the layout convention: the fact table's catalog name is the last
    // segment of its root path (`<root>/events`)
    if (constrained)
      Some(Query(stated, path.stripSuffix("/").split('/').last, conds, groupBy))
    else None
  }

  private def isFactScan(plan: LogicalPlan, path: String): Boolean = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.exists(_.toString.stripSuffix("/").endsWith(path.stripSuffix("/")))
    case _ => false
  }

  /** The aggregate child's filter conjuncts, if it bottoms out in the
    * fact scan. */
  private def childFilters(plan: LogicalPlan, path: String): Option[Seq[Expression]] =
    plan match {
      case Filter(c, child) => childFilters(child, path).map(splitConjunctivePredicates(c) ++ _)
      case SubqueryAlias(_, child) => childFilters(child, path)
      case Project(projectList, child) if projectList.forall(_.isInstanceOf[AttributeReference]) =>
        childFilters(child, path)
      case rel if isFactScan(rel, path) => Some(Nil)
      case _ => None
    }

  private def aggItem(fn: AggregateFunction): Option[AggItem] = {
    def on(f: AggFn, e: Expression) = e match {
      case a: AttributeReference => Some(AggItem(f, a.name))
      case _ => None
    }
    fn match {
      case Count(Seq(l: Literal)) if l.value != null => Some(AggItem(CountFn, "*"))
      case Count(Seq(e)) => on(CountFn, e)
      case Sum(e, _) => on(SumFn, e)
      case Average(e, _) => on(AvgFn, e)
      case Min(e) => on(MinFn, e)
      case Max(e) => on(MaxFn, e)
      case _ => None
    }
  }

  /** `(op, left, right)` of a binary comparison the DSL can state. */
  private object Cmp {
    def unapply(e: Expression): Option[(CmpOp, Expression, Expression)] = e match {
      case EqualTo(l, r) => Some((EqOp, l, r))
      case Not(EqualTo(l, r)) => Some((NeqOp, l, r))
      case LessThan(l, r) => Some((LtOp, l, r))
      case LessThanOrEqual(l, r) => Some((LteOp, l, r))
      case GreaterThan(l, r) => Some((GtOp, l, r))
      case GreaterThanOrEqual(l, r) => Some((GteOp, l, r))
      case _ => None
    }
  }

  private val flipped: Map[CmpOp, CmpOp] = Map(EqOp -> EqOp, NeqOp -> NeqOp,
    LtOp -> GtOp, LteOp -> GteOp, GtOp -> LtOp, GteOp -> LteOp)

  private def cond(e: Expression): Option[Cond] = {
    def leaf(a: AttributeReference, op: CmpOp, ls: Seq[Expression]): Option[Cond] = {
      val vs = ls.map {
        case l: Literal => lit(l).getOrElse(return None)
        case _ => return None
      }
      Some(Cond(a.name, op, vs))
    }
    e match {
      case In(a: AttributeReference, vs) => leaf(a, InOp, vs)
      case InSet(a: AttributeReference, vs) => leaf(a, InOp, vs.toSeq.map(Literal(_, a.dataType)))
      case Cmp(op, a: AttributeReference, l: Literal) => leaf(a, op, Seq(l))
      case Cmp(op, l: Literal, a: AttributeReference) => leaf(a, flipped(op), Seq(l))
      case _ => None
    }
  }

  private def lit(l: Literal): Option[Lit] = (l.value, l.dataType) match {
    case (s: UTF8String, _) => Some(SLit(s.toString))
    case (d: Int, DateType) => Some(SLit(java.time.LocalDate.ofEpochDay(d.toLong).toString))
    case (v: java.lang.Number, ByteType | ShortType | IntegerType | LongType) => Some(ILit(v.longValue))
    case (v: java.lang.Number, FloatType | DoubleType) => Some(DLit(v.doubleValue))
    case (b: Boolean, BooleanType) => Some(BLit(b))
    case _ => None
  }
}

object AggRewriteRule {

  /** Mutable per-session registry the rule reads (extensions are
    * installed at session build time, before any layout exists). */
  final class Registry {
    @volatile var factPath: Option[String] = None
    @volatile var defs: Seq[AggTableDef] = Nil
    @volatile var rollupLoader: String => DataFrame = null
  }

  private val registries = new java.util.concurrent.ConcurrentHashMap[SparkSession, Registry]()

  def registryFor(spark: SparkSession): Registry =
    registries.computeIfAbsent(spark, _ => new Registry)

  /** Install the rule on an existing session (experimental-methods route —
    * equivalent to SparkSessionExtensions.injectOptimizerRule but usable
    * after session construction). Idempotent. */
  def install(spark: SparkSession): AggRewriteRule = {
    val existing = spark.experimental.extraOptimizations
      .collectFirst { case r: AggRewriteRule => r }
    existing.getOrElse {
      val rule = AggRewriteRule(spark)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
      rule
    }
  }

  /** Point the rule at a prepared layout. */
  def configure(spark: SparkSession, factPath: String,
                defs: Seq[AggTableDef], loader: String => DataFrame): AggRewriteRule = {
    val rule = install(spark)
    val reg = registryFor(spark)
    reg.factPath = Some(factPath)
    reg.defs = defs
    reg.rollupLoader = loader
    rule
  }
}
