package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dsl.QueryIR._
import graft.schema.Catalog

/** IR -> DataFrame compiler.
  *
  * Produces a purely declarative plan (select/filter/groupBy/agg/orderBy/
  * limit) and lets Catalyst do the optimization the reference hand-rolled:
  * partition pruning (query_engine.py:329-349 — inert in the reference,
  * SURVEY §4.3 #1), column pruning (:351-383), predicate pushdown (claimed
  * at :411, actually post-collect). On a partitioned parquet layout every
  * eq/in/between filter on a partition column prunes directories, filters
  * on data columns push to row-group stats, and only referenced columns are
  * read — all visible in `.explain("formatted")` as PartitionFilters /
  * PushedFilters / ReadSchema.
  *
  * Deliberate divergences from the reference, per SURVEY §4.3:
  *  - ORDER BY is one multi-column sort (reference loops per key,
  *    query_engine.py:508-516, so the last key silently dominates);
  *  - global aggregation (no GROUP BY) works (reference drops it,
  *    :494-502);
  *  - LIMIT is honored (reference ignores it);
  *  - an ORDER BY key that resolves to no output column throws
  *    (reference silently no-ops, :515-523).
  */
object Compiler {

  final class CompileException(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new CompileException(msg)

  /** Coerce a DSL literal to a Column of the target column's type.
    * String literals against date/timestamp columns are cast (the
    * reference's str.to_date coercion, query_engine.py:441-454); numeric
    * literals against numeric columns are cast natively (the baseline's
    * quote-everything trick, baseline/assembler.py:25-27, is NOT
    * replicated — native comparison is both faster and correct). */
  private def litFor(dt: DataType, l: Lit): Column = {
    val raw = l match {
      case SLit(v) => lit(v)
      case ILit(v) => lit(v)
      case DLit(v) => lit(v)
      case BLit(v) => lit(v)
      case NullLit => lit(null)
    }
    (dt, l) match {
      case (_: StringType, _) => raw.cast(StringType)
      case (t, SLit(_)) => raw.cast(t) // '2024-06-01' -> date, "3" -> int, ...
      case (t, ILit(_)) => raw.cast(t)
      case (t, DLit(_)) => raw.cast(t)
      case _ => raw
    }
  }

  /** Compile one WHERE condition against `df`'s schema. Shared with
    * [[AggregateRouter]] (the DSL route and, through it, the Catalyst
    * rule's translated conditions) so routed and scanned plans agree
    * exactly on filter semantics. */
  def condColumn(df: DataFrame, c: Cond): Column = {
    val field = df.schema.fields.find(_.name.equalsIgnoreCase(c.col))
      .getOrElse(fail(s"unknown filter column: ${c.col}"))
    val colRef = col(field.name)
    def v(i: Int) = litFor(field.dataType, c.values(i))
    c.op match {
      case Eq => colRef === v(0)
      case Neq => colRef =!= v(0)
      case In => colRef.isin(c.values.map(l => litFor(field.dataType, l)): _*)
      case Between => colRef.between(v(0), v(1)) // inclusive, like the reference
      case Lt => colRef < v(0)
      case Lte => colRef <= v(0)
      case Gt => colRef > v(0)
      case Gte => colRef >= v(0)
    }
  }

  /** Compile a predicate tree. OR/NOT/AND are strict DSL extensions
    * (SURVEY §2.4 lists them as spec-excluded in the reference); leaves
    * share [[condColumn]] so routed and scanned semantics agree. */
  def predColumn(df: DataFrame, p: Pred): Column = p match {
    case c: Cond => condColumn(df, c)
    case AndPred(ps) => ps.map(predColumn(df, _)).reduce(_ && _)
    case OrPred(ps) => ps.map(predColumn(df, _)).reduce(_ || _)
    case NotPred(p0) => !predColumn(df, p0)
  }

  private def aggColumn(a: AggItem): Column = {
    val c: Column = a match {
      case AggItem(Count, "*") => count(lit(1))
      case AggItem(Count, arg) => count(col(arg)) // non-null, like pl.count()
      case AggItem(Sum, arg) => sum(col(arg))
      case AggItem(Avg, arg) => avg(col(arg))
      case AggItem(Min, arg) => min(col(arg))
      case AggItem(Max, arg) => max(col(arg))
      case AggItem(fn, "*") => fail(s"${fn.sqlName}(*) is not valid")
    }
    c.as(a.outputName) // "sum(bid_price)" naming, query_engine.py:472-479
  }

  /** Compile a query against a catalog. The resulting DataFrame is lazy;
    * nothing executes until an action. */
  def compile(spark: SparkSession, q: Query, catalog: Catalog): DataFrame =
    compileOn(spark, q, catalog.table(spark, q.from))

  /** Compile a query against an explicit base DataFrame — the anchor the
    * z-order route ([[ZOrderRouter.execute]]) uses to re-apply EVERY
    * original predicate on the pruned scan, so routed results never
    * depend on the layout or the covering enumeration. */
  def compileOn(spark: SparkSession, q: Query, base: DataFrame): DataFrame = {
    // WHERE: AND-combined (claude.md:122). Chained filters; Catalyst's
    // CombineFilters merges them into one predicate.
    val filtered = q.where.foldLeft(base)((df, c) => df.filter(predColumn(df, c)))

    val projected =
      if (q.isAggregate) aggregateAndSelect(filtered, q, q.aggregates.map(aggColumn))
      else // plain projection (non-agg path, query_engine.py:494-502)
        filtered.select(q.plainCols.map(c => col(c.name)): _*)
    applyOrderAndLimit(projected, q)
  }

  /** GROUP BY / aggregate / project, shared by the scan and routed paths:
    * `aggCols` (one per `q.aggregates`, each named by its `outputName`)
    * grouped by `q.groupBy`, or globally — supported, unlike the
    * reference — then the SELECT's column order restored. Plain columns
    * must be grouping keys; anything else is ill-formed per the closed
    * DSL. */
  def aggregateAndSelect(filtered: DataFrame, q: Query, aggCols: Seq[Column]): DataFrame = {
    val grouped =
      if (q.groupBy.nonEmpty)
        filtered.groupBy(q.groupBy.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
      else filtered.agg(aggCols.head, aggCols.tail: _*)
    val outCols = q.select.map {
      case ColItem(n) =>
        if (!q.groupBy.exists(_.equalsIgnoreCase(n)))
          fail(s"non-aggregated select column '$n' not in group_by")
        col(n)
      case a: AggItem => col(a.outputName)
    }
    grouped.select(outCols: _*)
  }

  /** ORDER BY + LIMIT, shared by the scan and routed paths.
    *
    * ORDER BY is a single multi-column sort; keys are resolved
    * case-insensitively against the OUTPUT schema ("SUM(bid_price)"
    * matches "sum(bid_price)", query_engine.py:517-523); unresolvable keys
    * fail loudly (SURVEY §4.3 #8). ORDER BY + LIMIT together plan as
    * TakeOrderedAndProject (a distributed top-K — no global sort). */
  def applyOrderAndLimit(projected: DataFrame, q: Query): DataFrame = {
    val sorted =
      if (q.orderBy.isEmpty) projected
      else {
        val outNames = projected.columns
        val sortCols = q.orderBy.map { ok =>
          val resolved = outNames.find(_.equalsIgnoreCase(ok.col))
            .getOrElse(fail(
              s"ORDER BY column '${ok.col}' is not in the output " +
              s"(have: ${outNames.mkString(", ")})"))
          if (ok.desc) col(resolved).desc else col(resolved).asc
        }
        projected.orderBy(sortCols: _*)
      }
    q.limit.fold(sorted)(sorted.limit)
  }
}
