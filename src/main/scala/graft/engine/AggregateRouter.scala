package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dsl.QueryIR._
import graft.schema.Catalog

/** Definition of a materialized aggregate (rollup) table.
  *
  * The reference pre-computes five fixed aggregates at prepare time
  * (prepare_optimized.py:111-266) and routes queries onto them with
  * hand-written dict matchers (query_engine.py:73-232). Those matchers are
  * buggy: they check only a *subset* of the query's WHERE conditions, so
  * extra filters are silently dropped and wrong results returned (SURVEY
  * §4.3 #2-3). This router instead does a *provable containment check*
  * against a declarative definition of each rollup.
  *
  * A rollup stores, for each combination of `keys` (after applying
  * `filter`), the full set of re-aggregatable measures:
  * `sum_<m>`, `cnt_<m>` (non-null count), `min_<m>`, `max_<m>` for each
  * measure column, plus `cnt_star` (row count). From those, any
  * SUM/AVG/COUNT/MIN/MAX query at any coarser grouping is answerable
  * exactly — AVG as sum/count (the classic partial-aggregate
  * decomposition, same algebra Spark's own partial aggregation uses).
  */
final case class AggTableDef(
    name: String,
    sourceTable: String,
    filter: Seq[Cond],
    keys: Seq[String],
    measures: Seq[String]) {

  def sumCol(m: String) = s"sum_$m"
  def cntCol(m: String) = s"cnt_$m"
  def minCol(m: String) = s"min_$m"
  def maxCol(m: String) = s"max_$m"
  val cntStar = "cnt_star"

  /** The stored partial columns, each with the aggregate that builds it
    * from source rows and the one that merges it across two rollups of
    * this def: every partial is algebraic (sum of sums, sum of counts,
    * min of mins, max of maxes). */
  private def partials: Seq[(String, Column, Column => Column)] =
    measures.flatMap { m =>
      Seq[(String, Column, Column => Column)](
        (sumCol(m), sum(col(m)), sum),
        (cntCol(m), count(col(m)), sum),
        (minCol(m), min(col(m)), min),
        (maxCol(m), max(col(m)), max))
    } :+ ((cntStar, count(lit(1)), sum(_: Column)))

  private def byKeys(df: DataFrame, aggs: Seq[Column]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)

  /** The rollup's own materialization plan (used by Prepare). */
  def build(source: DataFrame): DataFrame = {
    import graft.engine.Compiler.condColumn
    val filtered = filter.foldLeft(source)((df, c) => df.filter(condColumn(df, c)))
    byKeys(filtered, partials.map { case (name, agg, _) => agg.as(name) })
  }

  /** Merge two rollup tables of this def (incremental refresh: old rollup
    * plus the delta's), so history never needs recomputing. */
  def merge(old: DataFrame, delta: DataFrame): DataFrame =
    byKeys(old.unionByName(delta),
      partials.map { case (name, _, merged) => merged(col(name)).as(name) })
}

object AggregateRouter {

  /** Canonical form of a condition for set-equality comparison. */
  private def condKey(c: Cond): String =
    s"${c.col.toLowerCase}|${c.op}|${c.values.map(litKey).mkString("^")}"

  /** Can `q` be answered exactly from `d`? Returns the residual conditions
    * (those not baked into the rollup's filter — they must reference only
    * rollup keys, so they can be applied on the rollup itself).
    *
    * Containment proof obligations:
    *  0. q's WHERE is a flat list of leaf conditions — any OR/NOT/AND
    *     tree (the DSL extension) refuses routing outright, since the
    *     condition-set containment algebra below is only valid for
    *     conjunctions of leaves;
    *  1. every condition in d.filter appears verbatim in q.where
    *     (the rollup's filter must not remove rows the query wants);
    *  2. every residual q condition references a rollup key
    *     (so it can be applied post-rollup without loss);
    *  3. q's grouping keys are a subset of d.keys;
    *  4. every aggregate in q is derivable from d's measures.
    */
  def matches(q: Query, d: AggTableDef): Option[Seq[Cond]] = {
    if (!q.from.equalsIgnoreCase(d.sourceTable)) return None
    if (!q.isAggregate) return None
    if (q.plainCols.exists(c => !q.groupBy.exists(_.equalsIgnoreCase(c.name))))
      return None

    val conds = q.flatConds.getOrElse(return None) // obligation 0

    val defKeys = d.filter.map(condKey).toSet
    val qKeys = conds.map(condKey).toSet
    if (!defKeys.subsetOf(qKeys)) return None // obligation 1
    val residual = conds.filterNot(c => defKeys.contains(condKey(c)))
    val keySet = d.keys.map(_.toLowerCase).toSet
    if (!residual.forall(c => keySet.contains(c.col.toLowerCase))) return None // 2
    if (!q.groupBy.forall(g => keySet.contains(g.toLowerCase))) return None // 3

    val measureSet = d.measures.map(_.toLowerCase).toSet
    val derivable = q.aggregates.forall {
      case AggItem(Count, "*") => true
      case AggItem(_, arg) => measureSet.contains(arg.toLowerCase)
    }
    if (!derivable) return None // obligation 4
    Some(residual)
  }

  /** Execute `q` on the rollup table (small — typically thousands of rows
    * at any scale, since it is bounded by the key-combination count, not
    * the fact-table row count). This is the re-aggregation path the
    * reference implements for publisher_day_country_revenue only
    * (query_engine.py:269-273, R15) — here generalized to every rollup. */
  def execute(spark: SparkSession, q: Query, d: AggTableDef,
              residual: Seq[Cond], catalog: Catalog): DataFrame =
    executeOn(q, d, residual, catalog.table(spark, d.name))

  /** Re-aggregate `q` over an explicit rollup DataFrame — the one
    * partial-aggregate algebra, shared by [[execute]] and the Catalyst
    * rule ([[graft.catalyst.AggRewriteRule]]), which splices this plan
    * in place of the fact aggregate it translated. */
  def executeOn(q: Query, d: AggTableDef, residual: Seq[Cond], table: DataFrame): DataFrame = {
    import graft.engine.Compiler.{aggregateAndSelect, applyOrderAndLimit, condColumn}
    val filtered = residual.foldLeft(table)((df, c) => df.filter(condColumn(df, c)))

    // COUNT decomposes as SUM of partial counts, but SUM over an EMPTY
    // rollup selection is NULL while COUNT over an empty scan is 0 —
    // coalesce restores exact global-aggregation semantics (caught by
    // the routed-vs-scanned property test)
    def derived(a: AggItem): Column = (a match {
      case AggItem(Count, "*") => coalesce(sum(col(d.cntStar)), lit(0L))
      case AggItem(Count, m) => coalesce(sum(col(d.cntCol(m))), lit(0L))
      case AggItem(Sum, m) => sum(col(d.sumCol(m)))
      case AggItem(Avg, m) => sum(col(d.sumCol(m))) / sum(col(d.cntCol(m)))
      case AggItem(Min, m) => min(col(d.minCol(m)))
      case AggItem(Max, m) => max(col(d.maxCol(m)))
    }).as(a.outputName)

    applyOrderAndLimit(aggregateAndSelect(filtered, q, q.aggregates.map(derived)), q)
  }
}
