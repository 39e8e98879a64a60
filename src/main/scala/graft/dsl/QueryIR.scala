package graft.dsl

/** Logical IR for the closed JSON query DSL.
  *
  * Mirrors the query-dict surface of the reference engine
  * (reference: query_engine.py:33-61, claude.md:92-144): a SELECT list of
  * plain columns and SUM/AVG/COUNT/MIN/MAX aggregates, an AND-combined WHERE
  * list of column-op-literal conditions, GROUP BY, ORDER BY, LIMIT.
  *
  * Unlike the reference (whose only IR is the raw Python dict), we parse into
  * typed case classes so the compiler ([[graft.engine.Compiler]]) and the
  * aggregate router ([[graft.engine.AggregateRouter]]) can pattern-match
  * safely and prove rewrite containment (the reference's loose dict matchers
  * silently dropped filters — query_engine.py:166-182, 216-232). It is also
  * the form the Catalyst front end ([[graft.catalyst.AggRewriteRule]])
  * translates plans into, so both front ends share the router's one proof.
  */
object QueryIR {

  /** Aggregate functions of the DSL. SUM/AVG/COUNT are the reference's
    * closed set (query_engine.py:471-479); MIN/MAX are a strict extension. */
  sealed abstract class AggFn(val sqlName: String)
  case object Sum   extends AggFn("sum")
  case object Avg   extends AggFn("avg")
  case object Count extends AggFn("count")
  case object Min   extends AggFn("min")
  case object Max   extends AggFn("max")

  object AggFn {
    def parse(s: String): Option[AggFn] = s.toUpperCase match {
      case "SUM" => Some(Sum)
      case "AVG" | "MEAN" => Some(Avg)
      case "COUNT" => Some(Count)
      case "MIN" => Some(Min)
      case "MAX" => Some(Max)
      case _ => None
    }
  }

  sealed trait SelectItem
  /** Plain column reference, e.g. "day" or "publisher_id". */
  final case class ColItem(name: String) extends SelectItem
  /** Aggregate over a column; arg "*" only valid for COUNT.
    * Output name follows the reference's convention: lowercase fn,
    * parenthesized arg — `sum(bid_price)`, `count(*)`
    * (query_engine.py:472-479). */
  final case class AggItem(fn: AggFn, arg: String) extends SelectItem {
    def outputName: String = s"${fn.sqlName}($arg)"
  }

  /** Comparison operators. eq/neq/in/between are the engine's set
    * (query_engine.py:440-455); lt/lte/gt/gte exist in the baseline SQL
    * assembler only (baseline/assembler.py:28-30) and are implemented here
    * for DSL completeness (SURVEY §2.2 R6). */
  sealed trait CmpOp
  case object Eq extends CmpOp
  case object Neq extends CmpOp
  case object In extends CmpOp
  case object Between extends CmpOp
  case object Lt extends CmpOp
  case object Lte extends CmpOp
  case object Gt extends CmpOp
  case object Gte extends CmpOp

  object CmpOp {
    def parse(s: String): Option[CmpOp] = s.toLowerCase match {
      case "eq" | "=" | "==" => Some(Eq)
      case "neq" | "!=" | "<>" => Some(Neq)
      case "in" => Some(In)
      case "between" => Some(Between)
      case "lt" | "<" => Some(Lt)
      case "lte" | "<=" => Some(Lte)
      case "gt" | ">" => Some(Gt)
      case "gte" | ">=" => Some(Gte)
      case _ => None
    }
  }

  /** Literal values carried by conditions. Parsed losslessly from JSON;
    * coerced to the column's Spark type at compile time (the reference
    * coerces strings to dates for date columns, query_engine.py:441-454,
    * and otherwise compares natively). */
  sealed trait Lit
  final case class SLit(v: String) extends Lit
  final case class ILit(v: Long) extends Lit
  final case class DLit(v: Double) extends Lit
  final case class BLit(v: Boolean) extends Lit
  case object NullLit extends Lit

  /** Stable rendering of a literal, shared by every condition key (the
    * result-cache key and the router's condition-set comparison). */
  def litKey(l: Lit): String = l match {
    case SLit(v) => "s:" + v
    case ILit(v) => "i:" + v
    case DLit(v) => "d:" + v
    case BLit(v) => "b:" + v
    case NullLit => "null"
  }

  /** A WHERE predicate. The reference's closed DSL admits only a flat
    * AND-list of conditions (claude.md:124 "No nested conditions (e.g.,
    * OR, NOT)"); OR/NOT/AND trees are a strict extension here. The
    * aggregate router refuses to route any query whose WHERE is not a
    * flat Cond list — boolean structure never reaches the containment
    * proof, so the extension cannot weaken routing soundness. */
  sealed trait Pred

  /** One leaf condition. `values` holds 1 value for scalar ops, 2 for
    * between (inclusive, query_engine.py:450-455), N for in. */
  final case class Cond(col: String, op: CmpOp, values: Seq[Lit]) extends Pred
  final case class AndPred(ps: Seq[Pred]) extends Pred
  final case class OrPred(ps: Seq[Pred]) extends Pred
  final case class NotPred(p: Pred) extends Pred

  /** ORDER BY key. Resolution against output columns is case-insensitive
    * (the reference matches "SUM(bid_price)" to "sum(bid_price)",
    * query_engine.py:517-523) but, unlike the reference, an unresolvable
    * key fails loudly (SURVEY §4.3 #8). */
  final case class OrderKey(col: String, desc: Boolean)

  /** A complete query. Differences from the reference, all deliberate
    * (SURVEY §4.3): multi-key ORDER BY is a single multi-column sort;
    * global aggregation (aggregates with empty groupBy) is supported;
    * LIMIT is honored. */
  final case class Query(
      select: Seq[SelectItem],
      from: String,
      where: Seq[Pred] = Nil,
      groupBy: Seq[String] = Nil,
      orderBy: Seq[OrderKey] = Nil,
      limit: Option[Int] = None) {

    def aggregates: Seq[AggItem] = select.collect { case a: AggItem => a }
    def plainCols: Seq[ColItem] = select.collect { case c: ColItem => c }
    def isAggregate: Boolean = aggregates.nonEmpty

    /** The WHERE as leaf conditions when it is a flat conjunction; None
      * when any OR/NOT/AND tree is present. Routing proofs are only valid
      * for conjunctions of leaves, so they refuse on None. */
    def flatConds: Option[Seq[Cond]] = {
      val conds = where.collect { case c: Cond => c }
      if (conds.size == where.size) Some(conds) else None
    }

    /** Canonical string key for the result cache — stable field order and
      * rendering, the analogue of the reference's
      * md5(json.dumps(query, sort_keys=True)) (query_engine.py:63-67). */
    def canonicalKey: String = {
      val sel = select.map {
        case ColItem(n) => "c:" + n
        case a: AggItem => "a:" + a.outputName
      }.mkString(",")
      def predKey(p: Pred): String = p match {
        case Cond(c, op, vs) => s"$c|$op|${vs.map(litKey).mkString("^")}"
        case AndPred(ps) => ps.map(predKey).mkString("and(", ";", ")")
        case OrPred(ps) => ps.map(predKey).mkString("or(", ";", ")")
        case NotPred(p0) => s"not(${predKey(p0)})"
      }
      val whr = where.map(predKey).mkString(";")
      val ord = orderBy.map(o => s"${o.col}|${o.desc}").mkString(";")
      s"select=[$sel]&from=${from}&where=[$whr]&group=[${groupBy.mkString(",")}]" +
        s"&order=[$ord]&limit=${limit.getOrElse(-1)}"
    }
  }
}
