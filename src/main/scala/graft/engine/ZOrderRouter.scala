package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dsl.QueryIR._
import graft.prepare.ZOrder
import graft.schema.EventTime

/** A z-ordered secondary layout of a source table, registered with the
  * [[Engine]] so DSL queries constraining BOTH layout dimensions route to
  * [[ZOrder.boxScan]]'s 2-D partition pruning instead of the 1-D
  * partitioned fact scan.
  *
  * `xCol` is an integral column stored as-is; the event-time dimension is
  * stored as `ts_sec` ([[ZOrderRouter.SecCol]]) = floor epoch seconds of
  * `tsCol`, so timestamp predicates map to second-floor boxes (always a
  * SUPERSET — see the routing proof below). Built opt-in by
  * [[graft.prepare.Prepare.run]]; absent layouts (`_zmeta.json` missing,
  * e.g. invalidated by an incremental refresh) simply never match.
  */
final case class ZLayoutDef(
    name: String,
    sourceTable: String,
    xCol: String,
    tsCol: String,
    path: String) {
  def exists: Boolean = ZOrder.layoutExists(SparkSession.active, path)
}

/** Routes a DSL query to a z-ordered layout when provably exact.
  *
  * Exactness proof (same discipline as [[AggregateRouter]]'s containment
  * obligations, but simpler because the layout holds FULL rows, not an
  * aggregate):
  *  1. the query's WHERE is a flat conjunction of leaf conditions
  *     (OR/NOT trees refuse routing — interval extraction below is only
  *     valid for conjunctions);
  *  2. the extracted (x, ts_sec) box is a SUPERSET of the rows any
  *     combination of the query's own predicates admits: every bound
  *     comes from one conjunct loosened monotonically (Gt -> Gte at the
  *     same value; timestamp bounds floored to seconds, and
  *     floor(ts) in [floor(lo), floor(hi)] whenever ts in [lo, hi]);
  *  3. [[ZOrder.boxScan]] reads a covering superset of that box's cells
  *     and re-applies the box; then [[Compiler.compileOn]] re-applies
  *     EVERY original predicate verbatim on the scanned rows.
  * Superset scan + exact original predicates => results are independent
  * of the layout, the covering enumeration, and the box extraction. A
  * query that fails any extraction step falls through to the plain scan.
  */
object ZOrderRouter {

  /** Column name of the epoch-second time dimension in z layouts. */
  val SecCol = "ts_sec"

  final case class Box(xLo: Long, xHi: Long, yLo: Long, yHi: Long)

  private def asLong(l: Lit): Option[Long] = l match {
    case ILit(v) => Some(v)
    case SLit(v) => v.toLongOption
    case _ => None
  }

  /** Epoch-second FLOOR of a DSL date/timestamp string literal — the same
    * UTC wall-clock reading the compiler's cast-to-timestamp applies in
    * this UTC-pinned session ([[graft.GraftSession]]). Unparseable
    * literals return None, which refuses routing (never loosens a bound
    * it can't prove). */
  private def asEpochSec(l: Lit): Option[Long] = l match {
    case SLit(raw) =>
      val s = raw.trim.replace('T', ' ')
      try {
        if (s.length == 10)
          Some(java.time.LocalDate.parse(s)
            .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond)
        else {
          val norm = if (s.length == 16) s + ":00" else s
          // LocalDateTime.toEpochSecond ignores the nano component ==
          // floor for the non-negative epoch range the DSL uses
          Some(java.time.LocalDateTime.parse(norm.replace(' ', 'T'))
            .toEpochSecond(java.time.ZoneOffset.UTC))
        }
      } catch { case _: java.time.format.DateTimeParseException => None }
    case _ => None
  }

  /** Bounded superset interval for `colName` from the conjunction. Each
    * conjunct only TIGHTENS (max of lower bounds, min of upper bounds);
    * a conjunct whose literal doesn't map stays unapplied, which can only
    * loosen the interval — still a superset. Gt/Lt use the closed bound
    * at the same value (superset of the open one; on the floored time
    * dimension the closed bound is also the tightest sound choice).
    * Returns None unless BOTH ends are bounded — an unbounded stripe
    * gains little from 2-D pruning, so it stays on the fact layout. */
  private def interval(conds: Seq[Cond], colName: String,
                       toLong: Lit => Option[Long]): Option[(Long, Long)] = {
    var lo = Option.empty[Long]
    var hi = Option.empty[Long]
    def tightenLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
    def tightenHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))
    conds.filter(_.col.equalsIgnoreCase(colName)).foreach { c =>
      c.op match {
        case Eq =>
          toLong(c.values.head).foreach { v => tightenLo(v); tightenHi(v) }
        case Between =>
          for (a <- toLong(c.values.head); b <- toLong(c.values(1))) {
            tightenLo(a); tightenHi(b)
          }
        case In =>
          val vs = c.values.flatMap(v => toLong(v))
          if (vs.nonEmpty && vs.size == c.values.size) {
            tightenLo(vs.min); tightenHi(vs.max)
          }
        case Gte | Gt => toLong(c.values.head).foreach(tightenLo)
        case Lte | Lt => toLong(c.values.head).foreach(tightenHi)
        case Neq => () // exact predicate re-applies post-scan
      }
    }
    for (l <- lo; h <- hi if l <= h) yield (l, h)
  }

  /** Conditions on the derived `day` column (day = to_date(ts) in this
    * UTC session) restated as SUPERSET conditions on the timestamp:
    * a day literal covers the whole-day second range [d 00:00,
    * d+1 00:00), so each bound maps to the loose end of that range —
    * Eq d -> Between [d, d+1); Lt/Lte d -> Lte end-of-d (Lt loosened to
    * Lte, still a superset); Gt/Gte d -> Gte start-of-d. The exact day
    * predicates re-apply post-scan as always. */
  private def dayAsTsConds(conds: Seq[Cond], dayCol: String): Seq[Cond] = {
    def dayStart(l: Lit): Option[Long] = l match {
      case SLit(v) if v.trim.length == 10 =>
        try Some(java.time.LocalDate.parse(v.trim)
          .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond)
        catch { case _: java.time.format.DateTimeParseException => None }
      case _ => None
    }
    def nextDayLastSec(l: Lit): Option[Lit] =
      dayStart(l).map(s => ILit(s + 86400L - 1L))
    def startLit(l: Lit): Option[Lit] = dayStart(l).map(ILit(_))
    conds.filter(_.col.equalsIgnoreCase(dayCol)).flatMap { c =>
      c.op match {
        case Eq =>
          for (a <- startLit(c.values.head); b <- nextDayLastSec(c.values.head))
            yield Cond("__day_ts", Between, Seq(a, b))
        case Between =>
          for (a <- startLit(c.values.head); b <- nextDayLastSec(c.values(1)))
            yield Cond("__day_ts", Between, Seq(a, b))
        case In =>
          val starts = c.values.flatMap(startLit)
          val ends = c.values.flatMap(nextDayLastSec)
          if (starts.size == c.values.size && starts.nonEmpty)
            Some(Cond("__day_ts", Between,
              Seq(starts.minBy { case ILit(v) => v; case _ => Long.MaxValue },
                ends.maxBy { case ILit(v) => v; case _ => Long.MinValue })))
          else None
        case Gte | Gt => startLit(c.values.head).map(a =>
          Cond("__day_ts", Gte, Seq(a)))
        case Lte | Lt => nextDayLastSec(c.values.head).map(b =>
          Cond("__day_ts", Lte, Seq(b)))
        case Neq => None
      }
    }
  }

  /** Per-value boxes cap: an `In` wider than this routes as one min-max
    * box (the driver enumerates covering cells per box; 128 boxes x the
    * y cell range stays trivially driver-sized). */
  val MaxInBoxes = 128

  /** The exact x point set admitted by the conjunction's parseable
    * `In` conjuncts, if any: rows satisfy EVERY conjunct, so multiple
    * In-lists intersect. An In with any unparseable literal is skipped
    * (consistent with [[interval]]: skipping only loosens). None = no
    * usable In conjunct — x is a band, not a point set. */
  private def inPoints(conds: Seq[Cond], colName: String): Option[Seq[Long]] = {
    val sets = conds.filter(c =>
      c.col.equalsIgnoreCase(colName) && c.op == In).flatMap { c =>
      val vs = c.values.flatMap(asLong)
      if (vs.size == c.values.size) Some(vs.toSet) else None
    }
    sets.reduceOption(_ intersect _).map(_.toSeq.sorted)
  }

  /** Can `q` route to layout `d`? Returns the superset box list if both
    * dimensions are bounded by the query's conjunction — the time
    * dimension by `tsCol` conditions, derived-`day` conditions, or a mix
    * (all tighten the same interval; each mapping is a superset).
    *
    * A sparse `In` on the x dimension (e.g. {1, 10^9}) routes as ONE BOX
    * PER VALUE instead of a [min,max] box that would cover nearly the
    * whole layout: each per-value box is the same superset mapping
    * applied to `x = v AND ts-band`, the union covers every row any
    * combination of the original predicates admits, and the covering
    * cells of a point-box never exceed the min-max box's (point spans
    * are sub-intervals), so the multi-box route reads at most what the
    * single-box route would (round-15 advice: the In min-max box could
    * read MORE cells than the plain pruned scan). */
  def matches(q: Query, d: ZLayoutDef): Option[Seq[Box]] = {
    if (!q.from.equalsIgnoreCase(d.sourceTable)) return None
    if (!d.exists) return None
    val conds = q.flatConds.getOrElse(return None) // flat conjunction only
    val tsConds = conds.filter(_.col.equalsIgnoreCase(d.tsCol)) ++
      dayAsTsConds(conds, "day").map(_.copy(col = d.tsCol))
    def epochOrPassthrough(l: Lit): Option[Long] = l match {
      case ILit(v) => Some(v) // already epoch seconds (the day mapping)
      case other => asEpochSec(other)
    }
    for {
      x <- interval(conds, d.xCol, asLong)
      y <- interval(tsConds, d.tsCol, epochOrPassthrough)
    } yield inPoints(conds, d.xCol) match {
      case Some(vs) if vs.nonEmpty && vs.size <= MaxInBoxes =>
        // points outside the interval are excluded by some other
        // conjunct (a cmp bound or another In) — dropping them is sound
        val inBand = vs.filter(v => v >= x._1 && v <= x._2)
        if (inBand.nonEmpty) inBand.map(v => Box(v, v, y._1, y._2))
        // contradictory predicates (disjoint Ins / band excludes all
        // points): any superset works — keep the band box; the verbatim
        // re-predicates return the empty result either way
        else Seq(Box(x._1, x._2, y._1, y._2))
      case _ => Seq(Box(x._1, x._2, y._1, y._2))
    }
  }

  /** Execute `q` over the pruned multi-box scan: deduped covering-cell
    * PartitionFilters from [[ZOrder.boxScanMulti]], derived time columns
    * restored, then the FULL original query (every predicate,
    * aggregation, order, limit) compiled on top — the exactness anchor. */
  def execute(spark: SparkSession, q: Query, d: ZLayoutDef,
              boxes: Seq[Box]): DataFrame = {
    val scan = ZOrder.boxScanMulti(spark, d.path, d.xCol, SecCol,
      boxes.map(b => (b.xLo, b.xHi, b.yLo, b.yHi)))
    Compiler.compileOn(spark, q, EventTime.withDerived(scan, d.tsCol))
  }
}
