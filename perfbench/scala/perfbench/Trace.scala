package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dsl.QueryIR.Query
import graft.dsl.QueryJson
import graft.engine.{AggTableDef, AggregateRouter, Compiler, ZLayoutDef, ZOrderRouter}
import graft.schema.Catalog

/** Accumulates named spans (count and total milliseconds). */
final class Spans {
  private val m = new ConcurrentHashMap[String, Array[Double]]()

  def add(name: String, ms: Double): Unit = {
    val a = m.computeIfAbsent(name, _ => Array(0.0, 0.0))
    a.synchronized { a(0) += 1; a(1) += ms }
  }

  def time[T](name: String)(f: => T): T = {
    val (r, ms) = Clock.timed(f)
    add(name, ms)
    r
  }

  def count(name: String): Double = Option(m.get(name)).map(_(0)).getOrElse(0.0)
  def totalMs(name: String): Double = Option(m.get(name)).map(_(1)).getOrElse(0.0)
}

/** Catalog wrapper that times the schema layer's public calls from
  * outside: `versionStamp` (the per-query freshness probe) and `table`
  * (partition discovery for `events`, cached rollup lookups otherwise). */
final class TimedCatalog(inner: Catalog, spans: Spans) extends Catalog {
  def table(spark: SparkSession, name: String): DataFrame =
    spans.time(if (name == "events") "schema.events_table" else "schema.table") {
      inner.table(spark, name)
    }
  override def versionStamp(spark: SparkSession): Option[String] =
    spans.time("schema.stamp")(inner.versionStamp(spark))
  override def invalidate(spark: SparkSession): Unit = inner.invalidate(spark)
}

/** One traced query: the same public calls `Engine.execute` makes with
  * the result cache off (stamp probe, rollup proof, z-layout proof,
  * DataFrame build), each wrapped in a span, then Catalyst planning and
  * execution into a CSV in the format `Engine.runBatch` writes. */
final class Mirror(spark: SparkSession, catalog: TimedCatalog,
                   aggregates: Seq[AggTableDef], zlayouts: Seq[ZLayoutDef],
                   spans: Spans) {

  /** Route class of a query, by the same proofs the engine runs. */
  def routeOf(q: Query): String =
    if (aggregates.exists(d => AggregateRouter.matches(q, d).isDefined)) "rollup"
    else if (zlayouts.exists(d => ZOrderRouter.matches(q, d).isDefined)) "zorder"
    else "scan"

  def build(q: Query): DataFrame = {
    val t0 = System.nanoTime()
    catalog.versionStamp(spark)
    val routed = spans.time("engine.route") {
      aggregates.iterator
        .flatMap(d => AggregateRouter.matches(q, d).map(r => (d, r)))
        .nextOption()
    }
    val df = routed match {
      case Some((d, residual)) =>
        spans.time("engine.compile")(
          AggregateRouter.execute(spark, q, d, residual, catalog))
      case None =>
        val z = spans.time("engine.route") {
          zlayouts.iterator
            .flatMap(d => ZOrderRouter.matches(q, d).map(b => (d, b)))
            .nextOption()
        }
        z match {
          case Some((d, boxes)) =>
            spans.time("engine.zroute")(ZOrderRouter.execute(spark, q, d, boxes))
          case None =>
            spans.time("engine.compile")(Compiler.compile(spark, q, catalog))
        }
    }
    spans.add("engine.execute", Clock.ms(t0))
    df
  }

  /** Parse, build, plan and run one query into `csvPath`; returns the
    * number of rows written. */
  def run(json: String, csvPath: String): Long = {
    val q = spans.time("dsl.parse")(QueryJson.parse(json))
    val df = build(q)
    df.queryExecution.executedPlan // plan before the exec span
    val rows = spans.time("exec.run")(Csv.write(df, csvPath))
    val phases = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { ph =>
      spans.add(s"catalyst.$ph",
        phases.get(ph).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0))
    }
    rows
  }
}

/** CSV in the format `Engine.runBatch` writes: header, one line per row,
  * NULL as an empty field, RFC 4180 quoting. */
object Csv {
  private def field(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  def write(df: DataFrame, path: String): Long = {
    val rows = df.toLocalIterator()
    val out = new java.io.PrintWriter(path, "UTF-8")
    var n = 0L
    try {
      out.println(df.columns.map(field).mkString(","))
      while (rows.hasNext) {
        out.println(rows.next().toSeq.map {
          case null => ""
          case v => field(v.toString)
        }.mkString(","))
        n += 1
      }
    } finally out.close()
    n
  }
}

/** Per-layer report of a set of traced operations: each span and task
  * counter as a mean per operation. */
object LayerReport {
  def perOp(spans: Spans, ops: Double, names: Seq[(String, String)]): Map[String, Double] =
    names.map { case (metric, span) =>
      metric -> (if (ops > 0) spans.totalMs(span) / ops else 0.0)
    }.toMap

  def exec(t: TaskTotals, ops: Double, rowsReturned: Double): Map[String, Double] = {
    def per(x: Double) = if (ops > 0) x / ops else 0.0
    Map(
      "exec.input_bytes" -> per(t.inputBytes.toDouble),
      "exec.jobs_per_query" -> per(t.jobs.toDouble),
      "exec.tasks_per_query" -> per(t.tasks.toDouble),
      "exec.rows_scanned_per_row_returned" ->
        (if (rowsReturned > 0) t.inputRecords / rowsReturned else 0.0),
      "exec.gc_s" -> per(t.gcMs / 1e3),
      "exec.shuffle_read_bytes" -> per(t.shuffleReadBytes.toDouble),
      "exec.shuffle_write_bytes" -> per(t.shuffleWriteBytes.toDouble),
      "exec.spill_bytes" -> per(t.spillBytes.toDouble),
      "exec.peak_exec_memory_mb" -> t.peakExecMemory / 1048576.0,
      "exec.task_cpu_ms_per_query" -> per(t.cpuNs / 1e6))
  }
}
