package perfbench

import java.nio.file.{Files, Paths}
import java.time.{Duration, Instant}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.engine.Engine
import graft.prepare.Prepare
import graft.schema.PreparedCatalog
import graft.sources.ParquetNanos

/** The reference contract: `Prepare.run`, then JSON batches through
  * `Engine.runBatch` to CSV. */
object Dsl {

  /** The prepare phase, the first work of a fresh JVM: `Prepare.run` with
    * the default rollups and z-layout over the generated events. */
  def prepare(spark: SparkSession, p: Params): Map[String, Any] = {
    val raw = p("events")
    val root = p("root")
    val t0 = System.nanoTime()
    Prepare.run(spark, ParquetNanos.read(spark, raw), root, zorder = Prepare.defaultZOrder)
    Map(
      "setup_s" -> Clock.s(t0),
      "raw_bytes" -> Fs.dataBytes(raw),
      "stored_bytes" -> Fs.dataBytes(root),
      "layout_files" -> (Fs.dataFiles(s"$root/events") + Fs.dataFiles(s"$root/zorder")))
  }

  /** The engine over a prepared root; with `spans`, its catalog calls are
    * timed through a [[TimedCatalog]]. */
  def engine(spark: SparkSession, root: String, cache: Boolean,
             spans: Option[Spans]): Engine = {
    val cat = spans.fold[graft.schema.Catalog](PreparedCatalog(root))(
      new TimedCatalog(PreparedCatalog(root), _))
    new Engine(spark, cat, Prepare.defaultAggregates(), cache,
      zlayouts = Prepare.zLayoutDefs(root))
  }

  def mirror(spark: SparkSession, root: String, spans: Spans): Mirror =
    new Mirror(spark, new TimedCatalog(PreparedCatalog(root), spans),
      Prepare.defaultAggregates(), Prepare.zLayoutDefs(root), spans)

  /** Prepare, then whole batches (the JSON array in a seeded order), each
    * through a new engine's `Engine.runBatch` to CSV, as the reference
    * contract runs one batch per fresh run phase. Batch 0 warms the JVM
    * and is not measured; measured batches follow while a further one
    * would end within `seconds` of the end of batch 0 (at least three;
    * when tracing, every other batch goes through the traced [[Mirror]]
    * instead). `runBatch` closes each CSV before it starts the next query,
    * so the CSV modification times split a batch into per-query latencies
    * (at the file system's clock granularity, a few ms). */
  def run(p: Params): Map[String, Any] = {
    val spark = Spark.session(p, "perfbench-dsl")
    val setup = prepare(spark, p)
    val root = p("root")
    val out = p("out")
    val trace = p.bool("trace")
    val queries = Fs.read(p("queries")).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    val order = Fs.read(p("order")).trim.split(",").map(_.toInt).toSeq
    val sc = spark.sparkContext
    val spans = new Spans
    // routability: every query must be answerable from a rollup or the
    // z-layout; a scanned query counts as a failed operation
    val mirror = Dsl.mirror(spark, root, spans)
    val routes = queries.map(q => mirror.routeOf(graft.dsl.QueryJson.parse(q)))
    val batch = order.map(queries).mkString("[", ",", "]")

    var attempted = 0L
    var failed = 0L
    var rows = 0L
    val firstAnswer = mutable.ArrayBuffer.empty[Double]
    val batchS = mutable.ArrayBuffer.empty[Double]
    val queryMs = mutable.ArrayBuffer.empty[Double]
    val tracedMs = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
    var resident = Spark.residentBytes(spark)
    // batch 0, the warm-up, and at least three measured ones
    val minBatches = 4
    var k = 0
    var last = 0.0
    var start = System.nanoTime()
    var cpu = new CpuWindow
    while (k < minBatches || Clock.s(start) + last <= p.dbl("seconds")) {
      val traced = trace && k % 2 == 1
      val dir = s"$out/${if (traced) "traced" else "batch"}/$k"
      sc.setJobGroup(s"${if (traced) "traced" else "batch"}:$k", "batch", false)
      val b0 = System.nanoTime()
      try {
        if (traced) {
          new java.io.File(dir).mkdirs()
          order.zipWithIndex.foreach { case (i, n) =>
            val q0 = System.nanoTime()
            rows += mirror.run(queries(i), s"$dir/q${n + 1}.csv")
            tracedMs += Clock.ms(q0)
          }
        } else {
          val engineAt = Instant.now()
          val eng = engine(spark, root, cache = false, None)
          val began = Instant.now()
          eng.runBatch(batch, dir)
          val closed = began +: order.indices.map(n =>
            Files.getLastModifiedTime(Paths.get(s"$dir/q${n + 1}.csv")).toInstant)
          val ms = order.indices.map(n => Duration.between(closed(n), closed(n + 1)).toNanos / 1e6)
          if (k > 0) {
            firstAnswer += Duration.between(engineAt, closed(1)).toNanos / 1e9
            queryMs ++= ms
            order.zip(ms).foreach { case (i, m) =>
              perQuery.getOrElseUpdate(i, mutable.ArrayBuffer.empty) += m }
            batchS += Clock.s(b0)
          }
        }
      } catch { case e: Exception => failed += order.size; log(e) }
      attempted += order.size
      resident = math.max(resident, Spark.residentBytes(spark))
      if (k == 0) { start = System.nanoTime(); cpu = new CpuWindow }
      else last = math.max(last, Clock.s(b0))
      k += 1
    }
    val window = Clock.s(start)
    cpu.close()
    Spark.drain(spark)
    val l = Spark.listener
    val res = mutable.LinkedHashMap[String, Any](setup.toSeq: _*)
    res ++= Seq(
      "first_answer_s" -> Stats.median(firstAnswer.toSeq),
      "first_answer_samples_s" -> firstAnswer.toSeq,
      "batch_s" -> batchS.toSeq,
      "query_ms" -> queryMs.toSeq,
      "window_s" -> window,
      "per_query_ms" -> perQuery.map { case (k, v) => k.toString -> v.toSeq }.toMap,
      "attempted" -> attempted,
      "failed" -> failed,
      "order" -> order,
      "routes" -> routes,
      "cpu_ms_per_query" ->
        l.sumGroups("batch:").cpuNs / 1e6 / math.max(attempted - tracedMs.size, 1L),
      "resident_peak_mb" -> resident / 1048576.0,
      "contended" -> Contention.suspects(perQuery.values.map(_.toSeq).toSeq))
    res ++= cpu.report(queryMs.size + tracedMs.size)
    if (trace) {
      val ops = tracedMs.size.toDouble
      res ++= LayerReport.perOp(spans, ops, Seq(
        "dsl.parse_ms" -> "dsl.parse",
        "engine.execute_ms" -> "engine.execute",
        "engine.route_ms" -> "engine.route",
        "engine.zroute_ms" -> "engine.zroute",
        "engine.compile_ms" -> "engine.compile",
        "schema.stamp_ms" -> "schema.stamp",
        "schema.events_table_ms" -> "schema.events_table",
        "catalyst.analysis_ms" -> "catalyst.analysis",
        "catalyst.optimization_ms" -> "catalyst.optimization",
        "catalyst.planning_ms" -> "catalyst.planning",
        "exec.run_ms" -> "exec.run"))
      res ++= LayerReport.exec(l.sumGroups("traced:"), ops, rows.toDouble)
      res("trace.query_p50_ms") = Stats.median(tracedMs.toSeq)
    }
    spark.stop()
    res.toMap
  }

  def log(e: Throwable): Unit =
    System.err.println(s"[perfbench] operation failed: ${e.getClass.getName}: ${e.getMessage}")
}

/** Contention self-diagnosis in the style of `graft.Bench`: an operation
  * repeated within one run whose slowest sample exceeds 3x its fastest
  * (floor 150 ms) had the CPU taken from it. */
object Contention {
  def suspects(samples: Seq[Seq[Double]]): Int =
    samples.count(xs => xs.size >= 2 && xs.max > 3.0 * math.max(xs.min, 150.0))
}
