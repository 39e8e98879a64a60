package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable

import graft.dsl.QueryJson
import graft.prepare.Prepare
import graft.sources.ParquetNanos

/** One shared `Engine` (result cache on) under `cpus - 1` reader threads
  * replaying a seeded skewed mix, while one writer thread applies seeded
  * deltas through `Prepare.refresh`, with `Prepare.compact` after every
  * `compact_every` refreshes. */
object Serve {

  def run(p: Params): Map[String, Any] = {
    val spark = Spark.session(p, "perfbench-serve")
    val setup = Dsl.prepare(spark, p)
    val t0 = System.nanoTime()
    val root = p("root")
    val out = p("out")
    val trace = p.bool("trace")
    val distinct = Fs.read(p("queries")).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    val mixes = Fs.read(p("mix")).split("\n").filter(_.nonEmpty)
      .map(_.split(",").map(_.toInt).toSeq).toSeq
    val deltas = p("deltas").split(",").toSeq
    val compactEvery = p.int("compact_every")
    val spans = new Spans
    val eng = Dsl.engine(spark, root, cache = true, Option.when(trace)(spans))
    val sc = spark.sparkContext

    sc.setJobGroup("first", "first answer", false)
    eng.executeJson(distinct.head).collect()
    val firstAnswer = Clock.s(t0)
    sc.setJobGroup("warmup", "warmup", false)
    distinct.foreach(q => eng.executeJson(q).collect())
    val hits0 = eng.cache.hits
    val misses0 = eng.cache.misses

    val stop = new AtomicBoolean(false)
    val attempted = new AtomicLong
    val failed = new AtomicLong
    val latencies = Array.fill(mixes.size)(mutable.ArrayBuffer.empty[Double])
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val start = System.nanoTime()
    val cpu = new CpuWindow
    val readers = mixes.zipWithIndex.map { case (mix, r) =>
      val th = new Thread(() => {
        var n = 0
        while (!stop.get()) {
          val q = distinct(mix(n % mix.size))
          sc.setJobGroup(s"r$r:$n", "read", false)
          val q0 = System.nanoTime()
          try {
            val parsed = spans.time("dsl.parse")(QueryJson.parse(q))
            spans.time("engine.query")(eng.execute(parsed).collect())
            latencies(r) += Clock.ms(q0)
          } catch { case e: Exception =>
            failed.incrementAndGet()
            errors.add(s"${e.getClass.getName}: ${e.getMessage}".take(300))
          }
          attempted.incrementAndGet()
          n += 1
        }
      }, s"reader-$r")
      th.start()
      th
    }

    // writer: refresh until the window has elapsed (at least once)
    val refreshS = mutable.ArrayBuffer.empty[Double]
    val compactS = mutable.ArrayBuffer.empty[Double]
    var deltaBytes = 0L
    var grownBytes = 0L
    var applied = 0
    var resident = Spark.residentBytes(spark)
    sc.setJobGroup("writer", "refresh", false)
    while (applied == 0 || (Clock.s(start) < p.dbl("seconds") && applied < deltas.size)) {
      val before = Fs.dataBytes(root)
      val d = deltas(applied)
      val w0 = System.nanoTime()
      try {
        Prepare.refresh(spark, ParquetNanos.read(spark, d), root)
        refreshS += Clock.s(w0)
        applied += 1
        if (applied % compactEvery == 0) {
          val c0 = System.nanoTime()
          Prepare.compact(spark, root)
          compactS += Clock.s(c0)
        }
      } catch { case e: Exception =>
        failed.incrementAndGet(); Dsl.log(e)
        applied += 1
      }
      attempted.incrementAndGet()
      deltaBytes += Fs.dataBytes(d)
      grownBytes += Fs.dataBytes(root) - before
      resident = math.max(resident, Spark.residentBytes(spark))
    }
    stop.set(true)
    readers.foreach(_.join())
    val window = Clock.s(start)
    cpu.close()
    val hits = eng.cache.hits - hits0
    val misses = eng.cache.misses - misses0

    // answers of the final era, checked against the raw data plus the
    // applied deltas
    sc.setJobGroup("final", "final", false)
    val f0 = System.nanoTime()
    eng.runBatch(distinct.mkString("[", ",", "]"), s"$out/final")
    val finalBatchS = Clock.s(f0)
    attempted.addAndGet(distinct.size)

    val reads = latencies.map(_.size).sum
    val all = latencies.flatMap(_.toSeq).toSeq
    Spark.drain(spark)
    val l = Spark.listener
    val readTotals = l.sumGroups("r")
    val res = mutable.LinkedHashMap[String, Any]("setup_s" -> setup("setup_s"),
      "raw_bytes" -> setup("raw_bytes"),
      "first_answer_s" -> firstAnswer,
      "batch_s" -> finalBatchS,
      "query_ms" -> all,
      "reads_ok" -> reads,
      "window_s" -> window,
      "attempted" -> attempted.get(),
      "failed" -> failed.get(),
      "errors" -> errors.toArray.toSeq.take(20),
      "applied" -> applied,
      "refresh_s" -> refreshS.toSeq,
      "compact_s" -> compactS.toSeq,
      "cache_hits" -> hits,
      "cache_misses" -> misses,
      "cpu_ms_per_query" -> (readTotals.cpuNs / 1e6) / math.max(reads, 1),
      "resident_peak_mb" -> resident / 1048576.0,
      "stored_bytes" -> Fs.dataBytes(root),
      "layout_files" -> (Fs.dataFiles(s"$root/events") + Fs.dataFiles(s"$root/zorder")),
      "write_amp" -> (if (deltaBytes > 0) grownBytes.toDouble / deltaBytes else 0.0),
      "contended" -> 0)
    res ++= cpu.report(reads)
    if (trace) {
      // the engine's internal route/build steps are not separable under
      // the result cache; one traced pass over the distinct queries on
      // the final layout measures them
      val tspans = new Spans
      val mirror = Dsl.mirror(spark, root, tspans)
      var rows = 0L
      distinct.zipWithIndex.foreach { case (q, i) =>
        sc.setJobGroup(s"traced:$i", "traced", false)
        new java.io.File(s"$out/traced/$i").mkdirs()
        rows += mirror.run(q, s"$out/traced/$i/q1.csv")
      }
      Spark.drain(spark)
      val ops = distinct.size.toDouble
      val r = reads.toDouble
      res ++= LayerReport.perOp(spans, r, Seq(
        "dsl.parse_ms" -> "dsl.parse",
        "engine.execute_ms" -> "engine.query",
        "schema.stamp_ms" -> "schema.stamp",
        "schema.events_table_ms" -> "schema.events_table"))
      res ++= LayerReport.perOp(tspans, ops, Seq(
        "engine.route_ms" -> "engine.route",
        "engine.zroute_ms" -> "engine.zroute",
        "engine.compile_ms" -> "engine.compile",
        "catalyst.analysis_ms" -> "catalyst.analysis",
        "catalyst.optimization_ms" -> "catalyst.optimization",
        "catalyst.planning_ms" -> "catalyst.planning",
        "exec.run_ms" -> "exec.run"))
      res ++= LayerReport.exec(readTotals, r, 0.0)
      res("exec.rows_scanned_per_row_returned") =
        l.sumGroups("traced:").inputRecords / math.max(rows.toDouble, 1.0)
      res("trace.query_p50_ms") = Stats.median(all)
    }
    spark.stop()
    res.toMap
  }
}
