package perfbench

import scala.collection.mutable

import graft.SparkEntry

/** The operator suite: `SparkEntry.queries(name)(spark, dir)` executed
  * with `queryExecution.toRdd.count()`, as `graft.Bench` times it, over a
  * seeded fixture dir. Pipeline artifacts land under the JVM's working
  * directory (`target/prepared/pipeline/...`), which `run.py` sets to the
  * run's fresh work directory. */
object Suite {

  private def entries(p: Params, k: String): Seq[String] =
    p(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Set-up, then timed passes until `seconds` have elapsed (at least
    * three; two when tracing).
    *
    * Set-up is the first-touch pass over every entry in a fresh artifact
    * root, writing each entry's answer for the oracle check: the pipeline
    * entries build their artifacts here and every later pass reads them
    * from disk. It runs in the same JVM as the timed passes, which it also
    * warms. Traced runs alternate plain passes with passes that force
    * Catalyst planning as its own span. Every timed execution's row count
    * is reported for the check against the set-up's answers. */
  def run(p: Params): Map[String, Any] = {
    val t0 = System.nanoTime()
    val spark = Spark.session(p, "perfbench-suite")
    val dir = p("dir")
    val out = p("out")
    val trace = p.bool("trace")
    val names = entries(p, "entries")
    val sc = spark.sparkContext
    var attempted = 0L
    var failed = 0L
    var firstAnswer = 0.0

    sc.setJobGroup("setup", "setup", false)
    val s0 = System.nanoTime()
    names.foreach { n =>
      attempted += 1
      try SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$n")
      catch { case e: Exception => failed += 1; Dsl.log(e) }
      if (firstAnswer == 0.0) firstAnswer = Clock.s(t0)
    }
    val setupS = Clock.s(s0)
    graft.operators.Dedup.releaseIntermediates()
    Json.write(s"$out/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
    val artifacts = "target/prepared"
    val counts = mutable.Map.empty[String, mutable.Set[Long]]

    val spans = new Spans
    val perEntry = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val plainMs = mutable.ArrayBuffer.empty[Double]
    val tracedMs = mutable.ArrayBuffer.empty[Double]
    val passS = mutable.ArrayBuffer.empty[Double]
    val residentAfter = mutable.ArrayBuffer.empty[Double]
    var tracedRows = 0L
    var resident = Spark.residentBytes(spark)
    val start = System.nanoTime()
    val cpu = new CpuWindow
    var pass = 0
    // whole passes only: another pass starts only if it would end within
    // `seconds`, judged by the last pass
    // three plain passes at least, so that the median pass is not the
    // mean of the slow first warm pass and one other
    val minPasses = if (trace) 2 else 3
    var last = 0.0
    while (pass < minPasses || Clock.s(start) + last <= p.dbl("seconds")) {
      val traced = trace && pass % 2 == 1
      val kind = if (traced) "traced" else "plain"
      val p0 = System.nanoTime()
      names.foreach { n =>
        sc.setJobGroup(s"$kind:$pass:$n", kind, false)
        val e0 = System.nanoTime()
        attempted += 1
        try {
          val df = spans.time("entry.build")(SparkEntry.queries(n)(spark, dir))
          val rows = if (traced) {
            df.queryExecution.executedPlan // plan before the exec span
            val r = spans.time("exec.run")(df.queryExecution.toRdd.count())
            val phases = df.queryExecution.tracker.phases
            Seq("analysis", "optimization", "planning").foreach { ph =>
              spans.add(s"catalyst.$ph", phases.get(ph)
                .map(x => (x.endTimeMs - x.startTimeMs).toDouble).getOrElse(0.0))
            }
            tracedRows += r
            r
          } else df.queryExecution.toRdd.count()
          val ms = Clock.ms(e0)
          counts.getOrElseUpdate(n, mutable.Set.empty) += rows
          (if (traced) tracedMs else plainMs) += ms
          if (!traced) perEntry.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ms
        } catch { case e: Exception => failed += 1; Dsl.log(e) }
        val r = Spark.residentBytes(spark)
        residentAfter += r / 1048576.0
        resident = math.max(resident, r)
      }
      graft.operators.Dedup.releaseIntermediates()
      last = Clock.s(p0)
      if (!traced) passS += last
      pass += 1
    }
    val window = Clock.s(start)
    cpu.close()
    Spark.drain(spark)
    val l = Spark.listener
    val plain = l.sumGroups("plain:")
    val res = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "first_answer_s" -> firstAnswer,
      "stored_bytes" -> Fs.dataBytes(artifacts),
      "raw_bytes" -> Fs.dataBytes(dir),
      "layout_files" -> Fs.dataFiles(artifacts),
      "query_ms" -> plainMs.toSeq,
      "pass_s" -> passS.toSeq,
      "window_s" -> window,
      "attempted" -> attempted,
      "failed" -> failed,
      "cpu_ms_per_query" -> (plain.cpuNs / 1e6) / math.max(plainMs.size, 1),
      "resident_peak_mb" -> resident / 1048576.0,
      "entry_ms" -> perEntry.map { case (k, v) => k -> v.toSeq }.toMap,
      "row_counts" -> counts.map { case (k, v) => k -> v.toSeq }.toMap,
      "contended" -> Contention.suspects(perEntry.values.map(_.toSeq).toSeq))
    res ++= cpu.report(plainMs.size + tracedMs.size)
    if (trace) {
      val ops = tracedMs.size.toDouble
      res ++= LayerReport.perOp(spans, ops, Seq(
        "catalyst.analysis_ms" -> "catalyst.analysis",
        "catalyst.optimization_ms" -> "catalyst.optimization",
        "catalyst.planning_ms" -> "catalyst.planning",
        "exec.run_ms" -> "exec.run"))
      res("entry.build_ms") =
        spans.totalMs("entry.build") / math.max(spans.count("entry.build"), 1.0)
      res ++= LayerReport.exec(l.sumGroups("traced:"), ops, tracedRows.toDouble)
      res("operators.resident_mb") = Stats.mean(residentAfter.toSeq)
      res("trace.query_p50_ms") = Stats.median(tracedMs.toSeq)
    }
    spark.stop()
    res.toMap
  }
}
