package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.prepare.ArtifactStore

/** Streaming performance bench, two artifacts:
  *
  * 1. Throughput (`target/stream_bench.json`): drives the finite-input
  *    streaming entries (Trigger.AvailableNow over the fixture parquet)
  *    and records wall clock + input rows/s per shape. AvailableNow
  *    processes the whole input and stops, so elapsed ≈ end-to-end batch
  *    latency for that input and rows/s = input rows / elapsed (state
  *    ops included: watermarked window agg,
  *    dropDuplicatesWithinWatermark, flatMapGroupsWithState
  *    sessionization, last-write upsert, checkpointed near-dup gate).
  *    Every invocation of a checkpointed entry (stream_upsert,
  *    stream_dedup_near) starts from an empty checkpoint and sink, so
  *    each timed pass processes the whole input.
  *
  * 2. Steady-state latency (`target/stream_latency.json`): the
  *    watermarked window agg and the FMGWS sessionizer run under
  *    Trigger.ProcessingTime with maxFilesPerTrigger=1 over a 16-file
  *    staging of events, recording the per-micro-batch triggerExecution
  *    duration distribution (p50/p95) — the round-12 review noted
  *    AvailableNow throughput says nothing about micro-batch latency
  *    under a real trigger.
  *
  * Usage: runMain graft.tools.BenchStream [sfDir] [passes]
  */
object BenchStream {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = graft.GraftSession.create("bench-stream")

    val inputRows = graft.sources.ParquetNanos
      .read(spark, s"$sfDir/events.parquet").count()
    // stream_dedup_near streams only the doc_id%10<2 subset (the "new
    // docs" side of the gate) — its rows/s basis is that subset, not
    // the full corpus
    val docRows = graft.sources.ParquetNanos
      .read(spark, s"$sfDir/documents.parquet")
      .filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(10)) < 2).count()

    // stream_media_decode's rows/s basis is CLIPS ingested (decode work
    // per clip is ~frames x pixels, measured separately by
    // PLANS.md round-15 addendum 4); the staged clip dir is input fixture, not state
    val allDocRows = graft.sources.ParquetNanos
      .read(spark, s"$sfDir/documents.parquet").count()

    // (entry, input-row base for rows/s)
    val shapes: Seq[(String, Long)] = Seq(
      ("stream_window_agg", inputRows),
      ("stream_dedup", inputRows),
      ("stream_upsert", inputRows),
      ("stream_sessionize", inputRows),
      ("stream_dedup_near", docRows),
      ("stream_media_decode", allDocRows))

    val qs = graft.SparkEntry.queries
    val results = shapes.map { case (name, rows) =>
      qs(name)(spark, sfDir).queryExecution.toRdd.count() // warm (JIT + source listing)
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        qs(name)(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      val best = times.min
      System.err.println(f"$name%-24s best=$best%.3f s  ${rows / best}%.0f rows/s")
      (name, best, rows)
    }
    val json = "{" +
      "\"metric\":\"stream_bench\",\"unit\":\"sec\"," +
      s""""input_rows":$inputRows,"streamed_doc_rows":$docRows,"passes":$passes,""" +
      "\"queries\":{" + results.map { case (n, t, _) =>
        "\"" + n + "\":" + f"$t%.3f" }.mkString(",") + "}," +
      "\"rows_per_sec\":{" + results.map { case (n, t, r) =>
        "\"" + n + "\":" + f"${r / t}%.0f" }.mkString(",") + "}," +
      s""""sf":"$sfDir"}"""
    Files.writeString(Paths.get("target/stream_bench.json"), json + "\n")
    println(json)

    latencyPhase(spark, sfDir)
    statePhase(spark, sfDir)
    spark.stop()
  }

  /** Steady-state micro-batch latency under Trigger.ProcessingTime:
    * 16 staged files x maxFilesPerTrigger=1 -> 16 real micro-batches;
    * per-batch latency is the progress log's triggerExecution duration
    * (includes source listing, state store commit, and sink write). */
  private def latencyPhase(spark: org.apache.spark.sql.SparkSession,
                           sfDir: String): Unit = {
    import spark.implicits._
    val stageDir = ArtifactStore.staged(sfDir, "events_stream16") { p =>
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      graft.sources.ParquetNanos.read(spark, s"$sfDir/events.parquet")
        .repartitionByRange(16, col("event_id")).write.parquet(p)
    }
    def src = spark.readStream.schema(graft.streaming.StreamOps.eventsSchema())
      .option("maxFilesPerTrigger", "1").parquet(stageDir)

    def run(name: String, build: () => org.apache.spark.sql.DataFrame,
            mode: OutputMode): (String, Double, Double, Int) = {
      val q = build().writeStream.format("memory")
        .queryName(s"lat_$name").outputMode(mode)
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .start()
      q.processAllAvailable()
      val durs = q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").toLong / 1e3)
        .sorted
      q.stop()
      spark.catalog.dropTempView(s"lat_$name")
      def pct(p: Double): Double =
        durs(math.max(0, math.min(durs.size - 1,
          math.ceil(p * durs.size).toInt - 1)))
      val (p50, p95) = (pct(0.5), pct(0.95))
      System.err.println(
        f"$name%-24s batches=${durs.size} p50=$p50%.3f s p95=$p95%.3f s")
      (name, p50, p95, durs.size)
    }

    val rows = Seq(
      run("window_agg",
        () => graft.streaming.StreamOps.windowedAgg(src), OutputMode.Update()),
      run("sessionize",
        () => graft.streaming.StreamOps.sessionizeStream(
          src.select(col("user_id"), col("ts"))
            .as[graft.streaming.StreamOps.SessionEvent]).toDF(),
        OutputMode.Append()))
    val json = "{" +
      "\"metric\":\"stream_latency\",\"unit\":\"sec\"," +
      "\"trigger\":\"ProcessingTime 200ms, maxFilesPerTrigger=1 of 16\"," +
      "\"p50\":{" + rows.map { case (n, p50, _, _) =>
        "\"" + n + "\":" + f"$p50%.3f" }.mkString(",") + "}," +
      "\"p95\":{" + rows.map { case (n, _, p95, _) =>
        "\"" + n + "\":" + f"$p95%.3f" }.mkString(",") + "}," +
      "\"batches\":{" + rows.map { case (n, _, _, b) =>
        "\"" + n + "\":" + b }.mkString(",") + "}," +
      s""""sf":"$sfDir"}"""
    Files.writeString(Paths.get("target/stream_latency.json"), json + "\n")
    println(json)
  }

  /** State-growth evidence (`target/stream_state.json`): drive the two
    * stateful shapes over >= 20 TIME-ORDERED micro-batches and record the
    * state store's rows/bytes after every batch. The claim under test is
    * boundedness on an unbounded stream:
    *  - dropDuplicatesWithinWatermark: keys older than the watermark are
    *    EVICTED, so state rows track the last-hour key arrival rate, flat
    *    while cumulative input grows ~linearly per batch;
    *  - flatMapGroupsWithState sessionizer: one open-session record per
    *    user, so state rows plateau at the distinct-user count.
    * Time order matters (the watermark only advances with event time), so
    * the input is staged as 24 sequential time slices — sequential writes
    * give increasing file mod times, which is the file source's
    * processing order. */
  private def statePhase(spark: org.apache.spark.sql.SparkSession,
                         sfDir: String): Unit = {
    val nSlices = 24
    val stageDir = ArtifactStore.staged(sfDir, "events_timeslices") { p =>
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      val ev = graft.sources.ParquetNanos.read(spark, s"$sfDir/events.parquet")
      val b = ev.agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
        .collect()(0)
      val (lo, hi) = (b.getLong(0), b.getLong(1) + 1)
      (0 until nSlices).foreach { i =>
        val a = lo + (hi - lo) * i / nSlices
        val z = lo + (hi - lo) * (i + 1) / nSlices
        ev.filter(unix_millis(col("ts")) >= a && unix_millis(col("ts")) < z)
          .coalesce(1).write.mode("append").parquet(p)
      }
    }
    def src = spark.readStream.schema(graft.streaming.StreamOps.eventsSchema())
      .option("maxFilesPerTrigger", "1").parquet(stageDir)

    final case class BatchState(inputRows: Long, stateRows: Long,
                                stateBytes: Long)
    def drive(name: String, out: org.apache.spark.sql.DataFrame,
              mode: OutputMode): (String, Seq[BatchState]) = {
      val q = out.writeStream.format("memory")
        .queryName(s"state_$name").outputMode(mode)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val batches = q.recentProgress.toSeq
        .filter(p => p.numInputRows > 0 && p.stateOperators.nonEmpty)
        .map { p =>
          BatchState(p.numInputRows,
            p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum)
        }
      spark.catalog.dropTempView(s"state_$name")
      (name, batches)
    }

    import spark.implicits._
    val runs = Seq(
      drive("dedup",
        graft.streaming.StreamOps
          .dedupeStream(src, Seq("user_id", "event_type"), "ts")
          .select(col("user_id"), col("event_type")),
        OutputMode.Append()),
      drive("sessionize",
        graft.streaming.StreamOps.sessionizeStream(
          src.select(col("user_id"), col("ts"))
            .as[graft.streaming.StreamOps.SessionEvent]).toDF(),
        OutputMode.Append()))

    // flat = the tail is not growing: last-batch state within 1.25x the
    // median of the second half (plateau), and far below cumulative input
    def verdict(bs: Seq[BatchState]): (Boolean, String) = {
      val rows = bs.map(_.stateRows)
      val half = rows.drop(rows.size / 2).sorted
      val med = half(half.size / 2)
      val cumulative = bs.map(_.inputRows).sum
      val flat = rows.last <= (med * 1.25).toLong + 8 &&
        rows.last < cumulative / 4
      (flat, s"last=${rows.last} medianTail=$med cumulativeInput=$cumulative")
    }
    val json = "{" +
      "\"metric\":\"stream_state\",\"slices\":" + nSlices + "," +
      runs.map { case (n, bs) =>
        val (flat, why) = verdict(bs)
        System.err.println(f"$n%-12s batches=${bs.size} flat=$flat  $why")
        "\"" + n + "\":{" +
          "\"batches\":" + bs.size + "," +
          "\"flat\":" + flat + "," +
          "\"state_rows\":[" + bs.map(_.stateRows).mkString(",") + "]," +
          "\"state_bytes\":[" + bs.map(_.stateBytes).mkString(",") + "]," +
          "\"input_rows\":[" + bs.map(_.inputRows).mkString(",") + "]}"
      }.mkString(",") +
      s""","sf":"$sfDir"}"""
    Files.writeString(Paths.get("target/stream_state.json"), json + "\n")
    println(json)
  }
}
