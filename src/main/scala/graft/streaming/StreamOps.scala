package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming operators (extension — the reference is strictly
  * batch, SURVEY §2.4; these make the engine usable for continuous
  * event-pipeline ingestion).
  *
  * Shapes covered: file-source streams, watermarked tumbling-window
  * aggregation, and custom session state via flatMapGroupsWithState. Each
  * has a batch-equivalent formulation, which is what the correctness
  * harness compares against (stream over a finite input with
  * Trigger.AvailableNow must equal the batch query).
  */
object StreamOps {

  /** The raw events schema a file stream over them declares (streams
    * cannot infer one), `ts` as `tsType`. */
  def eventsSchema(tsType: DataType = TimestampType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Open a parquet directory/file as a stream. Schema must be supplied
    * (streaming sources cannot infer); nanos timestamps arrive as longs
    * and are converted like the batch path. */
  def parquetStream(spark: SparkSession, path: String, schema: StructType,
                    nanosCols: Set[String] = Set.empty): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream.schema(schema).parquet(path)
    nanosCols.foldLeft(raw)((d, c) =>
      d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000"))))
  }

  /** Watermarked tumbling-window aggregate: per (window, event_type)
    * count + sum(value). The canonical streaming shape: state bounded by
    * the watermark, partial aggregation before the shuffle. */
  def windowedAgg(events: DataFrame, tsCol: String = "ts",
                  window_ : String = "1 hour",
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Run a finite streaming query to completion into a memory sink and
    * return the result table. Trigger.AvailableNow processes all files
    * then stops — deterministic for harness comparison. */
  def runToMemory(spark: SparkSession, streamed: DataFrame,
                  queryName: String,
                  outputMode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q = streamed.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming exact dedup: first occurrence per key wins; state bounded
    * by the watermark (keys older than the watermark are evicted — the
    * standard shape for dedup over an unbounded firehose). */
  def dedupeStream(events: DataFrame, keyCols: Seq[String],
                   tsCol: String, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join: left events matched to right events on
    * `key` within [0, windowMinutes] after the left event. Watermarks on
    * both sides bound the join state. */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, key: String,
                          leftTs: String, rightTs: String,
                          windowMinutes: Int,
                          watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(key) === r(key) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + org.apache.spark.sql.functions.expr(
          s"INTERVAL $windowMinutes MINUTES"))
  }

  // ------------------------------------------------ stateful sessionizer

  case class SessionEvent(user_id: Long, ts: Timestamp)
  case class SessionState(start: Long, end: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long)

  /** Custom session state with flatMapGroupsWithState: per-user sessions
    * closed after `timeoutMinutes` of event-time inactivity. Emits a
    * session row whenever a gap closes one (and the trailing session on
    * state timeout). Batch-equivalent: [[graft.operators.Sessionize]].
    * State timestamps are MICROS since epoch (java.sql.Timestamp.getTime
    * is millis and would silently truncate parquet micros). */
  def sessionizeStream(events: Dataset[SessionEvent],
                       timeoutMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    // gap compare on FLOORED SECONDS — the exact semantics of the batch
    // formulation (unix_timestamp diff) and of DuckDB date_diff('second'),
    // so stream and batch close sessions on identical boundaries
    val gapSec = timeoutMinutes * 60L
    def toUs(t: Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    def toTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[SessionEvent], state: GroupState[List[SessionState]]) =>
          // sort this micro-batch's events; merge into open session
          val sorted = evs.map(e => toUs(e.ts)).toSeq.sorted
          var open = state.getOption.flatMap(_.headOption)
          val closed = scala.collection.mutable.ListBuffer.empty[SessionOut]
          sorted.foreach { t =>
            open match {
              case Some(s)
                  if t / 1000000L - s.end / 1000000L <= gapSec =>
                open = Some(s.copy(end = t, n = s.n + 1))
              case Some(s) =>
                closed += SessionOut(user, toTs(s.start), toTs(s.end), s.n)
                open = Some(SessionState(t, t, 1))
              case None =>
                open = Some(SessionState(t, t, 1))
            }
          }
          state.update(open.toList)
          closed.iterator
      }
  }

  /** Flush trailing open sessions (call after the finite stream ends —
    * streaming proper would use a state timeout instead). */
  def drainOpenSessions(spark: SparkSession,
                        events: Dataset[SessionEvent],
                        timeoutMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    // For a finite dataset the full result = batch sessionization; this
    // helper exists so tests can compare stream+drain against batch.
    graft.operators.Sessionize.sessions(
      events.toDF(), "user_id", "ts", timeoutMinutes)
  }
}
