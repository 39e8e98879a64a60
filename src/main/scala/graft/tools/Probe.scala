package graft.tools

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import graft.{Bench, GraftSession, SparkEntry}

/** The dev probe: time named `SparkEntry.queries` entries and show what
  * their AQE-final plans did, under optional Spark conf overrides.
  *
  * {{{
  * runMain graft.tools.Probe <entry[,entry...]> <sfDir> [passes] [spark.conf.key=value ...]
  * }}}
  *
  * Per entry: one cold pass (first contact in this JVM: JIT, prepared
  * layouts, pipeline artifacts), then `passes` warm passes, all timed by
  * [[graft.Bench.timeOne]] with pooled dedup intermediates released
  * before each warm pass; the row count; the Spark jobs the last warm
  * pass launched (a routed DSL query is one) and the generated classes
  * it compiled (0 once the entry's code is in Spark's class cache; more
  * means the plan emits new code per pass); the AQE-final
  * shuffle-exchange count (the number `PlanFingerprintSpec` pins); the
  * final plan's join/exchange/aggregate/scan skeleton, its cached
  * subplans (`InMemoryTableScan`/`InMemoryRelation`: one relation read
  * by two scans is computed once) and the operators that call a native
  * kernel, with broadcast sizes; and the
  * effective value of each overridden conf. PLANS.md ("One dev probe")
  * maps each retired single-purpose probe to its recorded finding and
  * to the `Probe` command that reproduces its entry-level number. */
object Probe {

  final case class Record(entry: String, coldS: Double, warmS: Seq[Double],
                          rows: Long, jobs: Int, compiles: Long, exchanges: Int,
                          skeleton: Seq[String],
                          broadcasts: Seq[String], confs: Seq[(String, String)])

  private val Usage = "usage: graft.tools.Probe <entry[,entry...]> <sfDir> [passes] " +
    "[spark.conf.key=value ...]"

  /** Probe `names` at `sfDir`. Every input is checked before any job
    * runs: unknown entry names, a non-positive pass count, and override
    * keys that are not runtime-settable Spark SQL confs (a typo'd key
    * would otherwise be set silently and change nothing). The overrides
    * hold for the whole run and are restored afterwards. */
  def run(spark: SparkSession, names: Seq[String], sfDir: String, passes: Int,
          overrides: Seq[(String, String)] = Nil): Seq[Record] = {
    requireInputs(names, passes)
    val notSettable = overrides.map(_._1).filterNot(spark.conf.isModifiable)
    require(notSettable.isEmpty,
      s"not runtime-settable Spark SQL confs: ${notSettable.mkString(",")}")
    val previous = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val confs = overrides.map { case (k, _) => k -> spark.conf.get(k) }
      names.map { name =>
        val (coldS, rows, df) = Bench.timeOne(spark, sfDir, name)
        val warm = (1 to passes).map { _ =>
          graft.operators.Dedup.releaseIntermediates()
          val ((sec, compiles), jobs) =
            jobsOf(spark)(Bench.compilesOf(Bench.timeOne(spark, sfDir, name)._1))
          (sec, jobs, compiles)
        }
        val broadcasts = broadcastExchanges(df).map { b =>
          def metric(m: String) = b.metrics.get(m).fold(-1L)(_.value)
          s"rows=${metric("numOutputRows")} bytes=${metric("dataSize")}"
        }
        Record(name, coldS, warm.map(_._1), rows, warm.last._2, warm.last._3,
          shuffleExchanges(df), skeleton(finalPlan(df)), broadcasts, confs)
      }
    } finally previous.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** The result of `f` and the number of Spark jobs launched while it
    * ran: every job started before a marker job submitted after `f`,
    * whatever its thread or job group (a job group reaches only threads
    * created after it is set, so counting by group would miss jobs sent
    * from an existing pool thread). Listener events arrive in submission
    * order, so once the marker is seen every earlier job was counted. */
  def jobsOf[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = s"graft-probe-marker-${UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markerSeen.countDown()
        else jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      val result = f
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      require(markerSeen.await(60, TimeUnit.SECONDS), "marker job never seen")
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def requireInputs(names: Seq[String], passes: Int): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(names.nonEmpty && unknown.isEmpty,
      s"entries not in SparkEntry.queries: ${unknown.mkString(",")}")
    require(passes >= 1, s"passes must be >= 1, got $passes")
  }

  /** The AQE-final physical plan of an executed DataFrame (its current
    * plan when AQE is off or the DataFrame has not run yet). */
  def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Shuffle exchanges in the AQE-final plan of an executed DataFrame. */
  def shuffleExchanges(df: DataFrame): Int =
    finalPlan(df).toString.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") ||
      l.contains("Exchange rangepartitioning") ||
      l.contains("Exchange SinglePartition"))

  /** Broadcast exchanges of an executed DataFrame's final plan. The walk
    * enters AQE query stages: a stage is a leaf node, so a plain
    * `foreach` over the final plan never reaches the exchange inside. */
  def broadcastExchanges(df: DataFrame): Seq[BroadcastExchangeExec] =
    StageWalk.collect(df.queryExecution.executedPlan) { case b: BroadcastExchangeExec => b }

  private object StageWalk extends AdaptiveSparkPlanHelper

  private def skeleton(plan: SparkPlan): Seq[String] =
    plan.toString.linesIterator.filter(l => l.contains("Join") ||
      l.contains("Exchange") || l.contains("HashAggregate") ||
      l.contains("Sort ") || l.contains("FileScan") || l.contains("InMemory") ||
      l.contains("static_invoke(graft.")).toSeq

  /** One `key=value` conf override; anything else fails loudly. */
  def parseOverride(kv: String): (String, String) = kv.split("=", 2) match {
    case Array(k, v) if k.trim.nonEmpty && v.nonEmpty => k.trim -> v
    case _ => throw new IllegalArgumentException(
      s"conf override '$kv' is not key=value; $Usage")
  }

  def main(args: Array[String]): Unit = {
    val positional = args.takeWhile(!_.contains('=')).take(3)
    require(positional.length >= 2, Usage)
    val names = positional(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val passes = positional.lift(2).fold(Bench.WarmPasses)(p =>
      p.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"passes '$p' is not an integer; $Usage")))
    val overrides = args.drop(positional.length).map(parseOverride).toSeq
    requireInputs(names, passes)
    val spark = GraftSession.create("graft-probe")
    try run(spark, names, positional(1), passes, overrides).foreach { r =>
      println(f"PROBE ${r.entry} cold=${r.coldS}%.3f s warm=" +
        r.warmS.map(t => f"$t%.3f").mkString("[", ",", "]") +
        f" min=${r.warmS.min}%.3f s rows=${r.rows} jobs=${r.jobs} " +
        s"compiles=${r.compiles} exchanges=${r.exchanges}")
      r.confs.foreach { case (k, v) => println(s"  CONF $k = $v") }
      r.skeleton.foreach(l => println(s"  PLAN $l"))
      r.broadcasts.foreach(b => println(s"  BROADCAST $b"))
    } finally spark.stop()
  }
}
