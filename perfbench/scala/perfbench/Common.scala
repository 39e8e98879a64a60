package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** `key=value` command-line parameters handed over by `run.py`. */
final case class Params(m: Map[String, String]) {
  def apply(k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing param $k"))
  def int(k: String): Int = apply(k).toInt
  def dbl(k: String): Double = apply(k).toDouble
  def bool(k: String): Boolean = apply(k) == "1"
}

object Params {
  def parse(args: Array[String]): Params = Params(args.map { a =>
    val i = a.indexOf('=')
    require(i > 0, s"expected key=value, got $a")
    a.take(i) -> a.drop(i + 1)
  }.toMap)
}

/** Minimal JSON writer: numbers, strings, booleans, sequences and maps. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), render(v) + "\n")
}

/** Summed task counters of one job group (or of the whole application). */
final class TaskTotals {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemory = 0L

  def add(o: TaskTotals): Unit = synchronized {
    jobs += o.jobs; tasks += o.tasks
    cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    peakExecMemory = math.max(peakExecMemory, o.peakExecMemory)
  }
}

/** Collects task counters per job group. The benchmark tags every timed
  * operation with its own job group (`SparkContext.setJobGroup`), so
  * counters are attributed to operations even when several client
  * threads share the session. Listener events arrive asynchronously:
  * call [[Spark.drain]] before reading. */
final class TaskListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, TaskTotals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def totals(g: String): TaskTotals =
    byGroup.computeIfAbsent(g, _ => new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val t = totals(g)
    t.synchronized { t.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val one = new TaskTotals
    one.tasks = 1
    val m = e.taskMetrics
    if (m != null) {
      one.cpuNs = m.executorCpuTime
      one.gcMs = m.jvmGCTime
      one.inputBytes = m.inputMetrics.bytesRead
      one.inputRecords = m.inputMetrics.recordsRead
      one.shuffleReadBytes =
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      one.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
      one.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
      one.peakExecMemory = m.peakExecutionMemory
    }
    totals(stageGroup.getOrDefault(e.stageId, "")).add(one)
  }

  /** Sum over every group whose name starts with `prefix`. */
  def sumGroups(prefix: String): TaskTotals = {
    val t = new TaskTotals
    byGroup.asScala.foreach { case (g, v) => if (g.startsWith(prefix)) t.add(v) }
    t
  }
}

object Spark {
  val listener = new TaskListener

  /** The engine's canonical session, pinned to `cpus` cores, with all
    * scratch space under the run's work directory. */
  def session(p: Params, app: String): SparkSession = {
    val work = p("work")
    val s = graft.GraftSession.builder(p("cpus")).appName(app)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(listener)
    s
  }

  def drain(s: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(s.sparkContext)

  /** Bytes of persisted blocks (memory + disk) right now. */
  def residentBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

object Fs {
  def walk(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally st.close()
    }
  }

  /** Bytes of data files under `root` (hidden and `_`-prefixed metadata
    * files and checksums excluded). */
  def dataBytes(root: String): Long =
    walk(root).filter(isData).map(Files.size).sum

  def dataFiles(root: String): Int = walk(root).count(isData)

  private def isData(f: Path): Boolean = {
    val n = f.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  def read(path: String): String = Files.readString(Paths.get(path))
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** The JVM's CPU time over a measured window, with and without the JIT
  * compilers' share. */
final class CpuWindow {
  private val cpu0 = Clock.processCpuNs()
  private val jit0 = Clock.jitMs()
  private var cpuS = 0.0
  private var jitS = 0.0

  def close(): Unit = {
    cpuS = (Clock.processCpuNs() - cpu0) / 1e9
    jitS = (Clock.jitMs() - jit0) / 1e3
  }

  /** `window_cpu_s`, `window_jit_s`, and `query_cpu_ms`: milliseconds of
    * CPU per query outside JIT compilation, over `queries` queries. */
  def report(queries: Long): Seq[(String, Any)] = Seq(
    "window_cpu_s" -> cpuS, "window_jit_s" -> jitS,
    "query_cpu_ms" -> (cpuS - jitS) * 1e3 / math.max(queries, 1L))
}

object Clock {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def s(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time of every thread of this JVM so far (driver, executor
    * threads, JIT and GC), in ns. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Time the JIT compilers of this JVM have spent so far, in ms. */
  def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, ms(t0))
  }
}
