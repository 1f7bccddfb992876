package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the raw result file run.py reads. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case o: Option[_] => o.map(apply).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case x => quote(x.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** What one run hands back to run.py: raw samples, check outcomes,
  * layer counters and spans. Statistics are computed on the Python side.
  */
final class Result {
  val fields = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    if (!ok) System.err.println(s"[graftbench] CHECK FAILED $name: $detail")
    ok
  }

  def layer(name: String, v: Double): Unit = layers(name) = v

  def write(path: String, trace: Trace): Unit = {
    val all = fields ++ Seq("attempted" -> attempted, "failed" -> failed,
      "checks" -> checks, "layers" -> layers, "spans" -> trace.spans)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json(all) + "\n")
  }
}

/** Spans recorded around the calls the benchmark makes into each layer:
  * name, id, parent id, start and end (ns, relative to the trace start).
  * Disabled traces run the body with no bookkeeping at all.
  */
final class Trace(val enabled: Boolean) {
  private val origin = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private val buf = mutable.ArrayBuffer.empty[(Long, Long, String, Long, Long)]

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        buf.synchronized { buf += ((id, parent, name, t0 - origin, t1 - origin)) }
      }
    }

  def spans: Seq[Map[String, Any]] = buf.synchronized(buf.toVector).map {
    case (id, parent, name, s, e) =>
      Map("id" -> id, "parent" -> parent, "name" -> name, "start_ns" -> s, "end_ns" -> e)
  }
}

/** Scheduler-side counters from the benchmark's own SparkListener. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks = new AtomicLong()
  val schedulerDelayMs, executorRunMs, shuffleRead, shuffleWrite = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      executorRunMs.addAndGet(m.executorRunTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      if (info != null) {
        // the Spark UI's definition of scheduler delay
        val total = info.finishTime - info.launchTime
        val delay = total - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        schedulerDelayMs.addAndGet(math.max(0L, delay))
      }
    }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "scheduler_delay_ms" -> schedulerDelayMs.get, "executor_run_ms" -> executorRunMs.get,
    "shuffle_read_bytes" -> shuffleRead.get, "shuffle_write_bytes" -> shuffleWrite.get)
}

/** Catalyst phase times and parquet scan counts of every query execution
  * the session finishes (eager jobs started inside a key included).
  */
final class PlanCounters extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val analysisMs, optimizationMs, planningMs, parquetScans, executions = new AtomicLong()

  private def record(qe: QueryExecution): Unit = {
    executions.incrementAndGet()
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    analysisMs.addAndGet(ms("analysis"))
    optimizationMs.addAndGet(ms("optimization"))
    planningMs.addAndGet(ms("planning"))
    val scans = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec if s.relation.fileFormat.toString.toLowerCase.contains("parquet") => 1
      case b: BatchScanExec if b.scan.getClass.getSimpleName.toLowerCase.contains("parquet") => 1
    }
    parquetScans.addAndGet(scans.size.toLong)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def snapshot: Map[String, Long] = Map(
    "analysis_ms" -> analysisMs.get, "optimization_ms" -> optimizationMs.get,
    "planning_ms" -> planningMs.get, "parquet_scans" -> parquetScans.get)
}

object Env {
  // Spark tasks get two cores and the driver thread, JIT, GC and the load
  // generator the rest: with every core in `local[*]`, back-to-back runs
  // of one seed differed by up to a quarter on a shared 4-core host
  val cores: Int = math.min(2, Runtime.getRuntime.availableProcessors())

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Block until every queued listener event has been delivered. The bus
    * is private to Spark, so it is reached reflectively.
    */
  def drain(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = f
    ((System.nanoTime() - t0) / 1e6, v)
  }

  /** Cumulative (steal, total) jiffies from /proc/stat's aggregate line. */
  def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val cpu = src.getLines().find(_.startsWith("cpu ")).get
          .trim.split("\\s+").drop(1).map(_.toLong)
        (if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def codeHeapUsedMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0

  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }
}

/** Run context recorded with every result: host steal and load, cores,
  * heap, code heap and GC over the measured window.
  */
final class Context {
  private val (steal0, total0) = Env.cpuJiffies()
  private val gc0 = Env.gcMs()

  def finish(r: Result): Unit = {
    val (steal1, total1) = Env.cpuJiffies()
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val steal = if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0
    r.fields("context") = Map(
      "host_steal_pct" -> steal, "load_avg_1m" -> Env.loadAvg(),
      "cores_used" -> Env.cores, "cores_host" -> Runtime.getRuntime.availableProcessors(),
      "heap_used_mb" -> mem.getUsed / 1048576.0, "heap_max_mb" -> mem.getMax / 1048576.0,
      "codeheap_used_mb" -> Env.codeHeapUsedMb(), "gc_ms" -> (Env.gcMs() - gc0).toDouble)
  }
}
