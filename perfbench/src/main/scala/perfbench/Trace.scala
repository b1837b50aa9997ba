package perfbench

import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the benchmark's own listeners keep. Tracing never uses the
  * program's listeners: their attach calls change session settings, so a
  * traced run would time different plans. */
object Counter {
  val Names: IndexedSeq[String] = IndexedSeq(
    "jobs", "stages", "tasks", "cpu_ns", "run_ms", "scan_bytes", "scan_rows",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "optimize_us", "plan_us", "scans", "exchanges", "queries")
  private val idx = Names.zipWithIndex.toMap
  def apply(name: String): Int = idx(name)
}

final class BenchListener extends SparkListener {
  val c = new AtomicLongArray(Counter.Names.size)
  private def add(name: String, v: Long): Unit = c.addAndGet(Counter(name), v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("cpu_ns", m.executorCpuTime)
      add("run_ms", m.executorRunTime)
      add("scan_bytes", m.inputMetrics.bytesRead)
      add("scan_rows", m.inputMetrics.recordsRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.diskBytesSpilled)
    }
  }

  def snapshot(): Array[Long] = Array.tabulate(c.length)(c.get)
}

/** Catalyst phases and plan shape of every finished query. */
final class BenchQueryListener(c: AtomicLongArray) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def us(p: String) = phases.get(p).map(_.durationMs * 1000L).getOrElse(0L)
    c.addAndGet(Counter("optimize_us"), us("optimization"))
    c.addAndGet(Counter("plan_us"), us("planning"))
    val nodes = Trace.planNodes(qe.executedPlan)
    c.addAndGet(Counter("scans"), nodes.count {
      case _: DataSourceScanExec | _: BatchScanExec => true
      case _ => false
    }.toLong)
    c.addAndGet(Counter("exchanges"), nodes.count(_.isInstanceOf[Exchange]).toLong)
    c.addAndGet(Counter("queries"), 1L)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One recorded call: `op` groups the spans of one operation; `parent` is
  * the enclosing span (-1 at top level). Counter deltas cover the span's
  * own interval, children included. */
final case class Span(
    id: Int, parent: Int, op: Int, name: String, startMs: Double, durMs: Double,
    counters: Map[String, Long]) {
  def apply(counter: String): Long = counters.getOrElse(counter, 0L)
}

/** Times calls, and when enabled records them as spans with the counters
  * they caused. Spans stay in memory until the run writes them out. */
final class Tracer(spark: SparkSession) {
  private val listener = new BenchListener
  private val qeListener = new BenchQueryListener(listener.c)
  private var on = false
  private val t0 = System.nanoTime()
  private var stack: List[Int] = Nil
  private var nextId = 0
  val spans = ArrayBuffer.empty[Span]

  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  def disable(): Unit = if (on) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  /** Run `body`, returning its value and wall milliseconds. */
  def time[T](op: Int, name: String)(body: => T): (T, Double) = {
    val before = if (on) { org.apache.spark.PerfbenchBus.drain(spark.sparkContext); listener.snapshot() } else null
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    if (on) stack = id :: stack
    val start = System.nanoTime()
    val r = try body finally if (on) stack = stack.tail
    val ms = (System.nanoTime() - start) / 1e6
    if (on) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val after = listener.snapshot()
      val delta = Counter.Names.indices.map(i => Counter.Names(i) -> (after(i) - before(i))).toMap
      spans += Span(id, parent, op, name, (start - t0) / 1e6, ms, delta)
    }
    (r, ms)
  }
}

object Trace {
  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries; a reused exchange is not counted again. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+").head.toDouble
    catch { case _: Throwable => -1.0 }

  /** CPU time the hypervisor gave to other guests (steal), in seconds
    * summed over all CPUs; -1 where /proc/stat is missing. */
  def stealS(): Double =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
      cpu(8).toDouble / 100.0
    } catch { case _: Throwable => -1.0 }

  def processCpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
      case _ => -1.0
    }
}
