package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Metrics.{mean, median}

/** What a workload hands back: end-to-end metrics (untraced steps),
  * per-layer metrics (traced steps) and anything else worth keeping. */
final case class Outcome(
    e2e: Map[String, Double], layers: Map[String, Double], info: Map[String, Any])

/** State of one benchmark run: session, seed, timing window, tracer,
  * latency samples and failures. One client thread drives every call. */
final class Run(
    val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: String, val cores: Int) {
  val tracer = new Tracer(spark)
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0L
  private var nextOp = 0
  /** Samples of traced steps are kept apart. */
  private var prefix = ""
  var gcMs = 0.0
  var heapPeakMb = 0.0

  def newOp(): Int = { nextOp += 1; nextOp }
  def path(name: String): String = s"$work/$name"

  def sample(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(prefix + kind, mutable.ArrayBuffer.empty) += v
  def values(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
  def p50(kind: String): Double = median(values(kind))
  /** End-to-end latencies are means over the run's samples: a run holds a
    * mix of query shapes whose latencies cluster apart, and the median of
    * such a mix jumps between clusters from run to run. */
  def avg(kind: String): Double = mean(values(kind))

  def fail(op: String, reason: String): Unit = {
    System.err.println(s"perfbench: FAILED $op: $reason")
    failures += (op -> reason)
  }

  /** Count one timed operation; an exception is a failed operation, never
    * a crash of the run. */
  def attempt(op: String)(body: => Unit): Unit = {
    attempted += 1
    try body catch { case e: Exception => fail(op, e.toString.take(300)) }
  }

  /** The measured window: `step(i)` repeats until `seconds` have passed or
    * `maxSteps` steps ran. A traced run attaches the benchmark's listeners
    * on odd steps only, so traced and untraced steps share the same warm-up
    * and host conditions and their difference is the tracing overhead.
    * Returns (steps, seconds). */
  def window(maxSteps: Int = Int.MaxValue)(step: Int => Unit): (Int, Double) = {
    val gc0 = Trace.gcMs()
    Trace.resetHeapPeak()
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds && i < maxSteps) {
      if (traced && i % 2 == 1) { tracer.enable(); prefix = "traced/" }
      try step(i) finally { tracer.disable(); prefix = "" }
      i += 1
    }
    val secs = (System.nanoTime() - t0) / 1e9
    gcMs = (Trace.gcMs() - gc0).toDouble
    heapPeakMb = Trace.heapPeakMb()
    (i, secs)
  }

  // ---- per-layer summaries of the traced window -------------------------

  def spans(names: String*): Seq[Span] = tracer.spans.filter(s => names.contains(s.name)).toSeq

  /** Catalyst, exec and JVM layers over the given action spans. */
  def execLayers(actions: Seq[Span], primaryKind: String): Map[String, Double] = {
    def per(c: String, scale: Double = 1.0) = mean(actions.map(_(c) / scale))
    val mb = 1048576.0
    val cpuMs = actions.map(_("cpu_ns") / 1e6).sum
    val wallMs = actions.map(_.durMs).sum
    Map(
      "catalyst.optimize_ms" -> median(actions.map(_("optimize_us") / 1000.0)),
      "catalyst.plan_ms" -> median(actions.map(_("plan_us") / 1000.0)),
      "catalyst.scans" -> per("scans"),
      "catalyst.exchanges" -> per("exchanges"),
      "exec.wall_ms" -> median(actions.map(_.durMs)),
      "exec.cpu_ms" -> median(actions.map(_("cpu_ns") / 1e6)),
      "exec.cpu_util" -> cpuMs / (wallMs * cores),
      "exec.jobs" -> per("jobs"),
      "exec.stages" -> per("stages"),
      "exec.tasks" -> per("tasks"),
      "exec.scan_mb" -> per("scan_bytes", mb),
      "exec.scan_rows" -> per("scan_rows"),
      "exec.shuffle_write_mb" -> per("shuffle_write_bytes", mb),
      "exec.shuffle_read_mb" -> per("shuffle_read_bytes", mb),
      "exec.spill_mb" -> per("spill_bytes", mb),
      "jvm.gc_ms" -> gcMs,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "trace.overhead_frac" -> (p50("traced/" + primaryKind) / p50(primaryKind) - 1.0))
  }

  def constructLayers(layer: String, constructs: Seq[Span]): Map[String, Double] = Map(
    s"$layer.construct_ms" -> median(constructs.map(_.durMs)),
    s"$layer.construct_jobs" -> mean(constructs.map(_("jobs").toDouble)))
}

object Run {
  /** Bytes of the data files under a directory. */
  def bytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length
      else 0L
    walk(new java.io.File(dir))
  }

  def deleteTree(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new java.io.File(dir))
  }
}
