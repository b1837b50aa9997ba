package perfbench

/** The metric names and units the benchmark prints. `BENCHMARK.json`
  * declares the same lists; a test keeps them in step. */
object Metrics {
  final case class M(name: String, unit: String)

  /** Printed by every untraced run; each workload defines what its own
    * operations are (see perfbench/README.md). */
  val EndToEnd: Seq[M] = Seq(
    M("setup_s", "s"),
    M("op_mean_ms", "ms"),
    M("ops_per_s", "1/s"),
    M("narrow_mean_ms", "ms"),
    M("wide_mean_ms", "ms"),
    M("batch_mean_ms", "ms"),
    M("bytes_per_input_byte", "ratio"))

  /** Printed by every traced run; a layer the workload does not drive
    * reads 0. */
  val PerLayer: Seq[M] = Seq(
    M("registry.construct_ms", "ms"),
    M("registry.construct_jobs", "count"),
    M("core.construct_ms", "ms"),
    M("core.construct_jobs", "count"),
    M("catalyst.optimize_ms", "ms"),
    M("catalyst.plan_ms", "ms"),
    M("catalyst.scans", "count"),
    M("catalyst.exchanges", "count"),
    M("exec.wall_ms", "ms"),
    M("exec.cpu_ms", "ms"),
    M("exec.cpu_util", "ratio"),
    M("exec.jobs", "count"),
    M("exec.stages", "count"),
    M("exec.tasks", "count"),
    M("exec.scan_mb", "MB"),
    M("exec.scan_rows", "rows"),
    M("exec.shuffle_write_mb", "MB"),
    M("exec.shuffle_read_mb", "MB"),
    M("exec.spill_mb", "MB"),
    M("index.build_s", "s"),
    M("index.files", "count"),
    M("index.row_groups", "count"),
    M("index.pruned_frac_sel1", "ratio"),
    M("index.pruned_frac_sel10", "ratio"),
    M("index.pruned_frac_sel100", "ratio"),
    M("index.rows_examined_per_match", "ratio"),
    M("index.append_ms", "ms"),
    M("index.delete_ms", "ms"),
    M("index.delete_files_rewritten", "count"),
    M("index.compact_ms", "ms"),
    M("index.files_after_churn", "count"),
    M("functions.scan_only_ms", "ms"),
    M("functions.kernel_ms", "ms"),
    M("functions.vectors_scored_per_cpu_s", "1/s"),
    M("ops.exact_ms", "ms"),
    M("ops.minhash_pairs_ms", "ms"),
    M("ops.clusters_ms", "ms"),
    M("ops.pairs_out", "count"),
    M("ops.planted_recall", "ratio"),
    M("jvm.gc_ms", "ms"),
    M("jvm.heap_peak_mb", "MB"),
    M("trace.overhead_frac", "ratio"))

  // ---- summary statistics ------------------------------------------------

  def median(xs: Iterable[Double]): Double = quartiles(xs)._2

  /** (q1, median, q3) with Python's `statistics.quantiles(n=4)` default
    * (exclusive) method; NaN for no data. */
  def quartiles(xs: Iterable[Double]): (Double, Double, Double) = {
    val d = xs.toIndexedSeq.sorted
    d.size match {
      case 0 => (Double.NaN, Double.NaN, Double.NaN)
      case 1 => (d(0), d(0), d(0))
      case ld =>
        val m = ld + 1
        def q(i: Int): Double = {
          val j = math.min(math.max(i * m / 4, 1), ld - 1)
          val delta = i * m - j * 4
          (d(j - 1) * (4 - delta) + d(j) * delta) / 4.0
        }
        val mid = if (ld % 2 == 1) d(ld / 2) else (d(ld / 2 - 1) + d(ld / 2)) / 2.0
        (q(1), mid, q(3))
    }
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
