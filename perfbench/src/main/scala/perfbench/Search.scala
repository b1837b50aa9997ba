package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{Metric, VecStore}
import graft.index.{PruneStats, VecIndex}

import Metrics.median

/** Filters and query shapes shared by `search` and `ingest`. */
object Queries {
  val K = 10
  val Metrics3: IndexedSeq[Metric] = IndexedSeq(Metric.Cosine, Metric.DotProduct, Metric.Euclidean)

  /** Selectivity class: the share of label buckets a query's filter keeps. */
  sealed abstract class Sel(val name: String, val width: Int)
  case object Sel1 extends Sel("sel1", 1)
  case object Sel10 extends Sel("sel10", 10)
  case object Sel100 extends Sel("sel100", 100)
  val Classes: IndexedSeq[Sel] = IndexedSeq(Sel1, Sel10, Sel100)

  /** Label range [lo, hi) of class `sel` for slot `j` of a seed. */
  def range(seed: Long, sel: Sel, j: Int): (Int, Int) =
    if (sel.width >= Gen.Labels) (0, Gen.Labels)
    else {
      val lo = Gen.pick(seed, 11L + sel.width, j, Gen.Labels - sel.width + 1)
      (lo, lo + sel.width)
    }

  def filter(lo: Int, hi: Int): Option[Column] =
    if (lo <= 0 && hi >= Gen.Labels) None
    else if (hi == lo + 1) Some(col("label") === lo)
    else Some(col("label") >= lo && col("label") < hi)

  def topK(store: VecStore, spec: Check.Spec): DataFrame = {
    val plan = store.query(spec.q, spec.metric).take(spec.k)
    filter(spec.lo, spec.hi).fold(plan)(plan.metaFilter).collect()
  }

  def pairs(rows: Array[Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  /** Check every recorded answer against one brute-force pass over ids
    * [0, n); a wrong answer is a failed operation. */
  def checkAll(run: Run, n: Long,
      answers: Seq[(String, Check.Spec, Seq[(Long, Double)])]): Map[Check.Spec, Check.Truth] = {
    val specs = answers.map(_._2).distinct.toIndexedSeq
    val truths = specs.zip(Check.bruteForce(run.seed, n, specs)).toMap
    answers.foreach { case (op, spec, got) =>
      Check.topK(run.seed, spec, truths(spec), got).foreach(run.fail(op, _))
    }
    truths
  }
}

/** `search`: exact filtered top-10 over a label-sorted index at three
  * selectivities and three metrics, plus a per-query batch of 16. */
object Search {
  import Queries._

  val Rows = 131072
  /** Distinct query vectors per class; rounds cycle through them. */
  val Pool = 4
  val Batch = 16

  def run(r: Run): Outcome = {
    val spark = r.spark
    val genOp = r.newOp()
    val (input, _) = r.tracer.time(genOp, "generate") {
      Gen.cached(r.path(s"data/vectors-s${r.seed}-n$Rows"))(
        Gen.vectorFrame(spark, r.seed, 0L, Rows.toLong, r.cores))
    }

    // Set-up: build the index three times, keep the last.
    val builds = (0 until 3).map { i =>
      val op = r.newOp()
      r.tracer.time(op, "build") {
        VecIndex.build(spark.read.parquet(input), r.path(s"index/search-$i"),
          opts = VecIndex.BuildOptions(sortBy = Seq("label")))
      }
    }
    val (store, stats) = builds.last._1
    val setupMs = builds.map(_._2)

    val answers = mutable.ArrayBuffer.empty[(String, Check.Spec, Seq[(Long, Double)])]
    val tracedSpecs = mutable.ArrayBuffer.empty[Check.Spec]
    def single(i: Int, sel: Sel, metric: Metric, record: Boolean): Unit = {
      val j = i % Pool
      val (lo, hi) = range(r.seed, sel, j)
      val spec = Check.Spec(Gen.query(r.seed, j), metric, lo, hi, K, Rows.toLong)
      val name = s"${sel.name}/$metric/q$j"
      val op = r.newOp()
      if (record) r.attempt(name) {
        val (rows, ms) = r.tracer.time(op, "query") {
          val (df, _) = r.tracer.time(op, "construct")(topK(store, spec))
          r.tracer.time(op, "action")(df.collect())._1
        }
        r.sample("single", ms)
        r.sample(sel.name, ms)
        r.sample(s"${sel.name}/$metric", ms)
        answers += ((name, spec, pairs(rows)))
        if (r.tracer.enabled) tracedSpecs += spec
      } else topK(store, spec).collect()
    }
    def batch(i: Int, record: Boolean): Unit = {
      val j = i % Pool
      val (lo, hi) = range(r.seed, Sel10, j)
      val qs = (0 until Batch).map(b => Gen.query(r.seed, 1000 + j * Batch + b))
      val filtered = store.copy(df = store.df.filter(filter(lo, hi).get))
      val name = s"batch16/q$j"
      val op = r.newOp()
      def build() = filtered.queryBatchPerQuery(qs, Metric.Cosine, K)
      if (record) r.attempt(name) {
        val (rows, ms) = r.tracer.time(op, "batch") {
          val (df, _) = r.tracer.time(op, "construct")(build())
          r.tracer.time(op, "action")(df.collect())._1
        }
        r.sample("batch", ms)
        val byQuery = rows.groupBy(_.getInt(0))
        qs.indices.foreach { b =>
          val got = byQuery.getOrElse(b, Array.empty[Row]).toSeq.map(x => (x.getLong(1), x.getDouble(2)))
          answers += ((s"$name/$b", Check.Spec(qs(b), Metric.Cosine, lo, hi, K, Rows.toLong), got))
        }
      } else build().collect()
    }
    def round(i: Int, record: Boolean): Unit = {
      for (sel <- Classes; m <- Metrics3) single(i, sel, m, record)
      batch(i, record)
    }

    // Warm each plan shape once, untimed.
    Classes.foreach(single(0, _, Metric.Cosine, record = false))
    batch(0, record = false)
    val (rounds, secs) = r.window()(i => round(i, record = true))

    val truths = Queries.checkAll(r, Rows.toLong, answers.toSeq)

    // Traced-only layer probes, after the window.
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (r.traced) {
      val reports = Classes.map { sel =>
        val (lo, hi) = range(r.seed, sel, 0)
        sel -> PruneStats.forQuery(topK(store, Check.Spec(Gen.query(r.seed, 0), Metric.Cosine, lo, hi, K, Rows.toLong)))
      }.toMap
      Classes.foreach { sel =>
        val p = reports(sel)
        layers(s"index.pruned_frac_${sel.name}") =
          if (p.rowGroupsTotal == 0) 0.0 else p.rowGroupsPruned.toDouble / p.rowGroupsTotal
      }
      val (lo1, hi1) = range(r.seed, Sel1, 0)
      val matches1 = (0L until Rows.toLong).count { id => val l = Gen.vec(r.seed, id).label; l >= lo1 && l < hi1 }
      val p1 = reports(Sel1)
      layers("index.rows_examined_per_match") = (p1.rowsTotal - p1.rowsPruned).toDouble / math.max(1L, matches1)
      // Scan-only: the unfiltered store with only the embedding projected,
      // written to the noop sink; the kernels' share is the rest.
      val scanOnly = median((0 until 3).map { _ =>
        val op = r.newOp()
        r.tracer.time(op, "scan_only") {
          store.df.select(col("embedding")).write.format("noop").mode("overwrite").save()
        }._2
      })
      val actionsByOp = r.spans("action").map(s => s.op -> s).toMap
      layers("functions.scan_only_ms") = scanOnly
      layers("functions.kernel_ms") = r.p50("traced/sel100") - scanOnly
      val cpuS = r.spans("query").flatMap(q => actionsByOp.get(q.op)).map(_("cpu_ns") / 1e9).sum
      val scored = tracedSpecs.map(truths(_).matches).sum.toDouble
      layers("functions.vectors_scored_per_cpu_s") = if (cpuS > 0) scored / cpuS else 0.0
      layers ++= r.constructLayers("core", r.spans("construct"))
      layers ++= r.execLayers(r.spans("action"), "single")
      layers("index.build_s") = median(setupMs) / 1000.0
      layers("index.files") = stats.files.toDouble
      layers("index.row_groups") = stats.rowGroups.toDouble
    }

    val inputBytes = Run.bytes(input)
    val indexBytes = Run.bytes(stats.path)
    Outcome(
      e2e = Map(
        "setup_s" -> median(setupMs) / 1000.0,
        "op_mean_ms" -> r.avg("single"),
        "ops_per_s" -> (r.values("single").size + r.values("batch").size) / secs,
        "narrow_mean_ms" -> r.avg("sel1"),
        "wide_mean_ms" -> r.avg("sel100"),
        "batch_mean_ms" -> r.avg("batch"),
        "bytes_per_input_byte" -> indexBytes.toDouble / inputBytes),
      layers = layers.toMap,
      info = Map(
        "rows" -> Rows, "rounds" -> rounds, "window_s" -> secs,
        "setup_ms" -> setupMs, "input_bytes" -> inputBytes, "index_bytes" -> indexBytes,
        "index_files" -> stats.files, "index_row_groups" -> stats.rowGroups))
  }
}
