package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.core.{Metric, VecStore}
import graft.index.{PruneStats, VecIndex}

import Metrics.{mean, median}

/** `ingest`: appends to the index while filtered queries keep being served
  * from it, then deletes and a compaction. Every step of the window is the
  * same append-and-query mix, so a run that fits one more step measures
  * the same thing. */
object Ingest {
  import Queries._

  val BaseRows = 65536
  val BatchRows = 8192
  /** Batches generated up front; a 10 s window appends three or four. */
  val MaxBatches = 8
  /** Label buckets deleted after the window. */
  val Deletes = 2
  val Opts = VecIndex.BuildOptions(sortBy = Seq("label"))

  def run(r: Run): Outcome = {
    val spark = r.spark
    val genOp = r.newOp()
    val ((base, batches), _) = r.tracer.time(genOp, "generate") {
      val base = Gen.cached(r.path(s"data/vectors-s${r.seed}-n$BaseRows"))(
        Gen.vectorFrame(spark, r.seed, 0L, BaseRows.toLong, r.cores))
      val batches = Gen.cached(
        r.path(s"data/batches-s${r.seed}-from$BaseRows-b$BatchRows-m$MaxBatches"), Seq("batch"))(
        Gen.vectorFrame(spark, r.seed, BaseRows.toLong, BaseRows.toLong + MaxBatches * BatchRows, r.cores)
          .withColumn("batch", ((col("vec_id") - BaseRows) / BatchRows).cast("int"))
          .repartition(col("batch")))
      (base, batches)
    }
    def batchPath(i: Int) = s"$batches/batch=$i"

    // Set-up: build the base index three times, keep the last.
    val builds = (0 until 3).map { i =>
      val op = r.newOp()
      r.tracer.time(op, "build") {
        VecIndex.build(spark.read.parquet(base), r.path(s"index/ingest-$i"), opts = Opts)
      }
    }
    val path = builds.last._1._2.path
    val setupMs = builds.map(_._2)
    var store: VecStore = builds.last._1._1
    var maxId = BaseRows.toLong
    val deleted = mutable.LinkedHashMap.empty[Int, Long]
    val deleteOrder = new scala.util.Random(Gen.mix(r.seed, 30L)).shuffle((0 until Gen.Labels).toList)
    var batchesDone = 0
    val rewritten = mutable.ArrayBuffer.empty[Double]
    val answers = mutable.ArrayBuffer.empty[(String, Check.Spec, Seq[(Long, Double)])]

    def query(i: Int, sel: Sel, metric: Metric, kind: String): Unit = {
      val j = i % Search.Pool
      val (lo, hi) = range(r.seed, sel, i)
      val spec = Check.Spec(Gen.query(r.seed, j), metric, lo, hi, K, maxId, deleted.toMap)
      val name = s"$kind/${sel.name}/$metric/$i"
      val op = r.newOp()
      r.attempt(name) {
        val (rows, ms) = r.tracer.time(op, "query") {
          val (df, _) = r.tracer.time(op, "construct")(topK(store, spec))
          r.tracer.time(op, "action")(df.collect())._1
        }
        r.sample(kind, ms)
        r.sample(s"$kind/${sel.name}", ms)
        answers += ((name, spec, pairs(rows)))
      }
    }

    def step(i: Int): Unit = {
      val op = r.newOp()
      r.attempt(s"append/$i") {
        val ((st, _), ms) = r.tracer.time(op, "append") {
          VecIndex.append(spark.read.parquet(batchPath(i)), path, opts = Opts)
        }
        store = st
        maxId += BatchRows
        batchesDone += 1
        r.sample("append", ms)
      }
      query(i, Sel1, Metric.Cosine, "query")
      query(i, Sel1, Metric.Euclidean, "query")
      query(i, Sel10, Metric.DotProduct, "query")
      query(i, Sel10, Metric.Cosine, "query")
    }

    def delete(label: Int): Unit = {
      val op = r.newOp()
      r.attempt(s"delete/$label") {
        val (stats, ms) = r.tracer.time(op, "delete") {
          val s = VecIndex.delete(spark, path, col("label") === label)
          store = VecIndex.load(spark, path)
          s
        }
        deleted(label) = maxId
        rewritten += stats.filesRewritten.toDouble
        r.sample("delete", ms)
      }
    }

    def compact(op: Int): Option[VecIndex.BuildStats] = {
      var out: Option[VecIndex.BuildStats] = None
      r.attempt(s"compact/$op") {
        val (stats, ms) = r.tracer.time(op, "compact") {
          val s = VecIndex.compact(spark, path, Opts)
          store = VecIndex.load(spark, path)
          s
        }
        r.sample("compact", ms)
        out = Some(stats)
      }
      out
    }

    // Warm the query shapes once, untimed, on the base index.
    Seq(Sel1 -> Metric.Cosine, Sel10 -> Metric.DotProduct).foreach { case (sel, m) =>
      val (lo, hi) = range(r.seed, sel, 0)
      topK(store, Check.Spec(Gen.query(r.seed, 0), m, lo, hi, K, maxId)).collect()
    }
    val (_, secs) = r.window(MaxBatches)(step)
    val inputBytes = Run.bytes(base) + (0 until batchesDone).map(i => Run.bytes(batchPath(i))).sum

    // Deletes, then the churned state, the compaction and queries on its
    // result.
    deleteOrder.take(Deletes).foreach(delete)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val filesAfterChurn = new java.io.File(path).listFiles.count(_.getName.endsWith(".parquet"))
    if (r.traced) Classes.foreach { sel =>
      val (lo, hi) = range(r.seed, sel, 0)
      val p = PruneStats.forQuery(topK(store, Check.Spec(Gen.query(r.seed, 0), Metric.Cosine, lo, hi, K, maxId)))
      layers(s"index.pruned_frac_${sel.name}") =
        if (p.rowGroupsTotal == 0) 0.0 else p.rowGroupsPruned.toDouble / p.rowGroupsTotal
      if (sel == Sel1) layers("index.rows_scanned_sel1") = (p.rowsTotal - p.rowsPruned).toDouble
    }
    val finalStats = compact(r.newOp())
    val endIter = batchesDone
    query(endIter, Sel1, Metric.Cosine, "post")
    query(endIter, Sel10, Metric.DotProduct, "post")
    query(endIter, Sel100, Metric.Euclidean, "post")
    r.attempted += 1
    val liveRows = store.df.count()

    val truths = checkAll(r, maxId, answers.toSeq)
    val fullSpec = answers.find(_._1.startsWith("post/sel100")).map(_._2)
    val expectedLive = fullSpec.map(truths(_).matches).getOrElse(-1L)
    if (liveRows != expectedLive)
      r.fail("post/count", s"index holds $liveRows rows, appended minus deleted is $expectedLive")

    val indexBytes = Run.bytes(path)
    if (r.traced) {
      val sel1Spec = Check.Spec(Gen.query(r.seed, 0), Metric.Cosine, range(r.seed, Sel1, 0)._1,
        range(r.seed, Sel1, 0)._2, K, maxId, deleted.toMap)
      val sel1Matches = Check.bruteForce(r.seed, maxId, IndexedSeq(sel1Spec)).head.matches
      layers("index.rows_examined_per_match") =
        layers.remove("index.rows_scanned_sel1").getOrElse(0.0) / math.max(1L, sel1Matches)
      layers ++= r.constructLayers("core", r.spans("construct"))
      layers ++= r.execLayers(r.spans("action"), "query")
      layers("index.build_s") = median(setupMs) / 1000.0
      layers("index.files") = finalStats.map(_.files.toDouble).getOrElse(0.0)
      layers("index.row_groups") = finalStats.map(_.rowGroups.toDouble).getOrElse(0.0)
      // Appends from traced and untraced steps alike; the deletes and the
      // compaction run after the window, untraced.
      layers("index.append_ms") = median(r.values("traced/append") ++ r.values("append"))
      layers("index.delete_ms") = median(r.values("delete"))
      layers("index.delete_files_rewritten") = mean(rewritten)
      layers("index.compact_ms") = median(r.values("compact"))
      layers("index.files_after_churn") = filesAfterChurn.toDouble
    }

    Outcome(
      e2e = Map(
        "setup_s" -> median(setupMs) / 1000.0,
        "op_mean_ms" -> r.avg("query"),
        "ops_per_s" -> r.values("query").size / secs,
        "narrow_mean_ms" -> r.avg("query/sel1"),
        "wide_mean_ms" -> r.avg("query/sel10"),
        // Each write kind weighs the same, whatever the number of appends.
        "batch_mean_ms" -> mean(Seq(r.avg("append"), r.avg("delete"), r.avg("compact"))),
        "bytes_per_input_byte" -> indexBytes.toDouble / inputBytes),
      layers = layers.toMap,
      info = Map(
        "base_rows" -> BaseRows, "batch_rows" -> BatchRows, "batches" -> batchesDone,
        "deleted_labels" -> deleted.keys.toSeq, "live_rows" -> liveRows, "window_s" -> secs,
        "setup_ms" -> setupMs, "delete_ms" -> r.values("delete"), "compact_ms" -> r.values("compact"),
        "files_after_churn" -> filesAfterChurn, "input_bytes" -> inputBytes,
        "index_bytes" -> indexBytes))
  }
}
