package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.SparkEntry
import graft.ops.dedup

import Metrics.median

/** `dedup`: the near-duplicate funnel over a corpus with planted exact and
  * near copies. Each pass runs exact dedup (written out as the next
  * stage's `documents` table), the registry's MinHash pairs query over it,
  * and the near-duplicate clusters. */
object Dedup {
  val Shape = Gen.CorpusShape(bases = 1500, exactCopies = 250, nearCopies = 250, words = 60, vocab = 5000)
  /** The registry's `dedup_minhash_pairs` threshold; clusters use the same. */
  val Threshold = 0.5

  def run(r: Run): Outcome = {
    val spark = r.spark
    val genOp = r.newOp()
    val (docs, _) = r.tracer.time(genOp, "generate") {
      Gen.cached(r.path(s"data/corpus-s${r.seed}-d${Shape.docs}/documents.parquet"))(
        Gen.corpusFrame(spark, r.seed, Shape, r.cores))
    }

    // Set-up: open the corpus five times; one open is short enough for
    // scheduling noise to show.
    val setupMs = (0 until 5).map { _ =>
      val op = r.newOp()
      r.tracer.time(op, "open")(spark.read.parquet(docs).count())._2
    }

    val outs = mutable.ArrayBuffer.empty[(Int, String, Array[Row], Array[Row])]
    def pass(p: Int, record: Boolean): Unit = {
      val out = r.path(s"work/dedup-$p")
      Run.deleteTree(out)
      val op = r.newOp()
      def stage[T](name: String)(construct: => org.apache.spark.sql.DataFrame)(
          action: org.apache.spark.sql.DataFrame => T): T = {
        val (v, ms) = r.tracer.time(op, name) {
          val (df, _) = r.tracer.time(op, s"$name.construct")(construct)
          r.tracer.time(op, s"$name.action")(action(df))._1
        }
        if (record) r.sample(name, ms)
        v
      }
      def body(): (Array[Row], Array[Row]) = {
        stage("exact")(dedup.exactDedup(spark.read.parquet(docs), "text", "doc_id"))(
          _.write.mode("overwrite").parquet(s"$out/documents.parquet"))
        val pairs = stage("pairs")(SparkEntry.queries("dedup_minhash_pairs")(spark, out))(_.collect())
        val clusters = stage("clusters")(
          dedup.nearDupClusters(spark.read.parquet(s"$out/documents.parquet"), "text", "doc_id", Threshold))(
          _.collect())
        (pairs, clusters)
      }
      if (record) r.attempt(s"pipeline/$p") {
        val ((pairs, clusters), ms) = r.tracer.time(op, "pipeline")(body())
        r.sample("pipeline", ms)
        outs += ((p, out, pairs, clusters))
      } else body()
    }

    pass(-1, record = false)
    val (passes, secs) = r.window()(p => pass(p, record = true))
    val recall = check(r, outs.toSeq)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (r.traced) {
      layers ++= r.constructLayers("registry", r.spans("pairs.construct"))
      layers ++= r.execLayers(r.spans("exact.action", "pairs.action", "clusters.action"), "pipeline")
      layers("ops.exact_ms") = r.p50("traced/exact")
      layers("ops.minhash_pairs_ms") = r.p50("traced/pairs")
      layers("ops.clusters_ms") = r.p50("traced/clusters")
      layers("ops.pairs_out") = outs.headOption.map(_._3.length.toDouble).getOrElse(0.0)
      layers("ops.planted_recall") = recall
    }
    val corpusBytes = Run.bytes(docs)
    val dedupBytes = outs.headOption.map(o => Run.bytes(s"${o._2}/documents.parquet")).getOrElse(0L)
    Outcome(
      e2e = Map(
        "setup_s" -> median(setupMs) / 1000.0,
        "op_mean_ms" -> r.avg("pipeline"),
        "ops_per_s" -> r.values("pipeline").size / secs,
        "narrow_mean_ms" -> r.avg("exact"),
        "wide_mean_ms" -> r.avg("pairs"),
        "batch_mean_ms" -> r.avg("clusters"),
        "bytes_per_input_byte" -> dedupBytes.toDouble / corpusBytes),
      layers = layers.toMap,
      info = Map(
        "docs" -> Shape.docs, "passes" -> passes, "window_s" -> secs, "setup_ms" -> setupMs,
        "pairs_out" -> outs.headOption.map(_._3.length).getOrElse(0),
        "planted_recall" -> recall, "corpus_bytes" -> corpusBytes))
  }

  /** Check every pass; returns the recall of planted near-duplicate pairs. */
  private def check(r: Run, outs: Seq[(Int, String, Array[Row], Array[Row])]): Double = {
    val texts = mutable.HashMap.empty[Long, Set[String]]
    def sh(id: Long) = texts.getOrElseUpdate(id, Check.shingles(Gen.docText(r.seed, Shape, id.toInt)))
    val kinds = (0 until Shape.docs).map(i => Gen.docKind(r.seed, Shape, i))
    val survivors = kinds.indices.filterNot(i => kinds(i).isInstanceOf[Gen.ExactOf]).map(_.toLong).toSet
    // Planted pairs: a base and its near copies, pairwise, at or above the
    // threshold.
    val groups = kinds.indices.collect { case i if kinds(i).isInstanceOf[Gen.NearOf] =>
      kinds(i).asInstanceOf[Gen.NearOf].base.toLong -> i.toLong
    }.groupBy(_._1).map { case (b, xs) => (b +: xs.map(_._2)).sorted }
    val planted = groups.flatMap(g => g.combinations(2).map(p => (p(0), p(1))))
      .filter { case (a, b) => Check.jaccard(sh(a), sh(b)) >= Threshold }.toSet

    var recall = Double.NaN
    outs.foreach { case (p, out, pairRows, clusterRows) =>
      val op = s"pipeline/$p"
      def fail(reason: String): Unit = { r.fail(op, reason) }
      val kept = r.spark.read.parquet(s"$out/documents.parquet").select("doc_id").collect().map(_.getLong(0)).toSet
      val pairs = pairRows.toSeq.map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      val bad = pairs.find { case (a, b, j) =>
        val exact = Check.jaccard(sh(a), sh(b))
        !(a < b && kept(a) && kept(b) && exact >= Threshold && math.abs(exact - j) <= 5e-5 + 1e-9)
      }
      val comps = Check.components(pairs.map(x => (x._1, x._2)))
      val clusters = clusterRows.toSeq.map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
      if (kept != survivors) fail(s"exact dedup kept ${kept.size} docs, expected ${survivors.size}")
      else if (bad.nonEmpty) fail(s"pair ${bad.get} is not a near-duplicate at $Threshold")
      else if (clusters.keySet != comps.keySet || clusters.exists { case (id, (rep, keep)) =>
          comps(id) != rep || keep != (id == rep) })
        fail("clusters differ from the connected components of the emitted pairs")
      else if (outs.head._3.toSeq != pairRows.toSeq) fail("pairs differ from the first pass")
      if (recall.isNaN) {
        val found = pairs.map(x => (x._1, x._2)).toSet
        recall = if (planted.isEmpty) 1.0 else planted.count(found).toDouble / planted.size
      }
    }
    recall
  }
}
