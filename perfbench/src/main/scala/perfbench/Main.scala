package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --cores C`.
  *
  * The last line on stdout is the result object; the full record (host
  * stamps, session settings, samples with quartiles, failures, spans) is
  * written under `DIR/runs/`. */
object Main {
  val Workloads: Map[String, Run => Outcome] = Map(
    "search" -> Search.run, "ingest" -> Ingest.run, "dedup" -> Dedup.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new java.io.File(opt("work")).getAbsolutePath
    val cores = opt("cores").toInt
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload '$workload'"))

    val wall0 = System.nanoTime()
    val cpu0 = Trace.processCpuMs()
    val load0 = Trace.load1()
    val steal0 = Trace.stealS()
    // The session settings Bench and Verify pin, so the benchmark times the
    // plans the correctness gate verified.
    val conf = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.hadoop.hadoop.tmp.dir" -> s"$work/tmp")
    val spark = conf.foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - wall0) / 1e9
    spark.range(1000).selectExpr("sum(id)").collect()

    val run = new Run(spark, seed, seconds, traced, work, cores)
    val outcome =
      try body(run)
      finally {
        run.tracer.disable()
        spark.stop()
      }

    val wallS = (System.nanoTime() - wall0) / 1e9
    val cpuS = (Trace.processCpuMs() - cpu0) / 1000.0
    // A layer the workload does not drive, or one with no sample in this
    // run, reads 0.
    val metrics = (if (traced) Metrics.PerLayer.map(m =>
        m -> outcome.layers.get(m.name).filterNot(_.isNaN).getOrElse(0.0))
      else Metrics.EndToEnd.map(m => m -> outcome.e2e(m.name)))
      .map { case (m, v) => m.name -> Map("value" -> v, "unit" -> m.unit) }
    val result = scala.collection.immutable.ListMap(
      "correct" -> run.failures.isEmpty,
      "attempted" -> run.attempted,
      "failed" -> run.failures.map(_._1).distinct.size,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))

    val samples = run.samples.map { case (k, xs) =>
      val (q1, med, q3) = Metrics.quartiles(xs)
      k -> Map("n" -> xs.size, "q1" -> q1, "median" -> med, "q3" -> q3, "values" -> xs)
    }
    val record = scala.collection.immutable.ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "result" -> result,
      "end_to_end" -> outcome.e2e, "per_layer" -> outcome.layers,
      "host" -> Map(
        "cores_used" -> cores,
        "cores_available" -> Runtime.getRuntime.availableProcessors,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "load1_start" -> load0, "load1_end" -> Trace.load1(),
        "process_cpu_s" -> cpuS, "host_steal_s" -> (Trace.stealS() - steal0), "wall_s" -> wallS, "cpu_per_wall" -> cpuS / wallS,
        "session_start_s" -> sessionS),
      "session_conf" -> conf.toMap,
      "samples" -> samples,
      "failures" -> run.failures.map { case (op, why) => Map("op" -> op, "reason" -> why) },
      "info" -> outcome.info,
      "spans" -> run.tracer.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.startMs, "dur_ms" -> s.durMs, "counters" -> s.counters)))
    val dir = new java.io.File(work, "runs")
    dir.mkdirs()
    val file = new java.io.File(dir, s"$workload-seed$seed-trace${if (traced) 1 else 0}.json")
    java.nio.file.Files.writeString(file.toPath, Json.write(record) + "\n")
    println(s"perfbench: record written to ${file.getPath}")
    println(Json.write(result))
  }
}
