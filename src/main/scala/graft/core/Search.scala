package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.vectors

/** A vector store = any DataFrame with an id column and an embedding
  * column (array of float/double). Optionally carries a precomputed
  * inverse-norm column (written by [[graft.index.VecIndex]] at build time —
  * the reference precomputes per-row inverse norms at ingest,
  * /root/reference/src/vec.rs:365-368).
  *
  * This is the Spark-native `MetaStore`/`VecStore`
  * (/root/reference/src/meta.rs:48-60, vec.rs:338-344): the "chunks +
  * zonemaps + blooms" machinery of the reference maps onto Parquet
  * row-groups + min/max statistics + column bloom filters, all of which
  * Catalyst exploits automatically once predicates are declared on the
  * DataFrame — see SURVEY.md §4.
  */
final case class VecStore(
    df: DataFrame,
    idCol: String = "vec_id",
    vecCol: String = "embedding",
    invNormCol: Option[String] = None,
    indexMeta: Option[IndexMeta] = None) {

  /** Start a lazy single-query plan (ref: meta.rs:569-571, vec.rs:387-399). */
  def query(q: Seq[Double], metric: Metric): SearchPlan =
    queryBatch(Seq(q), metric)

  /** Start a lazy batch-query plan. Batch semantics are GLOBAL merge: one
    * top-k pool shared across all queries, not per-query k (ref:
    * vec.rs:218-219 and tests/vec_store_tests.rs:899-924). */
  def queryBatch(qs: Seq[Seq[Double]], metric: Metric): SearchPlan =
    SearchPlan(this, qs.map(_.toIndexedSeq).toIndexedSeq, metric)

  /** Per-query batch top-k — every query gets its OWN k results (the
    * common serving need; an extension, since the reference's batch
    * explicitly merges globally). One broadcast of the query table, one
    * scoring scan, one shuffle on q_idx for the window rank. Result:
    * (q_idx, id, score, metadata...), ordered within each query. */
  def queryBatchPerQuery(
      qs: Seq[Seq[Double]],
      metric: Metric,
      k: Int,
      roundScoreDecimals: Option[Int] = None): DataFrame = {
    require(qs.nonEmpty, "query batch must not be empty")
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = qs.zipWithIndex
      .map { case (q, i) => (i, q, vectors.invNormOf(q)) }
      .toDF("q_idx", "q_vec", "q_inv")
    val scored = df.crossJoin(broadcast(qdf))
      .withColumn("score", vectors.score(metric, col(vecCol), col("q_vec"),
        invNormCol.map(col), Some(col("q_inv"))))
    val rounded = roundScoreDecimals match {
      case Some(d) => scored.withColumn("score", vectors.quantize(col("score"), d))
      case None    => scored
    }
    val scoreOrd = metric.defaultTake match {
      case TakeType.Max => col("score").desc
      case TakeType.Min => col("score").asc
    }
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_idx")).orderBy(scoreOrd, col(idCol).asc)
    rounded
      .filter(!isnan(col("score")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select((Seq(col("q_idx"), col(idCol), col("score")) ++ metaCols.map(col)): _*)
      .orderBy(col("q_idx"), scoreOrd, col(idCol))
  }

  /** Metadata columns in the reference's result order: sorted by name
    * (ref: meta.rs:723-724). Index-internal columns (precomputed norm,
    * LSH partition bucket, PQ codes, persisted JL projection) are not
    * user metadata and stay out of results. */
  private[core] def metaCols: Seq[String] =
    df.columns.filterNot(c =>
      c == idCol || c == vecCol || invNormCol.contains(c) ||
        c == "lsh_bucket" || c == "cluster_id" || c == "pq_code" ||
        c == "rp_vec").sorted.toSeq
}

/** Lazy, immutable query plan — the Spark analog of `MetaQueryPlan`
  * (/root/reference/src/meta.rs:579-660). Every combinator just records
  * intent; `collect()` assembles one declarative DataFrame so Catalyst can
  * push the metadata predicate into the Parquet scan (row-group pruning =
  * the reference's zonemap chunk pruning, SURVEY.md §4) and plan the top-k
  * as TakeOrderedAndProject (per-partition top-k + merge = the reference's
  * per-chunk TopKCollector + global merge, meta.rs:693-709).
  *
  * Unlike the reference, ties are broken deterministically by (score, id)
  * — the reference uses an unstable sort (meta.rs:703-705); we pin order
  * for reproducible results (SURVEY.md §7.0 #8).
  */
final case class SearchPlan(
    store: VecStore,
    queries: IndexedSeq[IndexedSeq[Double]],
    metric: Metric,
    metaPred: Option[Column] = None,
    scoreFilter: Option[(Double, Cmp)] = None,
    k: Option[Int] = None,
    takeType: Option[TakeType] = None,
    roundScoreDecimals: Option[Int] = None) {

  /** Attach (AND) a metadata predicate — `meta_filter`
    * (ref: meta.rs:605-616). Invalid column references surface at
    * analysis, mirroring the reference's deferred compile errors. */
  def metaFilter(cond: Column): SearchPlan =
    copy(metaPred = Some(metaPred.map(_ && cond).getOrElse(cond)))

  /** Score threshold filter — `vec_filter` (ref: meta.rs:618-621). */
  def vecFilter(threshold: Double, cmp: Cmp): SearchPlan =
    copy(scoreFilter = Some((threshold, cmp)))

  /** Top-k with metric-inferred direction (ref: vec.rs:156-158). */
  def take(n: Int): SearchPlan = copy(k = Some(n))

  /** Top-k smallest-first (ref: vec.rs:161-163). */
  def takeMin(n: Int): SearchPlan =
    copy(k = Some(n), takeType = Some(TakeType.Min))

  /** Top-k largest-first (ref: vec.rs:165-168). */
  def takeMax(n: Int): SearchPlan =
    copy(k = Some(n), takeType = Some(TakeType.Max))

  /** Quantize scores (half-up, `d` decimals) BEFORE filtering/ordering.
    * Not in the reference; used for cross-engine oracle determinism
    * (SURVEY.md §7.4): two engines' float accumulations can differ in the
    * last ulps, so ordering on the rounded score + id tiebreak makes top-k
    * membership reproducible. `+ 0.0` normalizes IEEE negative zero. */
  def withScoreRounding(d: Int): SearchPlan =
    copy(roundScoreDecimals = Some(d))

  private def cmpExpr(c: Column, t: Double, cmp: Cmp): Column = {
    val p = vectors.param(t)
    cmp match {
      case Cmp.Lt  => c < p
      case Cmp.Lte => c <= p
      case Cmp.Gt  => c > p
      case Cmp.Gte => c >= p
      case Cmp.Eq  => c === p
    }
  }

  /** Assemble the DataFrame. Result shape mirrors the reference
    * (meta.rs:723-828): id, score, then metadata columns sorted by name,
    * ordered by score (explicit take type > metric default under take(n) >
    * the reference's unset-take Max fallback, vec.rs:92-98),
    * deterministic (score, id) tiebreak.
    *
    * Scale notes (100 TB discipline): the metadata predicate is applied on
    * the store BEFORE scoring so it reaches the Parquet scan as a pushed
    * filter; the query batch is the ONLY broadcast (a handful of rows);
    * there is no other shuffle — top-k is TakeOrderedAndProject
    * (per-partition bounded heap, then a single driver merge of k·P rows).
    * Per-query doubles (query inverse norm, `vecFilter` threshold) are
    * bound with [[vectors.param]], so the generated code is the same for
    * every query of one shape and one compiled, JIT-warm scoring loop
    * serves them all; the metadata predicate keeps plain literals, which
    * Parquet pushdown and row-group pruning need.
    */
  def collect(): DataFrame = {
    require(queries.nonEmpty, "query batch must not be empty")
    val dim = queries.head.length
    require(queries.forall(_.length == dim),
      s"all query vectors must share one dimension, got ${queries.map(_.length).distinct}")

    val filtered = metaPred.map(store.df.filter).getOrElse(store.df)
    val v = col(store.vecCol)
    val storeInv = store.invNormCol.map(col)

    // Dimension guard: a query/store dim mismatch (or a NULL embedding)
    // must fail with a descriptive error at collect — the reference errors
    // rather than silently returning nothing (vec.rs:170-203,
    // tests/vec_store_tests.rs:52-63). zip_with would otherwise pad with
    // nulls and yield NULL scores, which `!isnan` does NOT drop.
    // Jaccard is exempt: it scores SETS, whose cardinalities legitimately
    // differ row to row (Metric.Jaccard scaladoc).
    def dimGuard(scoreExpr: Column): Column = metric match {
      case Metric.Jaccard =>
        // sets legitimately differ in CARDINALITY, so only the size
        // check is relaxed — a NULL set column must still raise: its
        // NULL score passes !isnan and would sort FIRST under takeMin
        when(v.isNotNull, scoreExpr).otherwise(raise_error(lit(
          s"graft: NULL set in column '${store.vecCol}' for Jaccard scoring")))
      case _ =>
        when(size(v) === lit(dim), scoreExpr).otherwise(raise_error(format_string(
          s"graft: query dim $dim does not match store vector dim %s " +
            s"(or embedding is NULL) in column '${store.vecCol}'",
          size(v).cast("string"))))
    }

    val scored =
      if (queries.length == 1) {
        val q = queries.head
        filtered.withColumn("score",
          dimGuard(vectors.score(metric, v, vectors.vecLit(q), storeInv,
            Some(vectors.param(vectors.invNormOf(q))))))
      } else {
        // Batch: broadcast the tiny query table, score every (row, query)
        // pair, then ONE global top-k across all pairs (ref semantics:
        // vec_store_tests.rs:899-924). Not a per-query window — that would
        // be a different (wrong) result shape.
        val spark = store.df.sparkSession
        import spark.implicits._
        val qdf = queries.zipWithIndex
          .map { case (q, i) => (i, q, vectors.invNormOf(q)) }
          .toDF("q_idx", "q_vec", "q_inv")
        filtered
          .crossJoin(broadcast(qdf))
          .withColumn("score",
            dimGuard(vectors.score(metric, v, col("q_vec"), storeInv, Some(col("q_inv")))))
      }

    val rounded = roundScoreDecimals match {
      case Some(d) => scored.withColumn("score", vectors.quantize(col("score"), d))
      case None    => scored
    }

    // NaN scores are dropped from results (ref: vec_compute.rs:237-239).
    // Spark would otherwise sort NaN as the LARGEST double.
    val nanFree = rounded.filter(!isnan(col("score")))

    val thresholded = scoreFilter match {
      case Some((t, cmp)) => nanFree.filter(cmpExpr(col("score"), t, cmp))
      case None           => nanFree
    }

    // Direction: an explicit take_min/take_max wins; take(n) pins the
    // metric's default (ref vec.rs:156-158); with NO take at all the
    // reference's collect falls back to TakeType::Max regardless of metric
    // (vec.rs `unwrap_or(&TakeType::Max)`) — a filter-only Euclidean plan
    // therefore orders LARGEST-first, matching the reference.
    val dir = takeType.getOrElse(
      if (k.isDefined) metric.defaultTake else TakeType.Max)
    val scoreOrd = dir match {
      case TakeType.Max => col("score").desc
      case TakeType.Min => col("score").asc
    }
    val ordered = thresholded.orderBy(scoreOrd, col(store.idCol).asc)
    val limited = k.map(ordered.limit).getOrElse(ordered)

    val out = Seq(store.idCol, "score") ++ store.metaCols
    limited.select(out.map(col): _*)
  }
}
