package perfbench

import graft.core.Metric

/** Correctness checks, run outside the timed region. */
object Check {

  /** One top-k request: query vector, metric, a label range [lo, hi), and
    * the live rows at the time it ran: ids below `maxId`, except that a
    * delete of label l removed the ids below `deleted(l)` (rows appended
    * after the delete keep that label). */
  final case class Spec(
      q: IndexedSeq[Double], metric: Metric, lo: Int, hi: Int, k: Int,
      maxId: Long, deleted: Map[Int, Long] = Map.empty) {
    def admits(g: Gen.Vec): Boolean =
      g.id < maxId && g.label >= lo && g.label < hi && !deleted.get(g.label).exists(g.id < _)
    /** Larger is better in every metric's own direction. */
    def goodness(score: Double): Double =
      if (metric.defaultTake == graft.core.TakeType.Max) score else -score
  }

  /** Score in double with the engine's fold order: dot and squared L2 sum
    * left to right; cosine is dot × inv_norm(row) × inv_norm(query). */
  def score(metric: Metric, v: Array[Float], q: IndexedSeq[Double]): Double =
    score(metric, v, q, rowInvNorm(v), invNorm(q))

  def score(metric: Metric, v: Array[Float], q: IndexedSeq[Double],
      vInv: => Double, qInv: Double): Double = {
    var i = 0
    metric match {
      case Metric.Euclidean =>
        var s = 0.0
        while (i < v.length) { val d = v(i).toDouble - q(i); s += d * d; i += 1 }
        s
      case _ =>
        var dot = 0.0
        while (i < v.length) { dot += v(i).toDouble * q(i); i += 1 }
        if (metric == Metric.Cosine) dot * vInv * qInv else dot
    }
  }

  def rowInvNorm(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
    if (s > 0) 1.0 / math.sqrt(s) else 0.0
  }

  def invNorm(q: Iterable[Double]): Double = {
    var s = 0.0
    q.foreach(x => s += x * x)
    if (s > 0) 1.0 / math.sqrt(s) else 0.0
  }

  /** What a correct answer must satisfy: how many rows matched the filter
    * and the goodness of the k-th best of them. */
  final case class Truth(matches: Long, kth: Double)

  /** Brute force over generated rows [0, n): one pass serves every spec. */
  def bruteForce(seed: Long, n: Long, specs: IndexedSeq[Spec]): IndexedSeq[Truth] = {
    val heaps = specs.map(s => new java.util.PriorityQueue[java.lang.Double](s.k + 1))
    val matches = new Array[Long](specs.length)
    val qInv = specs.map(s => invNorm(s.q))
    var id = 0L
    while (id < n) {
      val g = Gen.vec(seed, id)
      val vInv = rowInvNorm(g.v)
      var j = 0
      while (j < specs.length) {
        val s = specs(j)
        if (s.admits(g)) {
          matches(j) += 1
          val h = heaps(j)
          h.add(s.goodness(score(s.metric, g.v, s.q, vInv, qInv(j))))
          if (h.size > s.k) h.poll()
        }
        j += 1
      }
      id += 1
    }
    specs.indices.map { j =>
      Truth(matches(j), if (heaps(j).isEmpty) Double.NaN else heaps(j).peek().doubleValue)
    }
  }

  /** Relative tolerance between the engine's score and the recomputed one;
    * results may swap only among scores equal within it. */
  val Tol = 1e-9

  private def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= Tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Check one top-k answer of (id, score) pairs against the truth.
    * Returns None when correct, else the reason. */
  def topK(seed: Long, spec: Spec, truth: Truth, got: Seq[(Long, Double)]): Option[String] = {
    val want = math.min(spec.k.toLong, truth.matches).toInt
    if (got.size != want) return Some(s"returned ${got.size} rows, expected $want")
    if (got.map(_._1).distinct.size != got.size) return Some("duplicate ids")
    var prev = Double.PositiveInfinity
    got.foreach { case (id, s) =>
      val g = Gen.vec(seed, id)
      if (!spec.admits(g)) return Some(s"id $id does not satisfy the filter")
      val exact = score(spec.metric, g.v, spec.q)
      if (!near(exact, s)) return Some(s"id $id scored $s, recomputed $exact")
      val good = spec.goodness(exact)
      if (good > prev && !near(good, prev)) return Some(s"id $id out of order")
      if (good < truth.kth && !near(good, truth.kth))
        return Some(s"id $id (goodness $good) is below the true k-th best ${truth.kth}")
      prev = good
    }
    None
  }

  // ---- dedup -----------------------------------------------------------

  /** Distinct word 3-shingles of lowercased whitespace tokens. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val ts = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (ts.length < n) Set.empty else ts.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    val uni = a.size + b.size - inter
    if (uni > 0) inter.toDouble / uni else 0.0
  }

  /** Connected components of a pair list: id -> smallest id of its
    * component. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }
}
