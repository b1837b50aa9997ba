package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metric

class PerfbenchSpec extends AnyFunSuite {
  private val shape = Gen.CorpusShape(bases = 50, exactCopies = 10, nearCopies = 10, words = 30, vocab = 500)

  test("the same seed gives the same data; another seed gives other data") {
    assert(Gen.vectorHash(7L, 500) == Gen.vectorHash(7L, 500))
    assert(Gen.vectorHash(7L, 500) != Gen.vectorHash(8L, 500))
    assert(Gen.corpusHash(7L, shape) == Gen.corpusHash(7L, shape))
    assert(Gen.corpusHash(7L, shape) != Gen.corpusHash(8L, shape))
    assert(Gen.query(7L, 0) == Gen.query(7L, 0))
    assert(Gen.query(7L, 0) != Gen.query(8L, 0))
  }

  test("planted copies are exact or near duplicates of their base") {
    (0 until shape.docs).foreach { id =>
      Gen.docKind(7L, shape, id) match {
        case Gen.ExactOf(b) => assert(Gen.docText(7L, shape, id) == Gen.docText(7L, shape, b))
        case Gen.NearOf(b, _) =>
          val (a, c) = (Gen.docText(7L, shape, id), Gen.docText(7L, shape, b))
          assert(a != c)
          assert(Check.jaccard(Check.shingles(a), Check.shingles(c)) > 0.5)
        case Gen.Base => ()
      }
    }
  }

  private val seed = 3L
  private val n = 3000L
  private val spec = Check.Spec(Gen.query(seed, 0), Metric.Cosine, 10, 20, 10, n)

  /** The correct answer, by sorting every admitted row. */
  private def answer(s: Check.Spec): Seq[(Long, Double)] =
    (0L until n).map(Gen.vec(seed, _)).filter(s.admits)
      .map(g => (g.id, Check.score(s.metric, g.v, s.q)))
      .sortBy { case (id, sc) => (-s.goodness(sc), id) }.take(s.k)

  test("the top-k checker accepts the brute-force answer for every metric") {
    Seq(Metric.Cosine, Metric.DotProduct, Metric.Euclidean).foreach { m =>
      val s = spec.copy(metric = m)
      val truth = Check.bruteForce(seed, n, IndexedSeq(s)).head
      assert(Check.topK(seed, s, truth, answer(s)).isEmpty, m.toString)
    }
  }

  test("the top-k checker rejects perturbed answers") {
    val truth = Check.bruteForce(seed, n, IndexedSeq(spec)).head
    val good = answer(spec)
    // One id swapped for an admitted row outside the top-k.
    val outsider = (0L until n).map(Gen.vec(seed, _))
      .find(g => spec.admits(g) && !good.exists(_._1 == g.id)).get
    val swapped = good.updated(3, (outsider.id, Check.score(spec.metric, outsider.v, spec.q)))
    assert(Check.topK(seed, spec, truth, swapped).isDefined)
    // A row outside the filter, a wrong score, a missing row, a reordering.
    val unfiltered = (0L until n).map(Gen.vec(seed, _)).find(g => !spec.admits(g)).get
    assert(Check.topK(seed, spec, truth, good.updated(0, (unfiltered.id, good.head._2))).isDefined)
    assert(Check.topK(seed, spec, truth, good.updated(5, (good(5)._1, good(5)._2 + 1e-3))).isDefined)
    assert(Check.topK(seed, spec, truth, good.dropRight(1)).isDefined)
    assert(Check.topK(seed, spec, truth, good.reverse).isDefined)
  }

  test("deleted labels only remove rows that existed when the delete ran") {
    val s = spec.copy(lo = 0, hi = Gen.Labels, deleted = Map(15 -> 1000L))
    val g = (0L until n).map(Gen.vec(seed, _))
    assert(!s.admits(g.find(x => x.label == 15 && x.id < 1000).get))
    assert(s.admits(g.find(x => x.label == 15 && x.id >= 1000).get))
  }

  test("components map every id to the smallest id it is connected to") {
    assert(Check.components(Seq(3L -> 5L, 5L -> 9L, 1L -> 2L)) ==
      Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 1L -> 1L, 2L -> 1L))
  }

  test("printed metric names and units match BENCHMARK.json") {
    val file = Seq(new java.io.File("../BENCHMARK.json"), new java.io.File("BENCHMARK.json"))
      .find(_.exists).getOrElse(fail("BENCHMARK.json not found"))
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file)
    def declared(key: String) = {
      val it = root.get(key).elements()
      val out = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val m = it.next(); out += (m.get("name").asText -> m.get("unit").asText) }
      out.result()
    }
    assert(declared("end_to_end") == Metrics.EndToEnd.map(m => m.name -> m.unit))
    assert(declared("per_layer") == Metrics.PerLayer.map(m => m.name -> m.unit))
    val workloads = root.get("workloads").elements()
    val names = Seq.newBuilder[String]
    while (workloads.hasNext) names += workloads.next().get("name").asText
    assert(names.result().toSet == Main.Workloads.keySet)
  }

  test("quartiles follow Python's statistics.quantiles(n=4)") {
    // statistics.quantiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10], n=4) == [2.75, 5.5, 8.25]
    assert(Metrics.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
  }
}
