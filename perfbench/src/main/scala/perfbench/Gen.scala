package perfbench

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Seeded, deterministic input generators. Every row is a pure function of
  * (seed, id), so the checker recomputes any row without storing the data
  * set, and the same seed always yields the same inputs. */
object Gen {
  val Dim = 64
  /** Label buckets: each holds ~1% of the rows. */
  val Labels = 100
  val Tags: Array[String] = Array.tabulate(16)(i => f"tag_$i%02d")

  /** splitmix64 finalizer over a combination of two longs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def rng(seed: Long, salt: Long, id: Long) =
    new java.util.SplittableRandom(mix(mix(seed, salt), id))

  // ---- vectors with typed metadata ---------------------------------------

  final case class Vec(id: Long, v: Array[Float], label: Int, tag: String)

  def vec(seed: Long, id: Long): Vec = {
    val r = rng(seed, 1L, id)
    val v = new Array[Float](Dim)
    var i = 0
    while (i < Dim) { v(i) = (r.nextDouble() * 2.0 - 1.0).toFloat; i += 1 }
    Vec(id, v, r.nextInt(Labels), Tags(r.nextInt(Tags.length)))
  }

  /** Query vector `j` of a seed's query pool. */
  def query(seed: Long, j: Int): IndexedSeq[Double] = {
    val r = rng(seed, 2L, j.toLong)
    IndexedSeq.fill(Dim)(r.nextDouble() * 2.0 - 1.0)
  }

  /** A seed-chosen integer in [0, n) for slot `j` (filter buckets, delete
    * targets). */
  def pick(seed: Long, salt: Long, j: Int, n: Int): Int =
    java.lang.Math.floorMod(mix(mix(seed, salt), j.toLong), n.toLong).toInt

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("tag", StringType, nullable = false)))

  /** Rows [lo, hi) as a DataFrame computed on the executors. */
  def vectorFrame(spark: SparkSession, seed: Long, lo: Long, hi: Long, parts: Int): DataFrame = {
    val rows = spark.sparkContext.range(lo, hi, 1L, parts).map { id =>
      val g = vec(seed, id)
      Row(g.id, g.v.toSeq, g.label, g.tag)
    }
    spark.createDataFrame(rows, VecSchema)
  }

  // ---- documents with planted duplicates --------------------------------

  final case class CorpusShape(bases: Int, exactCopies: Int, nearCopies: Int, words: Int, vocab: Int) {
    def docs: Int = bases + exactCopies + nearCopies
  }

  /** Kind of a document and the base it was derived from. Ids [0, bases)
    * are independent base documents; the next `exactCopies` ids repeat a
    * base verbatim; the last `nearCopies` ids are a base with 1-4 words
    * substituted (a planted near-duplicate). */
  sealed trait DocKind
  case object Base extends DocKind
  final case class ExactOf(base: Int) extends DocKind
  final case class NearOf(base: Int, edits: Int) extends DocKind

  def docKind(seed: Long, s: CorpusShape, id: Int): DocKind =
    if (id < s.bases) Base
    else if (id < s.bases + s.exactCopies) ExactOf(pick(seed, 3L, id, s.bases))
    else NearOf(pick(seed, 4L, id, s.bases), 1 + pick(seed, 5L, id, 4))

  private def word(w: Int): String = {
    // Lowercase letters only: the tokenizer lowercases and splits on
    // whitespace, so every word is exactly one token.
    val sb = new StringBuilder("w")
    var x = w
    do { sb += ('a' + x % 26).toChar; x /= 26 } while (x > 0)
    sb.toString
  }

  private def baseWords(seed: Long, s: CorpusShape, base: Int): Array[Int] = {
    val r = rng(seed, 6L, base.toLong)
    Array.fill(s.words)(r.nextInt(s.vocab))
  }

  def docText(seed: Long, s: CorpusShape, id: Int): String = {
    val ws = docKind(seed, s, id) match {
      case Base => baseWords(seed, s, id)
      case ExactOf(b) => baseWords(seed, s, b)
      case NearOf(b, edits) =>
        val w = baseWords(seed, s, b).clone()
        val r = rng(seed, 7L, id.toLong)
        (0 until edits).foreach { _ =>
          val pos = r.nextInt(w.length)
          // vocab..2*vocab never occurs in a base: the edit always changes
          // the word, so a near copy is never an exact copy.
          w(pos) = s.vocab + r.nextInt(s.vocab)
        }
        w
    }
    ws.map(word).mkString(" ")
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def corpusFrame(spark: SparkSession, seed: Long, s: CorpusShape, parts: Int): DataFrame = {
    val rows = spark.sparkContext.range(0L, s.docs.toLong, 1L, parts)
      .map(id => Row(id, docText(seed, s, id.toInt)))
    spark.createDataFrame(rows, DocSchema)
  }

  // ---- hashing and caching -----------------------------------------------

  /** Content hash of the first `n` vectors of a seed. */
  def vectorHash(seed: Long, n: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8 + 4 * Dim + 4)
    (0 until n).foreach { i =>
      val g = vec(seed, i.toLong)
      bb.clear(); bb.putLong(g.id); g.v.foreach(bb.putFloat); bb.putInt(g.label)
      md.update(bb.array()); md.update(g.tag.getBytes("UTF-8"))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def corpusHash(seed: Long, s: CorpusShape): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0 until s.docs).foreach(i => md.update((docText(seed, s, i) + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Write `df` to `path` once; later runs with the same seed reuse it. */
  def cached(path: String, partitionBy: Seq[String] = Nil)(df: => DataFrame): String = {
    if (!new java.io.File(path, "_SUCCESS").exists())
      df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).parquet(path)
    path
  }
}
