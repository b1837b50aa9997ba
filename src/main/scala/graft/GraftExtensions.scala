package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{
  Divide, Expression, ExpressionInfo, GreaterThan, If, Literal, Multiply, Sqrt}

import graft.functions.{CharEntropyExpr, GenOverlapExpr, H32Expr, HashedGramSetExpr, MinHashSigExpr, ParamExpr, SimHashExpr, VecDotExpr, VecL1Expr, VecL2SqExpr, WordShinglesExpr}

/** Registers the native scoring/fingerprint kernels as SQL FUNCTIONS, so
  * the engine's hot expressions are usable from pure `spark.sql(...)` —
  * the `SparkSessionExtensions` integration point (SURVEY.md §7.3: the
  * kernels are the one justified custom-Catalyst item; this exposes them
  * through the standard extension mechanism instead of only the Scala
  * `Column` API).
  *
  * Two entry points, same registrations:
  *   - config: `spark.sql.extensions=graft.GraftExtensions` (new sessions)
  *   - [[GraftExtensions.register]]: inject into an EXISTING session's
  *     function registry (tests, notebooks).
  *
  * Functions (arguments as in the Column API; sized parameters must be
  * integer literals because they shape the generated code):
  *   - `graft_dot(a, b)`, `graft_l2sq(a, b)`, `graft_l1(a, b)` — vector
  *     kernels over any numeric arrays
  *   - `graft_cosine(a, b)` — dot·inv·inv with the zero-vector→0 rule
  *   - `graft_word_shingles(text, n)` — distinct word n-grams
  *   - `graft_minhash(grams, k)` — k-wide MinHash signature
  *   - `graft_simhash(text, bits)` — SimHash of word shingles
  *   - `graft_h32(s)` — the portable 32-bit base hash every graft
  *     bucketing/sampling/sketch decision derives from (SQL users can
  *     reproduce salt buckets, sample bands, and CM cells exactly)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  /** Inverse L2 norm of `v`. A constant argument (a literal query vector)
    * is evaluated here and bound as a [[ParamExpr]]: left to constant
    * folding, its double would be inlined into the generated code and
    * every new query would compile a new class. */
  private def invNormOf(v: Expression): Expression = {
    val n = VecDotExpr(v, v)
    val inv = If(GreaterThan(n, Literal(0.0)), Divide(Literal(1.0), Sqrt(n)), Literal(0.0))
    if (v.foldable && v.resolved) ParamExpr(inv.eval().asInstanceOf[Double]) else inv
  }

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"graft: $fn expects an integer literal for $arg, got $other")
  }

  private def arity(fn: String, n: Int)(args: Seq[Expression]): Seq[Expression] = {
    require(args.length == n, s"graft: $fn expects $n arguments, got ${args.length}")
    args
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  /** (name, info, builder) for every registered function. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", info("graft_dot", "graft_dot(a, b) - vector dot product (double)"),
      (args: Seq[Expression]) => {
        val Seq(a, b) = arity("graft_dot", 2)(args)
        VecDotExpr(a, b)
      }),
    ("graft_l2sq", info("graft_l2sq", "graft_l2sq(a, b) - SQUARED euclidean distance"),
      (args: Seq[Expression]) => {
        val Seq(a, b) = arity("graft_l2sq", 2)(args)
        VecL2SqExpr(a, b)
      }),
    ("graft_l1", info("graft_l1", "graft_l1(a, b) - manhattan distance"),
      (args: Seq[Expression]) => {
        val Seq(a, b) = arity("graft_l1", 2)(args)
        VecL1Expr(a, b)
      }),
    ("graft_cosine", info("graft_cosine",
      "graft_cosine(a, b) - cosine similarity; zero vectors score 0.0"),
      (args: Seq[Expression]) => {
        val Seq(a, b) = arity("graft_cosine", 2)(args)
        Multiply(Multiply(VecDotExpr(a, b), invNormOf(a)), invNormOf(b))
      }),
    ("graft_word_shingles", info("graft_word_shingles",
      "graft_word_shingles(text, n) - distinct lowercased word n-grams"),
      (args: Seq[Expression]) => {
        val Seq(t, n) = arity("graft_word_shingles", 2)(args)
        WordShinglesExpr(t, intLit(n, "graft_word_shingles", "n"))
      }),
    ("graft_minhash", info("graft_minhash",
      "graft_minhash(grams, k) - k-wide MinHash signature of a string array"),
      (args: Seq[Expression]) => {
        val Seq(g, k) = arity("graft_minhash", 2)(args)
        MinHashSigExpr(g, intLit(k, "graft_minhash", "k"))
      }),
    ("graft_simhash", info("graft_simhash",
      "graft_simhash(text, bits) - SimHash of word shingles, packed in a long"),
      (args: Seq[Expression]) => {
        val Seq(t, b) = arity("graft_simhash", 2)(args)
        SimHashExpr(t, intLit(b, "graft_simhash", "bits"))
      }),
    ("graft_h32", info("graft_h32",
      "graft_h32(s) - portable unsigned 32-bit hash (md5 bytes 0-3) as a long"),
      (args: Seq[Expression]) => {
        val Seq(s) = arity("graft_h32", 1)(args)
        H32Expr(s)
      }),
    ("graft_char_entropy", info("graft_char_entropy",
      "graft_char_entropy(text) - struct(n_chars, qa): code-unit count and " +
        "the exact fixed-point entropy accumulator sum(floor(cnt*ln(cnt)*1e6))"),
      (args: Seq[Expression]) => {
        val Seq(t) = arity("graft_char_entropy", 1)(args)
        CharEntropyExpr(t)
      }),
    ("graft_gram_set", info("graft_gram_set",
      "graft_gram_set(text, n) - DISTINCT word n-grams as portable h63 " +
        "longs, one fused digest pass"),
      (args: Seq[Expression]) => {
        val Seq(t, n) = arity("graft_gram_set", 2)(args)
        HashedGramSetExpr(t, intLit(n, "graft_gram_set", "n"))
      }),
    ("graft_overlap", info("graft_overlap",
      "graft_overlap(cand, ref, n) - struct(clip_n, tot_c_n, tot_r_n): " +
        "clipped word n-gram overlap (ROUGE-N/BLEU-n counts) in one pass"),
      (args: Seq[Expression]) => {
        val Seq(c, r, n) = arity("graft_overlap", 3)(args)
        GenOverlapExpr(c, r,
          Seq(intLit(n, "graft_overlap", "n")), charMode = false)
      }))

  /** Register into an EXISTING session (the config route only applies to
    * sessions created after `spark.sql.extensions` is set). Idempotent. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, i, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), i, builder)
    }
}
