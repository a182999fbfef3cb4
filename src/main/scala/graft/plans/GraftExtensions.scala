package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers graft's custom Catalyst expressions as SQL functions, so
  * `spark.sql("SELECT vec_dot(a, b) ...")` works alongside the typed
  * Column API.
  *
  * Two entry points:
  *  - `new GraftExtensions` as a `spark.sql.extensions` class for new
  *    sessions (`SparkSession.Builder.withExtensions` /
  *    `--conf spark.sql.extensions=graft.plans.GraftExtensions`);
  *  - `GraftExtensions.register(spark)` to add the functions to an
  *    already-running session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "")

  private def arity(name: String, sig: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args =>
      if (args.length == n) build(args)
      else throw new IllegalArgumentException(
        s"$name expects $n argument(s): $sig; got ${args.length}")

  private[plans] val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - double-precision dot product of two float/double arrays"),
      arity("vec_dot", "vec_dot(a, b)", 2)(args => DotProduct(args(0), args(1)))),
    (FunctionIdentifier("hashed_shingles"),
      info("hashed_shingles", "hashed_shingles(tokens, n) - 64-bit hash of every n-token shingle"),
      arity("hashed_shingles", "hashed_shingles(tokens, n)", 2)(args =>
        HashedShingles(args(0), intArg(args(1), "hashed_shingles", "n")))),
    (FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(shingle_hashes, k) - k-position MinHash signature"),
      arity("minhash_sig", "minhash_sig(shingle_hashes, k)", 2)(args =>
        MinHashSig(args(0), intArg(args(1), "minhash_sig", "k")))),
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(token_hashes) - 64-bit majority-vote SimHash"),
      arity("simhash64", "simhash64(token_hashes)", 1)(args =>
        SimHash64(args(0)))),
    (FunctionIdentifier("array_remove_all"),
      info("array_remove_all", "array_remove_all(tokens, remove) - drop every occurrence of any `remove` element, order/duplicates preserved"),
      arity("array_remove_all", "array_remove_all(tokens, remove)", 2)(args =>
        ArrayRemoveAll(args(0), args(1)))),
    (FunctionIdentifier("sig_agree_count"),
      info("sig_agree_count", "sig_agree_count(sig_a, sig_b) - positions where two bigint-array signatures agree (null elements never match; length mismatch compares the common prefix)"),
      arity("sig_agree_count", "sig_agree_count(sig_a, sig_b)", 2)(args =>
        SigAgreeCount(args(0), args(1)))))

  private def intArg(e: Expression, fn: String, name: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _)
        if v.isValidInt => v.toInt
    case other =>
      throw new IllegalArgumentException(
        s"$fn: $name must be an integer literal, got ${other.sql}")
  }

  /** Register into an existing session's function registry. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, inf, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, inf, builder)
    }
}
