package graft.plans

import org.apache.spark.sql.{GraftColumnBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers graft's native expressions as SQL functions so
  * `spark.sql("SELECT simhash64(text) ...")` works. Two entry points:
  *  - config: `spark.sql.extensions=graft.plans.GraftExtensions`
  *    (or `.withExtensions(new GraftExtensions)` at build time);
  *  - runtime: `GraftExtensions.register(spark)` on a live session.
  */
object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** Resolve a parameter that must be a literal integer (k, minN, maxN)
    * at function-resolution time, with a clear error instead of the
    * opaque "Cannot evaluate expression" an AttributeReference.eval
    * throws — these parameters shape the expression, they cannot vary
    * per row.
    */
  private def litInt(fn: String, param: String, e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: parameter '$param' must be a literal integer, got non-foldable ${e.sql}")
    e.eval() match {
      case n: java.lang.Integer => n.intValue()
      case n: java.lang.Long => n.intValue()
      case n: java.lang.Short => n.intValue()
      case n: java.lang.Byte => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: parameter '$param' must be a literal integer, got ${String.valueOf(other)}")
    }
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(text) - 64-char simhash bit string of the text"),
      (args: Seq[Expression]) => NativeExpressions.SimHash64(args.head)),
    (FunctionIdentifier("dot_product_f"),
      info("dot_product_f", "dot_product_f(a, b) - sequential-fold dot product of float arrays"),
      (args: Seq[Expression]) => NativeExpressions.DotProductF(args(0), args(1))),
    (FunctionIdentifier("text_stats"),
      info("text_stats",
        "text_stats(text) - struct(n_tok, n_stop, n_punct, n_alnum) in one pass"),
      (args: Seq[Expression]) => NativeExpressions.TextStats(args.head)),
    (FunctionIdentifier("top_ngrams"),
      info("top_ngrams",
        "top_ngrams(text, minN, maxN) - per-n most frequent token n-gram as " +
          "array of struct(n, gram, cnt, frac); ties to the smallest gram"),
      (args: Seq[Expression]) => NativeExpressions.TopNgrams(args.head,
        litInt("top_ngrams", "minN", args(1)),
        litInt("top_ngrams", "maxN", args(2)))),
    (FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler similarity over UTF-8 bytes, " +
          "bit-compatible with DuckDB's jaro_winkler_similarity " +
          "(RapidFuzz semantics) for all input including non-ASCII"),
      (args: Seq[Expression]) => NativeExpressions.JaroWinkler(args(0), args(1))),
    (FunctionIdentifier("hilbert_index"),
      info("hilbert_index",
        "hilbert_index(x, y, bits) - position of the (x, y) cell on the " +
          "2^bits-square Hilbert curve (clustering layout key)"),
      (args: Seq[Expression]) => NativeExpressions.HilbertIndex(args(0), args(1),
        litInt("hilbert_index", "bits", args(2)))))

  /** Install into a live session's function registry. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, fi, b) =>
      GraftColumnBridge.registerFunction(spark, id, fi, b)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}
