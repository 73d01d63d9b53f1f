package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL surface for the engine's native expressions: registered through
  * `SparkSessionExtensions` so a SQL-only user gets the same codegen'd
  * kernels the DataFrame API uses —
  *
  * {{{
  * val spark = graft.GraftSession.build(8,
  *   "spark.sql.extensions" -> "graft.plans.GraftExtensions")
  * spark.sql("SELECT graft_simhash64(lower(text)) FROM docs")
  * }}}
  *
  * (or `--conf spark.sql.extensions=graft.plans.GraftExtensions` on an
  * existing deployment — the standard extension injection point, no
  * code change needed).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }
  private def boolLit(e: Expression, fn: String, arg: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a boolean literal, got $other")
  }
  private def strLit(e: Expression, fn: String, arg: String): String = e match {
    case Literal(v, _) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a string literal, got $other")
  }
  // SQL numeric literals arrive as int/long/decimal/double depending on
  // how the user spells them — accept any exact numeric literal
  private def doubleLit(e: Expression, fn: String, arg: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: Float, _) => v.toDouble
    case Literal(v: Int, _) => v.toDouble
    case Literal(v: Long, _) => v.toDouble
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a numeric literal, got $other")
  }
  private def arity(fn: String, args: Seq[Expression], allowed: Range): Unit =
    if (!allowed.contains(args.length)) throw new IllegalArgumentException(
      s"$fn expects ${allowed.min}..${allowed.max} arguments, got ${args.length}")

  private def fn(name: String, usage: String)(builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo("graft.plans", name, usage), builder)

  /** name → (identifier, doc, builder); every builder returns one of the
    * engine's codegen'd expressions. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_shingles", "word n-gram shingles of a string (default n=3)") { args =>
      arity("graft_shingles", args, 1 to 2)
      WordShingles(args.head,
        if (args.length > 1) intLit(args(1), "graft_shingles", "n") else 3)
    },
    fn("graft_minhash_sigs", "MinHash signature array (numHashes, shingle n)") { args =>
      arity("graft_minhash_sigs", args, 1 to 3)
      MinHashSigs(args.head,
        if (args.length > 1) intLit(args(1), "graft_minhash_sigs", "numHashes") else 16,
        if (args.length > 2) intLit(args(2), "graft_minhash_sigs", "n") else 3)
    },
    fn("graft_char_shingles",
        "character n-gram shingles by code point (space-free scripts)") { args =>
      arity("graft_char_shingles", args, 2 to 2)
      CharShingles(args.head, intLit(args(1), "graft_char_shingles", "n"))
    },
    fn("graft_minhash_char_sigs",
        "MinHash signature array over character n-grams") { args =>
      arity("graft_minhash_char_sigs", args, 1 to 3)
      MinHashCharSigs(args.head,
        if (args.length > 1) intLit(args(1), "graft_minhash_char_sigs", "numHashes") else 16,
        if (args.length > 2) intLit(args(2), "graft_minhash_char_sigs", "n") else 4)
    },
    fn("graft_window_hashes",
        "stride-1 n-token window hash array (exact-substring carrier)") { args =>
      arity("graft_window_hashes", args, 2 to 2)
      WindowHashSigs(args.head, intLit(args(1), "graft_window_hashes", "n"))
    },
    fn("graft_simhash64", "64-bit SimHash signature over whitespace tokens") { args =>
      arity("graft_simhash64", args, 1 to 1)
      SimHashSig64(args.head, 99, 98)
    },
    fn("graft_token_fingerprint", "position-weighted polynomial token fingerprint") { args =>
      arity("graft_token_fingerprint", args, 1 to 1)
      TokenFingerprint(args.head)
    },
    fn("graft_array_jaccard", "exact distinct-set Jaccard of two string arrays") { args =>
      arity("graft_array_jaccard", args, 2 to 2)
      ArrayJaccard(args(0), args(1))
    },
    fn("graft_dot", "strict-left-fold double dot product of two float arrays") { args =>
      arity("graft_dot", args, 2 to 2)
      FloatDotProduct(args(0), args(1))
    },
    fn("graft_code_dot",
        "strict-left-fold dot of a double array against a long code array " +
          "(the SQ8 ADC scoring fold)") { args =>
      arity("graft_code_dot", args, 2 to 2)
      CodeDotProduct(args(0), args(1))
    },
    fn("graft_normalize",
        "canonicalize text: unicode form (default NFC), lower, collapse whitespace") { args =>
      arity("graft_normalize", args, 1 to 4)
      NormalizeText(args.head,
        if (args.length > 1) strLit(args(1), "graft_normalize", "form") else "NFC",
        if (args.length > 2) boolLit(args(2), "graft_normalize", "lower") else false,
        if (args.length > 3) boolLit(args(3), "graft_normalize", "collapseWs") else true)
    },
    // aggregates: the analyzer wraps a bare AggregateFunction returned
    // from a registry builder in its AggregateExpression, so SQL users
    // get GROUP BY semantics for free
    fn("graft_bitmap_distinct",
        "exact distinct count of longs in [0, maxBound) via mergeable bitmaps") { args =>
      arity("graft_bitmap_distinct", args, 2 to 2)
      BitmapDistinct(args.head, intLit(args(1), "graft_bitmap_distinct", "maxBound"))
    },
    fn("graft_hist_quantile",
        "grouped quantiles from a mergeable fixed-bin histogram: " +
          "(measure, lo, binWidth, bins, prob...)") { args =>
      arity("graft_hist_quantile", args, 5 to 16)
      HistogramQuantile(args.head,
        doubleLit(args(1), "graft_hist_quantile", "lo"),
        doubleLit(args(2), "graft_hist_quantile", "binWidth"),
        intLit(args(3), "graft_hist_quantile", "bins"),
        args.drop(4).map(doubleLit(_, "graft_hist_quantile", "prob")))
    },
    fn("graft_hll_estimate",
        "HyperLogLog distinct estimate (m=256, integer-exact estimator) " +
          "of a 32-char md5-hex key column") { args =>
      arity("graft_hll_estimate", args, 1 to 1)
      HllSketch(args.head)
    })
}
