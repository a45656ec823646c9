package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.IntegerType
import graft.functions.{FixWrappedNameExpr, FormatCoordinateExpr, NormalizeWordsExpr}

/** SparkSessionExtensions entry point: registers the engine's native
  * cleanse expressions as SQL functions, so `spark.sql` users get the
  * same reference-exact semantics the DataFrame API exposes:
  *
  * {{{
  * spark.sql("SELECT graft_normalize_words(h) FROM headers")
  * }}}
  *
  * Activate via `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * or `.withExtensions(new GraftExtensions)` on the session builder;
  * [[GraftExtensions.register]] injects into an already-built session
  * (useful in shells and tests).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    GraftExtensions.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.plannerStrategies.foreach(s =>
      ext.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {

  /** The optimizer rules and planner strategies, injected at session
    * build (`apply`) or into a built session ([[register]]).
    */
  private val optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.FuseHofDotProduct, graft.plans.RewriteRangeJoin)
  private val plannerStrategies: Seq[SparkStrategy] =
    Seq(graft.plans.AsofJoinStrategy)

  /** Non-deprecated full-form ExpressionInfo (the 5-arg convenience
    * constructor is deprecated since 3.0); optional doc fields empty.
    */
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage,
      "", "", "", "", "", "", "")

  private def binary(
      name: String,
      usage: String,
      build: (Expression, Expression) => Expression): (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name,
      info(name, usage),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"$name takes exactly two arguments")
        build(args(0), args(1))
      })

  private def unary(
      name: String,
      usage: String,
      build: Expression => Expression): (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name,
      info(name, usage),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"$name takes exactly one argument")
        build(args.head)
      })

  /** (name, info, builder) for every exposed SQL function. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      unary("graft_normalize_words",
        "_FUNC_(str) - De-spaces PDF-kerned text ('K o d e' -> 'Kode').",
        NormalizeWordsExpr),
      unary("graft_fix_wrapped_name",
        "_FUNC_(str) - Repairs PDF line-wrap artifacts in names.",
        FixWrappedNameExpr),
      unary("graft_format_coordinate",
        "_FUNC_(str) - Canonicalizes an Indonesian DMS coordinate pair.",
        FormatCoordinateExpr),
      binary("graft_cosine",
        "_FUNC_(a, b) - Fused cosine similarity of two float arrays.",
        graft.functions.CosineSimExpr),
      binary("graft_dot",
        "_FUNC_(a, b) - Fused dot product of two float arrays.",
        graft.functions.DotProductExpr),
      unary("graft_nfc",
        "_FUNC_(str) - Unicode NFC normalization (JDK Normalizer).",
        graft.functions.NfcNormalizeExpr),
      unary("graft_deflate_size",
        "_FUNC_(str) - Fixed-level zlib deflate size of the string.",
        graft.functions.DeflateSizeExpr),
      binary("graft_intersect_count",
        "_FUNC_(a, b) - Distinct-intersection size of two string arrays.",
        graft.functions.IntersectCountExpr),
      binary("graft_zorder",
        "_FUNC_(x, y) - 64-bit Morton (Z-order) code of two bigints.",
        graft.functions.ZOrderExpr),
      ("graft_shingles",
        info("graft_shingles",
          "_FUNC_(text, n) - Distinct word n-grams (n a literal int)."),
        (args: Seq[Expression]) => {
          require(args.length == 2, "graft_shingles takes (text, n)")
          graft.functions.ShinglesExpr(args(0), litInt(args(1), "n"))
        }),
      ("graft_hashed_shingles",
        info("graft_hashed_shingles",
          "_FUNC_(text, n) - Sorted distinct xxhash64 of word n-grams " +
            "(n a literal int)."),
        (args: Seq[Expression]) => {
          require(args.length == 2, "graft_hashed_shingles takes (text, n)")
          graft.functions.HashedShinglesExpr(args(0), litInt(args(1), "n"))
        }),
      binary("graft_sorted_intersect_count",
        "_FUNC_(a, b) - Intersection size of two bigint arrays that MUST " +
          "be sorted ascending and distinct (e.g. graft_hashed_shingles " +
          "output); unsorted or duplicated input silently undercounts. " +
          "Null ELEMENTS fail at eval — array_compact(col) first if the " +
          "stored arrays may hold null slots.",
        graft.functions.SortedIntersectCountExpr),
      binary("graft_int_dot",
        "_FUNC_(a, b) - Exact integer dot product of two equal-length " +
          "array<int> vectors (e.g. int8-quantized embedding codes). " +
          "Null ELEMENTS fail at eval — array_compact(col) first if the " +
          "stored arrays may hold null slots.",
        graft.functions.IntDotExpr),
      unary("graft_simhash",
        "_FUNC_(tokens) - 64-bit SimHash signature of a token array.",
        graft.functions.SimHashExpr),
      ("graft_minhash",
        info("graft_minhash",
          "_FUNC_(shingles, k) - k-seed MinHash signature (k a literal int)."),
        (args: Seq[Expression]) => {
          require(args.length == 2, "graft_minhash takes (shingles, k)")
          graft.functions.MinHashSignatureExpr(args(0), litInt(args(1), "k"))
        }),
      ("graft_misra_gries",
        info("graft_misra_gries",
          "_FUNC_(str, k) - Misra-Gries frequent-items sketch aggregate " +
            "(k a literal int); map of candidate -> lower-bound count."),
        (args: Seq[Expression]) => {
          require(args.length == 2, "graft_misra_gries takes (col, k)")
          // a bare AggregateFunction from a builder is wrapped into an
          // AggregateExpression by the analyzer, like built-in sum()
          graft.functions.MisraGriesAgg(args(0), litInt(args(1), "k"))
        }))

  private def litInt(e: Expression, name: String): Int = e match {
    case Literal(i: java.lang.Integer, IntegerType) => i
    case _ => throw new IllegalArgumentException(
      s"$name must be an integer literal, got: $e")
  }

  /** Register into an existing session (post-construction): SQL
    * functions into the function registry, the optimizer rules via
    * `experimental.extraOptimizations` and the strategies via
    * `experimental.extraStrategies` (the post-hoc analogs of
    * `injectOptimizerRule` / `injectPlannerStrategy`; idempotent).
    */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info, builder)
    }
    val extra = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      extra ++ optimizerRules.filterNot(extra.contains)
    val strategies = spark.experimental.extraStrategies
    spark.experimental.extraStrategies =
      strategies ++ plannerStrategies.filterNot(strategies.contains)
  }
}
