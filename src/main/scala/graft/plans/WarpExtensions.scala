package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, Expression, ExpressionInfo, Multiply, Sqrt}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, DoubleType, NumericType}
import graft.functions.{BandHashExpr, DotProductExpr, FixMojibakeExpr, HammingDistExpr, LangScoresExpr, MinHashSigExpr, NormalizeExpr, PiiScanExpr, ShingleHashExpr, SimHashExpr, TextStatsExpr, TokenStatsExpr, WarpNumExpr}

/** Catalyst-level integration of the graft engine.
  *
  * [[SimplifyWarpCoercion]]: after analysis the input types of
  * [[WarpNumExpr]] are known; over an already-numeric or boolean child the
  * coercion IS a cast, and rewriting it to a real `Cast` matters beyond
  * cosmetics — Cast is something the data-source strategies understand, so
  * filters written through the Warp coercion kernel regain predicate
  * pushdown eligibility, and downstream rules (constant folding,
  * simplifyCasts) see through it. [[WarpExtensions]] installs it when a
  * session is built, [[Graft.install]] on a session that already exists.
  */
object SimplifyWarpCoercion extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // already double: the coercion is the identity — drop it entirely
    // (this runs after SimplifyCasts, so emit no redundant cast)
    case WarpNumExpr(c) if c.resolved && c.dataType == DoubleType => c
    case WarpNumExpr(c) if c.resolved && c.dataType.isInstanceOf[NumericType] =>
      Cast(c, DoubleType)
    case WarpNumExpr(c) if c.resolved && c.dataType == BooleanType =>
      Cast(c, DoubleType)
  }
}

/** The build-time path (`builder.withExtensions` or
  * `spark.sql.extensions=graft.plans.WarpExtensions`; every
  * [[graft.LocalSession]] is built this way). It puts
  * [[SimplifyWarpCoercion]] inside the operator-optimization batch, so a
  * `warp_num` filter over a numeric column reaches the parquet scan as a
  * pushed predicate, and registers the native kernels as SQL functions
  * (`warp_num`, `simhash64`, `shingle_hashes`, `minhash_sig`,
  * `band_hashes`, `token_stats`, `text_stats`, `pii_scan`, `lang_scores`,
  * `vec_dot`, `bits_hamming`, `vec_cosine`, `nfc_normalize`,
  * `nfkc_normalize`, `fix_mojibake`) so `spark.sql(...)` users reach them
  * without the Scala API. Extensions exist only at build time, so the
  * [[SmallSort]] strategy is left to [[Graft.install]], which reaches
  * sessions graft did not build too. */
class WarpExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SimplifyWarpCoercion)
    WarpExtensions.sqlFunctions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
  }
}

object WarpExtensions {
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "warp_num" -> (args => WarpNumExpr(arity(args, 1, 1, "warp_num")(0))),
    "simhash64" -> (args => SimHashExpr(arity(args, 1, 1, "simhash64")(0))),
    "shingle_hashes" -> (args => ShingleHashExpr(
      arity(args, 1, 2, "shingle_hashes")(0), intArg(args, 1, 5))),
    "minhash_sig" -> (args => MinHashSigExpr(
      arity(args, 1, 2, "minhash_sig")(0), intArg(args, 1, 64))),
    "band_hashes" -> (args => BandHashExpr(
      arity(args, 1, 2, "band_hashes")(0), intArg(args, 1, 16))),
    "token_stats" -> (args => TokenStatsExpr(arity(args, 1, 1, "token_stats")(0))),
    "text_stats" -> (args => TextStatsExpr(arity(args, 1, 1, "text_stats")(0))),
    "pii_scan" -> (args => PiiScanExpr(arity(args, 1, 1, "pii_scan")(0))),
    // stopword-ratio scores against the six built-in language profiles in
    // en/de/fr/es/it/nl order (the Scala langId surface takes caller
    // lists; SQL gets the built-ins)
    "lang_scores" -> (args => LangScoresExpr(
      arity(args, 1, 1, "lang_scores")(0),
      Seq("en", "de", "fr", "es", "it", "nl")
        .map(graft.pipeline.TextAnalysis.stopwords))),
    // vector kernels: SQL users score embeddings / probe sketch indexes
    // without the Scala API (cosine = vec_dot(a,b)/(vec_dot-derived norms))
    "vec_dot" -> (args => DotProductExpr(arity(args, 2, 2, "vec_dot")(0),
      args(1))),
    "bits_hamming" -> (args => HammingDistExpr(
      arity(args, 2, 2, "bits_hamming")(0), args(1))),
    // cosine as ONE call instead of the three-call hand-assembly
    // (vec_dot(a,b)/(sqrt(vec_dot(a,a))*sqrt(vec_dot(b,b)))). Composed from
    // the native kernel rather than a dedicated single-pass loop ON
    // PURPOSE: for the dominant column-vs-literal probe shape Catalyst
    // constant-folds sqrt(vec_dot(q,q)) into one literal (the kernels pin
    // foldable), so the per-row cost is dot + one norm — a fused kernel
    // would re-derive the literal's norm every row. Also keeps SQL results
    // bit-identical to the Scala Similarity.cosine path (same fold order,
    // same divide-by-zero semantics).
    "vec_cosine" -> (args => {
      val as = arity(args, 2, 2, "vec_cosine"); val a = as(0); val b = as(1)
      Divide(DotProductExpr(a, b),
        Multiply(Sqrt(DotProductExpr(a, a)), Sqrt(DotProductExpr(b, b))))
    }),
    // Unicode hygiene: canonical normalization (DuckDB-compatible
    // nfc_normalize naming) + encoding-corruption repair
    "nfc_normalize" -> (args => NormalizeExpr(
      arity(args, 1, 1, "nfc_normalize")(0), "NFC")),
    "nfkc_normalize" -> (args => NormalizeExpr(
      arity(args, 1, 1, "nfkc_normalize")(0), "NFKC")),
    "fix_mojibake" -> (args => FixMojibakeExpr(
      arity(args, 1, 1, "fix_mojibake")(0))))

  /** Readable analysis-time arity error for every registered builder — a
    * raw IndexOutOfBoundsException (too few args) or a silently IGNORED
    * extra argument (`args.head` on too many) are both unacceptable
    * user-facing behavior. */
  private def arity(args: Seq[Expression], min: Int, max: Int,
                    name: String): Seq[Expression] = {
    if (args.length < min || args.length > max)
      throw new IllegalArgumentException(
        s"$name takes " +
          (if (min == max) s"exactly $min" else s"$min to $max") +
          s" argument(s), got ${args.length}")
    args
  }

  /** Extract a required-literal integer argument (e.g. the shingle size of
    * `shingle_hashes(text, 5)`). These kernels bake the parameter into the
    * generated code, so a non-foldable argument is a user error surfaced at
    * analysis time, not a ClassCastException at runtime. */
  private def intArg(args: Seq[Expression], i: Int, default: Int): Int =
    if (args.length <= i) default
    else {
      val e = args(i)
      if (!e.foldable)
        throw new IllegalArgumentException(
          s"argument ${i + 1} must be a literal integer, got non-foldable ${e.sql}")
      e.eval(null) match {
        case n: Int => n
        case n: Long if n >= Int.MinValue && n <= Int.MaxValue => n.toInt
        case n: Short => n.toInt
        case n: Byte => n.toInt
        case d: org.apache.spark.sql.types.Decimal if d.toLong == d.toDouble =>
          d.toInt
        case other => // quoted numerals ('5') keep working, like before
          val s = String.valueOf(other)
          try s.trim.toInt
          catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"argument ${i + 1} must be a literal integer, got '$s'")
          }
      }
    }
}

object Graft {
  /** Install graft's planning on `spark`; idempotent, so every
    * [[graft.SparkEntry.queries]] entry calls it and reaches sessions
    * graft did not build (an outside harness's own builder).
    *
    *  - [[SmallSort]] goes into `experimental.extraStrategies`, once.
    *  - [[SimplifyWarpCoercion]] and the SQL functions are added only when
    *    the session was built without [[WarpExtensions]], so no rule runs
    *    twice. There the rule sits in `experimental.extraOptimizations`,
    *    which runs AFTER the scan-pushdown batch: plan simplification and
    *    SQL functions, but not restored predicate pushdown. */
  def install(spark: SparkSession): Unit = {
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(SmallSort))
        ex.extraStrategies = ex.extraStrategies :+ SmallSort
      if (!ex.extraOptimizations.contains(SimplifyWarpCoercion) &&
          !spark.sessionState.optimizer.extendedOperatorOptimizationRules
            .contains(SimplifyWarpCoercion)) {
        ex.extraOptimizations = ex.extraOptimizations :+ SimplifyWarpCoercion
        WarpExtensions.sqlFunctions.foreach { case (name, builder) =>
          spark.sessionState.functionRegistry.createOrReplaceTempFunction(
            name, builder, "scala_udf")
        }
      }
    }
  }
}
