package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.VectorDistance

/** SparkSessionExtensions entry point: makes the engine's native vector
  * kernels first-class SQL functions —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   SELECT vector_cosine(a.embedding, b.embedding) FROM ...
  * }}}
  *
  * (the preferred route for whole-cluster installs; for an existing session
  * use [[GraftFunctions.register]]). This is the engine's analogue of the
  * reference's pluggable `Metric` trait being usable everywhere a distance
  * is needed (space::Metric, reference src/distance.rs:19). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // The kNN index rewrite (SURVEY §4.2 custom piece 3): naive
    // ORDER-BY-distance-LIMIT-k SQL over a registered corpus hits the LSH
    // index path. No-op until KnnIndexRegistry.register names a corpus;
    // opt-out via Spark's own
    // spark.sql.optimizer.excludedRules=graft.plans.KnnIndexRewrite. For
    // sessions built without this extension,
    // graft.plans.KnnIndexRewrite.install adds the same rule through
    // spark.experimental.
    ext.injectOptimizerRule(s => new graft.plans.KnnIndexRewrite(s))
  }
}

object GraftFunctions {
  private def mk(name: String, op: VectorDistance.Op)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name,
      new ExpressionInfo(classOf[VectorDistance].getName, name),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"$name expects exactly 2 array arguments")
        VectorDistance(children(0), children(1), op)
      })

  /** `vector_pnorm(a, b, p)` — p must be a foldable literal (it selects the
    * codegen kernel at plan time, like the reference's compile-time
    * `PNormDistance{p}` parameter, distance.rs:176-190). */
  private def mkPNorm(name: String)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name,
      new ExpressionInfo(classOf[VectorDistance].getName, name),
      (children: Seq[Expression]) => {
        require(children.length == 3, s"$name expects (array, array, p)")
        require(children(2).foldable, s"$name: p must be a literal")
        val p = children(2).eval() match {
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case n: Number => n.doubleValue
          case other => throw new IllegalArgumentException(
            s"$name: p must be numeric, got $other")
        }
        VectorDistance(children(0), children(1), VectorDistance.PNorm(p))
      })

  /** Composition functions (the I1–I3 vector algebra): the body is the
    * same zip_with/transform/aggregate HOF tree the Column API builds
    * ([[graft.functions.VectorOps]]), expressed as a parsed template with
    * `argN` placeholders substituted by the call's children. The analyzer
    * resolves the lambdas exactly as it would for user-written SQL, so the
    * registered function costs nothing at execution — pure codegen'd
    * builtins, no UDF boundary. */
  private def mkTemplate(name: String, arity: Int, template: String)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name,
      new ExpressionInfo(classOf[VectorDistance].getName, name),
      (children: Seq[Expression]) => {
        require(children.length == arity, s"$name expects $arity arguments")
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(template).transformUp {
            case org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(n))
                if n.startsWith("arg") && n.drop(3).forall(_.isDigit) =>
              children(n.drop(3).toInt)
            // inside a lambda body the parser wraps every identifier as a
            // candidate lambda variable — placeholders included
            case org.apache.spark.sql.catalyst.expressions
                  .UnresolvedNamedLambdaVariable(Seq(n))
                if n.startsWith("arg") && n.drop(3).forall(_.isDigit) =>
              children(n.drop(3).toInt)
          }
      })

  val builders: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    mk("vector_dot", VectorDistance.Dot),
    mk("vector_l2sq", VectorDistance.L2Sq),
    mk("vector_manhattan", VectorDistance.Manhattan),
    mk("vector_cosine", VectorDistance.Cosine),
    mk("vector_cosine_sim", VectorDistance.CosineSim),
    mk("vector_chebyshev", VectorDistance.Chebyshev),
    mk("vector_canberra", VectorDistance.Canberra),
    mk("vector_braycurtis", VectorDistance.BrayCurtis),
    mk("vector_hamming", VectorDistance.Hamming),
    mkPNorm("vector_pnorm"),
    mkTemplate("vector_subtract", 2,
      "zip_with(arg0, arg1, (x, y) -> x - y)"),
    mkTemplate("vector_average", 2,
      "zip_with(arg0, arg1, (x, y) -> (x + y) / 2.0D)"),
    mkTemplate("vector_scale", 2,
      "transform(arg0, x -> x * arg1)"),
    // The squared norm is folded ONCE and lands in aggregate's finish
    // lambda, where both the zero-guard and every element division read
    // it as a bound scalar — O(d) total. (The first cut re-evaluated the
    // norm aggregate inside the transform lambda per element: O(d²) per
    // row, ~770× the needed work at 768-d.)
    mkTemplate("vector_normalize", 1,
      """aggregate(arg0, 0D, (acc, x) -> acc + x * x,
           acc -> CASE WHEN acc = 0D THEN arg0
                       ELSE transform(arg0, x -> x / sqrt(acc)) END)"""),
    mkTemplate("vector_point_above", 3,
      "aggregate(zip_with(arg0, arg2, (x, y) -> x * y), 0D, (acc, x) -> acc + x) + arg1 >= 0D"))

  /** Register into an already-running session (idempotent). */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, info, builder) =>
      ColumnBridge.registerFunction(spark, name, info, builder)
    }
}
