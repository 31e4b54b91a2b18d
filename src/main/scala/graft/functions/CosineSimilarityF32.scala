package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two `array<float>` embedding
  * columns — the "custom Catalyst `Expression` beats UDF" extension path
  * for the one hot loop the built-in surface only reaches through
  * interpreted higher-order functions (`aggregate`/`zip_with` lambdas).
  *
  * Semantics are bit-identical to the declarative form used everywhere
  * else (and to the DuckDB oracle): float→double widening per element,
  * index-order accumulation of dot/normA/normB, then
  * `dot / (sqrt(normA) * sqrt(normB))` — each accumulator is an
  * independent left fold, so fusing the three loops does not change any
  * intermediate rounding.
  */
case class CosineSimilarityF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityF32 =
    copy(left = newLeft, right = newRight)
}

/** Session-extension entry point (`spark.sql.extensions=graft.functions.
  * GraftExtensions` or `builder.withExtensions`): registers the native
  * functions into the Catalyst function registry so SQL and
  * `call_function` reach them. [[graft.engine.Graft.install]] installs the
  * same table on an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

/** The one table of what Graft adds to a session: 24 functions, 2
  * optimizer rules and 1 planner strategy.
  */
object GraftExtensions {

  type FunctionSpec = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression)
      : FunctionSpec =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Fresh instances of the optimizer rules (stateless; installs compare
    * them by class).
    */
  def optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(new graft.plans.TopKRewrite, new graft.plans.ApproxDistinctRewrite)

  // the whole-operator extension tier: custom logical node → custom
  // SparkPlan (SURVEY §2 custom-op preference (c))
  val strategies: Seq[SparkStrategy] = Seq(graft.plans.AsofJoinStrategy)

  val functions: Seq[FunctionSpec] = Seq(
    fn("graft_cosine", classOf[CosineSimilarityF32])(c => CosineSimilarityF32(c(0), c(1))),
    fn("graft_rolling_fp", classOf[RollingFingerprintF])(c => RollingFingerprintF(c(0))),
    fn("graft_quality", classOf[TextQualityF])(c => TextQualityF(c(0))),
    fn("graft_langid_marker", classOf[LangIdMarkerF])(c => LangIdMarkerF(c(0))),
    fn("graft_langid_ngram", classOf[LangIdNgramF])(c => LangIdNgramF(c(0))),
    fn("graft_shingles", classOf[ShinglesF])(c => ShinglesF(c(0), c(1))),
    fn("graft_simhash", classOf[SimhashF])(c => SimhashF(c(0))),
    fn("graft_minhash", classOf[MinhashF])(c => MinhashF(c(0), c(1), c(2))),
    fn("graft_fingerprint", classOf[FingerprintF])(c => FingerprintF(c(0))),
    fn("graft_topk", classOf[TopKAgg])(c => TopKAgg(c(0), c(1))),
    fn("graft_heavyhitters", classOf[MisraGriesAgg])(c => MisraGriesAgg(c(0), c(1))),
    fn("graft_nfc", classOf[NfcNormalizeF])(c => NfcNormalizeF(c(0))),
    fn("graft_normalize", classOf[NormalizeF])(c => NormalizeF(c(0))),
    fn("graft_unit_normalize", classOf[UnitNormalizeF32])(c => UnitNormalizeF32(c(0))),
    fn("graft_dot", classOf[DotProductF64])(c => DotProductF64(c(0), c(1))),
    fn("graft_ewma", classOf[EwmaHalfF64])(c => EwmaHalfF64(c(0))),
    fn("graft_kmeans_assign", classOf[KmeansAssignI64])(c => KmeansAssignI64(c(0), c(1))),
    fn("graft_cooc_pairs", classOf[CoocPairsF])(c => CoocPairsF(c(0), c(1))),
    fn("graft_markup_counts", classOf[MarkupCountsF])(c => MarkupCountsF(c(0))),
    fn("graft_ngram_rep", classOf[NgramRepProfileF])(c => NgramRepProfileF(c(0), c(1))),
    fn("graft_marker_hits", classOf[MarkerHitsAllF])(c => MarkerHitsAllF(c(0))),
    fn("graft_script_mix", classOf[ScriptMixF])(c => ScriptMixF(c(0))),
    fn("graft_charlm", classOf[CharLmF])(c => CharLmF(c(0), c(1), c(2))),
    fn("graft_lsh_bands", classOf[LshBandsF32])(c => LshBandsF32(
      c(0), foldInt(c(1)), foldInt(c(2)), foldInt(c(3)))))

  /** The LSH geometry arguments must be integer literals: folded once at
    * expression build so the plane matrix is a plan constant.
    */
  private def foldInt(e: Expression): Int = e.eval(null) match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"graft_lsh_bands expects foldable int literals, got $other")
  }
}
