package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product of two `array<double>` columns.
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — runs
  * its lambdas INTERPRETED (Spark's higher-order functions don't participate
  * in whole-stage codegen), which matters when the expression sits inside an
  * O(queries × corpus) similarity join. This expression emits a tight Java
  * loop over the two unsafe arrays instead, while computing the exact same
  * sequential left-fold sum (bit-identical results, so the DuckDB oracle
  * comparison is unaffected).
  *
  * Contract: element nulls are not expected (embedding vectors); a shorter
  * array truncates the fold (same as zip_with would after null-product
  * elimination never occurs). Top-level null inputs propagate to null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Sum of squares of an `array<double>` — what `vec_dot(a, a)` means, with
  * one array read per element instead of two. Produced by the optimizer
  * rule [[RewriteSelfDot]]; also callable directly as `vec_norm2`. */
case class Norm2(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_norm2"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = x.getDouble(i); s += v * v; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $v = $a.getDouble($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Norm2 =
    copy(child = newChild)
}

/** Optimizer rule: `vec_dot(a, a)` → `vec_norm2(a)` when the argument is
  * deterministic — the self-dot (norm) case every similarity pipeline hits
  * once per vector. Semantics identical: Σ aᵢ·aᵢ in the same order. */
object RewriteSelfDot extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    plan.transformAllExpressions {
      case DotProduct(a, b) if a.deterministic && a.semanticEquals(b) => Norm2(a)
    }
}

/** Session extension registering the engine's native functions, optimizer
  * rules and planner strategy; call the functions via
  * `call_function("vec_dot", a, b)` or SQL. [[GraftExtensionsProvider]]
  * registers it on every session, so do not also set `spark.sql.extensions`
  * to it: that registers everything twice (each rule and strategy runs
  * twice, and each function is replaced by its own copy). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("vec_norm2"),
      new ExpressionInfo(classOf[Norm2].getName, "vec_norm2"),
      (children: Seq[Expression]) => Norm2(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("lev_within"),
      new ExpressionInfo(classOf[LevWithin].getName, "lev_within"),
      (children: Seq[Expression]) => LevWithin(children.head, children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("vec_argmin_sqdist"),
      new ExpressionInfo(classOf[ArgMinSqDist].getName, "vec_argmin_sqdist"),
      (children: Seq[Expression]) => ArgMinSqDist(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("max_by_longs"),
      new ExpressionInfo(classOf[MaxByLongs].getName, "max_by_longs"),
      (children: Seq[Expression]) =>
        MaxByLongs(children.head, children.tail).toAggregateExpression()))
    ext.injectOptimizerRule(_ => RewriteSelfDot)
    ext.injectOptimizerRule(_ => graft.plans.RewriteWindowTopK)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

/** ServiceLoader auto-registration (Spark 3.2+ reads
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`):
  * every session created with this jar on the classpath gets
  * [[GraftExtensions]] exactly once — the mains' sessions
  * (`BenchCore.session`), the test suite's, and a host harness's own. */
class GraftExtensionsProvider extends org.apache.spark.sql.SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = new GraftExtensions()(ext)
}
