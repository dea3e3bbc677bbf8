package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.expressions.DotProductF

/** Optimizer rule: rewrite the portable higher-order dot-product pattern
  *
  *   aggregate(zip_with(a, b, (x, y) -> cast(x) * cast(y)), 0.0, (acc, v) -> acc + v)
  *
  * into the native codegen [[DotProductF]]. The two formulations are
  * bit-identical (same left-fold accumulation order in double precision) —
  * see DedupAnnSpec — and return NULL on the same inputs (a null array, a
  * length mismatch, a null element), so the rewrite is a pure performance
  * transformation on any float/double array, whatever its element
  * nullability: it removes per-element lambda interpretation and the
  * intermediate zipped array, keeping the expression inside whole-stage
  * codegen.
  *
  * This is the (c)-tier extension point from the build brief: a
  * `Rule[LogicalPlan]` registered through [[graft.GraftExtensions]]
  * (`injectOptimizerRule`) or ad hoc via
  * `spark.experimental.extraOptimizations`.
  */
object RewriteDotProduct extends Rule[LogicalPlan] {

  private def isNumericArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  private def toDouble(e: Expression): Option[NamedLambdaVariable] = e match {
    case Cast(v: NamedLambdaVariable, DoubleType, _, _) => Some(v)
    case v: NamedLambdaVariable if v.dataType == DoubleType => Some(v)
    case _ => None
  }

  private[graft] def isDotPattern(aa: ArrayAggregate): Boolean = aa match {
    case ArrayAggregate(
        ZipWith(a, b, LambdaFunction(Multiply(ml, mr, _), Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
        Literal(0.0, DoubleType),
        LambdaFunction(Add(al, ar, _), Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
        LambdaFunction(body, Seq(fin: NamedLambdaVariable), _)) =>
      val multOk = (toDouble(ml), toDouble(mr)) match {
        case (Some(l), Some(r)) =>
          (l.exprId == x.exprId && r.exprId == y.exprId) ||
            (l.exprId == y.exprId && r.exprId == x.exprId)
        case _ => false
      }
      val addOk = (al, ar) match {
        case (l: NamedLambdaVariable, r: NamedLambdaVariable) =>
          l.exprId == acc.exprId && r.exprId == v.exprId
        case _ => false
      }
      val finishOk = body match {
        case f: NamedLambdaVariable => f.exprId == fin.exprId
        case _ => false
      }
      multOk && addOk && finishOk && isNumericArray(a) && isNumericArray(b)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case aa: ArrayAggregate if isDotPattern(aa) =>
      val zw = aa.argument.asInstanceOf[ZipWith]
      DotProductF(zw.left, zw.right)
  }
}
