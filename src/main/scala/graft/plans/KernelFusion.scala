package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.VecDot

/** Optimizer rule fusing the declarative higher-order-function dot
  * product into the native [[VecDot]] kernel:
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)
  *     ⇒ graft_vec_dot(a, b)
  *
  * Users (and LLM-generated SQL) write the composable HOF form; the
  * kernel evaluates the same fold without materializing the zipped
  * intermediate array per row — on a 100 TB embedding scan that array is
  * allocated and thrown away once per vector pair.
  *
  * The rewrite fires only where it is bit-exact:
  *   - the multiply must be DOUBLE multiplication (double-typed lambda
  *     vars, or float vars explicitly cast to double). A float×float
  *     multiply rounds to float first — different result, not fused;
  *   - zero must be literal 0.0d, merge a plain `acc + v`, finish the
  *     identity — exactly the shape `VecDot` implements (null on length
  *     mismatch or null element, like zip_with's null padding).
  *
  * Wired via `GraftExtensions` (injectOptimizerRule) or
  * `spark.experimental.extraOptimizations` on a running session.
  */
object KernelFusion extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(mult, Seq(x, y), _)),
            DoubleZero(),
            LambdaFunction(merge, Seq(acc, v), _),
            LambdaFunction(finish, Seq(fin), _))
          if isVec(a) && isVec(b) &&
            isDoubleMul(mult, x, y) && isPlainAdd(merge, acc, v) &&
            finish.semanticEquals(fin) =>
        VecDot(a, b)
    }

  private object DoubleZero {
    def unapply(e: Expression): Boolean = e match {
      case Literal(d: Double, DoubleType) => d == 0.0
      case _ => false
    }
  }

  private def isVec(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType | FloatType, _) => true
    case _ => false
  }

  /** The lambda var, tolerating an exactness-preserving widening cast
    * (float var → double). Any other wrapper disqualifies the fusion. */
  private def asVar(e: Expression): Option[Expression] = e match {
    case v: NamedLambdaVariable => Some(v)
    case Cast(v: NamedLambdaVariable, DoubleType, _, _)
        if v.dataType == FloatType => Some(v)
    case _ => None
  }

  private def isDoubleMul(mult: Expression, x: NamedExpression,
                          y: NamedExpression): Boolean = mult match {
    case Multiply(l, r, _) if mult.dataType == DoubleType =>
      (asVar(l), asVar(r)) match {
        case (Some(lv), Some(rv)) =>
          (lv.semanticEquals(x) && rv.semanticEquals(y)) ||
            (lv.semanticEquals(y) && rv.semanticEquals(x))
        case _ => false
      }
    case _ => false
  }

  private def isPlainAdd(merge: Expression, acc: NamedExpression,
                         v: NamedExpression): Boolean = merge match {
    case Add(l, r, _) =>
      (l.semanticEquals(acc) && r.semanticEquals(v)) ||
        (l.semanticEquals(v) && r.semanticEquals(acc))
    case _ => false
  }
}
