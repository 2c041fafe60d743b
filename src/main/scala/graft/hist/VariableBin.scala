package graft.hist

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Bin id of a double over ascending `edges` (the [[Axis.Variable]]
  * kernel): one read of the input and a binary search. Reading once
  * matters inside an interpreted `transform` lambda, where every read
  * re-evaluates the whole input subtree.
  *
  * Ids follow the axis contract: NaN → n (Spark orders NaN above every
  * number), v < lo → −1, v = hi → n−1, v > hi → n, otherwise the i with
  * edges(i) ≤ v < edges(i+1); the binary search gives v = hi the last
  * bin without a separate test. Primitive comparisons treat −0.0 as 0.0,
  * as Spark's do. Null in, null out. */
case class VariableBin(child: Expression, edges: Seq[Double]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a double input, got ${child.dataType.catalogString}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_variable_bin"

  @transient private lazy val edgeArray = edges.toArray

  override def nullSafeEval(v: Any): Any = VariableBin.bin(v.asInstanceOf[Double], edgeArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = ctx.addReferenceObj("edges", edgeArray, "double[]")
    defineCodeGen(ctx, ev, v => s"graft.hist.VariableBin.bin($v, $e)")
  }

  override protected def withNewChildInternal(newChild: Expression): VariableBin =
    copy(child = newChild)
}

object VariableBin {
  def bin(v: Double, edges: Array[Double]): Int = {
    val n = edges.length - 1
    if (java.lang.Double.isNaN(v) || v > edges(n)) n
    else if (v < edges(0)) -1
    else {
      // edges(lo) <= v <= edges(hi): v = hi lands in the last bin
      var lo = 0
      var hi = n
      while (hi - lo > 1) {
        val mid = (lo + hi) >>> 1
        if (v < edges(mid)) hi = mid else lo = mid
      }
      lo
    }
  }
}
