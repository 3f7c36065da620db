package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native running max over one array: element i is the max of the
  * non-null elements 0..i, or 0 while there is none — the ETL's
  * group-scoped `grouped_ads_count` (transform_raw_data.py:114-116), one
  * O(n) pass over the group's array instead of a window that shuffles and
  * sorts every ad by its group.
  */
case class RunningMax(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${ArrayFunctions.runningMaxName} expects an array<bigint> input, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any = RunningMax.compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RunningMax.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): RunningMax =
    copy(child = newChild)

  override def prettyName: String = ArrayFunctions.runningMaxName
}

object RunningMax {
  def compute(a: ArrayData): ArrayData = {
    val out = new Array[Long](a.numElements())
    var max = 0L
    var seen = false
    var i = 0
    while (i < out.length) {
      if (!a.isNullAt(i)) {
        val v = a.getLong(i)
        if (!seen || v > max) max = v
        seen = true
      }
      out(i) = max
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** SQL names and Column handles; [[Natives]] registers the kernels. */
object ArrayFunctions {

  val runningMaxName = "graft_running_max"

  def runningMax(values: Column): Column = call_function(runningMaxName, values)
}
