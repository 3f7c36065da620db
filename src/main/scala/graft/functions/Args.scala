package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

/** The foldable-INT-literal guard of the [[Natives]] builders. */
private[graft] object Args {

  def intLiteral(fn: String, exprs: Seq[Expression], pos: Int): Int = {
    if (pos >= exprs.length)
      fail(fn, s"expects at least ${pos + 1} arguments, got ${exprs.length}")
    exprs(pos) match {
      case Literal(i: Int, IntegerType) => i
      case e if e.foldable && e.dataType == IntegerType =>
        e.eval() match {
          case i: Int => i
          case _ => fail(fn, s"argument ${pos + 1} folded to null; expected an INT literal")
        }
      case other =>
        fail(fn, s"argument ${pos + 1} must be a foldable INT literal, " +
          s"got ${other.sql}: ${other.dataType.simpleString}")
    }
  }

  private def fail(fn: String, msg: String): Nothing =
    throw new AnalysisException("INTERNAL_ERROR", Map("message" -> s"$fn $msg"))
}
