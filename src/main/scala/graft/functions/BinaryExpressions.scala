package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native byte-stride kernel: every k-th byte of a binary payload — the
  * deterministic stand-in for media downsampling/resize in this
  * codec-free environment (graft.multimodal stub philosophy: the decode
  * math is fake, the Spark plumbing — binary columns, batch shape,
  * partition-parallel execution — is real). No built-in expresses a byte
  * stride over BINARY without an interpreted HOF over posexploded bytes,
  * so it follows the VecDot/WordShingles native-kernel pattern.
  */
case class ByteStride(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, "stride must be positive")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_byte_stride expects a binary input, got $other")
    }

  override def dataType: DataType = BinaryType

  override def nullSafeEval(b: Any): Any =
    ByteStride.compute(b.asInstanceOf[Array[Byte]], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ByteStride.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): ByteStride =
    copy(child = newChild)

  override def prettyName: String = "graft_byte_stride"
}

object ByteStride {
  /** Bytes at offsets 0, k, 2k, ... — ceil(len/k) of them. */
  def compute(bytes: Array[Byte], k: Int): Array[Byte] = {
    val n = (bytes.length + k - 1) / k
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = bytes(i * k); i += 1 }
    out
  }
}

/** SQL names and Column handles; [[Natives]] registers the kernels. */
object BinaryFunctions {

  val strideName = "graft_byte_stride"

  def ensureRegistered(spark: SparkSession): Unit = Natives.install(spark)

  def byteStride(payload: Column, k: Int): Column =
    call_function(strideName, payload, org.apache.spark.sql.functions.lit(k))
}
