package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native vector kernels as Catalyst expressions (SURVEY.md custom-operator
  * preference order: compose built-ins < custom Expression < custom plan).
  *
  * The built-in way to fold a dot product — `aggregate(zip_with(a, b, *))` —
  * is a higher-order function: HOFs carry lambda variables, are excluded
  * from whole-stage codegen, and allocate an intermediate zipped array per
  * row. In the hottest loop this engine has (cosine over millions of
  * candidate pairs), that interpretation overhead dominates the query.
  * [[VecDot]] is the same arithmetic — a sequential left-to-right fold in
  * DOUBLE, bit-identical to the HOF form and to DuckDB's
  * list_cosine_similarity numerator — generated as a tight primitive loop
  * inside whole-stage codegen: no lambda dispatch, no intermediate array.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
    }
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def get(arr: String, t: DataType, i: String): String = t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _         => s"$arr.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $s = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $s += ${get(a, elemType(left), i)} * ${get(b, elemType(right), i)};
        }
        ${ev.value} = $s;
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_vec_dot"
}

/** Argmin-by-L2 over a FOLDABLE codebook (kernel 16, for product
  * quantization): one call scans all ksub centroids in a tight primitive
  * loop and returns (dist, code, dotxc, c2) of the nearest one. The
  * expression-tree formulation — ksub separate [[VecDot]] literal dot
  * products folded through array_min(struct…) — was semantically identical
  * but each run carried a codebook-sized generated-code body (literals
  * inline into codegen, so every fresh codebook recompiles ~130
  * expressions); here the codebook and its precomputed ‖c‖² live as
  * codegen REFERENCE OBJECTS, the generated call site is one line, and
  * the per-row cost is the two nested loops PQ actually needs. Ties break
  * to the lower code (ascending scan, strict improvement), matching the
  * struct-min ordering it replaces bit-for-bit.
  */
case class PqArgmin(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okLeft = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val okRight = right.foldable && (right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    })
    if (okLeft && okRight) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_pq_argmin expects (array<float|double>, foldable array<array<double>>), " +
          s"got ${left.dataType} / ${right.dataType} (foldable=${right.foldable})")
    }
  }

  override def dataType: DataType = PqArgmin.outType

  // null (not a plausible wrong code) on a vector whose length differs from
  // the codebook dimension — dimension mismatch is a caller bug, and
  // silently zero-padding/truncating would hand back wrong codes
  override def nullable: Boolean = true

  @transient private lazy val book: Array[Array[Double]] = {
    val ad = right.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(j => ad.getArray(j).toDoubleArray())
  }
  @transient private lazy val c2: Array[Double] = book.map(_.map(v => v * v).sum)
  private def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    PqArgmin.compute(a.asInstanceOf[ArrayData], leftIsFloat, book, c2)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bookRef = ctx.addReferenceObj("pqBook", book, "double[][]")
    val c2Ref = ctx.addReferenceObj("pqC2", c2, "double[]")
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"""${ev.value} = graft.functions.PqArgmin.compute($a, $leftIsFloat, $bookRef, $c2Ref);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqArgmin =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_pq_argmin"
}

object PqArgmin {

  val outType: StructType = StructType(Seq(
    StructField("dist", DoubleType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("dotxc", DoubleType, nullable = false),
    StructField("c2", DoubleType, nullable = false)))

  def compute(x: ArrayData, isFloat: Boolean, book: Array[Array[Double]],
      c2: Array[Double]): org.apache.spark.sql.catalyst.InternalRow = {
    val d = book(0).length
    if (x.numElements() != d) return null // dimension mismatch → null row
    val xv = new Array[Double](d)
    val n = d
    var i = 0
    while (i < n) {
      xv(i) = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      i += 1
    }
    var x2 = 0.0
    i = 0
    while (i < d) { x2 += xv(i) * xv(i); i += 1 }
    var bestDist = Double.PositiveInfinity
    var bestJ = 0
    var bestDot = 0.0
    var j = 0
    while (j < book.length) {
      val c = book(j)
      var dot = 0.0
      var k = 0
      while (k < d) { dot += xv(k) * c(k); k += 1 }
      val dist = x2 - 2 * dot + c2(j)
      if (dist < bestDist) { bestDist = dist; bestJ = j; bestDot = dot }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestDist, bestJ, bestDot, c2(bestJ)))
  }
}

/** All L sign-LSH bucket ids of a vector in ONE compiled pass (kernel 22):
  * for table τ, k sign bits of the vector against that table's hyperplanes
  * (OR-packed), with τ in the high bits — bit-identical to the
  * expression-tree form (k·L separate [[VecDot]]-vs-literal conjuncts),
  * which at k·L = 40 inlined loops blew the whole-stage-codegen method
  * limit and silently fell back to interpreted eval with per-row literal
  * boxing (measured: the corpus bucketing scan alone took 262 s at 5M
  * vectors; the kernel does it in seconds). Planes ride as a foldable
  * literal hoisted into codegen reference objects, exactly the
  * [[PqArgmin]] codebook pattern.
  */
case class SignBuckets(left: Expression, right: Expression, numPlanes: Int)
  extends BinaryExpression {

  require(numPlanes >= 1 && numPlanes <= 63, s"bad plane count: $numPlanes")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okLeft = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val okRight = right.foldable && (right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    })
    if (okLeft && okRight && {
      val n = right.eval(null).asInstanceOf[ArrayData].numElements()
      n % numPlanes == 0 && n > 0
    }) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_sign_buckets expects (array<float|double>, foldable " +
          s"array<array<double>> of a multiple of $numPlanes planes), " +
          s"got ${left.dataType} / ${right.dataType}")
    }
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val planes: Array[Array[Double]] = {
    val ad = right.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(j => ad.getArray(j).toDoubleArray())
  }
  private def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    SignBuckets.compute(a.asInstanceOf[ArrayData], leftIsFloat, planes, numPlanes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("signPlanes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = graft.functions.SignBuckets.compute($a, $leftIsFloat, $planesRef, $numPlanes);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignBuckets =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_sign_buckets"
}

object SignBuckets {

  /** Same fold as the VecDot-per-plane form: sequential += over the
    * vector, floats widened per element — sign decisions (and therefore
    * bucket ids, and therefore ANN candidates) are bit-identical to the
    * expression formulation this replaces.
    */
  def compute(x: ArrayData, isFloat: Boolean, planes: Array[Array[Double]],
      numPlanes: Int): ArrayData = {
    val tables = planes.length / numPlanes
    val n = x.numElements()
    val xv = new Array[Double](n)
    var i = 0
    while (i < n) {
      xv(i) = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      i += 1
    }
    val out = new Array[Any](tables)
    var tau = 0
    while (tau < tables) {
      var bits = tau.toLong << 32
      var b = 0
      while (b < numPlanes) {
        val p = planes(tau * numPlanes + b)
        val d = math.min(n, p.length)
        var s = 0.0
        var j = 0
        while (j < d) { s += xv(j) * p(j); j += 1 }
        if (s > 0) bits |= (1L << b)
        b += 1
      }
      out(tau) = bits
      tau += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Top-p nearest centroids by cosine over a FOLDABLE centroid matrix
  * (kernel 23): p linear argmax passes over the book in one compiled call,
  * returning the 0-based row INDEXES in descending-cosine order with ties
  * to the lower index — exactly p rounds of
  * `max_by(cent_id, struct(cos, -cent_id))` excluding already-chosen
  * cells, the broadcast-fan-out shape this replaces. Cosines use the same
  * fold as the [[VecDot]]-based `cosine` expression (sequential += in
  * index order, `dot / (sqrt(x·x) * sqrt(c·c))`), so assignments are
  * bit-identical to the max_by form for finite inputs (NaN cosines — a
  * zero-norm vector, absent from every corpus here — would sort LAST here
  * and first under Spark's NaN-greatest ordering). The book and its norms
  * ride as codegen reference objects ([[PqArgmin]] pattern); the win is
  * that the corpus-side argmax becomes ROW-LOCAL — no n·numCells fan-out,
  * no object aggregate, no exchange.
  */
case class NearestCells(left: Expression, right: Expression, p: Int)
    extends BinaryExpression {

  require(p >= 1, s"bad probe count: $p")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okLeft = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val okRight = right.foldable && (right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }) && right.eval(null).asInstanceOf[ArrayData].numElements() > 0
    if (okLeft && okRight) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_nearest_cells expects (array<float|double>, nonempty foldable " +
          s"array<array<double>>), got ${left.dataType} / ${right.dataType}")
    }
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val book: Array[Array[Double]] = {
    val ad = right.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(j => ad.getArray(j).toDoubleArray())
  }
  @transient private lazy val nc: Array[Double] =
    book.map(c => math.sqrt(c.map(v => v * v).sum))
  private def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    NearestCells.compute(a.asInstanceOf[ArrayData], leftIsFloat, book, nc, p)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bookRef = ctx.addReferenceObj("ncBook", book, "double[][]")
    val ncRef = ctx.addReferenceObj("ncNorm", nc, "double[]")
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = graft.functions.NearestCells.compute($a, $leftIsFloat, $bookRef, $ncRef, $p);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCells =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_nearest_cells"
}

object NearestCells {

  def compute(x: ArrayData, isFloat: Boolean, book: Array[Array[Double]],
      nc: Array[Double], p: Int): ArrayData = {
    val nx = x.numElements()
    val xv = new Array[Double](nx)
    var i = 0
    while (i < nx) {
      xv(i) = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      i += 1
    }
    var x2 = 0.0
    i = 0
    while (i < nx) { x2 += xv(i) * xv(i); i += 1 }
    val nxr = math.sqrt(x2)
    val m = book.length
    val cos = new Array[Double](m)
    var j = 0
    while (j < m) {
      val c = book(j)
      val d = math.min(nx, c.length) // VecDot's min-length contract
      var s = 0.0
      var t = 0
      while (t < d) { s += xv(t) * c(t); t += 1 }
      cos(j) = s / (nxr * nc(j))
      j += 1
    }
    val take = math.min(p, m)
    val out = new Array[Any](take)
    val used = new Array[Boolean](m)
    var r = 0
    while (r < take) {
      var bj = -1
      var bc = Double.NegativeInfinity
      j = 0
      while (j < m) {
        if (!used(j) && cos(j) > bc) { bc = cos(j); bj = j }
        j += 1
      }
      if (bj < 0) // all-NaN residue: return the cells actually ranked
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(out.take(r))
      used(bj) = true
      out(r) = bj
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Nearest vector by cosine over a NON-foldable book COLUMN (kernel 24):
  * argmax over an `array<array<double>>` attached per row (the per-cell
  * fine-centroid books a broadcast 1:1 join delivers), returning
  * struct(idx, cos) of the best entry — first occurrence of the maximum,
  * i.e. ties to the lower index, matching `max_by(id, struct(cos, -id))`
  * over the same candidates bit-for-bit (same [[VecDot]] fold, same
  * `dot / (sqrt(x·x) * sqrt(c·c))` shape; the candidate norm is recomputed
  * per row exactly as the `cosine` expression it replaces did). Null on an
  * empty/missing book, so a left-joined absent cell drops out of a
  * `greatest` reduce naturally.
  */
case class NearestVec(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okLeft = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val okRight = right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    if (okLeft && okRight) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_nearest_vec expects (array<float|double>, array<array<double>>), " +
          s"got ${left.dataType} / ${right.dataType}")
    }
  }

  override def dataType: DataType = NearestVec.outType

  override def nullable: Boolean = true // null on an empty book

  private def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    NearestVec.compute(a.asInstanceOf[ArrayData], leftIsFloat, b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.NearestVec.compute($a, $leftIsFloat, $b);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestVec =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_nearest_vec"
}

object NearestVec {

  val outType: StructType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))

  def compute(x: ArrayData, isFloat: Boolean,
      book: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val m = book.numElements()
    if (m == 0) return null
    val nx = x.numElements()
    val xv = new Array[Double](nx)
    var i = 0
    while (i < nx) {
      xv(i) = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      i += 1
    }
    var x2 = 0.0
    i = 0
    while (i < nx) { x2 += xv(i) * xv(i); i += 1 }
    val nxr = math.sqrt(x2)
    var bi = -1
    var bc = Double.NegativeInfinity
    var j = 0
    while (j < m) {
      val c = book.getArray(j)
      val dc = c.numElements()
      var c2 = 0.0
      var t = 0
      while (t < dc) { val v = c.getDouble(t); c2 += v * v; t += 1 }
      val d = math.min(nx, dc)
      var s = 0.0
      t = 0
      while (t < d) { s += xv(t) * c.getDouble(t); t += 1 }
      val cos = s / (nxr * math.sqrt(c2))
      if (cos > bc) { bc = cos; bi = j }
      j += 1
    }
    if (bi < 0) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bi, bc))
  }
}

/** SQL names and Column handles; [[Natives]] registers the kernels. */
object VectorFunctions {

  val dotName = "graft_vec_dot"
  val pqArgminName = "graft_pq_argmin"
  val signBucketsName = "graft_sign_buckets"
  val nearestCellsName = "graft_nearest_cells"
  val nearestVecName = "graft_nearest_vec"

  def ensureRegistered(spark: SparkSession): Unit = Natives.install(spark)

  /** Column-level handle (resolves against the session registry). */
  def vecDot(a: Column, b: Column): Column = call_function(dotName, a, b)

  def pqArgmin(x: Column, book: Column): Column = call_function(pqArgminName, x, book)

  def signBuckets(x: Column, planes: Column, numPlanes: Int): Column =
    call_function(signBucketsName, x, planes,
      org.apache.spark.sql.functions.lit(numPlanes))

  def nearestCells(x: Column, book: Column, p: Int): Column =
    call_function(nearestCellsName, x, book,
      org.apache.spark.sql.functions.lit(p))

  def nearestVec(x: Column, book: Column): Column =
    call_function(nearestVecName, x, book)
}
