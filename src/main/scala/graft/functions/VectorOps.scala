package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused vector kernels as native Catalyst expressions.
  *
  * The composable alternative (`zip_with` + `aggregate` higher-order
  * functions) is interpreted — lambda dispatch per element, boxed
  * accumulator, three array passes for a cosine. These expressions compute
  * dot, norms, and the quotient in ONE tight primitive loop and participate
  * in whole-stage codegen, which is exactly the preference order the engine
  * follows: built-ins where they're adequate, a native Expression where the
  * hot loop matters. Inputs are `array<float>` embedding columns (the
  * engine's embedding storage type); output is double.
  */
object VectorOps {

  /** Single-pass cosine over equal-length float arrays — called from
    * generated code after the length guard in [[CosineSimExpr]]. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Σ aᵢ·bᵢ in one primitive loop, with semantics BIT-IDENTICAL to the
    * declarative `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, _+_)`
    * fold it replaces (see [[graft.functions.FuseVectorKernels]]): same
    * ascending accumulation order, empty → 0.0, any null element or a
    * length mismatch (zip_with's null padding) → null. Called from
    * generated code. */
  def dotOrNull(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Σ (aᵢ−bᵢ)² in one primitive loop, with semantics BIT-IDENTICAL to the
    * declarative `aggregate(zip_with(a, b, (x, y) => (x-y)*(x-y)), 0.0, _+_)`
    * fold it replaces (see [[FuseVectorKernels]]): same ascending
    * accumulation order and identical per-element IEEE ops; a length
    * mismatch (zip_with's null padding) or any null element → null. Over
    * DOUBLE arrays — the k-means/PQ assignment shape, where the centroid
    * side is a literal array. Called from generated code. */
  def sqDistOrNull(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** Fused double-array squared-L2 distance — the kernel [[FuseVectorKernels]]
  * substitutes for the interpreted higher-order-function fold in the
  * k-means / PQ assignment projections. */
case class SqDistExpr(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.types.DoubleType
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_dist"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got ${l.sql} and ${r.sql}")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    VectorOps.sqDistOrNull(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Double ${ev.value}$$r = graft.functions.VectorOps.sqDistOrNull($a, $b);
         |if (${ev.value}$$r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}$$r.doubleValue();
         |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistExpr =
    copy(left = newLeft, right = newRight)
}

/** Fused float-array dot product — the kernel [[FuseVectorKernels]]
  * substitutes for the interpreted higher-order-function fold. */
case class DotProductExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, got ${l.sql} and ${r.sql}")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    VectorOps.dotOrNull(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Double ${ev.value}$$r = graft.functions.VectorOps.dotOrNull($a, $b);
         |if (${ev.value}$$r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}$$r.doubleValue();
         |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // mismatched lengths yield null (corrupt row → dropped by downstream
  // threshold/rank filters), so the result is nullable regardless of inputs
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, got ${l.sql} and ${r.sql}")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    if (aa.numElements() != bb.numElements()) null
    else VectorOps.cosine(aa, bb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VectorOps.cosine($a, $b);
         |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}
