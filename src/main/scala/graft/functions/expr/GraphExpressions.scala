package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Compiled per-row kernels of the graph operators' native expressions
  * (the same pattern as [[VectorKernels]]: one static call per row from
  * generated code instead of an interpreted higher-order function).
  */
object GraphKernels {

  /** a ∩ b of two ascending, duplicate-free long arrays, ascending: one
    * merge pass, O(|a| + |b|), no hashing. */
  def intersect(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val out = new Array[Long](math.min(na, nb))
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { out(n) = x; n += 1; i += 1; j += 1 }
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(out, n))
  }
}

/** left ∩ right of two ascending, duplicate-free `array<bigint>` columns,
  * ascending — codegen'd merge intersection (Triangles' third corners and,
  * through `size`, its per-edge count). */
case class SortedIntersect(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"SortedIntersect needs two array<bigint> inputs, got $l, $r")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraphKernels.intersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expr.GraphKernels.intersect($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersect =
    copy(left = l, right = r)
}

/** A double the generated code reads from its `references` array
  * (`ctx.addReferenceObj`) instead of inlining it as a literal: plans that
  * differ only in this value generate the same source, so a loop that
  * feeds each step a new value (PageRank's dangling mass) compiles its
  * classes once, not once per step. Not foldable, so the optimizer keeps it
  * a reference.
  */
case class DoubleParam(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Double.valueOf(value), "java.lang.Double")
    ev.copy(code = code"final double ${ev.value} = $ref.doubleValue();", isNull = FalseLiteral)
  }
}
