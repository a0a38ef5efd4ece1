package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** `vec_dot(a, b)` — double-precision dot product of two float/double
  * array columns as a native Catalyst expression with `doGenCode`.
  *
  * The `zip_with`+`aggregate` higher-order-function form is
  * CodegenFallback: every pair evaluation walks an interpreted lambda
  * with boxing — ruinous when ANN/near-dup scoring evaluates millions
  * of candidate pairs. This expression compiles to a tight primitive
  * loop inside whole-stage codegen.
  *
  * Exact-arithmetic contract (the DuckDB oracles replay it): strict
  * left-to-right fold `acc += (double)a[i] * (double)b[i]` starting at
  * 0.0 — bit-identical to the HOF form it replaces. Mismatched lengths
  * and null elements yield NULL, mirroring `zip_with`'s null padding
  * propagating through the fold.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  private def okElem(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okElem(left.dataType) && okElem(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires ARRAY<FLOAT|DOUBLE> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    VecDot.fold(l.asInstanceOf[ArrayData], elemIsFloat(left),
      r.asInstanceOf[ArrayData], elemIsFloat(right))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $a.$lGet($i) * (double) $b.$rGet($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {

  /** The interpreted owner of `vec_dot`'s fold (the generated code is
    * its twin): `acc += (double)a[i] * (double)b[i]` left to right from
    * 0.0; `aFloat`/`bFloat` say whether each side holds floats or
    * doubles. A length mismatch or a null element gives null. Called by
    * [[VecDot.eval]] and by the driver-side IVF probe
    * ([[graft.operators.Ann.probeCells]]), so both rank with one fold.
    */
  def fold(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }
}
