package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen dot product over two numeric array columns
  * (`array<float>` or `array<double>` on either side) — the one dot
  * product kernel of the ANN pack.
  *
  * This is the (b)-tier extension point from the build brief: a custom
  * Catalyst `Expression` with `doGenCode`, which beats both a Scala UDF
  * (no ser/de, stays inside whole-stage codegen) and the higher-order
  * `aggregate(zip_with(...))` formulation (no per-element lambda
  * interpretation). Accumulates left-to-right in double precision —
  * bit-identical to the sequential fold an oracle computes.
  *
  * It returns what that fold returns on EVERY input: NULL for a null
  * array, for a length mismatch (zip_with null-pads the shorter side)
  * and for a null element on either side (the null product poisons the
  * fold). Parquet embeddings load as `array<float>` with
  * `containsNull = true`, so the element check is part of the kernel,
  * not a caller precondition; it is emitted only for a side whose type
  * can hold a null element.
  *
  * Used by the ANN operators (graft.ann); the array<double> side also
  * carries plan-time constant weight vectors (LSH hyperplanes), so
  * signature computation is pure codegen arithmetic.
  */
case class DotProductF(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_dot_f requires array<float|double> inputs, got (${left.dataType}, ${right.dataType})")
    }

  private def mayHoldNull(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _                          => false
  }

  @inline private def get(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _         => a.getDouble(i)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val (ta, tb) = (elemType(left).get, elemType(right).get)
    val (na, nb) = (mayHoldNull(left), mayHoldNull(right))
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if ((na && a.isNullAt(i)) || (nb && b.isNullAt(i))) return null
      acc += get(a, i, ta) * get(b, i, tb)
      i += 1
    }
    acc
  }

  private def accessor(v: String, i: String, t: DataType): String = t match {
    case FloatType => s"((double) $v.getFloat($i))"
    case _         => s"$v.getDouble($i)"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val (ta, tb) = (elemType(left).get, elemType(right).get)
      val nullElem = Seq(a -> mayHoldNull(left), b -> mayHoldNull(right))
        .collect { case (v, true) => s"$v.isNullAt($i)" }
      val elemCheck =
        if (nullElem.isEmpty) ""
        else s"if (${nullElem.mkString(" || ")}) { ${ev.isNull} = true; break; }"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemCheck
         |    $acc += ${accessor(a, i, ta)} * ${accessor(b, i, tb)};
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}
