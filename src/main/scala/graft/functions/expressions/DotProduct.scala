package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two numeric arrays with
  * per-element promotion to double (`Σ (double)a[i]·(double)b[i]`,
  * sequential — identical to the lambda formulation
  * `aggregate(zip_with(a,b,(x,y)->double(x)*double(y)),0d,+)` and to
  * DuckDB's `list_dot_product(a::DOUBLE[], b::DOUBLE[])`).
  *
  * Corrupt-data posture is STRICT: a length mismatch throws (like
  * DuckDB; a truncating dot product would turn a corrupt embedding row
  * into a plausible wrong cosine), and a null ELEMENT yields a null
  * result (exactly what the lambda formulation produces — parquet list
  * elements are nullable by default, so silently reading a null slot
  * as garbage is not an option).
  *
  * Exists because higher-order-function expressions are interpreted
  * (CodegenFallback) in Spark: on the ANN/near-dup hot paths the
  * lambda version allocates a closure frame per element, while this
  * expression participates in whole-stage codegen as a tight primitive
  * loop. Preference order per the project charter: compose built-ins →
  * custom Expression (this) → custom operator → mapPartitions.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_dot"
  override def dataType: DataType = DoubleType

  // null ELEMENTS (not just null arrays) null out the result, so
  // nullability must account for containsNull children — with
  // nullable=false codegen would hard-wire ev.isNull to "false"
  override def nullable: Boolean =
    left.nullable || right.nullable || containsNullElems

  private def containsNullElems: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, cn) => cn
      case _ => false
    }
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"$prettyName: array length mismatch ($n vs ${b.numElements()})")
    val aF = elemType(left) == FloatType
    val bF = elemType(right) == FloatType
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (av, bv) => {
      // fresh names: nullSafeCodeGen inlines this block unbraced when
      // both children are non-nullable, so fixed locals would collide
      // between two DotProduct instances in one generated method
      val n = ctx.freshName("dotN")
      val acc = ctx.freshName("dotAcc")
      val i = ctx.freshName("dotI")
      def get(v: String, t: DataType): String = t match {
        case FloatType => s"(double) $v.getFloat($i)"
        case _ => s"$v.getDouble($i)"
      }
      // only emit the per-element null branch when an input can
      // actually hold null slots — fixed-width float arrays keep the
      // tight two-op loop
      val nullBreak =
        if (containsNullElems)
          s"""if ($av.isNullAt($i) || $bv.isNullAt($i)) {
             |    ${ev.isNull} = true; break;
             |  }""".stripMargin
        else ""
      s"""
         |int $n = $av.numElements();
         |if ($bv.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "graft_dot: array length mismatch (" + $n + " vs " +
         |      $bv.numElements() + ")");
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullBreak
         |  $acc += (${get(av, elemType(left))}) * (${get(bv, elemType(right))});
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
