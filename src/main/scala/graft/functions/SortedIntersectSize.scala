package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `sorted_intersect_size(a, b)` — |A ∩ B| for two SORTED, de-duplicated
  * `array<bigint>` columns, as a native Catalyst expression with codegen.
  *
  * Why this exists (SURVEY §4.2, §7.4): the built-in
  * `size(array_intersect(a, b))` allocates and populates a hash set per
  * evaluation — in the banded similarity joins (g2/g14) that is hundreds
  * of thousands of evaluations over ~300-element arrays, and the hash-set
  * churn dominates the profile. For pre-sorted inputs a two-pointer merge
  * computes the same count with zero allocation, and `doGenCode` splices
  * the loop straight into the whole-stage-generated code so the arrays
  * never leave their UnsafeArrayData form.
  *
  * Contract: inputs must be sorted ascending and free of duplicates and
  * nulls (produce them with `sort_array(array_distinct(...))` over a hash
  * function). This is a fusion kernel for the dedup pipeline, not a
  * general-purpose replacement for `array_intersect`.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_size expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0
    val xn = x.numElements(); val yn = y.numElements()
    while (i < xn && j < yn) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val xn = ctx.freshName("xn"); val yn = ctx.freshName("yn")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $i = 0, $j = 0;
         |final int $xn = $a.numElements(), $yn = $b.numElements();
         |int ${ev.value}Acc = 0;
         |while ($i < $xn && $j < $yn) {
         |  final long $xv = $a.getLong($i);
         |  final long $yv = $b.getLong($j);
         |  if ($xv == $yv) { ${ev.value}Acc++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_size"
}
