package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** `vec_cosine(a, b)` — cosine similarity of two `array<float>` embedding
  * columns, as a native Catalyst expression with codegen.
  *
  * Why this exists (SURVEY §4.2, §7.4): the declarative formulation
  * (`transform` cast → `zip_with` product → `aggregate` sum → `sqrt`)
  * evaluates three higher-order lambdas per pair, each boxing a closure
  * call per element — 64 elements × 3 HOFs × hundreds of thousands of
  * candidate pairs in the similarity joins. This expression fuses dot
  * product and both norms into ONE pass over the raw float arrays inside
  * whole-stage codegen; nothing is allocated and the arrays never leave
  * their UnsafeArrayData form.
  *
  * Numerics contract (SURVEY §1.4 parity): each element is widened
  * float→double, products/sums accumulate left-to-right in index order,
  * and the result is `dot / (sqrt(na) * sqrt(nb))` — exactly the IEEE
  * operation sequence of the HOF formulation it replaces and of the
  * DuckDB oracle's `list_sum(list_transform(...))`, so scores are
  * bit-identical and safe to threshold unrounded.
  *
  * Inputs must be same-length, null-free float arrays (the corpus
  * guarantees 64-dim); a zero-norm side yields NaN, as in the HOF form.
  */
case class VecCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_cosine expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0d; var na = 0d; var nb = 0d
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |final int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0d, $na = 0d, $nb = 0d;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xv = (double) $a.getFloat($i);
         |  final double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecCosine =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_cosine"
}
