package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `char_shingles(text, k)` — table-generating function (UDTF surface,
  * SURVEY §2 I3): one output row per character k-gram of `text`, in
  * position order.
  *
  * This is the custom `Generator` counterpart to the built-in `explode`
  * family: the planner wraps it in the same `GenerateExec`, so the fan-out
  * streams per input row and never materializes the shingle list as an
  * intermediate array (the `transform(sequence(...))` + `explode`
  * formulation allocates the full array per document first — for multi-KB
  * documents at 100 TB that is a gigabyte-scale allocation churn the
  * generator avoids).
  *
  * `k` must be a foldable positive literal (enforced at analysis);
  * documents shorter than `k` yield no rows, matching the empty
  * `generate_series` of the DuckDB twin.
  */
case class CharShingles(child: Expression, kExpr: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, kExpr)

  override def elementSchema: StructType =
    StructType(StructField("shingle", StringType, nullable = false) :: Nil)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"char_shingles expects a string column, got ${child.dataType.simpleString}")
    else if (kExpr.dataType != IntegerType || !kExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "char_shingles expects a foldable int shingle width")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  private lazy val k: Int = kExpr.eval(null).asInstanceOf[Int]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null || k <= 0) Iterator.empty
    else {
      val s = raw.asInstanceOf[UTF8String].toString
      // character = Unicode CODE POINT, matching Spark's and DuckDB's
      // substring semantics — Java String.substring counts UTF-16 code
      // units, which diverges on supplementary-plane text (emoji etc.),
      // so shingle boundaries are precomputed at code-point granularity
      val n = s.codePointCount(0, s.length)
      if (n < k) Iterator.empty
      else {
        val offs = new Array[Int](n + 1)
        var o = 0
        var i = 0
        while (i < n) {
          offs(i) = o
          o += Character.charCount(s.codePointAt(o))
          i += 1
        }
        offs(n) = s.length
        (0 to n - k).iterator
          .map(i => InternalRow(UTF8String.fromString(s.substring(offs(i), offs(i + k)))))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CharShingles =
    copy(child = newChildren(0), kExpr = newChildren(1))

  override def prettyName: String = "char_shingles"
}
