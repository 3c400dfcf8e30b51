package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** `minhash_sigs(tokens, k)` — the k per-document MinHash values in one
  * fused pass: out[j] = min over tokens w of `xxhash64(j, w)`.
  *
  * Why this exists (SURVEY §4.2): the declarative formulation is k
  * separate `array_min(transform(tk, w -> xxhash64(j, w)))` projections —
  * Spark's higher-order functions are interpreted (CodegenFallback), so
  * the LSH signature stage paid k lambda-closure array walks plus k
  * intermediate array allocations per document. This expression walks the
  * token array ONCE inside whole-stage codegen, hashing each token k ways
  * into a running-min buffer; nothing intermediate is allocated and the
  * strings never leave UTF8String form.
  *
  * Hash contract: bit-identical to `xxhash64(j, w)` — Spark's XxHash64
  * fold with seed 42 over (int j, string w), i.e.
  * `XXH64.hashUnsafeBytes(w, XXH64.hashInt(j, 42))` — so signatures,
  * band keys, and every downstream LSH artifact are unchanged
  * (golden-pinned; `MinHashSigsSpec` asserts equality against the HOF
  * formulation). `k` must be a foldable positive int literal. Null
  * tokens are skipped (as `array_min` skips nulls); an empty or all-null
  * token array yields NULL, and the output array has no null elements.
  */
case class MinHashSigs(child: Expression, kExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = kExpr

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val elemOk = child.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (!elemOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sigs expects array<string>, got ${child.dataType.simpleString}")
    else if (kExpr.dataType != IntegerType || !kExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "minhash_sigs expects a foldable int hash count")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  private lazy val k: Int = kExpr.eval(null).asInstanceOf[Int]

  /** Per-hash seeds: Spark's xxhash64(j, w) folds the int j into the
    * default seed 42 first, then the string — precomputed once.
    */
  private lazy val seeds: Array[Long] =
    Array.tabulate(k)(j => XXH64.hashInt(j, 42L))

  override protected def nullSafeEval(a: Any, kv: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val w = arr.getUTF8String(i)
        var j = 0
        while (j < k) {
          val h = XXH64.hashUnsafeBytes(
            w.getBaseObject, w.getBaseOffset, w.numBytes, seeds(j))
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xxh = classOf[XXH64].getName
    val seedsRef = ctx.addReferenceObj("mhSeeds", seeds, "long[]")
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val mins = ctx.freshName("mins")
      val any = ctx.freshName("any"); val w = ctx.freshName("w")
      val h = ctx.freshName("h")
      s"""
         |final int $n = $a.numElements();
         |final long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |boolean $any = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    $any = true;
         |    final org.apache.spark.unsafe.types.UTF8String $w = $a.getUTF8String($i);
         |    for (int $j = 0; $j < $k; $j++) {
         |      final long $h = $xxh.hashUnsafeBytes(
         |        $w.getBaseObject(), $w.getBaseOffset(), $w.numBytes(), $seedsRef[$j]);
         |      if ($h < $mins[$j]) $mins[$j] = $h;
         |    }
         |  }
         |}
         |if ($any) {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($mins);
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSigs =
    copy(child = newLeft, kExpr = newRight)

  override def prettyName: String = "minhash_sigs"
}
