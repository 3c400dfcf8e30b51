package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** Mergeable Greenwald–Khanna quantile sketches INSIDE the aggregate
  * tree — the production form of d44's driver-side merge (the upgrade
  * path its Scaladoc and the r9 verdict both named):
  *
  *   - `gk_sketch(v)` — `TypedImperativeAggregate` building a GK summary
  *     per group: per-partition partial buffers update in stream order,
  *     the final phase merges partials, and the result is the COMPRESSED
  *     sketch as bytes. Plans as a standard two-phase
  *     ObjectHashAggregate, so per-group sketch builds scale exactly
  *     like any other aggregate — no collect, no driver.
  *   - `gk_merge(sketch)` — the rollup aggregate over pre-built sketch
  *     binaries: region/corpus/dashboard rollups merge summaries, never
  *     re-scan data (d20's hll_sketch_agg/hll_union_agg split, for
  *     quantiles).
  *   - `gk_quantile(sketch, q)` — scalar extraction; runs over the
  *     handful of sketch rows a rollup produces (eval-only is fine at
  *     that cardinality — this is not a hot-path kernel).
  *
  * The buffer is Spark's own catalyst `QuantileSummaries` (the
  * approx_percentile machinery), so the ε rank bound (±ε·N) survives
  * every merge by the GK merge theorem. Serialization is the summary's
  * (compressThreshold, ε, count, sampled[(value, g, Δ)]) tuple, written
  * with a DataOutputStream — versionable bytes, ~KBs at ε=0.01.
  *
  * Determinism note (the golden-pinning contract): a GK sketch's
  * RETAINED SAMPLES depend on insertion/merge order; any order is
  * ε-valid, but byte-stable output requires the caller to fix the
  * order — d47 does (explicit repartition on the group key +
  * sortWithinPartitions, single-partition deterministic rollup), which
  * makes partials and merges arrive identically on every run.
  */
object GkSketch {

  val Eps: Double = 0.01

  private[graft] def fresh(): QuantileSummaries =
    new QuantileSummaries(QuantileSummaries.defaultCompressThreshold, Eps)

  private[graft] def toBytes(qs0: QuantileSummaries): Array[Byte] = {
    val qs = qs0.compress()
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(qs.compressThreshold)
    out.writeDouble(qs.relativeError)
    out.writeLong(qs.count)
    out.writeInt(qs.sampled.length)
    qs.sampled.foreach { s =>
      out.writeDouble(s.value); out.writeLong(s.g); out.writeLong(s.delta)
    }
    out.flush()
    bos.toByteArray
  }

  private[graft] def fromBytes(b: Array[Byte]): QuantileSummaries = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(b))
    val thr = in.readInt(); val err = in.readDouble()
    val count = in.readLong(); val n = in.readInt()
    val sampled = Array.fill(n)(QuantileSummaries.Stats(
      in.readDouble(), in.readLong(), in.readLong()))
    new QuantileSummaries(thr, err, sampled, count, true)
  }

  private abstract class GkAggBase
      extends TypedImperativeAggregate[QuantileSummaries]
      with UnaryLike[Expression] {
    override def createAggregationBuffer(): QuantileSummaries = fresh()
    override def merge(b: QuantileSummaries,
        o: QuantileSummaries): QuantileSummaries =
      b.compress().merge(o.compress())
    override def eval(b: QuantileSummaries): Any = toBytes(b)
    override def serialize(b: QuantileSummaries): Array[Byte] = toBytes(b)
    override def deserialize(bytes: Array[Byte]): QuantileSummaries =
      fromBytes(bytes)
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
  }

  /** Build: one GK summary per group from a double column. */
  private case class GkSketchAgg(
      child: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0) extends GkAggBase {
    override def prettyName: String = "gk_sketch"
    override def update(b: QuantileSummaries,
        input: InternalRow): QuantileSummaries = {
      val v = child.eval(input)
      if (v == null) b else b.insert(v.asInstanceOf[Double])
    }
    override def withNewMutableAggBufferOffset(o: Int): GkSketchAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): GkSketchAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): GkSketchAgg =
      copy(child = c)
  }

  /** Rollup: merge pre-built sketch binaries. */
  private case class GkMergeAgg(
      child: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0) extends GkAggBase {
    override def prettyName: String = "gk_merge"
    override def update(b: QuantileSummaries,
        input: InternalRow): QuantileSummaries = {
      val v = child.eval(input)
      if (v == null) b
      else b.compress().merge(fromBytes(v.asInstanceOf[Array[Byte]]))
    }
    override def withNewMutableAggBufferOffset(o: Int): GkMergeAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): GkMergeAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): GkMergeAgg =
      copy(child = c)
  }

  /** Extract: `gk_quantile(sketch, q)` → approximate quantile value. */
  private case class GkQuantile(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def prettyName: String = "gk_quantile"
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override protected def nullSafeEval(sk: Any, q: Any): Any =
      fromBytes(sk.asInstanceOf[Array[Byte]])
        .query(q.asInstanceOf[Double]).map(java.lang.Double.valueOf).orNull
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): GkQuantile = copy(left = l, right = r)
  }

  val sketchAgg: graft.GraftExtensions.Fn = (
    FunctionIdentifier("gk_sketch"),
    new ExpressionInfo(classOf[GkSketchAgg].getName, "gk_sketch"),
    (exprs: Seq[Expression]) => GkSketchAgg(exprs.head))

  val mergeAgg: graft.GraftExtensions.Fn = (
    FunctionIdentifier("gk_merge"),
    new ExpressionInfo(classOf[GkMergeAgg].getName, "gk_merge"),
    (exprs: Seq[Expression]) => GkMergeAgg(exprs.head))

  val quantile: graft.GraftExtensions.Fn = (
    FunctionIdentifier("gk_quantile"),
    new ExpressionInfo(classOf[GkQuantile].getName, "gk_quantile"),
    (exprs: Seq[Expression]) => GkQuantile(exprs(0), exprs(1)))
}
