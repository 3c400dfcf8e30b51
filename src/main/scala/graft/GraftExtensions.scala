package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: the deployment-grade way to ship this
  * engine's custom Catalyst pieces to a cluster —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * Every session on the cluster then resolves the engine's functions with
  * no per-query registration call. (The pipelines also self-register via
  * [[GraftExtensions.register]] so they work against a vanilla session,
  * e.g. the harness-built one.)
  *
  * The injection points used/available here:
  *  - `injectFunction` — native expressions (used: sorted_intersect_size)
  *  - `injectOptimizerRule` — used: [[graft.plans.BandJoinRule]] rewrites
  *    naive band theta-joins into bucket equi-joins (the optimization the
  *    pipelines apply by hand via [[graft.operators.Banding]], made
  *    automatic for user-written queries)
  *  - `injectPlannerStrategy` — unused; no inventory operator needs a
  *    custom physical strategy (SURVEY §4.2)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRule)
  }
}

object GraftExtensions {
  /** A function's (name, info, builder) triple, as the registry takes it. */
  type Fn = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Register `fns` into the session's FunctionRegistry (idempotent): the
    * self-registration that lets a key run on a vanilla session, or on its
    * own `Sessions.scoped` child. */
  def register(spark: SparkSession, fns: Fn*): Unit =
    fns.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(name, info, builder)
    }

  /** (name, info, builder) triple for sorted_intersect_size. */
  val sortedIntersectSize: Fn = (
    FunctionIdentifier("sorted_intersect_size"),
    new ExpressionInfo(
      classOf[graft.functions.SortedIntersectSize].getName,
      "sorted_intersect_size"),
    (exprs: Seq[Expression]) =>
      graft.functions.SortedIntersectSize(exprs(0), exprs(1)))

  /** (name, info, builder) triple for char_shingles (Generator/UDTF). */
  val charShingles: Fn = (
    FunctionIdentifier("char_shingles"),
    new ExpressionInfo(
      classOf[graft.functions.CharShingles].getName,
      "char_shingles"),
    (exprs: Seq[Expression]) =>
      graft.functions.CharShingles(exprs(0), exprs(1)))

  /** (name, info, builder) triple for minhash_sigs. */
  val minHashSigs: Fn = (
    FunctionIdentifier("minhash_sigs"),
    new ExpressionInfo(
      classOf[graft.functions.MinHashSigs].getName,
      "minhash_sigs"),
    (exprs: Seq[Expression]) =>
      graft.functions.MinHashSigs(exprs(0), exprs(1)))

  /** (name, info, builder) triples exposing Spark's own Bloom-filter
    * expressions (`BloomFilterAggregate` / `BloomFilterMightContain`,
    * the machinery behind runtime filter injection) as SQL functions —
    * Spark ships them unregistered, so the membership-catalog surface
    * (g50) would otherwise need a reimplementation of a sketch the
    * engine already carries. `bloom_agg(xxhash64(k), nItems, nBits)`
    * builds the filter distributively (partial buffers OR-merge, so the
    * build is one pass at any partition count); `bloom_might_contain
    * (bloom, xxhash64(k))` probes it — the bloom side must be foldable
    * or a scalar subquery, exactly like the injected-runtime-filter
    * form, which keeps the probe broadcast-shaped by construction. */
  val bloomAgg: Fn = (
    FunctionIdentifier("bloom_agg"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
      "bloom_agg"),
    (exprs: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        exprs(0), exprs(1), exprs(2)))

  val bloomMightContain: Fn = (
    FunctionIdentifier("bloom_might_contain"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
      "bloom_might_contain"),
    (exprs: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        exprs(0), exprs(1)))

  /** (name, info, builder) triple for vec_cosine. */
  val vecCosine: Fn = (
    FunctionIdentifier("vec_cosine"),
    new ExpressionInfo(
      classOf[graft.functions.VecCosine].getName,
      "vec_cosine"),
    (exprs: Seq[Expression]) =>
      graft.functions.VecCosine(exprs(0), exprs(1)))

  /** Every function the extension injects, in injection order. */
  val functions: Seq[Fn] = Seq(sortedIntersectSize, vecCosine, charShingles,
    minHashSigs, bloomAgg, bloomMightContain, graft.functions.GkSketch.sketchAgg,
    graft.functions.GkSketch.mergeAgg, graft.functions.GkSketch.quantile)
}
