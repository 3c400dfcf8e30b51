package graft

import org.apache.spark.sql.functions._

/** [[graft.functions.VecCosine]] — the fused codegen cosine kernel must be
  * BIT-IDENTICAL to the declarative HOF formulation it replaced (the
  * similarity queries threshold on the unrounded score, so "close" is not
  * good enough — SURVEY §1.4).
  */
class VecCosineSpec extends SparkSpec {

  private def hofCosine = expr(
    """aggregate(zip_with(transform(a, x -> cast(x as double)),
      |                   transform(b, x -> cast(x as double)),
      |                   (x, y) -> x * y), cast(0 as double), (s, x) -> s + x)
      |/ (sqrt(aggregate(transform(a, x -> cast(x as double)),
      |        cast(0 as double), (s, x) -> s + x * x))
      |   * sqrt(aggregate(transform(b, x -> cast(x as double)),
      |          cast(0 as double), (s, x) -> s + x * x)))""".stripMargin)

  test("bit-identical to the HOF formulation on random vectors") {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.vecCosine)
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      Array.fill(64)(rnd.nextFloat() - 0.5f),
      Array.fill(64)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("a", "b")
      .select(expr("vec_cosine(a, b)").as("fused"), hofCosine.as("hof"))
    val bad = df.collect().filter(r => r.getDouble(0) != r.getDouble(1))
    assert(bad.isEmpty, s"${bad.length} rows differ: ${bad.take(3).mkString}")
  }

  test("null inputs yield null, real corpus scores are in [-1, 1]") {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.vecCosine)
    val n = Seq((Option.empty[Array[Float]], Option(Array(1f, 2f))))
      .toDF("a", "b")
      .select(expr("vec_cosine(a, b)")).collect()
    assert(n.head.isNullAt(0))
    val scores = graft.sources.Tables(spark, sfDir, "embeddings")
      .select(expr("vec_cosine(embedding, embedding)").as("self"))
      .collect().map(_.getDouble(0))
    assert(scores.forall(s => math.abs(s - 1.0) < 1e-12)) // self-cosine = 1
  }
}
