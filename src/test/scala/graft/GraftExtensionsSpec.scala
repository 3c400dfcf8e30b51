package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}

class GraftExtensionsSpec extends SparkSpec {

  test("extension class injects without error and the builder evaluates") {
    new GraftExtensions().apply(new SparkSessionExtensions) // must not throw
    val (_, _, builder) = GraftExtensions.sortedIntersectSize
    val arr = (xs: Seq[Long]) =>
      Literal.create(ArrayData.toArrayData(xs.toArray), ArrayType(LongType))
    val e = builder(Seq(arr(Seq(1L, 3L, 7L)), arr(Seq(3L, 7L, 9L))))
    assert(e.eval(null) === 2)
  }

  test("runtime registration exposes the same function through SQL") {
    GraftExtensions.register(spark, GraftExtensions.sortedIntersectSize)
    val got = spark.sql(
      "SELECT sorted_intersect_size(array(1L, 2L, 5L), array(2L, 5L, 8L))")
      .head().getInt(0)
    assert(got === 2)
  }

  test("vec_cosine and char_shingles register and evaluate through SQL") {
    GraftExtensions.register(spark, GraftExtensions.vecCosine,
      GraftExtensions.charShingles)
    val cos = spark.sql(
      """SELECT vec_cosine(cast(array(1.0, 0.0) as array<float>),
        |                  cast(array(1.0, 0.0) as array<float>))""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val sh = spark.sql("SELECT char_shingles('abcd', 3)")
      .collect().map(_.getString(0)).toSeq
    assert(sh === Seq("abc", "bcd"))
  }
}
