package graft

import org.apache.spark.sql.functions._

/** [[graft.functions.CharShingles]] — the custom Generator must agree with
  * the declarative `transform(sequence(...))` + `explode` formulation.
  */
class CharShinglesSpec extends SparkSpec {

  test("generator output equals the explode(transform(sequence)) formulation") {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.charShingles)
    val docs = Seq((1L, "abcdef"), (2L, "xy"), (3L, "aaaa"), (4L, ""))
      .toDF("id", "t")
    val gen = docs.select($"id", expr("char_shingles(t, 3)").as("sh"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val ref = docs.where(length($"t") >= 3)
      .select($"id", explode(expr(
        "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))")).as("sh"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(gen === ref)
    assert(gen.map(_._1).toSet === Set(1L, 3L)) // short/empty docs emit nothing
  }

  test("non-BMP text shingles by code point, matching Spark substring") {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.charShingles)
    // 😀 and 𝄞 are supplementary-plane (2 UTF-16 units each): UTF-16-unit
    // slicing would split surrogate pairs and emit 5 mangled shingles for
    // the first doc; code-point slicing emits 3 clean ones
    val docs = Seq((1L, "a😀b𝄞c"), (2L, "😀😀")).toDF("id", "t")
    val gen = docs.select($"id", expr("char_shingles(t, 3)").as("sh"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val ref = docs.where(expr("char_length(t)") >= 3)
      .select($"id", explode(expr(
        "transform(sequence(1, char_length(t) - 2), i -> substring(t, i, 3))")).as("sh"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(gen === ref)
    assert(gen === Seq((1L, "a😀b"), (1L, "b𝄞c"), (1L, "😀b𝄞")).sorted)
  }

  test("position order and overlap semantics") {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.charShingles)
    val got = Seq(Tuple1("abcd")).toDF("t")
      .select(expr("char_shingles(t, 2)").as("sh"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("ab", "bc", "cd"))
  }
}
