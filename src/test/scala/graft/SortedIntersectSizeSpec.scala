package graft

import org.apache.spark.sql.functions._

class SortedIntersectSizeSpec extends SparkSpec {

  test("equals size(array_intersect) on random sorted-distinct long arrays") {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.sortedIntersectSize)
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(500)((
      rnd.shuffle((0L to 60L).toList).take(rnd.nextInt(30) + 1).distinct.sorted,
      rnd.shuffle((0L to 60L).toList).take(rnd.nextInt(30) + 1).distinct.sorted))
    val df = rows.toDF("a", "b")
    val bad = df.where(
      expr("sorted_intersect_size(a, b)") =!= size(array_intersect($"a", $"b")))
    assert(bad.count() === 0)
  }

  test("empty and disjoint arrays") {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.sortedIntersectSize)
    val df = Seq(
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 2L), Seq.empty[Long]),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L))).toDF("a", "b")
    val got = df.select(expr("sorted_intersect_size(a, b)")).collect().map(_.getInt(0))
    assert(got.toSeq === Seq(0, 0, 0, 3))
  }

  test("null input propagates null (not a crash, not zero)") {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.sortedIntersectSize)
    val df = Seq((Some(Seq(1L)), None: Option[Seq[Long]])).toDF("a", "b")
    val got = df.select(expr("sorted_intersect_size(a, b)")).collect()
    assert(got.head.isNullAt(0))
  }

  test("interpreted path (eval) agrees with codegen path") {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.sortedIntersectSize)
    val df = Seq((Seq(1L, 5L, 9L), Seq(1L, 9L, 11L))).toDF("a", "b")
    // force interpreted evaluation
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(df.select(expr("sorted_intersect_size(a, b)")).head().getInt(0) === 2)
    }
    assert(df.select(expr("sorted_intersect_size(a, b)")).head().getInt(0) === 2)
  }
}
