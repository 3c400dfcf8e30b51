package graft

import org.apache.spark.sql.functions._

/** [[graft.functions.MinHashSigs]] — the fused kernel must be
  * bit-identical to the k-fold HOF formulation it replaced
  * (`array_min(transform(tk, w -> xxhash64(j, w)))` per j), including
  * null-token skipping and the empty/all-null → NULL contract.
  */
class MinHashSigsSpec extends SparkSpec {

  test("fused signatures equal the HOF formulation on real corpus tokens") {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.minHashSigs)
    val k = 16
    val toks = graft.sources.Tables.documents(spark, sfDir)
      .select($"doc_id", array_distinct(split($"text", " ")).as("tk"))
    val hofCols = (0 until k).map(j =>
      expr(s"array_min(transform(tk, w -> xxhash64($j, w)))").as(s"h$j"))
    val hof = toks.select((col("doc_id") +: hofCols): _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong).toSeq).toMap
    val fused = toks
      .select($"doc_id", expr(s"minhash_sigs(tk, $k)").as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused.keySet === hof.keySet)
    for ((id, sig) <- hof) assert(fused(id) === sig, s"doc $id")
  }

  test("null tokens are skipped; empty and all-null arrays yield NULL") {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.minHashSigs)
    val df = Seq(
      (1L, Seq[String]("a", "b")),
      (2L, Seq[String](null, "a")),
      (3L, Seq[String]()),
      (4L, Seq[String](null))
    ).toDF("id", "tk")
    val got = df.select($"id", expr("minhash_sigs(tk, 4)").as("s"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1)))
      .toMap
    // doc 2's null token is skipped → same signature as just ["a"]
    val aOnly = Seq(Tuple1(Seq("a"))).toDF("tk")
      .select(expr("minhash_sigs(tk, 4)")).head().getSeq[Long](0)
    assert(got(1L) !== null)
    assert(got(2L) === aOnly)
    assert(got(3L) === null)
    assert(got(4L) === null)
  }
}
