package graft

import org.apache.spark.sql.functions._

class DedupPipelineSpec extends SparkSpec {

  private lazy val verdicts = GradedRuns.frame("g19_dedup_pipeline")

  test("every document receives exactly one verdict") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    assert(verdicts.count() === docs.count())
    assert(verdicts.select("doc_id").distinct().count() === docs.count())
  }

  test("exact duplicates are never kept, and the fingerprint min survives") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val dupGroups = docs.groupBy("fp")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n"))
      .where(col("n") > 1)
    val joined = docs.join(dupGroups, "fp").join(verdicts, "doc_id")
    // non-minimum members of a duplicate group must be flagged exact_dup
    assert(joined.where(col("doc_id") =!= col("keeper"))
      .where(col("reason") =!= "exact_dup").count() === 0)
    // the keeper must not be flagged exact_dup
    assert(joined.where(col("doc_id") === col("keeper"))
      .where(col("reason") === "exact_dup").count() === 0)
  }

  test("verdicts are deterministic across runs") {
    // a rerun against GradedRuns' run; both clear the cache after them
    val rerun = try SparkEntry.queries("g19_dedup_pipeline")(spark, sfDir)
      .collect().toSeq finally spark.catalog.clearCache()
    assert(rerun === GradedRuns.rows("g19_dedup_pipeline").toSeq)
  }

  test("g85 triangle census matches a hand-computed toy graph") {
    // K4 on {1,2,3,4} (4 triangles, 6 edges, every vertex degree 3 →
    // 12 wedges) plus a pendant chain 4-5-6 (adds 2 edges, no triangle;
    // deg(4)=4, deg(5)=2 → wedges 6+1 replace 4's former 3). Hand census:
    // edges 8, wedges 3+3+3+6+1 = 16, triangles 4, cc = 12/16 = 0.75.
    // Exercises the degree-orientation tie-break too: K4's equal-degree
    // vertices fall back to id order.
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("doc_a", "doc_b")
    val row = graft.pipeline.Dedup.triangleCensus(edges).head()
    assert(row.getLong(0) === 8L, "n_edges")
    assert(row.getLong(1) === 16L, "n_wedges")
    assert(row.getLong(2) === 4L, "n_triangles")
    assert(row.getDouble(3) === 0.75, "global_cc")
  }
}
