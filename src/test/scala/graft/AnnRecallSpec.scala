package graft

import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ANN recall — the number that makes g12 (LSH buckets) and g17 (IVF
  * probes) falsifiable claims instead of "returns some neighbors".
  * Recall@k is measured against the EXACT brute-force answers (g4 for the
  * single query, g21 for the query set) on sf0.01 — same data the driver
  * grades on. Floors are deliberately modest: the point is that recall is
  * a measured, regression-guarded quantity, and that the approximate
  * operators are substantially better than random (random recall@10 over
  * 2000 vectors ≈ 0.005).
  */
class AnnRecallSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  test("g17 IVF (trained √n codebook, 4 probes) recall@10 vs exact g4") {
    val exact = SparkEntry.queries("g4_cosine_topk")(spark, sf01)
      .collect().map(_.getLong(0)).toSet
    val approx = SparkEntry.queries("g17_ann_ivf")(spark, sf01)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size / 10.0
    info(f"g17 recall@10 = $recall%.2f")
    // measured 0.90 with the k-means-trained codebook (C=22, nprobe=4
    // at sf0.01); the floor is the r11 fixture codebook's level — a
    // regression back to untrained quality fails here
    assert(recall >= 0.7, f"IVF recall@10 collapsed: $recall%.2f")
  }

  test("g12 LSH bucket recall@5 vs exact g4 top-5") {
    val exact5 = SparkEntry.queries("g4_cosine_topk")(spark, sf01)
      .collect().take(5).map(_.getLong(0)).toSet
    val approx = SparkEntry.queries("g12_ann_lsh")(spark, sf01)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact5 & approx).size / 5.0
    info(f"g12 recall@5 = $recall%.2f")
    assert(recall >= 0.4, f"LSH recall@5 collapsed: $recall%.2f")
  }

  test("g92 batched IVF (trained √n codebook, 4 probes, ALL queries): " +
      "mean recall@5 vs exact brute force") {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.vecCosine)
    // exact ground truth: per-query top-5 over every pair (the g21 shape
    // without the query-set restriction) — affordable at sf0.01, which is
    // the point of having the approximate operator at all beyond it
    val e = Tables.embeddings(spark, sf01)
    val q = e.select($"vec_id".as("qid"), $"embedding".as("qe"))
    val w = Window.partitionBy($"qid").orderBy($"cs".desc, $"vec_id")
    val exact = e.join(broadcast(q), $"vec_id" =!= $"qid")
      .withColumn("cs", expr("vec_cosine(embedding, qe)"))
      .withColumn("rk", row_number().over(w))
      .where($"rk" <= 5)
      .select($"qid", $"vec_id")
    val approx = SparkEntry.queries("g92_ann_ivf_batch")(spark, sf01)
      .select($"qid", $"neighbor".as("vec_id"))
    val n = e.count().toDouble
    val hits = approx.join(exact, Seq("qid", "vec_id")).count()
    val recall = hits / (5.0 * n)
    info(f"g92 mean recall@5 over ${n.toLong} queries = $recall%.3f")
    // measured 0.519 with the k-means-trained codebook (the r11 fixture
    // codebook scraped 0.31 — the floor is raised past it, as the r11
    // verdict demanded)
    assert(recall >= 0.5, f"batched IVF recall@5 collapsed: $recall%.3f")
  }

  test("g97 PQ-ADC (8×16 codes, 32× compression, top-50 shortlist + " +
      "exact re-rank) recall@10 vs exact g4 — compression trades " +
      "recall, measured, never silent") {
    val exact = SparkEntry.queries("g4_cosine_topk")(spark, sf01)
      .collect().map(_.getLong(0)).toSet
    val approx = SparkEntry.queries("g97_pq_adc_topk")(spark, sf01)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size / 10.0
    info(f"g97 recall@10 = $recall%.2f")
    // measured 0.80 (ADC alone scores 0.30 — the re-rank stage is
    // load-bearing, which is why the key ships the two-stage shape)
    assert(recall >= 0.6, f"PQ-ADC recall@10 collapsed: $recall%.2f")
  }

  test("g98 IVFADC (IVF pruning × PQ compression × exact re-rank) " +
      "recall@10 vs exact g4 — the composed approximations compound, " +
      "measured") {
    val exact = SparkEntry.queries("g4_cosine_topk")(spark, sf01)
      .collect().map(_.getLong(0)).toSet
    val approx = SparkEntry.queries("g98_ivfadc_topk")(spark, sf01)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size / 10.0
    info(f"g98 recall@10 = $recall%.2f")
    // measured 0.90: the IVF probe keeps the lists the true neighbors
    // live in (g17 recall 0.90) and ADC ranks WITHIN them more easily
    // than across the whole corpus (g97's 0.80) — composition beats the
    // weaker stage here, it does not multiply the losses
    assert(recall >= 0.6, f"IVFADC recall@10 collapsed: $recall%.2f")
  }

  test("g93 (lists on disk, pruned read) equals g17 (in-plan lists) " +
      "row-for-row — storage must never move a result") {
    val g17 = SparkEntry.queries("g17_ann_ivf")(spark, sf01)
      .collect().map(_.toSeq).toSeq
    val g93 = SparkEntry.queries("g93_ann_ivf_pruned")(spark, sf01)
      .collect().map(_.toSeq).toSeq
    assert(g93 === g17)
  }

  test("bucketed kNN over the g21 query set: mean recall@3") {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.vecCosine)
    // the g12 bucketing generalized to a query SET: per-query top-3
    // restricted to the query's radius-1 multiprobe buckets, vs g21's
    // exact top-3
    val bkt =
      (element_at($"embedding", 1) >= 0).cast("int") * 8 +
        (element_at($"embedding", 17) >= 0).cast("int") * 4 +
        (element_at($"embedding", 33) >= 0).cast("int") * 2 +
        (element_at($"embedding", 49) >= 0).cast("int")
    val e = Tables.embeddings(spark, sf01).withColumn("bkt", bkt)
    val q = e.where($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"bkt".as("qbkt"))
    val w = Window.partitionBy($"qid").orderBy($"cs".desc, $"vec_id")
    val approx = e
      .join(broadcast(q), expr("bit_count(bkt ^ qbkt) <= 1") && $"vec_id" =!= $"qid")
      .withColumn("cs", expr("vec_cosine(embedding, qe)"))
      .withColumn("rk", row_number().over(w))
      .where($"rk" <= 3)
      .select($"qid", $"vec_id")
    val exact = SparkEntry.queries("g21_knn_join")(spark, sf01)
      .select($"qid", $"neighbor".as("vec_id"))
    val hits = approx.join(exact, Seq("qid", "vec_id")).count()
    val recall = hits / 30.0
    info(f"bucketed kNN mean recall@3 over 10 queries = $recall%.2f")
    assert(recall >= 0.3, f"bucketed kNN recall collapsed: $recall%.2f")
  }
}
