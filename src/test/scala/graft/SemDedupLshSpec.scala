package graft

import graft.pipeline.Similarity
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** g44's LSH candidate generation as a falsifiable claim (the
  * AnnRecallSpec discipline applied to semantic dedup): measure, and
  * floor-assert, the recall of the adaptive-width sign-LSH band
  * candidates against the EXACT θ = 0.40 cosine graph — computed here by
  * brute-force all-pairs, an algorithm the shipped operator never uses —
  * plus the pruning fraction that makes the buckets worth their cost.
  *
  * Measured on sf0.01 (500 vectors, 59 exact θ-pairs): recall 0.83 at a
  * 0.40 candidate fraction (band width = lshBitsFor(500) = 4 bits).
  * The corpus is near-isotropic (no planted
  * high-cosine clusters — SURVEY §1.1), which is the WORST case for
  * hyperplane LSH: a θ = 0.40 pair still disagrees on each sign bit with
  * p ≈ 0.37. On a real embedding corpus, near-duplicate pairs sit at
  * cosine ≥ 0.9 (per-bit agreement ≈ 0.86, per-band ≈ 0.55, 8-band
  * recall ≈ 0.998) and cluster structure shrinks buckets — both recall
  * and pruning improve with realism, so the floors here are the
  * conservative bound.
  */
class SemDedupLshSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"
  private val theta = 0.40

  private lazy val measured: (Double, Double) = {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.vecCosine)
    val e = Tables.embeddings(spark, sf01)
    val n = e.count()
    // exact θ-graph by brute force (all ordered pairs — fine at 500 rows,
    // and deliberately NOT the operator's algorithm)
    val a = e.select($"vec_id".as("va"), $"embedding".as("ea"))
    val b = e.select($"vec_id".as("vb"), $"embedding".as("eb"))
    val truth = a.crossJoin(b).where($"va" < $"vb")
      .where(expr("vec_cosine(ea, eb)") >= theta)
      .select($"va", $"vb")
    // the shipped band generator, verbatim (adaptive width included)
    val bits = Similarity.lshBitsFor(n)
    val banded = e.select($"vec_id",
      posexplode(array(Similarity.lshBandVals(bits): _*)).as(Seq("band", "bv")))
    val cand = banded.select($"band", $"bv", $"vec_id".as("va"))
      .join(banded.select($"band", $"bv", $"vec_id".as("vb")),
        Seq("band", "bv"))
      .where($"va" < $"vb").select($"va", $"vb").distinct()
    val nTruth = truth.count()
    val hit = truth.join(cand, Seq("va", "vb"), "left_semi").count()
    val frac = cand.count().toDouble / (n.toDouble * (n - 1) / 2)
    assert(nTruth > 0, "fixture has no exact θ-pairs — recall undefined")
    (hit.toDouble / nTruth, frac)
  }

  test("band candidates recall the exact θ-graph (floor 0.65)") {
    val (recall, _) = measured
    info(f"g44 candidate recall vs exact θ=$theta%.2f graph = $recall%.2f")
    assert(recall >= 0.65, f"LSH candidate recall collapsed: $recall%.2f")
  }

  test("band candidates prune the pair space (fraction ≤ 0.5)") {
    val (_, frac) = measured
    info(f"g44 candidate fraction of all pairs = $frac%.2f")
    assert(frac <= 0.5, f"LSH buckets stopped pruning: $frac%.2f of pairs")
  }

  test("g44 components agree with a driver-side union-find over exact LSH∩θ edges") {
    import spark.implicits._
    // independent end-to-end check at sf0.01: rebuild the verified edge
    // set with the same generator, solve components with a driver-side
    // union-find (3rd algorithm, after Spark's label loop and the
    // oracle's recursive closure), compare labels exactly
    GraftExtensions.register(spark, GraftExtensions.vecCosine)
    val e = Tables.embeddings(spark, sf01)
    val banded = e.select($"vec_id",
      posexplode(array(Similarity.lshBandVals(
        Similarity.lshBitsFor(e.count())): _*)).as(Seq("band", "bv")))
    val cand = banded.select($"band", $"bv", $"vec_id".as("va"))
      .join(banded.select($"band", $"bv", $"vec_id".as("vb")),
        Seq("band", "bv"))
      .where($"va" < $"vb").select($"va", $"vb").distinct()
    val edges = cand
      .join(e.select($"vec_id".as("va"), $"embedding".as("ea")), "va")
      .join(e.select($"vec_id".as("vb"), $"embedding".as("eb")), "vb")
      .where(expr("vec_cosine(ea, eb)") >= theta)
      .select($"va", $"vb")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = e.select($"vec_id").collect().map(_.getLong(0)).sorted
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for ((s, t) <- edges) {
      val (rs, rt) = (find(s), find(t))
      if (rs != rt) parent(math.max(rs, rt)) = math.min(rs, rt)
    }
    val expected = ids.map(i => i -> find(i)).toMap
    val got = SparkEntry.queries("g44_semantic_dedup")(spark, sf01)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected, "g44 labels diverge from union-find oracle")
  }
}
