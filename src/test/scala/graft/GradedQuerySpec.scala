package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Mechanical gate-compatibility lint over EVERY declared query
  * (SURVEY §1.4 + the round-1 d8/f8 failure): the driver's compare gate
  * hashes scalar cells only, and hash-match requires deterministic output.
  */
class GradedQuerySpec extends SparkSpec {

  // Per-key Try (inside GradedRuns): one broken loader/analysis must fail
  // only its own key's assertions (the r5 events-ts regen broke ONE loader
  // and cascaded into 33 suite failures because construction was
  // all-or-nothing). Each key ran once there; GoldenSpec reads the same run.
  private lazy val attempts = GradedRuns.all.map(r => r.d -> r.df)
  private lazy val results = attempts.collect {
    case (d, scala.util.Success(df)) => d -> df
  }

  test("every query constructs (loader + analysis)") {
    val broken = attempts.collect { case (d, scala.util.Failure(e)) =>
      s"${d.key}: ${e.toString.linesIterator.take(2).mkString(" | ")}"
    }
    assert(broken.isEmpty, s"${broken.size} keys fail to construct:\n" +
      broken.mkString("\n"))
  }

  test("every query declares rows at sf0.001 (smoke)") {
    // c6: the 10-supplier sf0.001 corpus has no acctbal pair within the
    // theta band — legitimately empty at this sf, non-empty from sf0.01 up
    val emptyOk = Set("c6_join_theta")
    for ((d, _) <- results if !emptyOk(d.key))
      assert(GradedRuns.rows(d.key) > 0, s"${d.key} returned 0 rows")
  }

  test("no graded query emits array/map/struct-typed output columns") {
    for ((d, df) <- results if d.oracle.nonEmpty; f <- df.schema.fields)
      assert(!f.dataType.isInstanceOf[ArrayType] &&
        !f.dataType.isInstanceOf[MapType] &&
        !f.dataType.isInstanceOf[StructType],
        s"${d.key}.${f.name} is ${f.dataType.simpleString} — the driver's " +
          "gate cannot hash it; serialize with array_join/to_json")
  }

  // single-row-by-construction outputs (ungrouped global aggregates):
  // EliminateSorts correctly strips their orderBy, and global order over
  // one row is vacuous — exempt explicitly rather than weakening the
  // structural check for everything else
  private val singleRowOk =
    Set("g38_zipf_fit", "c14_join_null_anti", "g49_dedup_eval",
      "d30_ks_test", "d31_mann_whitney", "d32_cramers_v", "d33_infogain",
      "d34_levene", "d37_median_of_means", "r15_kpi_snapshot",
      "d39_runs_test", "g85_dup_transitivity", "d45_bootstrap_ci",
      "a24_mview_rewrite", "d48_bitmap_distinct", "d49_bitmap_ndv_maintain")

  test("every graded query is globally ordered (plan ends in a Sort)") {
    for ((d, df) <- results if d.oracle.nonEmpty && !singleRowOk(d.key)) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.linesIterator.take(3).exists(l =>
        l.contains("Sort") || l.contains("GlobalLimit")),
        s"${d.key} has no top-level global Sort/Limit:\n$plan")
    }
    for (key <- singleRowOk)
      assert(GradedRuns.rows(key) === 1,
        s"$key claims single-row output but is not")
  }

  test("no key leaks a conf into the session it ran on") {
    val leaks = GradedRuns.all.filter(_.confDiff.nonEmpty).map(r =>
      s"${r.d.key}: ${r.confDiff.mkString("; ")}")
    assert(leaks.isEmpty, s"${leaks.size} keys changed the session's " +
      "confs (a key that needs a conf runs on Sessions.scoped):\n" +
      leaks.mkString("\n"))
  }

  test("no key leaves a temp view or a running stream behind") {
    val leaks = GradedRuns.all.filter(_.leftBehind.nonEmpty).map(r =>
      s"${r.d.key}: ${r.leftBehind.mkString("; ")}")
    assert(leaks.isEmpty, s"${leaks.size} keys left state on the session " +
      "(a key registers its views on Sessions.scoped and drains through " +
      "StreamingJobs.drain):\n" + leaks.mkString("\n"))
  }

  test("dedup family output is idempotent-stable (two runs, same result)") {
    for (key <- Seq("g1_dedup_exact", "g3_minhash_lsh", "g16_simhash_dedup",
        "g2_neardup_jaccard")) {
      // cache cleared after each run (Bench's rule): the second run must
      // recompute, not read the first run's persisted frames
      def run() = try SparkEntry.queries(key)(spark, sfDir).collect().toSeq
        finally spark.catalog.clearCache()
      val r1 = run()
      val r2 = run()
      assert(r1 === r2, s"$key is nondeterministic across runs")
    }
  }

  test("oracle SQL exists for every key except declared bench-only ops") {
    val benchOnly = SparkEntry.all.filter(_.oracle.isEmpty).map(_.key).toSet
    val expected = Set("d9_approx_distinct", "d11_approx_pctl", "b4_sample",
      "g3_minhash_lsh", "g17_ann_ivf", "g19_dedup_pipeline",
      "m2_media_decode", "m3_frame_sample", "d20_hll_merge",
      "g50_bloom_membership", "d44_quantile_merge", "d46_hll_intersect",
      "d47_gk_sketch_agg", "g92_ann_ivf_batch", "g93_ann_ivf_pruned",
      "g97_pq_adc_topk", "g98_ivfadc_topk", "g99_bpe_train")
    assert(benchOnly === expected,
      s"bench-only drift: ${benchOnly.diff(expected)} / ${expected.diff(benchOnly)}")
  }
}
