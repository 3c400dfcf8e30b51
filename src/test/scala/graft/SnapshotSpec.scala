package graft

import graft.pipeline.Dedup
import graft.sources.TmpDirs

/** a21's snapshot contract: after the verdict snapshot is written, every
  * audit-family consumer (1) actually READS the parquet snapshot instead
  * of re-deriving the shared pipeline, and (2) produces byte-identical
  * results to its inline fallback — the property that keeps the oracle
  * hashes stable whichever path served a given run.
  */
class SnapshotSpec extends SparkSpec {

  private val auditKeys = Seq("g46_survivorship", "g49_dedup_eval",
    "g81_dup_degree_dist", "g82_quality_dup_matrix",
    "g83_source_pair_flow", "g84_dedup_length_bias")

  /** A fresh run of `key`, clearing the cache after it (Bench's rule):
    * each path must be recomputed, not read from a persisted frame. */
  private def rows(key: String): Seq[Seq[Any]] =
    try SparkEntry.queries(key)(spark, sfDir).collect().toSeq.map(_.toSeq)
    finally spark.catalog.clearCache()

  test("audit keys: inline path == snapshot path, and the snapshot is read") {
    // this JVM may already have written snapshots (suite order is not
    // fixed) — clear them so the first pass is genuinely inline
    TmpDirs.rmTree(new java.io.File(TmpDirs.perPidRoot(Dedup.snapshotRoot)))
    val inline = auditKeys.map(k => k -> rows(k)).toMap
    inline.foreach { case (k, r) => assert(r.nonEmpty, s"$k empty inline") }
    // write the snapshots (the graded a21 round trip). `rows` clears the
    // cache after it: a persisted plan built on a snapshot read (g85's
    // census kernel does this) is substituted as an InMemoryRelation into
    // any matching later scan, which HIDES the parquet files from
    // inputFiles even though the data still comes from the snapshot, so
    // the probe below needs an uncached plan to witness the files
    assert(rows("a21_verdict_snapshot").nonEmpty)
    // every audit key is plan-visible: g46/g84 read the VERDICT snapshot
    // directly (no Components re-run whose localCheckpoint would truncate
    // lineage to a LogicalRDD), the rest read the pair snapshots — so the
    // inputFiles probe applies to the whole family unconditionally
    for (k <- auditKeys) try {
      val df = SparkEntry.queries(k)(spark, sfDir)
      assert(df.inputFiles.exists(_.contains("graft_snapshots")),
        s"$k did not read the snapshot after a21 wrote it")
      assert(df.collect().toSeq.map(_.toSeq) === inline(k),
        s"$k drifted between inline and snapshot paths")
    } finally spark.catalog.clearCache()
  }

  test("a21 output equals g46 (the snapshot IS the verdict table)") {
    assert(GradedRuns.rows("a21_verdict_snapshot").toSeq ===
      GradedRuns.rows("g46_survivorship").toSeq)
  }
}
