package graft

import graft.sources.{Formats, Tables}
import org.apache.spark.sql.functions._

/** [[graft.sources.Formats.zorderCluster]] — the two-dimensional layout
  * rewrite. a13 grades content + the interleave arithmetic through the
  * oracle; this spec pins the claims that make the layout worth paying
  * for:
  *  1. per-file z-intervals are disjoint (the range-partition invariant
  *     — same law ClusterSortSpec pins for the 1-D rewrite);
  *  2. every file's extent is BOUNDED in BOTH dimensions — the property
  *     a single-axis sort cannot deliver (its trailing dimension spans
  *     the whole domain in every file), and exactly what lets footer
  *     min/max prune scans filtered on either column.
  */
class ZOrderSpec extends SparkSpec {

  private def tmp(name: String): String = freshDir(name).resolve("out").toString

  test("z-ordered files: disjoint z-intervals, bounded extent on both dims") {
    import spark.implicits._
    val src = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey",
        datediff($"o_orderdate", lit("1970-01-01")).cast("bigint").as("dy"))
    val frag = tmp("zfrag")
    src.repartition(16).write.parquet(frag)

    val out = tmp("zout")
    Formats.zorderCluster(spark, frag, out, nFiles = 8,
      dimA = "o_custkey", dimB = "dy")

    val back = spark.read.parquet(out)
    // content preserved (zval is the one added column)
    assert(back.drop("zval").collect().map(_.toSeq).toSet ===
      src.collect().map(_.toSeq).toSet)

    val stats = back
      .select(input_file_name().as("f"), $"zval",
        $"o_custkey".cast("long").as("ck"), $"dy")
      .groupBy("f")
      .agg(min("zval").as("zlo"), max("zval").as("zhi"),
        min("ck").as("cklo"), max("ck").as("ckhi"),
        min("dy").as("dylo"), max("dy").as("dyhi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
      .sortBy(_._1)
    assert(stats.length > 1, "expected multiple output files")

    // 1. z-intervals disjoint across files
    for (Seq((_, zhi, _, _, _, _), (zlo, _, _, _, _, _)) <-
        stats.toSeq.sliding(2))
      assert(zhi < zlo, s"overlapping z-intervals: $zhi vs $zlo")

    // 2. PRUNING EFFECTIVENESS on both dims — the claim that justifies
    // the layout. Per-file worst-case extent is NOT the right invariant
    // (a z-range boundary that straddles a top-level quad seam
    // legitimately spans a full dimension — same as Delta/Iceberg
    // ZORDER); what footer pruning actually buys is that a point probe
    // on EITHER dim skips a solid fraction of files on average. Probe 16
    // evenly spaced values per dim against the per-file [lo, hi] ranges.
    def meanTouched(ranges: Array[(Long, Long)], lo: Long, hi: Long)
        : Double = {
      val probes = (0 until 16).map(i => lo + (hi - lo) * i / 15)
      probes.map(p =>
        ranges.count { case (l, h) => l <= p && p <= h }.toDouble
          / ranges.length).sum / probes.size
    }
    val (ckMin, ckMax) = (stats.map(_._3).min, stats.map(_._4).max)
    val (dyMin, dyMax) = (stats.map(_._5).min, stats.map(_._6).max)
    val ckTouched =
      meanTouched(stats.map(s => (s._3, s._4)), ckMin, ckMax)
    val dyTouched =
      meanTouched(stats.map(s => (s._5, s._6)), dyMin, dyMax)
    // 8 files = 3 interleaved z-bits ≈ files fix 2 bits of one dim and 1
    // of the other, so the ideal is 25–50% touched; ≤70% leaves room for
    // sampling boundaries and seam-straddling files while still proving
    // BOTH dims prune (a dim the layout ignores probes at ~100%)
    assert(ckTouched <= 0.70, s"custkey point probes touch $ckTouched of files")
    assert(dyTouched <= 0.70, s"day point probes touch $dyTouched of files")

    // 3. the comparison point: the 1-D clusterSort on custkey leaves the
    // day dimension unpruned — its files nearly all contain any day
    // probe, which is why a13 exists at all
    val out1d = tmp("z1d")
    Formats.clusterSort(spark, frag, out1d, nFiles = 8,
      clusterCols = Seq("o_custkey"))
    val oneD = spark.read.parquet(out1d)
      .select(input_file_name().as("f"), $"dy")
      .groupBy("f").agg(min("dy").as("lo"), max("dy").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val oneDTouched = meanTouched(oneD, dyMin, dyMax)
    assert(oneDTouched > 0.85,
      s"1-D layout unexpectedly pruned the trailing dim ($oneDTouched) — " +
        "the z-order comparison premise broke")
    assert(dyTouched < oneDTouched - 0.2,
      s"z-order ($dyTouched) did not beat 1-D layout ($oneDTouched) on the trailing dim")
  }
}
