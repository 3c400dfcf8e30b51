package graft

import graft.sources.{Formats, Tables}
import org.apache.spark.sql.functions._

/** [[graft.sources.Formats.clusterSort]] — the sort-cluster maintenance
  * rewrite: content must round-trip exactly while every output file ends
  * up covering a DISJOINT cluster-key interval, which is precisely what
  * lets parquet min/max footers prune filtered scans at file granularity.
  * (a7_sort_cluster grades the content invariant through the oracle; this
  * spec pins the disjointness that makes the layout worth paying for.)
  */
class ClusterSortSpec extends SparkSpec {

  private def tmp(name: String): String = freshDir(name).resolve("out").toString

  test("cluster-sorted files cover disjoint key intervals and preserve content") {
    val src = Tables.orders(spark, sfDir)
    val frag = tmp("clfrag")
    src.repartition(16).write.parquet(frag)

    val out = tmp("clout")
    Formats.clusterSort(spark, frag, out, nFiles = 8,
      clusterCols = Seq("o_orderdate", "o_orderkey"))

    // content equality, schema included
    val back = spark.read.parquet(out)
    assert(back.schema === src.schema)
    assert(back.collect().map(_.toSeq).toSet === src.collect().map(_.toSeq).toSet)

    // per-file (o_orderdate, o_orderkey) intervals must not overlap:
    // sort files by their min key and require each file's max key to stay
    // below the next file's min key
    val ranges = back
      .select(input_file_name().as("f"),
        struct(col("o_orderdate"), col("o_orderkey")).as("k"))
      .groupBy("f").agg(min("k").as("lo"), max("k").as("hi"))
      .collect()
      .map { r =>
        def key(n: String) = {
          val s = r.getStruct(r.fieldIndex(n))
          // ISO timestamp strings order like the timestamps themselves
          (s.get(0).toString, s.getLong(1))
        }
        (key("lo"), key("hi"))
      }
      .sortBy(_._1)
    assert(ranges.length > 1, "expected multiple output files")
    for (Seq((_, hi), (lo, _)) <- ranges.toSeq.sliding(2)) {
      assert(implicitly[Ordering[(String, Long)]].lt(hi, lo),
        s"overlapping file intervals: $hi vs $lo")
    }
  }
}
