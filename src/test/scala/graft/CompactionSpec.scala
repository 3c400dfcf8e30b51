package graft

import graft.sources.{Formats, Tables}

/** [[graft.sources.Formats.compact]] — the file-maintenance batch job:
  * content must round-trip exactly while the file layout changes from
  * many-small to few-target-sized. (a6_compact grades the content
  * invariant through the oracle; this spec pins the layout arithmetic.)
  */
class CompactionSpec extends SparkSpec {

  private def tmp(name: String): String = freshDir(name).resolve("out").toString

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("compaction reduces file count to ceil(bytes/target) and preserves content") {
    val src = Tables.lineitem(spark, sfDir)
    val frag = tmp("frag")
    src.repartition(32).write.parquet(frag)
    assert(Formats.fileCount(spark, frag) === 32)

    val bytes = Formats.tableBytes(spark, frag)
    assert(bytes > 0)
    // target sized so the expected count is a small, non-trivial number
    val target = bytes / 3 + 1
    val expected = ((bytes + target - 1) / target).toInt

    val out = tmp("compact")
    val written = Formats.compact(spark, frag, out, target)
    assert(written === expected)
    assert(Formats.fileCount(spark, out) === written)
    assert(Formats.fileCount(spark, out) < 32)
    // content equality, schema included
    val back = spark.read.parquet(out)
    assert(back.schema === src.schema)
    assert(asSet(back) === asSet(src))
  }

  test("compaction to one file when the table fits a single target") {
    val src = Tables.nation(spark, sfDir)
    val frag = tmp("frag1")
    src.repartition(8).write.parquet(frag)
    val out = tmp("compact1")
    val written = Formats.compact(spark, frag, out, targetBytes = 1L << 30)
    assert(written === 1)
    assert(Formats.fileCount(spark, out) === 1)
    assert(asSet(spark.read.parquet(out)) === asSet(src))
  }
}
