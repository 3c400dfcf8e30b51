package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** Regenerate the golden manifest: per-key row count + MD5 over the
  * ordered row text of every query at sf0.001.
  *
  * Purpose (SURVEY §5.4): the DuckDB parity gate catches Spark-vs-oracle
  * divergence, but not COUPLED drift — a future edit that changes the
  * Spark side and its oracle SQL together, consistently but wrongly,
  * keeps parity green. The manifest pins today's oracle-verified outputs;
  * `GoldenSpec` fails on any change, forcing an explicit regeneration
  * (run this main) in the same commit as the semantic change.
  *
  * Usage: tools/run.sh graft.GoldenWrite [outPath]
  */
object GoldenWrite {
  val defaultPath = "src/test/resources/golden_sf0001.json"
  val sfDir = "/root/testdata/sf0.001"

  def rowsHash(df: org.apache.spark.sql.DataFrame): (Long, String) =
    rowsHash(df.collect())

  /** [[rowsHash]] of rows already collected, in their collected order. */
  def rowsHash(rows: Array[org.apache.spark.sql.Row]): (Long, String) = {
    val md = MessageDigest.getInstance("MD5")
    // field (\u0001 — written as an ESCAPE, a raw control byte here reads
    // as mkString("") and looks like a missing delimiter) AND row (\n)
    // delimiters: without them, values migrating across field or row
    // boundaries could hash identically,
    // weakening the coupled-drift gate this manifest exists to provide
    rows.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else defaultPath
    // 4 cores: the width the manifest was made at, and SparkSpec's
    val spark = Sessions.local(4)
    val entries = SparkEntry.all.sortBy(_.key).map { d =>
      val (n, h) = rowsHash(d.fn(spark, sfDir))
      spark.catalog.clearCache() // drop per-query persist()ed blocks
      s"""  "${d.key}": {"rows": $n, "hash": "$h"}"""
    }
    Files.writeString(Paths.get(out), entries.mkString("{\n", ",\n", "\n}\n"))
    println(s"[golden] wrote ${entries.length} keys to $out")
    spark.stop()
  }
}
