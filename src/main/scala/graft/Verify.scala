package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). Extra args are a local
    // dev-only key subset so one new operator can be parity-checked
    // without sweeping all ~130 (the driver never passes them).
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = Sessions.local(Sessions.cpus(fallback = 4))
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        val failure =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            None
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(name)
          }
        // queries may persist() intermediates for intra-query reuse; drop
        // them here so cached blocks don't accumulate across the full suite
        spark.catalog.clearCache()
        failure
      }
    // a missing parquet is never silent: every failing key, one a line,
    // and an empty file when all succeed. The leading `_` makes
    // Hadoop-style directory readers skip it.
    Files.writeString(Paths.get(s"$outDir/_failed_keys.txt"),
      failed.map(_ + "\n").mkString)
    // a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness —
    // Protocol holds the one escape rule shared with Bench's stdout lines
    def q(s: String): String = Protocol.jsonString(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
