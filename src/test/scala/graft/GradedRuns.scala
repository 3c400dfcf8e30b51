package graft

import scala.util.Try

import org.apache.spark.sql.DataFrame

/** One sf0.001 execution of every declared key, shared by
  * [[GradedQuerySpec]]'s lints and [[GoldenSpec]]'s manifest check so
  * the suite runs each key once, not twice. Keys run in sorted key order
  * (a21's snapshot serves later keys, and the manifest was written in
  * this order) on the manifest's corpus, `GoldenWrite.sfDir`; each key is
  * constructed and immediately hashed with [[GoldenWrite.rowsHash]]. Both
  * steps are wrapped in a per-key Try, so one broken loader or analysis
  * fails only its own key's assertions. The session's confs are
  * snapshotted before construction and after hashing; `confDiff` holds
  * every conf whose value the graded key changed, as
  * `conf: before -> after` (`<unset>` where the conf had no value).
  */
object GradedRuns {

  final case class Run(d: QueryDef, df: Try[DataFrame],
      rowsHash: Try[(Long, String)], confDiff: Seq[String])

  lazy val all: Seq[Run] = SparkEntry.all.sortBy(_.key).map { d =>
    val spark = SparkSpec.session
    val before = spark.conf.getAll
    val df = Try(d.fn(spark, GoldenWrite.sfDir))
    val rowsHash = df.flatMap(f => Try(GoldenWrite.rowsHash(f)))
    val after = spark.conf.getAll
    val diff = (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.getOrElse(k, "<unset>")} -> " +
        after.getOrElse(k, "<unset>"))
    Run(d, df, rowsHash, diff)
  }

  /** Output row count of `key`; rethrows the key's construction or
    * execution failure. */
  def rows(key: String): Long = all.find(_.d.key == key)
    .getOrElse(throw new NoSuchElementException(key)).rowsHash.get._1
}
