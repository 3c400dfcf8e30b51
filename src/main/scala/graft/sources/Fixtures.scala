package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Per-JVM artifacts built from a corpus dir: the corpus tables' parquet
  * footer schemas ([[Tables.footerSchema]]), staged tables, streaming
  * landing dirs, codebooks, the BPE vocab. Each is built once per
  * (application, corpus dir, name) and handed back unchanged afterwards.
  *
  * READ-ONLY-CORPUS CONTRACT: the key never invalidates. That is correct
  * because the corpora are immutable and every builder is deterministic,
  * so an artifact is a pure function of its key. A pipeline that rewrites
  * a corpus dir in place must key its artifact by a content version (a
  * TxLog version, say), or it would serve a stale one.
  *
  * The APPLICATION ID is in the key because an artifact may hold state
  * of its SparkContext (a localCheckpointed frame holds that context's
  * RDD blocks): a later session in the same JVM rebuilds rather than
  * dereference a stopped context. Names are unique across the JVM; one
  * name always carries one type.
  *
  * Artifacts on disk ([[dir]]) live under the per-pid `graft_fixtures`
  * root ([[TmpDirs.perPidRoot]]: wiped on first use, dead pids collected).
  * They are never vacuumed and never the target of a commit; keys that
  * commit on top of a shared table fork a private shallow clone first
  * ([[TxLog.cloneAsV1]]).
  *
  * Each build runs outside the map's lock, in its own lazy cell, so a
  * builder may ask for another fixture. A build that throws is retried
  * on the next call. Every build writes one stderr line,
  * `[fixture] <name> dir=<dir> ms=<n>` (never stdout: Bench's two-line
  * protocol), so cold cost is accounted by name.
  */
object Fixtures {

  private final class Cell(build: () => Any) {
    lazy val value: Any = build()
  }

  private val cells = new ConcurrentHashMap[(String, String, String), Cell]()

  def once[T](spark: SparkSession, dir: String, name: String)(build: => T): T = {
    val key = (spark.sparkContext.applicationId, dir, name)
    val cell = cells.computeIfAbsent(key, _ => new Cell(() => {
      val t0 = System.nanoTime()
      val v = build
      System.err.println(
        s"[fixture] $name dir=$dir ms=${(System.nanoTime() - t0) / 1000000}")
      v
    }))
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  /** A fixture that lives on disk: `build` writes into a fresh
    * [[TmpDirs.fresh]] path; returns that path and what `build` returned. */
  def dir[T](spark: SparkSession, dir: String, name: String)(
      build: String => T): (String, T) =
    once(spark, dir, name) {
      val path = TmpDirs.fresh("graft_fixtures", dir, name)
      (path, build(path))
    }
}
