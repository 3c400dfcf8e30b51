package graft.sources

/** Per-process scratch dirs under /tmp: the one place that decides where
  * an artifact of corpus `dir` lives on disk.
  *
  *   - [[rmTree]] — recursive delete that tolerates races (a file
  *     vanishing mid-walk is fine; deletion is best-effort hygiene).
  *   - [[perPidRoot]] — `/tmp/<name>/<pid>`, wiped on first use in this
  *     JVM (a recycled pid must never serve a previous process's files —
  *     the corpus at the same path could have been regenerated in
  *     between) and with dead-pid sibling dirs garbage-collected so
  *     roots don't accumulate forever, one per JVM that ever ran.
  *   - [[under]] / [[fresh]] — `<perPidRoot(root)>/<corpus tag>[/<name>]`,
  *     kept or emptied: keyed by pid AND corpus, so concurrent processes
  *     running the same scale never race each other's writes.
  */
object TmpDirs {

  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(); ()
  }

  /** Wipe + GC exactly once per (JVM, name). */
  private val initialized =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def perPidRoot(name: String): String = {
    val pid = java.lang.ProcessHandle.current().pid()
    val root = new java.io.File(s"/tmp/$name")
    if (initialized.add(name)) {
      rmTree(new java.io.File(root, pid.toString))
      Option(root.listFiles()).toSeq.flatten.foreach { d =>
        val dead = scala.util.Try(d.getName.toLong).toOption
          .exists(p => !java.lang.ProcessHandle.of(p)
            .map[java.lang.Boolean](h => h.isAlive).orElse(false))
        if (dead) rmTree(d)
      }
    }
    s"/tmp/$name/$pid"
  }

  /** A corpus dir as one path segment. */
  def tag(dir: String): String = dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** `<perPidRoot(root)>/<corpus tag>`, left as it is — for state that
    * must survive between keys (Dedup's a21 snapshots). */
  def under(root: String, dir: String): String =
    s"${perPidRoot(root)}/${tag(dir)}"

  /** `<under(root, dir)>/<name>`, emptied: whatever a previous caller
    * left there is removed, so the path does not exist on return and the
    * caller's write starts from nothing. */
  def fresh(root: String, dir: String, name: String): String = {
    val path = s"${under(root, dir)}/$name"
    rmTree(new java.io.File(path))
    path
  }
}
