package graft

/** Golden regression net: every query's sf0.001 output must match the
  * checked-in manifest (row count + ordered-row hash) pinned when the
  * key last passed oracle parity. Catches coupled Spark+oracle drift the
  * parity gate cannot see. On an INTENTIONAL semantic change, regenerate
  * with `tools/run.sh graft.GoldenWrite` in the same commit. The outputs
  * come from [[GradedRuns]], the one execution per key that every suite
  * reads.
  */
class GoldenSpec extends SparkSpec {

  private lazy val manifest: Map[String, (Long, String)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden_sf0001.json"))
    val text = try src.mkString finally src.close()
    """"([a-z0-9_]+)": \{"rows": (\d+), "hash": "([0-9a-f]+)"\}""".r
      .findAllMatchIn(text)
      .map(m => m.group(1) -> ((m.group(2).toLong, m.group(3))))
      .toMap
  }

  test("every declared key is pinned in the golden manifest") {
    val unpinned = SparkEntry.all.map(_.key).toSet.diff(manifest.keySet)
    assert(unpinned.isEmpty,
      s"keys missing from golden manifest (run graft.GoldenWrite): $unpinned")
  }

  test("sf0.001 outputs match the golden manifest") {
    val bad = GradedRuns.all.flatMap { r =>
      manifest.get(r.d.key).flatMap { case (rows, hash) =>
        val (n, h) = r.rowsHash.get
        if (n != rows || h != hash)
          Some(s"${r.d.key}: rows $rows->$n hash ${hash.take(8)}->${h.take(8)}")
        else None
      }
    }
    assert(bad.isEmpty, "golden drift (intentional? rerun graft.GoldenWrite):\n"
      + bad.mkString("\n"))
  }
}
