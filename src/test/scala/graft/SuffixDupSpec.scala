package graft

import graft.pipeline.SuffixDup

/** Laws of the sharded suffix-array kernel (g90) and its contract with
  * g87: two independent detectors, one span oracle.
  */
class SuffixDupSpec extends SparkSpec {

  private val L = SuffixDup.L

  // deterministic synthetic docs: a shared 30-char block plants known
  // cross-doc duplication; unique tails keep the rest distinct
  private val block = "abcdefghijklmnopqrstuvwxyz0123"
  private def doc(id: Long, body: String) = (id, body)

  test("hashWin: deterministic, position-independent, content-sensitive") {
    val buf = (block + block).toCharArray
    assert(SuffixDup.hashWin(buf, 0) === SuffixDup.hashWin(buf, block.length),
      "equal windows at different offsets must hash equal")
    assert(SuffixDup.hashWin(buf, 0) !== SuffixDup.hashWin(buf, 1),
      "shifted window must hash differently")
  }

  test("shardRuns: one boundary tuple per distinct window, exact min/max doc") {
    val docs = Seq(
      doc(10L, block + "UNIQUETAILAAAABBBBCCCCDDDD"),
      doc(20L, "ZZZZ" + block),
      doc(30L, "completely different text with no dup windows....."))
    val runs = SuffixDup.shardRuns(docs.iterator).toSeq
    // brute force: every L-window of every doc
    val wins = docs.flatMap { case (id, t) =>
      (0 to t.length - L).map(o => t.substring(o, o + L) -> id)
    }
    val expect = wins.groupBy(_._1).map { case (w, occ) =>
      (w, occ.map(_._2).min, occ.map(_._2).max)
    }.toSet
    assert(runs.size === expect.size, "one run per distinct window content")
    assert(runs.map(r => (r.lo, r.hi)).toSet ===
      expect.map(e => (e._2, e._3)).toSet)
    // the block's windows are cross-doc: lo=10, hi=20 for all 7 of them
    assert(runs.count(r => r.lo === 10L && r.hi === 20L) === block.length - L + 1)
  }

  test("cross-shard range intersection equals single-shard truth") {
    val a = Seq(doc(1L, block + "tail-one-tail-one-tail-one"))
    val b = Seq(doc(2L, "head-two-head-two-head-two" + block))
    // single shard: block windows are cross-doc duplicates
    val whole = SuffixDup.shardRuns((a ++ b).iterator)
      .filter(r => r.lo !== r.hi).map(r => (r.h1, r.h2)).toSet
    // sharded: each shard sees lo==hi; the merge (min lo, max hi) must
    // recover exactly the same duplicate set
    val sharded = (SuffixDup.shardRuns(a.iterator).toSeq ++
      SuffixDup.shardRuns(b.iterator).toSeq)
      .groupBy(r => (r.h1, r.h2))
      .map { case (k, rs) => (k, rs.map(_.lo).min, rs.map(_.hi).max) }
      .collect { case (k, lo, hi) if lo != hi => k }
      .toSet
    assert(sharded === whole)
    assert(whole.size === block.length - L + 1)
  }

  test("shardPositions: every window occurrence, 1-based, hash-consistent") {
    val t = block + "x" * 10
    val ps = SuffixDup.shardPositions(
      Iterator((7L, t.length.toLong, t))).toSeq
    assert(ps.size === t.length - L + 1)
    assert(ps.map(_.pos) === (1 to t.length - L + 1))
    assert(ps.forall(_.doc_id === 7L))
    // hashes must agree with shardRuns' content hashes
    val runHashes = SuffixDup.shardRuns(Iterator((7L, t))).map(r => (r.h1, r.h2)).toSet
    assert(ps.map(p => (p.h1, p.h2)).toSet === runHashes)
  }

  test("sortTruncated: primitive offset sort matches a reference sort " +
      "(order + equal-window grouping)") {
    // the de-boxed MSD 3-way radix quicksort must order offsets exactly
    // as the boxed comparator it replaced: lexicographic on the first L
    // chars, equal windows contiguous — on adversarial input (repeats,
    // runs, near-equal prefixes), not just happy-path text
    val rnd = new scala.util.Random(42)
    val alphabet = "abAB"
    val text = (block * 40) +
      Seq.fill(3000)(alphabet(rnd.nextInt(alphabet.length))).mkString +
      ("z" * 200) + (block.reverse * 30)
    val buf = text.toCharArray
    val sa = Array.range(0, buf.length - L + 1)
    SuffixDup.sortTruncated(sa, buf)
    def key(off: Int) = new String(buf, off, L)
    // pairwise non-descending in truncated order = fully sorted
    (1 until sa.length).foreach { i =>
      assert(key(sa(i - 1)) <= key(sa(i)),
        s"order violated at $i: ${key(sa(i - 1))} > ${key(sa(i))}")
    }
    // and it is a permutation (no offset lost or duplicated)
    assert(sa.toSet === (0 until sa.length).toSet)
  }

  test("g91: expanding the maximal spans recovers the duplicated-window " +
      "set exactly (the fixed-L recoverability law)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // windows recovered from the spans: each span [s, s+len) contains
    // exactly the duplicated windows at positions s .. s+len-L
    val fromSpans = GradedRuns.frame("g91_maximal_dup_spans")
      .select($"doc_id",
        explode(sequence($"span_start",
          $"span_start" + $"span_len" - L)).as("pos"))
      .as[(Long, Long)].collect().toSet
    // ground truth: g87's digest-window detector, stopped BEFORE the merge
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .where($"n_chars" >= L)
    val wd = org.apache.spark.sql.expressions.Window.partitionBy($"dig")
    val truth = docs
      .select($"doc_id",
        explode(sequence(lit(1L), $"n_chars" - (L - 1))).as("pos"), $"text")
      .select($"doc_id", $"pos",
        md5(expr(s"substring(text, pos, $L)")).as("dig"))
      .withColumn("lo", min($"doc_id").over(wd))
      .withColumn("hi", max($"doc_id").over(wd))
      .where($"lo" =!= $"hi")
      .select($"doc_id", $"pos").as[(Long, Long)].collect().toSet
    assert(fromSpans === truth)
    assert(fromSpans.nonEmpty, "fixture must actually contain duplicates")
  }

  test("g90 (suffix array) and g87 (digest windows) agree span-for-span") {
    // the round-10 contract: two independent detectors, one span oracle —
    // pinned engine-side so a drift in either implementation fails here
    // before the driver's gate sees it
    val g87 = GradedRuns.rows("g87_substring_dup_spans").map(_.toSeq).toSeq
    val g90 = GradedRuns.rows("g90_suffix_dup_spans").map(_.toSeq).toSeq
    assert(g90 === g87)
  }
}
