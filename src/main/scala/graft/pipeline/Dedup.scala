package graft.pipeline

import graft.GraftExtensions
import graft.QueryDef
import graft.QueryDef.{benchOnly, graded}
import graft.operators.Banding
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** G (dedup family): exact and near-duplicate detection for training-data
  * pipelines.
  *
  * Scale notes (100 TB):
  *  - exact dedup (g1) is one shuffle on the dedup key with a
  *    WindowGroupLimit-prunable rank filter — never `dropDuplicates`,
  *    which is nondeterministic about the surviving row.
  *  - content fingerprinting (g8) reduces exact-dedup of multi-KB text to
  *    a 16-byte-key groupBy: hash travels through the shuffle, not the
  *    document.
  *  - all-pairs similarity (g2, g14) runs banded, and the band is an
  *    EQUI-JOIN key (bucket = floor(doc_id/band), left side exploded to
  *    [bkt, bkt+1] — [[graft.operators.Banding]]): the join is
  *    hash-partitioned with O(n·band) candidates, never a nested loop over
  *    n² pairs. The unbanded scale path is MinHash-LSH (g3): shingle →
  *    signature → band-bucket join, candidates ∝ true near-duplicates.
  *  - the minhash signature itself (g13) is an exact, oracle-checkable
  *    per-document reduction (4 independent min-hashes over token hashes).
  */
object Dedup {

  // g1 — exact dedup, keep-first-per-key: first event per (user, type) in
  // event-time order. row_number + full tiebreak makes the survivor
  // deterministic (SURVEY §2 G1). Ordering happens in the µs domain on
  // both sides so sub-µs nanosecond residue can never flip a tie.
  private val g1 = graded(
    "g1_dedup_exact",
    """SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
      |FROM (
      |  SELECT user_id, event_type, event_id, ts,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id", $"event_type").orderBy($"ts_us", $"event_id")
    Tables.eventsUs(spark, dir)
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"event_type",
        $"event_id".as("first_event_id"), $"ts_us".as("first_ts"))
      .orderBy("user_id", "event_type")
  }

  // g2 — near-dup by exact token-set Jaccard, banded self-join. The
  // threshold compares the unrounded ratio (int/int division is
  // IEEE-exact, identical across engines); output is rounded.
  private val g2 = graded(
    "g2_neardup_jaccard",
    """WITH toks AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
      |  FROM documents)
      |SELECT doc_a, doc_b, round(jac, 6) AS jac
      |FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.tk, b.tk))::DOUBLE /
      |    len(list_distinct(list_concat(a.tk, b.tk)))::DOUBLE AS jac
      |  FROM toks a JOIN toks b
      |    ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 150) p
      |WHERE jac >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.sortedIntersectSize)
    // tokens hashed to int64 and pre-sorted per doc: the pairwise kernel is
    // then the zero-allocation sorted_intersect_size two-pointer merge
    // (jaccard over an injectively-hashed set equals jaccard over the
    // strings; the corpus vocabulary is 31 words, so 64-bit collisions are
    // impossible in practice). |A∪B| = |A|+|B|−|A∩B| (arrays distinct).
    val toks = Tables.documentsDist(spark, dir)
      .select($"doc_id", Tokens.hashedSet.as("tk"))
      .persist() // read by both join sides; avoids recomputing the hash+sort
    val a = toks.select($"doc_id".as("doc_a"), $"tk".as("tk_a"))
    val b = toks.select($"doc_id".as("doc_b"), $"tk".as("tk_b"))
    // length prefilter: jac ≤ min(|A|,|B|)/max(|A|,|B|), so pairs whose
    // size ratio is below the threshold cannot qualify — the intersect
    // kernel never runs for them (pure pruning, result-identical)
    Banding.bandedPairs(a, b, "doc_a", "doc_b", 150)
      .where(least(size($"tk_a"), size($"tk_b")).cast("double") >=
        greatest(size($"tk_a"), size($"tk_b")) * 0.9)
      .withColumn("inter",
        expr("cast(sorted_intersect_size(tk_a, tk_b) as double)"))
      .withColumn("jac",
        $"inter" / (size($"tk_a") + size($"tk_b") - $"inter"))
      .where($"jac" >= 0.9)
      .select($"doc_a", $"doc_b", round($"jac", 6).as("jac"))
      .orderBy("doc_a", "doc_b")
  }

  // g3 — bench-only: MinHash-LSH dedup at scale, DataFrame-native.
  // Approximate candidate generation → no DuckDB twin; g2 is the graded
  // correctness twin. Pipeline: tokens → 16 minhashes (xxhash64 with 16
  // fixed seeds, elementwise min per doc) → 4 bands of 4 rows, band key =
  // hash of the band's signature slice → CHAIN candidate edges (each doc
  // links only to its predecessor in bucket doc_id order — a window lag,
  // O(n·bands) edges that preserve exactly the bucket connectivity an
  // all-pairs enumeration would give) → exact-Jaccard verification of
  // each edge → connected components over verified edges (a driver-side
  // union-find under the broadcast threshold, bounded pointer jumping
  // above it unless the contraction's first quotient fits) → emit doc →
  // component representative.
  //
  // Never enumerate intra-bucket pairs: that is quadratic in bucket size
  // (this corpus has a 31-word vocabulary, so band signatures collide into
  // ~2.6k-doc buckets at sf0.1 — the round-1 MLlib approxSimilarityJoin
  // cost 235 s and a bucket-pair equi-join still cost 135 s; the chain
  // form runs in ~2 s). Chaining under-merges only when a verified-edge
  // path is broken by one failing edge — the documented approximation of
  // LSH dedup, whose exhaustive graded twin is g2.
  /** MinHash-LSH chain candidates, verified by exact token-set Jaccard —
    * the shared machinery of g3 and g19.
    *
    * Input: (doc_id, tk) with tk = distinct token array. Signatures come
    * from the fused [[graft.functions.MinHashSigs]] codegen kernel — one
    * pass over the token array for all k hashes (the HOF formulation,
    * k × `array_min(transform(...))`, is interpreted and walks the array
    * k times); a pure projection either way, ZERO shuffle; the only
    * shuffles are the bucket window and the joins. Candidates are CHAIN
    * edges (lag over bucket order), which preserve bucket connectivity
    * with O(n·bands) edges instead of O(bucket²) pairs.
    *
    * Output: verified edges (doc_a, doc_b) with Jaccard ≥ `threshold`.
    * (A per-bucket verified-run seeding of the component labels was
    * measured and rejected: the convergence tail comes from paths that
    * hop ACROSS bands, which run seeds cannot shorten — it saved 1 of 10
    * rounds while costing ~2 s of extra windows/joins at sf0.1. The
    * round count is instead controlled by Components' multi-jump.)
    */
  private def lshVerifiedEdges(toks: DataFrame,
      nHashes: Int = 16, bandRows: Int = 4, threshold: Double = 0.9)
      : DataFrame = {
    GraftExtensions.register(toks.sparkSession, GraftExtensions.minHashSigs)
    val sig = toks.select(col("doc_id"),
      expr(s"minhash_sigs(tk, $nHashes)").as("s"))
    val bandCols = (0 until nHashes / bandRows).map { bnd =>
      val slice = (bnd * bandRows until (bnd + 1) * bandRows)
        .map(i => expr(s"s[$i]")) // same long values the HOF form produced
      struct(lit(bnd).as("band"), xxhash64(slice: _*).as("bk"))
    }
    val buckets = sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bk").as("bk"))
    val wBkt = Window.partitionBy(col("band"), col("bk")).orderBy(col("doc_id"))
    val edges = buckets
      .withColumn("prev", lag(col("doc_id"), 1).over(wBkt))
      .where(col("prev").isNotNull)
      .select(col("prev").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
    edges
      .join(toks.select(col("doc_id").as("doc_a"), col("tk").as("tk_a")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("tk").as("tk_b")), "doc_b")
      .where(size(array_intersect(col("tk_a"), col("tk_b"))).cast("double") /
        size(array_union(col("tk_a"), col("tk_b"))).cast("double") >= threshold)
      .select(col("doc_a"), col("doc_b"))
  }

  private val g3 = benchOnly("g3_minhash_lsh") { (spark, dir) =>
    import spark.implicits._
    val toks = Tables.documentsDist(spark, dir)
      .select($"doc_id", array_distinct(Tokens.words($"text")).as("tk"))
    val verified = lshVerifiedEdges(toks)
    // exact connected components over the verified edges
    // ([[graft.operators.Components]]: a driver-side union-find while the
    // edge list is under the broadcast threshold — 1,303 edges at sf0.1 —
    // and the distributed label loop above it, unless the contraction's
    // first quotient is under it) — the surviving
    // approximation in g3 is only the chain-edge candidate generation
    val comp = graft.operators.Components.connectedComponents(
      toks.select($"doc_id"), verified)
    comp.where($"rep" < $"doc_id")
      .select($"doc_id", $"rep")
      .orderBy("doc_id")
  }

  // g8 — content fingerprinting: md5 over normalized text (identical
  // digests in both engines), plus how many docs share the fingerprint.
  private val g8 = graded(
    "g8_fingerprint",
    """SELECT doc_id, md5(text) AS fp,
      |  count(*) OVER (PARTITION BY md5(text)) AS n_same
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("fp", md5($"text"))
      .withColumn("n_same", count(lit(1)).over(Window.partitionBy($"fp")))
      .select("doc_id", "fp", "n_same")
      .orderBy("doc_id")
  }

  // g13 — minhash signatures, exactly. Token hash = first 8 hex digits of
  // md5 (identical in both engines); k affine rehashes over a prime
  // modulus; per-document signature = element-wise min. This is the
  // deterministic core of LSH dedup, reduced to plain aggregates.
  private val mhP = 4294967311L // smallest prime > 2^32
  private val mhAB = Seq((1L, 0L), (1664525L, 1013904223L),
    (22695477L, 1L), (1103515245L, 12345L))

  /** DuckDB SQL: interpret 8 hex digits of `col` starting at 1-based
    * `start` as a 32-bit unsigned value (DuckDB has no from_hex; this is
    * positional arithmetic over the digit characters). The single source
    * of this parity-critical construction — shared with [[Curation]]'s
    * hash-split oracle and Aggregates' count-min sketch.
    */
  private[graft] def duckHex8At(col: String, start: Int): String =
    (0 until 8).map(i =>
      s"(strpos('0123456789abcdef', substring($col, ${start + i}, 1)) - 1) * ${1L << (4 * (7 - i))}"
    ).mkString("(", " + ", ")")

  private[pipeline] def duckHex8(col: String): String = duckHex8At(col, 1)

  /** The exact MinHash signature of g13, g47, g79 and g89: per doc_id over
    * its (doc_id, word) rows, token hash h = the first 8 hex digits of
    * md5(word) as a 32-bit unsigned value, and column mh<i> = min((a·h + b)
    * mod [[mhP]]) for the i-th (a, b) of `ab`. Multipliers stay < 2^30, so
    * a·h never overflows int64.
    */
  private def minhashSig(words: DataFrame, ab: Seq[(Long, Long)])
      : DataFrame = {
    import words.sparkSession.implicits._
    val hashed = words.withColumn("h",
      conv(substring(md5($"word"), 1, 8), 16, 10).cast("bigint"))
    val mins = ab.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * $"h" + lit(b)) % lit(mhP)).as(s"mh$i")
    }
    hashed.groupBy($"doc_id").agg(mins.head, mins.tail: _*)
  }

  /** The pair sides of g47 and g89, from `docs` (doc_id, t: distinct
    * tokens): the k=8 signature joined on doc_id with the exact set `ts`
    * (int64-hashed and sorted, so the pair kernel is the two-pointer
    * sorted_intersect_size merge, g2's injective-hash rule), with every
    * column suffixed `_a` on the first side and `_b` on the second. */
  private def sigSetSides(docs: DataFrame): (DataFrame, DataFrame) = {
    import docs.sparkSession.implicits._
    val sig = minhashSig(
      docs.select($"doc_id", explode($"t").as("word")), mhAB8)
    val sets = docs.select($"doc_id",
      sort_array(expr("transform(t, w -> xxhash64(w))")).as("ts"))
    val side = sig.join(sets, "doc_id")
    (side.toDF(side.columns.map(_ + "_a"): _*),
      side.toDF(side.columns.map(_ + "_b"): _*))
  }

  /** The fingerprint base/delta split of the catalog cycles (g88 and the
    * TxLog keys a23, a25, a26, a28): documents keyed by fp = md5(text),
    * plus `extra` per-doc columns, cut at k = ⌊2·max(doc_id)/3⌋ — a one-row
    * driver fetch, control flow rather than data (the Components/SkewJoin
    * precedent), restated in each oracle as `(max(doc_id) * 2) // 3`.
    * Returns the base (first_doc per fp with doc_id ≤ k) and the delta
    * for a catalog: first_doc per fp with doc_id > k whose fp `catalog`
    * does not hold, with `deltaAggs` beside first_doc.
    */
  private[graft] def fpSplit(spark: SparkSession, dir: String,
      extra: Seq[Column] = Nil, deltaAggs: Seq[Column] = Nil)
      : (DataFrame, DataFrame => DataFrame) = {
    import spark.implicits._
    val docs = Tables.documentsDist(spark, dir)
      .select($"doc_id" +: md5($"text").as("fp") +: extra: _*)
    val k = Tables.documentsDist(spark, dir)
      .agg(max($"doc_id").cast("bigint")).head().getLong(0) * 2 / 3
    val base = docs.where($"doc_id" <= k)
      .groupBy($"fp").agg(min($"doc_id").as("first_doc"))
    def delta(catalog: DataFrame): DataFrame = docs.where($"doc_id" > k)
      .join(catalog.select($"fp"), Seq("fp"), "left_anti")
      .groupBy($"fp")
      .agg(min($"doc_id").as("first_doc"), deltaAggs: _*)
    (base, delta)
  }

  private val g13 = graded(
    "g13_minhash_sig", {
      val mins = mhAB.zipWithIndex.map { case ((a, b), i) =>
        s"min(($a * h + $b) % $mhP) AS mh$i"
      }.mkString(",\n      |  ")
      s"""WITH tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
      |  FROM documents
      |), hashed AS (
      |  SELECT doc_id, ${duckHex8("md5(word)")} AS h FROM tok
      |)
      |SELECT doc_id,
      |  $mins
      |FROM hashed
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", explode(array_distinct(Tokens.words($"text"))).as("word"))
    minhashSig(tok, mhAB).orderBy("doc_id")
  }

  // g14 — character-3-gram Jaccard near-dup (shingling catches
  // reorderings that token-set Jaccard misses). Banded like g2; tighter
  // band because shingle sets are ~6× larger than token sets.
  private val g14 = graded(
    "g14_ngram_jaccard",
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, length(text) - 2),
      |      i -> substring(text, i, 3))) AS gr
      |  FROM documents)
      |SELECT doc_a, doc_b, round(jac, 6) AS jac
      |FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.gr, b.gr))::DOUBLE /
      |    len(list_distinct(list_concat(a.gr, b.gr)))::DOUBLE AS jac
      |  FROM sh a JOIN sh b
      |    ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 50) p
      |WHERE jac >= 0.75
      |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.sortedIntersectSize)
    // grams are hashed to int64 and pre-sorted per doc: the pairwise kernel
    // is the zero-allocation sorted_intersect_size two-pointer merge
    // instead of a per-pair hash set. Jaccard over an injectively-hashed
    // set equals Jaccard over the strings (few hundred distinct 3-grams in
    // corpus → 64-bit collision odds ~1e-14). |A∪B| = |A|+|B|−|A∩B|.
    // the length(text) >= 3 guard mirrors the oracle's empty
    // generate_series for sub-shingle docs (Spark's sequence(1, n<1)
    // would descend through 0 instead of being empty)
    val sh = Tables.documentsDist(spark, dir)
      .select($"doc_id", sort_array(array_distinct(expr(
        """CASE WHEN length(text) >= 3 THEN
          |  transform(sequence(1, length(text) - 2),
          |            i -> xxhash64(substring(text, i, 3)))
          |ELSE cast(array() as array<bigint>) END""".stripMargin))).as("gr"))
      .persist() // read by both join sides; avoids recomputing the shingle hash+sort
    val a = sh.select($"doc_id".as("doc_a"), $"gr".as("gr_a"))
    val b = sh.select($"doc_id".as("doc_b"), $"gr".as("gr_b"))
    // length prefilter (see g2): size ratio < threshold ⇒ jac < threshold
    Banding.bandedPairs(a, b, "doc_a", "doc_b", 50)
      .where(least(size($"gr_a"), size($"gr_b")).cast("double") >=
        greatest(size($"gr_a"), size($"gr_b")) * 0.75)
      .withColumn("inter",
        expr("cast(sorted_intersect_size(gr_a, gr_b) as double)"))
      .withColumn("jac",
        $"inter" / (size($"gr_a") + size($"gr_b") - $"inter"))
      .where($"jac" >= 0.75)
      .select($"doc_a", $"doc_b", round($"jac", 6).as("jac"))
      .orderBy("doc_a", "doc_b")
  }

  // Shared CTE prefix for the SimHash oracle (g15/g16): 64-bit SimHash per
  // document as two 32-bit halves. Token hash = md5 hex chunks (identical
  // in both engines); per-bit vote = +1/-1 over tokens; bit set iff the
  // vote sum is strictly positive (pure integer arithmetic — no float
  // determinism hazard anywhere).
  private val simhashCte =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
      |  FROM documents
      |), hh AS (
      |  SELECT doc_id,
      |    ${duckHex8At("md5(word)", 1)} AS h1,
      |    ${duckHex8At("md5(word)", 9)} AS h2
      |  FROM tok
      |), bits AS (
      |  SELECT doc_id, gs.b,
      |    CASE WHEN ((h1 >> gs.b) & 1) = 1 THEN 1 ELSE -1 END AS c1,
      |    CASE WHEN ((h2 >> gs.b) & 1) = 1 THEN 1 ELSE -1 END AS c2
      |  FROM hh, generate_series(0, 31) gs(b)
      |), votes AS (
      |  SELECT doc_id, b, sum(c1) AS s1, sum(c2) AS s2
      |  FROM bits GROUP BY doc_id, b
      |), sig AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN s1 > 0 THEN (1::BIGINT << b) ELSE 0 END) AS sh_lo,
      |    sum(CASE WHEN s2 > 0 THEN (1::BIGINT << b) ELSE 0 END) AS sh_hi
      |  FROM votes GROUP BY doc_id
      |)""".stripMargin

  /** Spark side of the SimHash signature: doc_id, sh_lo, sh_hi. */
  private def simhashSig(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val tok = Tables.documentsDist(spark, dir)
      .select($"doc_id", explode(array_distinct(Tokens.words($"text"))).as("word"))
    val hh = tok
      .withColumn("m", md5($"word"))
      .withColumn("h1", conv(substring($"m", 1, 8), 16, 10).cast("bigint"))
      .withColumn("h2", conv(substring($"m", 9, 8), 16, 10).cast("bigint"))
    val bits = hh
      .select($"doc_id", $"h1", $"h2",
        explode(sequence(lit(0), lit(31))).as("b"))
      .select($"doc_id", $"b",
        expr("CASE WHEN ((h1 >> b) & 1) = 1 THEN 1 ELSE -1 END").as("c1"),
        expr("CASE WHEN ((h2 >> b) & 1) = 1 THEN 1 ELSE -1 END").as("c2"))
    bits.groupBy($"doc_id", $"b")
      .agg(sum($"c1").as("s1"), sum($"c2").as("s2"))
      .groupBy($"doc_id")
      .agg(
        sum(when($"s1" > 0, expr("shiftleft(cast(1 as bigint), b)")).otherwise(0L)).as("sh_lo"),
        sum(when($"s2" > 0, expr("shiftleft(cast(1 as bigint), b)")).otherwise(0L)).as("sh_hi"))
  }

  // g15 — SimHash document fingerprints. Unlike MinHash (set similarity),
  // SimHash preserves weighted cosine-ish similarity in Hamming space:
  // near-identical docs differ in a handful of bits. All-integer pipeline
  // → exact oracle parity.
  // The ::BIGINT casts matter: DuckDB's sum(BIGINT) returns HUGEINT,
  // which pandas (the driver's hasher) converts to float64 — so the
  // driver hashed `4294967295.0` against Spark's int64 `4294967295` and
  // failed r2 despite identical values (the local fetchall-based gate
  // saw python ints on both sides and passed; parity.py now checks
  // pandas dtype kinds too).
  private val g15 = graded(
    "g15_simhash",
    s"""$simhashCte
      |SELECT doc_id, sh_lo::BIGINT AS sh_lo, sh_hi::BIGINT AS sh_hi
      |FROM sig ORDER BY doc_id""".stripMargin) {
    (spark, dir) =>
      simhashSig(spark, dir).orderBy("doc_id")
  }

  // Shared oracle CTE: the verified SimHash near-dup pair set (g16's
  // block-permutation candidates + exact popcount verify), consumed by
  // g16 directly and by g46's survivorship closure.
  private val simhashPairsCte =
    s"""$simhashCte,
      |blocks AS (
      |  SELECT doc_id, sh_lo, sh_hi, gs.i AS blk,
      |    CASE gs.i
      |      WHEN 0 THEN sh_lo & 65535
      |      WHEN 1 THEN (sh_lo >> 16) & 65535
      |      WHEN 2 THEN sh_hi & 65535
      |      ELSE (sh_hi >> 16) & 65535 END AS bv
      |  FROM sig, generate_series(0, 3) gs(i)
      |),
      |prs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) AS hamming
      |  FROM blocks a JOIN blocks b
      |    ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) <= 3
      |)""".stripMargin

  // g16 — SimHash near-dup join via the classic block-permutation trick:
  // split the 64-bit signature into 4 16-bit blocks; any pair within
  // Hamming distance 3 has ≥ 1 block exactly equal (pigeonhole), so the
  // candidate join is an EQUI-join on (block index, block value) — the
  // same shuffle-on-key shape as Banding/LSH, never an n² bit comparison.
  // Candidates are then verified with the exact popcount distance.
  private val g16 = graded(
    "g16_simhash_dedup",
    s"""$simhashPairsCte
      |SELECT doc_a, doc_b, hamming FROM prs
      |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    simhashPairsDf(spark, dir).orderBy("doc_a", "doc_b")
  }

  /** Spark side of the verified SimHash pair set (doc_a, doc_b, hamming),
    * unordered — g16 presents it sorted, g46 feeds it to components.
    */
  private def simhashPairsDf(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val sig = simhashSig(spark, dir)
    // Collapse IDENTICAL signatures first: a low-entropy corpus (31-word
    // vocabulary here) produces clusters of docs sharing one exact 64-bit
    // SimHash, and block-joining raw doc rows emits |cluster|² candidates
    // per block (×4 blocks) before dedup — quadratic in cluster size, the
    // r3 scale-killer. Joining one representative row per DISTINCT
    // signature keeps the join linear in the number of signatures; the
    // member lists expand back to doc pairs afterwards, which is
    // output-sized work (those pairs ARE the result), not join blowup.
    val clusters = sig.groupBy($"sh_lo", $"sh_hi")
      .agg(sort_array(collect_list($"doc_id")).as("members"))
      .persist() // read by the intra-pair expansion and both join sides
    // intra-cluster pairs: identical signature ⇒ hamming 0; enumerate each
    // sorted member list's ordered pairs directly (no join at all)
    val intra = clusters.where(size($"members") > 1)
      .select(explode(expr(
        """flatten(transform(members, (x, i) ->
          |  transform(slice(members, i + 2, size(members) - i - 1),
          |            y -> struct(x AS doc_a, y AS doc_b))))""".stripMargin)).as("p"))
      .select($"p.doc_a", $"p.doc_b", lit(0).as("hamming"))
    // inter-cluster candidates: the classic block equi-join, but over one
    // row per distinct signature. Signature pairs are strictly ordered (so
    // each unordered pair appears once) and distinct'd across the ≤4
    // blocks that can surface them.
    val blockCols = Seq(
      $"sh_lo".bitwiseAND(65535),
      expr("(sh_lo >> 16) & 65535"),
      $"sh_hi".bitwiseAND(65535),
      expr("(sh_hi >> 16) & 65535"))
    val blocks = clusters.select($"sh_lo", $"sh_hi", $"members",
      posexplode(array(blockCols: _*)).as(Seq("blk", "bv")))
    val a = blocks.select($"sh_lo".as("lo_a"), $"sh_hi".as("hi_a"),
      $"members".as("m_a"), $"blk", $"bv")
    val b = blocks.select($"sh_lo".as("lo_b"), $"sh_hi".as("hi_b"),
      $"members".as("m_b"), $"blk", $"bv")
    val sigPairs = a.join(b, Seq("blk", "bv"))
      .where($"lo_a" < $"lo_b" || ($"lo_a" === $"lo_b" && $"hi_a" < $"hi_b"))
      .withColumn("hamming",
        expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)"))
      .where($"hamming" <= 3)
      .select($"m_a", $"m_b", $"hamming")
      .distinct()
    // expansion: every member of cluster A pairs with every member of
    // cluster B; ids interleave across clusters, so normalize with
    // least/greatest (hamming is symmetric). Pairs are unique by
    // construction — intra pairs enumerate within one cluster, inter pairs
    // come from exactly one distinct'd signature pair — so no final
    // distinct() pass over the full output is needed.
    val inter = sigPairs
      .select(explode($"m_a").as("x"), $"m_b", $"hamming")
      .select($"x", explode($"m_b").as("y"), $"hamming")
      .select(least($"x", $"y").as("doc_a"),
        greatest($"x", $"y").as("doc_b"), $"hamming")
    intra.union(inter)
  }

  // ---- dedup-verdict snapshots (a21 + the audit-key read path) ----
  //
  // The audit family (g46/g49/g81/g82/g83/g84) is built ON two shared
  // pair tables — g16's verified SimHash pairs and g2's ≥0.9-Jaccard
  // pairs — and each key used to re-derive them inline: ~13 s of the
  // sf0.1 suite was re-computation of the same two tables. a21 persists
  // them (plus the g46 verdict table) once per corpus as parquet
  // snapshots; every consumer goes through an accessor that READS the
  // snapshot when one is complete and falls back to the inline plan
  // otherwise, so each audit key still grades stand-alone. Snapshot
  // content is produced by the very same builders the fallback runs —
  // byte-equal either way, which is what keeps the oracle hashes
  // identical across both paths. Dirs are keyed by JVM pid AND sf (the
  // a6 rule): concurrent processes never race each other's snapshots,
  // and within one JVM the source corpus is immutable.
  // At 100 TB this IS the production shape: a dedup verdict table is
  // written once per corpus build and read by every downstream audit,
  // not recomputed per report.

  // First use in this JVM wipes OUR pid's snapshot root and GCs dead-pid
  // siblings — the shared TmpDirs contract (pid recycling + /tmp hygiene).
  private[graft] val snapshotRoot = "graft_snapshots"

  private def snapDir(dir: String): String =
    graft.sources.TmpDirs.under(snapshotRoot, dir)

  /** A parquet snapshot, only if its write COMPLETED (_SUCCESS marker —
    * a half-written dir from a crashed run must never serve reads). */
  private def readIfComplete(spark: SparkSession,
      path: String): Option[DataFrame] =
    if (new java.io.File(s"$path/_SUCCESS").exists())
      Some(spark.read.parquet(path))
    else None

  /** Verified SimHash pair set: snapshot when present, inline otherwise. */
  private def simhashPairs(spark: SparkSession,
      dir: String): DataFrame =
    readIfComplete(spark, s"${snapDir(dir)}/simhash_pairs")
      .getOrElse(simhashPairsDf(spark, dir))

  /** g2's ≥0.9-Jaccard near-dup pair set (window 150), ids only — the
    * shared truth/input table of g49/g81/g82/g83. Same kernel as g2
    * (hashed-token sorted arrays, length prefilter, two-pointer
    * intersect); g2 itself stays inline because it also grades the jac
    * VALUES.
    */
  private[pipeline] def jaccPairsDf(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.sortedIntersectSize)
    // toks is persisted for the self-join's two scans; the blocks are
    // released by the harness's per-key clearCache (Bench/Verify call it
    // after every key) — a long-lived-session caller reads a21's parquet
    // snapshot via jaccPairs() instead, which never takes this inline path
    val toks = Tables.documentsDist(spark, dir)
      .select($"doc_id", Tokens.hashedSet.as("tk"))
      .persist()
    val a = toks.select($"doc_id".as("doc_a"), $"tk".as("tk_a"))
    val b = toks.select($"doc_id".as("doc_b"), $"tk".as("tk_b"))
    Banding.bandedPairs(a, b, "doc_a", "doc_b", 150)
      .where(least(size($"tk_a"), size($"tk_b")).cast("double") >=
        greatest(size($"tk_a"), size($"tk_b")) * 0.9)
      .withColumn("inter",
        expr("cast(sorted_intersect_size(tk_a, tk_b) as double)"))
      .where($"inter" / (size($"tk_a") + size($"tk_b") - $"inter") >= 0.9)
      .select($"doc_a", $"doc_b")
  }

  /** Jaccard pair set: snapshot when present, inline otherwise. */
  private[pipeline] def jaccPairs(spark: SparkSession,
      dir: String): DataFrame =
    readIfComplete(spark, s"${snapDir(dir)}/jacc_pairs")
      .getOrElse(jaccPairsDf(spark, dir))

  /** g46's verdict table (doc_id, comp, survivor_id, is_survivor),
    * unordered: SimHash pairs → connected components → longest-doc
    * survivor per cluster. The single definition under g46, a21 and the
    * g84 audit.
    */
  private def survivorshipDf(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsDist(spark, dir)
    val pairs = simhashPairs(spark, dir).select($"doc_a", $"doc_b")
    val lab = graft.operators.Components
      .connectedComponents(docs.select($"doc_id"), pairs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"rep").orderBy($"n_chars".desc, $"doc_id")
    val surv = lab.join(docs.select($"doc_id", $"n_chars"), "doc_id")
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"rep", $"doc_id".as("survivor_id"))
    lab.join(surv, "rep")
      .select($"doc_id", $"rep".as("comp"), $"survivor_id",
        ($"doc_id" === $"survivor_id").as("is_survivor"))
  }

  /** Verdict table: snapshot when present, inline otherwise. */
  private def verdicts(spark: SparkSession,
      dir: String): DataFrame =
    readIfComplete(spark, s"${snapDir(dir)}/verdicts")
      .getOrElse(survivorshipDf(spark, dir))

  // g46 — SURVIVORSHIP policy over near-dup clusters: g16's verified
  // SimHash pairs → connected components → per cluster, the LONGEST
  // document survives (n_chars desc, doc_id tiebreak) — the "keep the
  // most complete record" rule real dedup pipelines apply, vs g19's
  // simpler min-id convention. Like g44, the oracle recomputes the
  // clusters with an independent recursive-CTE closure, then states the
  // argmax as a window — so both the component structure AND the policy
  // are independently checked.
  /** The survivorship oracle, shared by g46 and a21 (one statement of
    * what the verdict table IS — the snapshot write path cannot drift
    * from the inline computation).
    */
  /** The survivorship CTE chain (pairs → closure → labels → per-cluster
    * argmax), shared by g46/a21's verdict oracle AND g96's release
    * oracle — one statement of what "the verdict" is, so the release key
    * cannot drift from the verdict key it claims to apply. */
  private val survivorshipCtes =
    s"""${simhashPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
      |und AS (
      |  SELECT doc_a AS s, doc_b AS t FROM prs
      |  UNION ALL SELECT doc_b AS s, doc_a AS t FROM prs),
      |reach(s, t) AS (
      |  SELECT s, t FROM und
      |  UNION
      |  SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s),
      |lab AS (
      |  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.t), d.doc_id)) AS comp
      |  FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
      |  GROUP BY d.doc_id),
      |surv AS (
      |  SELECT comp, doc_id AS survivor_id FROM (
      |    SELECT l.comp, l.doc_id,
      |      row_number() OVER (PARTITION BY l.comp
      |        ORDER BY d.n_chars DESC, l.doc_id) AS rn
      |    FROM lab l JOIN documents d ON d.doc_id = l.doc_id) t
      |  WHERE rn = 1)""".stripMargin

  private val survivorshipOracle =
    s"""$survivorshipCtes
      |SELECT l.doc_id, l.comp, s.survivor_id,
      |  (l.doc_id = s.survivor_id) AS is_survivor
      |FROM lab l JOIN surv s ON s.comp = l.comp
      |ORDER BY l.doc_id""".stripMargin

  // reads through the verdicts() accessor: snapshot-served when a21 has
  // materialized it in this JVM (the write-once/read-many point), the
  // identical inline build otherwise — the INLINE path stays graded
  // either way because a21's graded row is the round trip of exactly
  // that build (and SnapshotSpec pins inline ≡ snapshot byte-equality)
  private val g46 = graded("g46_survivorship", survivorshipOracle) {
    (spark, dir) => verdicts(spark, dir).orderBy("doc_id")
  }

  // g96 — DEDUP-CLEAN CORPUS RELEASE THROUGH THE TRANSACTION LOG: the
  // end-to-end composition a training-data team actually ships (the r11
  // verdict's item #5) — g46's survivorship verdicts applied as an
  // a27-style COPY-ON-WRITE rewrite committing the SURVIVING documents
  // as a new TxLog version, the transition CDC-CERTIFIED as pure
  // deletion (a26's law, REQUIRED in the key: one manufactured insert
  // and the release aborts), and the graded row an r6-style
  // corpus-health report answered FROM THE HEAD SNAPSHOT, with the
  // dropped side read FROM THE CDC — so a survivor lost by the rewrite,
  // a duplicate leaking into the release, or a CDC misclassification
  // all hash-mismatch against the oracle's survivor-filtered recompute.
  // The oracle applies the SAME survivorship CTE chain as g46's
  // (shared text — the release cannot drift from the verdict it claims
  // to apply). Scale: verdicts come from the bucketed SimHash pipeline
  // (never all-pairs), the release is one COW rewrite costing O(live
  // data) staged writes + an O(1) manifest publish, CDC certification
  // reads the two versions once, and downstream consumers pin the
  // released version — the corpus-as-artifact discipline (readers of
  // v_release never see a half-applied dedup).
  private val g96 = graded(
    "g96_dedup_release",
    s"""$survivorshipCtes,
      |keep AS (
      |  SELECT l.doc_id FROM lab l JOIN surv s ON s.comp = l.comp
      |  WHERE l.doc_id = s.survivor_id),
      |live AS (
      |  SELECT d.lang, count(*)::BIGINT AS n_live,
      |    sum(d.n_chars)::BIGINT AS live_chars
      |  FROM documents d JOIN keep k ON k.doc_id = d.doc_id
      |  GROUP BY d.lang),
      |dropped AS (
      |  SELECT d.lang, count(*)::BIGINT AS n_deleted
      |  FROM documents d
      |  WHERE d.doc_id NOT IN (SELECT doc_id FROM keep)
      |  GROUP BY d.lang)
      |SELECT coalesce(live.lang, dropped.lang) AS lang,
      |  coalesce(n_live, 0)::BIGINT AS n_live,
      |  coalesce(live_chars, 0)::BIGINT AS live_chars,
      |  coalesce(n_deleted, 0)::BIGINT AS n_deleted
      |FROM live FULL OUTER JOIN dropped ON dropped.lang = live.lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.sources.TxLog
    val table = graft.sources.TmpDirs.fresh("graft_release", dir, "corpus")
    // the raw corpus becomes release v1 (doc-grain metadata: the text
    // column stays in the source table — the release ships the verdict
    // applied to the catalog, and at 100 TB the same rewrite carries
    // text because COW stages whole surviving rows either way)
    val docs = Tables.documentsDist(spark, dir)
      .select($"doc_id", $"lang", $"n_chars")
    val v1 = TxLog.commit(table, TxLog.stage(docs, table), 0)
    // COW rewrite: survivors only (g46's verdict — snapshot-served when
    // a21 materialized it in this JVM, the identical inline build
    // otherwise), committed as the release version
    val keep = verdicts(spark, dir).where($"is_survivor")
      .select($"doc_id")
    val survivors = TxLog.read(spark, table, v1)
      .join(keep, Seq("doc_id"), "left_semi")
    val v2 = TxLog.commitRewrite(table, TxLog.stage(survivors, table), v1)
    // certification: the log transition IS a pure deletion, by protocol
    val cdc = TxLog.cdc(spark, table, v1, v2).localCheckpoint(true)
    require(cdc.where($"change" === "insert").count() == 0,
      "a dedup release must certify as pure deletion — got inserts")
    // the graded report: live side from the HEAD SNAPSHOT, dropped side
    // from the CDC — both protocol surfaces feed the one hash
    val live = TxLog.read(spark, table, v2)
      .groupBy($"lang")
      .agg(count(lit(1)).cast("bigint").as("n_live"),
        sum($"n_chars").cast("bigint").as("live_chars"))
    val dropped = cdc.where($"change" === "delete")
      .groupBy($"lang")
      .agg(count(lit(1)).cast("bigint").as("n_deleted"))
    live.join(dropped, Seq("lang"), "full_outer")
      .select($"lang",
        coalesce($"n_live", lit(0L)).cast("bigint").as("n_live"),
        coalesce($"live_chars", lit(0L)).cast("bigint").as("live_chars"),
        coalesce($"n_deleted", lit(0L)).cast("bigint").as("n_deleted"))
      .orderBy("lang")
  }

  // a21 — DEDUP-VERDICT SNAPSHOT, the write-once/read-many maintenance
  // shape for the audit family (the a5/a19 write-path discipline applied
  // to pipeline OUTPUT): persist the two shared pair tables and the g46
  // verdict table as parquet snapshots, then emit the READ-BACK verdict
  // table — so the graded row proves the round trip (a write that
  // dropped or duplicated one verdict row hash-mismatches), and every
  // later audit key in the same JVM reads the snapshot instead of
  // re-deriving ~13 s of shared pipeline. Oracle = g46's verbatim: the
  // snapshot IS the verdict table or the key fails.
  private val a21 = graded("a21_verdict_snapshot", survivorshipOracle) {
    (spark, dir) =>
    import spark.implicits._
    val base = snapDir(dir)
    // WRITE-ONCE means write once: the snapshot is keyed by (pid, corpus)
    // and the corpus is immutable within a JVM, so when a complete
    // snapshot already exists this run serves the read-back WITHOUT
    // rewriting. Re-overwriting would delete part-files out from under
    // any consumer plan constructed against the existing snapshot (their
    // InMemoryFileIndex listed the OLD files at construction; refresh
    // only mends cached plans) — observed as a FILE_NOT_EXIST abort when
    // two test suites each drove a21 in one JVM. Grading is unaffected:
    // every harness run (Verify/Bench/driver) is a fresh JVM whose first
    // a21 call takes the full write path, and SnapshotSpec pins the
    // read-back byte-equal to the inline build.
    val alreadyComplete = Seq("jacc_pairs", "simhash_pairs", "verdicts")
      .forall(s => new java.io.File(s"$base/$s/_SUCCESS").exists())
    if (!alreadyComplete) writeSnapshots(spark, dir, base)
    spark.read.parquet(s"$base/verdicts")
      .select($"doc_id", $"comp", $"survivor_id", $"is_survivor")
      .orderBy("doc_id")
  }

  /** a21's snapshot build: all three tables written (overwrite), then the
    * path's cached listings invalidated. Factored so the graded key can
    * skip it when a complete snapshot already exists in this JVM.
    */
  private def writeSnapshots(spark: SparkSession,
      dir: String, base: String): Unit = {
    // The Jaccard pair table is INDEPENDENT of the simhash→verdict chain,
    // so its write is submitted concurrently (plain multi-threaded job
    // submission — Spark's scheduler interleaves the two job DAGs over
    // the same executors; at cluster scale this is how a pipeline keeps
    // the cluster busy during a sink flush). Safe against the verdict
    // build's Components label loop specifically because that loop scopes
    // its narrowed shuffle width to a child session — before that fix a
    // concurrent query here would have planned at the loop's width.
    val jaccF = scala.concurrent.Future {
      jaccPairsDf(spark, dir)
        .write.mode("overwrite").parquet(s"$base/jacc_pairs")
    }(scala.concurrent.ExecutionContext.global)
    // the await sits in a finally so a failure in the sequential chain
    // below cannot ORPHAN the background write — an abandoned Future
    // would keep submitting Spark jobs into whatever key the harness
    // runs next, distorting its timing. When the chain failed first,
    // its exception wins and the jacc outcome is deliberately ignored;
    // on the success path Await rethrows a failed jacc write — a
    // half-written snapshot dir must fail the key, not surface later
    // as a missing-_SUCCESS fallback.
    var chainFailed = true
    try {
      simhashPairsDf(spark, dir)
        .write.mode("overwrite").parquet(s"$base/simhash_pairs")
      // the verdict build itself READS the just-written pair snapshot
      // (exercising the consumer path inside the graded key)
      survivorshipDf(spark, dir)
        .write.mode("overwrite").parquet(s"$base/verdicts")
      chainFailed = false
    } finally {
      // bounded like every other drain in the suite (the 300 s rule of
      // StreamingJobs.drain): an infinite await on a hung background write would
      // wedge the whole Bench/Verify run with no named culprit
      try scala.concurrent.Await.result(jaccF,
        scala.concurrent.duration.Duration(300, "s"))
      catch {
        case _: java.util.concurrent.TimeoutException if !chainFailed =>
          throw new IllegalStateException(
            "a21 background jacc_pairs snapshot write did not finish " +
              "within 300 s")
        case e: Throwable => if (!chainFailed) throw e
      }
    }
    // an OVERWRITE of an existing snapshot must invalidate any cached
    // plan built on the previous files (a consumer that persisted a
    // snapshot read would otherwise keep serving the stale store and
    // hide the new files from lineage probes) — the standard
    // rewrote-files-under-path contract
    spark.catalog.refreshByPath(base)
  }

  // g18 — winnowing fingerprints (the MOSS scheme): hash every 4-char
  // shingle, then keep the MIN hash of each 8-hash sliding window. The
  // selected set is position-robust — shared substrings between documents
  // select the same fingerprints regardless of offset — and its size is
  // ~2n/w, so multi-KB documents reduce to a few dozen comparable values.
  // Per-document map-side computation only (one projection, no
  // shuffle/join): at 100 TB this is the cheap pass that feeds an
  // equi-join on exploded fingerprints. Output serialized (gate rule).
  private val g18 = graded(
    "g18_winnow_fp",
    """WITH h AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(1, length(text) - 3), i ->
      |      (strpos('0123456789abcdef', substring(md5(substring(text, i, 4)), 1, 1)) - 1) * 268435456
      |      + (strpos('0123456789abcdef', substring(md5(substring(text, i, 4)), 2, 1)) - 1) * 16777216
      |      + (strpos('0123456789abcdef', substring(md5(substring(text, i, 4)), 3, 1)) - 1) * 1048576
      |      + (strpos('0123456789abcdef', substring(md5(substring(text, i, 4)), 4, 1)) - 1) * 65536
      |      + (strpos('0123456789abcdef', substring(md5(substring(text, i, 4)), 5, 1)) - 1) * 4096
      |      + (strpos('0123456789abcdef', substring(md5(substring(text, i, 4)), 6, 1)) - 1) * 256
      |      + (strpos('0123456789abcdef', substring(md5(substring(text, i, 4)), 7, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substring(md5(substring(text, i, 4)), 8, 1)) - 1)) AS hs
      |  FROM documents),
      |fp AS (
      |  SELECT doc_id,
      |    list_sort(list_distinct(list_transform(
      |      generate_series(1, len(hs) - 7), i ->
      |        list_min(list_slice(hs, i, i + 7))))) AS fps
      |  FROM h)
      |SELECT doc_id, len(fps)::INT AS n_fp,
      |  array_to_string(fps, '|') AS fps
      |FROM fp
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      // short-document guards: Spark's sequence(1, n) is DESCENDING (and
      // crashes slice) when n < 1, while the oracle's generate_series is
      // simply empty — the CASE keeps both sides at "empty fingerprint
      // set" for docs under the shingle/window size
      .withColumn("hs", expr(
        """CASE WHEN length(text) >= 4 THEN
          |  transform(sequence(1, length(text) - 3),
          |    i -> cast(conv(substring(md5(substring(text, i, 4)), 1, 8), 16, 10) as bigint))
          |ELSE cast(array() as array<bigint>) END""".stripMargin))
      .withColumn("fps", sort_array(array_distinct(expr(
        """CASE WHEN size(hs) >= 8 THEN
          |  transform(sequence(1, size(hs) - 7), i -> array_min(slice(hs, i, 8)))
          |ELSE cast(array() as array<bigint>) END""".stripMargin))))
      .select($"doc_id", size($"fps").as("n_fp"),
        array_join($"fps", "|").as("fps"))
      .orderBy("doc_id")
  }

  // g19 — bench-only: the full training-data dedup pipeline composed end
  // to end, the maintenance job a user of this engine actually schedules.
  // Stages: (1) exact dedup on content fingerprints (one groupBy on a
  // 16-byte key); (2) MinHash-LSH near-dedup over the survivors (chain
  // candidates → exact verify → Components); (3) quality gate. Emits one
  // verdict row per document: keep + reason — deterministic end to end.
  private val g19 = benchOnly("g19_dedup_pipeline") { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documentsDist(spark, dir)
      .select($"doc_id", $"text", md5($"text").as("fp"),
        array_distinct(Tokens.words($"text")).as("tk"))
      .persist()
    // stage 1: exact dedup — keep min doc_id per fingerprint
    val wFp = Window.partitionBy($"fp").orderBy($"doc_id")
    val exact = docs.withColumn("fp_rep",
        first($"doc_id").over(wFp))
      .select($"doc_id", $"tk", $"fp_rep")
    val exactDups = exact.where($"fp_rep" < $"doc_id")
      .select($"doc_id", lit("exact_dup").as("reason"))
    val survivors = exact.where($"fp_rep" === $"doc_id").select($"doc_id", $"tk")
    // stage 2: near-dedup over survivors (shared [[lshVerifiedEdges]]
    // machinery → connected components; rep = kept document)
    val verified = lshVerifiedEdges(survivors)
    val nearDups = graft.operators.Components
      .connectedComponents(survivors.select($"doc_id"), verified)
      .where($"rep" < $"doc_id")
      .select($"doc_id", lit("near_dup").as("reason"))
    // stage 3: quality gate on what's left
    val quality = docs
      .join(exactDups.select($"doc_id"), Seq("doc_id"), "left_anti")
      .join(nearDups.select($"doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("n_words", Tokens.nWords)
      .withColumn("q",
        lit(0.4) * least($"n_words" / 50.0, lit(1.0))
          + lit(0.6) * (size($"tk") / $"n_words"))
      .select($"doc_id",
        when($"q" < 0.5, "low_quality").otherwise("kept").as("reason"))
    exactDups.union(nearDups).union(quality)
      .withColumn("keep", $"reason" === "kept")
      .select($"doc_id", $"keep", $"reason")
      .orderBy("doc_id")
  }

  // g22 — dedup cluster profile: the report a dedup run is judged by.
  // Cluster = documents sharing a content fingerprint; emit the cluster
  // SIZE histogram (how many clusters of 1, of 2, …) plus how many docs
  // they hold. Two cheap aggregations over 16-byte keys; at 100 TB the
  // histogram has a handful of rows however large the corpus. The
  // ::BIGINT cast keeps DuckDB's HUGEINT sum out of the hashed output
  // (g15 lesson).
  private val g22 = graded(
    "g22_cluster_stats",
    """WITH cl AS (
      |  SELECT md5(text) AS fp, count(*) AS sz
      |  FROM documents GROUP BY 1)
      |SELECT sz, count(*) AS n_clusters, sum(sz)::BIGINT AS n_docs
      |FROM cl GROUP BY sz
      |ORDER BY sz""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(md5($"text").as("fp"))
      .agg(count(lit(1)).as("sz"))
      .groupBy($"sz")
      .agg(count(lit(1)).as("n_clusters"), sum($"sz").as("n_docs"))
      .orderBy("sz")
  }

  // g24 — containment near-dup: |A∩B| / min(|A|,|B|) ≥ threshold. Jaccard
  // misses near-SUBSETS (a doc embedded inside a larger one scores low on
  // union-normalized similarity); containment is the metric contamination
  // and excerpt detection actually need. Same banded equi-join + sorted
  // two-pointer kernel as g2 — only the normalizer changes; the
  // threshold compares the exact int/int ratio.
  private val g24 = graded(
    "g24_containment",
    """WITH toks AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
      |  FROM documents)
      |SELECT doc_a, doc_b, round(cont, 6) AS containment
      |FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.tk, b.tk))::DOUBLE /
      |    least(len(a.tk), len(b.tk))::DOUBLE AS cont
      |  FROM toks a JOIN toks b
      |    ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 150) p
      |WHERE cont >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.sortedIntersectSize)
    val toks = Tables.documentsDist(spark, dir)
      .select($"doc_id", Tokens.hashedSet.as("tk"))
      .persist()
    val a = toks.select($"doc_id".as("doc_a"), $"tk".as("tk_a"))
    val b = toks.select($"doc_id".as("doc_b"), $"tk".as("tk_b"))
    Banding.bandedPairs(a, b, "doc_a", "doc_b", 150)
      .withColumn("inter",
        expr("cast(sorted_intersect_size(tk_a, tk_b) as double)"))
      .withColumn("cont",
        $"inter" / least(size($"tk_a"), size($"tk_b")).cast("double"))
      .where($"cont" >= 0.9)
      .select($"doc_a", $"doc_b", round($"cont", 6).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  // g34 — character-level edit distance on candidate pairs (the fuzzy
  // matcher token-set Jaccard cannot express: transpositions, typos,
  // insertions). Candidates are adjacent-id pairs via an EQUI-join on
  // doc_id + 1 — never a global-order window (single-partition trap) and
  // never all-pairs; in a real pipeline the candidate set would come from
  // LSH (g3) and this is the verify kernel. Levenshtein is integer-exact
  // in both engines; the normalized distance divides by the longer text.
  private val g34 = graded(
    "g34_edit_distance",
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  levenshtein(a.text, b.text)::BIGINT AS lev,
      |  round(levenshtein(a.text, b.text)::DOUBLE /
      |    greatest(length(a.text), length(b.text)), 6) AS lev_norm
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |ORDER BY doc_a""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documentsDist(spark, dir)
    val a = docs.select($"doc_id".as("doc_a"), $"text".as("ta"))
    val b = docs.select(($"doc_id" - 1).as("doc_a"), $"doc_id".as("doc_b"),
      $"text".as("tb"))
    a.join(b, "doc_a")
      .select($"doc_a", $"doc_b",
        levenshtein($"ta", $"tb").cast("bigint").as("lev"),
        round(levenshtein($"ta", $"tb").cast("double") /
          greatest(length($"ta"), length($"tb")), 6).as("lev_norm"))
      .orderBy("doc_a")
  }

  // g40 — the distributed connected-components engine, GRADED. The graph
  // is constructed so its components have a CLOSED-FORM answer the
  // oracle can state without recursion (DuckDB could recurse; Spark
  // cannot — [[graft.operators.Components]] is the Spark answer, and
  // this key grades that machinery end-to-end): nodes are order keys,
  // edges chain each customer's orders in (date, key) order, so a
  // component is exactly one customer's order set and the min-label
  // representative is the customer's minimum order key, and the output
  // must match the window-derived truth exactly. Up to sf0.1 the edge
  // list (135,001 edges, 2.2 MB) is under the default broadcast
  // threshold, so the graph is finished by the driver-side union-find;
  // above it (sf0.1 × 8: 1,080,008 edges, 17 MB) the contraction passes
  // run on ~chain-shaped components (the WORST case for label
  // propagation — diameter = component size) and the driver finishes the
  // quotient they leave when it fits; otherwise the pointer-jumping loop
  // runs to the fixpoint.
  private val g40 = graded(
    "g40_components_label",
    """SELECT o_orderkey,
      |  min(o_orderkey) OVER (PARTITION BY o_custkey) AS rep
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val edges = orders
      .withColumn("prev", lag($"o_orderkey", 1).over(w))
      .where($"prev".isNotNull)
      .select($"prev".as("s"), $"o_orderkey".as("d"))
    graft.operators.Components.connectedComponents(
        orders.select($"o_orderkey"), edges)
      .toDF("o_orderkey", "rep")
      .orderBy("o_orderkey")
  }

  // g47 — MinHash ESTIMATOR ERROR, measured: per candidate pair, the
  // k=8 signature-agreement Jaccard estimate next to the exact token-set
  // Jaccard and their absolute error — the number that makes g3's
  // LSH-at-scale claim falsifiable inside the gate itself (AnnRecallSpec
  // closed the same gap for ANN; this closes it for MinHash, per-pair and
  // oracle-checked). Estimator arithmetic is g13's exactly (md5-derived
  // 32-bit token hashes, affine rehashes over the >2^32 prime, per-doc
  // mins), widened from 4 to 8 components; multipliers stay < 2^30 so
  // a*h never overflows int64. est = agreeing/8 and jac = |∩|/|∪| are
  // both small-integer quotients — IEEE-identical doubles in both
  // engines, so the rounded error column matches bit-for-bit. Candidate
  // pairs are the adjacent-id spine (g34's idiom): an equi-join, O(n)
  // pairs, representative of the verify stage an LSH bucket feed would
  // drive. Shape at scale: one token shuffle for signatures + sets, one
  // equi-join — linear end to end.
  private val mhAB8 = mhAB ++ Seq((69069L, 362437L), (214013L, 2531011L),
    (134775813L, 1L), (747796405L, 2891336453L))

  private val g47 = graded(
    "g47_minhash_est", {
      val mins = mhAB8.zipWithIndex.map { case ((a, b), i) =>
        s"min(($a * h + $b) % $mhP) AS mh$i"
      }.mkString(",\n      |    ")
      val agree = (0 until mhAB8.length)
        .map(i => s"(sa.mh$i = sb.mh$i)::INT").mkString(" + ")
      s"""WITH tok AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
      |  FROM documents),
      |w AS (SELECT doc_id, unnest(t) AS word FROM tok),
      |hashed AS (
      |  SELECT doc_id, ${duckHex8("md5(word)")} AS h FROM w),
      |sig AS (
      |  SELECT doc_id,
      |    $mins
      |  FROM hashed GROUP BY doc_id),
      |e AS (
      |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
      |    ($agree)::DOUBLE / 8 AS est
      |  FROM sig sa JOIN sig sb ON sb.doc_id = sa.doc_id + 1),
      |j AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.t, b.t))::DOUBLE /
      |      (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)))::DOUBLE
      |      AS jac
      |  FROM tok a JOIN tok b ON b.doc_id = a.doc_id + 1)
      |SELECT e.doc_a, e.doc_b, round(e.est, 6) AS est, round(j.jac, 6) AS jac,
      |  round(abs(e.est - j.jac), 6) AS abs_err
      |FROM e JOIN j ON e.doc_a = j.doc_a
      |ORDER BY e.doc_a""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.sortedIntersectSize)
    val docs = Tables.documentsDist(spark, dir)
      .select($"doc_id", array_distinct(Tokens.words($"text")).as("t"))
    // signatures: one token shuffle keyed on doc_id (g13's machinery,
    // k=8), beside the exact sets
    val (a, b) = sigSetSides(docs)
    val agree = (0 until mhAB8.length)
      .map(i => when(col(s"mh${i}_a") === col(s"mh${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(b, col("doc_id_b") === col("doc_id_a") + 1)
      .withColumn("inter",
        expr("cast(sorted_intersect_size(ts_a, ts_b) as double)"))
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
        round(agree.cast("double") / 8, 6).as("est"),
        round($"inter" / (size($"ts_a") + size($"ts_b") - $"inter"), 6)
          .as("jac"),
        round(abs(agree.cast("double") / 8 -
          $"inter" / (size($"ts_a") + size($"ts_b") - $"inter")), 6)
          .as("abs_err"))
      .orderBy("doc_a")
  }

  // g49 — DEDUP DETECTOR EVALUATION: precision/recall of the SimHash
  // near-dup detector (g16's verified Hamming ≤ 3 pairs) against exact
  // token-set Jaccard ≥ 0.9 ground truth (g2's banded machinery), both
  // restricted to the same id window so the two pair sets share one
  // universe. Every dedup detector is a classifier, and one without its
  // precision/recall is the unfalsifiable-claim trap g43 closed for
  // lang-ID and g47 for the MinHash estimator — this closes it for the
  // production near-dup path, inside the gate. Counts are integers;
  // precision/recall are integer-quotient doubles (IEEE-identical both
  // engines), nullif-guarded. Shape at scale: the detector side is g16's
  // linear block join; the truth side is the banded exact join — an
  // AUDIT-scale operation by nature (you evaluate on a bounded window,
  // never the full corpus), which is exactly what the window bound pins.
  private val g49 = graded(
    "g49_dedup_eval",
    s"""$simhashPairsCte,
      |det AS (
      |  SELECT doc_a, doc_b FROM prs WHERE doc_b - doc_a <= 150),
      |toks AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
      |  FROM documents),
      |tru AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM toks a JOIN toks b
      |    ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 150
      |  WHERE len(list_intersect(a.tk, b.tk))::DOUBLE /
      |    len(list_distinct(list_concat(a.tk, b.tk)))::DOUBLE >= 0.9),
      |m AS (
      |  SELECT d.doc_a IS NOT NULL AS det_p, t.doc_a IS NOT NULL AS tru_p
      |  FROM det d FULL JOIN tru t
      |    ON d.doc_a = t.doc_a AND d.doc_b = t.doc_b),
      |c AS (
      |  SELECT
      |    sum(CASE WHEN det_p AND tru_p THEN 1 ELSE 0 END)::BIGINT AS tp,
      |    sum(CASE WHEN det_p AND NOT tru_p THEN 1 ELSE 0 END)::BIGINT AS fp,
      |    sum(CASE WHEN tru_p AND NOT det_p THEN 1 ELSE 0 END)::BIGINT AS fn
      |  FROM m)
      |SELECT tp, fp, fn,
      |  round(tp::DOUBLE / nullif(tp + fp, 0)::DOUBLE, 6) AS prec,
      |  round(tp::DOUBLE / nullif(tp + fn, 0)::DOUBLE, 6) AS rec
      |FROM c""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val det = simhashPairs(spark, dir)
      .where($"doc_b" - $"doc_a" <= 150)
      .select($"doc_a", $"doc_b").withColumn("det_p", lit(true))
    // ground truth: g2's banded exact-Jaccard pair set at the same
    // window (the shared jaccPairs table — snapshot-served after a21)
    val tru = jaccPairs(spark, dir)
      .select($"doc_a", $"doc_b").withColumn("tru_p", lit(true))
    val c = det.join(tru, Seq("doc_a", "doc_b"), "full")
      .agg(
        sum(when($"det_p" && $"tru_p", 1).otherwise(0)).cast("bigint").as("tp"),
        sum(when($"det_p" && !coalesce($"tru_p", lit(false)), 1).otherwise(0))
          .cast("bigint").as("fp"),
        sum(when($"tru_p" && !coalesce($"det_p", lit(false)), 1).otherwise(0))
          .cast("bigint").as("fn"))
    c.select($"tp", $"fp", $"fn",
      round($"tp".cast("double") /
        nullif(($"tp" + $"fp"), lit(0)).cast("double"), 6).as("prec"),
      round($"tp".cast("double") /
        nullif(($"tp" + $"fn"), lit(0)).cast("double"), 6).as("rec"))
  }

  // g54 — URL CANONICALIZATION DEDUP: the crawl-frontier stage that runs
  // BEFORE any content is fetched — collapse scheme/host case, default
  // ports, tracking parameters, fragments and trailing slashes so the
  // same resource isn't crawled (or kept) N times under N spellings. The
  // corpus has no URL column, so three deterministic spellings per
  // document are synthesized in-query (g27/f15's declared-fixture
  // pattern): the clean form, a cased+port+slash variant, and a
  // utm+fragment variant — the canonicalizer must collapse all three
  // (closed form: every group is exactly 3 → 1). Each rewrite pattern
  // occurs at most once per URL by construction, so Spark's replace-all
  // regexp_replace and DuckDB's replace-first agree. Map-side
  // canonicalization + one groupBy on the canonical key — at crawl scale
  // this is the g1 exact-dedup shape with a normalizer in front.
  private val g54 = graded(
    "g54_url_dedup",
    """WITH v AS (
      |  SELECT doc_id, unnest([
      |    'https://' || source || '.example.org/' || lang || '/doc-'
      |      || doc_id,
      |    'HTTPS://' || upper(source) || '.Example.ORG:443/' || lang
      |      || '/doc-' || doc_id || '/',
      |    'https://' || source || '.example.org/' || lang || '/doc-'
      |      || doc_id || '?utm_source=feed&utm_campaign=x#sec-2']) AS raw
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, raw,
      |    regexp_replace(regexp_replace(lower(regexp_replace(
      |      regexp_replace(raw, '#.*$', ''), '\?utm[^#]*', '')),
      |      ':443/', '/'), '/$', '') AS canonical
      |  FROM v)
      |SELECT canonical, count(*) AS n_raw,
      |  count(DISTINCT raw) AS n_distinct_raw, min(raw) AS kept_raw
      |FROM c GROUP BY canonical
      |ORDER BY canonical""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val v = Tables.documentsDist(spark, dir)
      .select($"doc_id", $"source", $"lang")
      .withColumn("raw", explode(array(
        concat(lit("https://"), $"source", lit(".example.org/"), $"lang",
          lit("/doc-"), $"doc_id"),
        concat(lit("HTTPS://"), upper($"source"), lit(".Example.ORG:443/"),
          $"lang", lit("/doc-"), $"doc_id", lit("/")),
        concat(lit("https://"), $"source", lit(".example.org/"), $"lang",
          lit("/doc-"), $"doc_id",
          lit("?utm_source=feed&utm_campaign=x#sec-2")))))
    v.withColumn("canonical",
        regexp_replace(regexp_replace(lower(regexp_replace(
          regexp_replace($"raw", "#.*$", ""), "\\?utm[^#]*", "")),
          ":443/", "/"), "/$", ""))
      .groupBy($"canonical")
      .agg(count(lit(1)).as("n_raw"),
        countDistinct($"raw").as("n_distinct_raw"),
        min($"raw").as("kept_raw"))
      .orderBy("canonical")
  }

  // g63 — sharded-vs-global dedup loss: THE quantitative answer to "can
  // we dedup per-shard instead of globally at 100 TB?". Shard by a
  // stable id partition (doc_id % 8 — in production, the ingest shard),
  // cluster by a bag-of-words fingerprint (md5 of the sorted distinct
  // token set — this corpus ships word-shuffled near-dups with identical
  // token sets, so raw-text md5 clusters are all singletons and the
  // question vanishes; token order is ascii-binary in both engines), and
  // measure what per-shard dedup misses: a cluster spanning s shards
  // keeps s survivors where global dedup keeps 1, so each (size, span)
  // cell contributes (s − 1) missed duplicates per cluster. Output is
  // the (size × span) histogram with missed totals — dimension-sized
  // however big the corpus, and the whole computation is two groupBys on
  // a 16-byte digest (the text never rides the second shuffle). Mass at
  // span > 1 is exactly the cross-shard duplicate traffic a global pass
  // must pay for.
  private val ShardCount = 8

  private val g63 = graded(
    "g63_shard_dedup_loss",
    s"""WITH f AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
      |      AS fp
      |  FROM documents),
      |cl AS (
      |  SELECT fp, count(*)::BIGINT AS sz,
      |    count(DISTINCT doc_id % $ShardCount)::BIGINT AS span
      |  FROM f GROUP BY 1)
      |SELECT sz, span, count(*)::BIGINT AS n_clusters,
      |  (sum(span) - count(*))::BIGINT AS missed_dups,
      |  (sum(sz) - count(*))::BIGINT AS global_dups
      |FROM cl GROUP BY sz, span
      |ORDER BY sz, span""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(md5(array_join(sort_array(array_distinct(Tokens.words($"text"))),
        " ")).as("fp"))
      .agg(count(lit(1)).as("sz"),
        countDistinct($"doc_id" % ShardCount).as("span"))
      .groupBy($"sz", $"span")
      .agg(count(lit(1)).as("n_clusters"),
        (sum($"span") - count(lit(1))).cast("bigint").as("missed_dups"),
        (sum($"sz") - count(lit(1))).cast("bigint").as("global_dups"))
      .orderBy("sz", "span")
  }

  // g75 — TEMPLATE-DOC clusters: group documents sharing the same opening
  // 3-word prefix (web boilerplate shows up as thousands of pages stamped
  // from one header template; the head prefix is the cheapest template
  // fingerprint that needs no parsing). Emits only clusters of >1 doc
  // with their source/lang spread — a cross-source cluster is scraped
  // boilerplate, a cross-lang one is a template mill. Exact string/count
  // arithmetic throughout. Shape at scale: one hash aggregate keyed on
  // the prefix (bounded-size key cut from the text inside the scan
  // projection — full text never rides the shuffle).
  private val g75 = graded(
    "g75_template_docs",
    """WITH k AS (
      |  SELECT doc_id, lang, source,
      |    array_to_string(string_split(text, ' ')[1:3], ' ') AS tpl
      |  FROM documents WHERE len(string_split(text, ' ')) >= 6),
      |g AS (SELECT tpl, count(*)::BIGINT AS n_docs,
      |        count(DISTINCT source)::BIGINT AS n_sources,
      |        count(DISTINCT lang)::BIGINT AS n_langs,
      |        min(doc_id)::BIGINT AS exemplar
      |      FROM k GROUP BY tpl)
      |SELECT tpl, n_docs, n_sources, n_langs, exemplar FROM g
      |WHERE n_docs > 1
      |ORDER BY n_docs DESC, tpl""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documentsDist(spark, dir)
      .select($"doc_id", $"lang", $"source", Tokens.words($"text").as("w"))
      .where(size($"w") >= 6)
      .select($"doc_id", $"lang", $"source",
        concat_ws(" ", slice($"w", 1, 3)).as("tpl"))
      .groupBy($"tpl")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        countDistinct($"source").cast("bigint").as("n_sources"),
        countDistinct($"lang").cast("bigint").as("n_langs"),
        min($"doc_id").cast("bigint").as("exemplar"))
      .where($"n_docs" > 1)
      .orderBy($"n_docs".desc, $"tpl")
  }

  // g79 — INCREMENTAL NEAR-DUP: match a new batch (g36's doc_id%5=4
  // split) against the existing catalog by MinHash LSH — g36 is the
  // incremental EXACT path, this is its near-dup twin, the nightly
  // "which new crawls are rewrites of something we already hold?" join.
  // g47's 8-perm signatures split into 4 bands of 2; a batch-catalog
  // candidate needs one full band equal (hash join on (band, v1, v2) —
  // catalog never self-joins), then the 8-component agreement verifies
  // and ≥4/8 (est J ≥ 0.5) keeps the pair; top-1 per new doc by
  // (agreement DESC, doc_old ASC). Everything integer-exact.
  // Shape at scale — the hot-bucket lesson, MEASURED here: a first cut
  // banded doc×doc directly and went 10.7× at 8× data, because heavily
  // duplicated content (the 8× corpus repeats every text) piles
  // identical signatures into the same band bucket and the join fans
  // out O(dups²). The fix is the production one: band-join DISTINCT
  // signatures only (candidates scale with distinct content), collapse
  // the catalog to (signature → min doc_id) — the only doc that can win
  // the (agree DESC, doc_old ASC) tiebreak — and fan results back to
  // batch docs by signature equi-join at the very end. Re-measured 8×
  // ratio: 1.1. The catalog side is signature-sized (8 longs/doc, not
  // text); the incremental batch never rescans the corpus text.
  private val g79 = graded(
    "g79_incremental_minhash", {
      val mins = mhAB8.zipWithIndex.map { case ((a, b), i) =>
        s"min(($a * h + $b) % $mhP) AS mh$i"
      }.mkString(",\n      |    ")
      val agree = (0 until 8).map(i => s"(sa.mh$i = sb.mh$i)::INT")
        .mkString(" + ")
      s"""WITH tok AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
      |  FROM documents),
      |w AS (SELECT doc_id, unnest(t) AS word FROM tok),
      |hashed AS (SELECT doc_id, ${duckHex8("md5(word)")} AS h FROM w),
      |sig AS (SELECT doc_id,
      |    $mins
      |  FROM hashed GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, b.i,
      |    CASE b.i WHEN 0 THEN mh0 WHEN 1 THEN mh2
      |      WHEN 2 THEN mh4 ELSE mh6 END AS v1,
      |    CASE b.i WHEN 0 THEN mh1 WHEN 1 THEN mh3
      |      WHEN 2 THEN mh5 ELSE mh7 END AS v2
      |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS i) b),
      |cand AS (SELECT DISTINCT nb.doc_id AS doc_new, cb.doc_id AS doc_old
      |  FROM bands nb JOIN bands cb
      |    ON nb.i = cb.i AND nb.v1 = cb.v1 AND nb.v2 = cb.v2
      |  WHERE nb.doc_id % 5 = 4 AND cb.doc_id % 5 <> 4),
      |ver AS (SELECT c.doc_new, c.doc_old, ($agree) AS n_agree
      |  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_new
      |  JOIN sig sb ON sb.doc_id = c.doc_old),
      |top AS (SELECT doc_new, doc_old, n_agree,
      |    row_number() OVER (PARTITION BY doc_new
      |      ORDER BY n_agree DESC, doc_old) AS rn
      |  FROM ver WHERE n_agree >= 4)
      |SELECT doc_new AS doc_id, doc_old AS match_id,
      |  n_agree::BIGINT AS n_agree,
      |  (n_agree * 1000000 // 8)::BIGINT AS est_ppm
      |FROM top WHERE rn = 1 ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val sig = minhashSig(Tables.documentsDist(spark, dir)
      .select($"doc_id", array_distinct(Tokens.words($"text")).as("t"))
      .select($"doc_id", explode($"t").as("word")), mhAB8)
    val mh = (0 until 8).map(i => col(s"mh$i"))
    // distinct-signature tables: candidates scale with distinct content,
    // not with how many times a text was crawled (the hot-bucket fix)
    val newSigs = sig.where($"doc_id" % 5 === 4).select(mh: _*).distinct()
    val oldSigs = sig.where($"doc_id" % 5 =!= 4)
      .groupBy(mh: _*).agg(min($"doc_id").as("doc_old"))
    def bandify(df: DataFrame) = df
      .withColumn("i", explode(sequence(lit(0), lit(3))))
      .withColumn("v1", expr(
        "CASE i WHEN 0 THEN mh0 WHEN 1 THEN mh2 WHEN 2 THEN mh4 ELSE mh6 END"))
      .withColumn("v2", expr(
        "CASE i WHEN 0 THEN mh1 WHEN 1 THEN mh3 WHEN 2 THEN mh5 ELSE mh7 END"))
    val sa = bandify(newSigs)
      .select(($"i" +: $"v1" +: $"v2" +:
        (0 until 8).map(i => col(s"mh$i").as(s"mh${i}_a"))): _*)
    val sb = bandify(oldSigs)
      .select(($"i" +: $"v1" +: $"v2" +: $"doc_old" +:
        (0 until 8).map(i => col(s"mh$i").as(s"mh${i}_b"))): _*)
    val agree = (0 until 8)
      .map(i => when(col(s"mh${i}_a") === col(s"mh${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    val aCols = (0 until 8).map(i => col(s"mh${i}_a"))
    val ver = sa.join(sb, Seq("i", "v1", "v2"))
      .withColumn("n_agree", agree)
      .where($"n_agree" >= 4)
      .select((aCols :+ $"doc_old" :+ $"n_agree"): _*).distinct()
    val w = Window.partitionBy(aCols: _*)
      .orderBy($"n_agree".desc, $"doc_old")
    val bestPerSig = ver.withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
    // fan the per-signature verdict back out to the batch docs
    val batch = sig.where($"doc_id" % 5 === 4)
      .select(($"doc_id" +: (0 until 8).map(i => col(s"mh$i").as(s"mh${i}_a"))): _*)
    batch.join(bestPerSig, (0 until 8).map(i => s"mh${i}_a"))
      .select($"doc_id", $"doc_old".as("match_id"),
        $"n_agree".cast("bigint").as("n_agree"),
        expr("(n_agree * 1000000) div 8").cast("bigint").as("est_ppm"))
      .orderBy($"doc_id")
  }

  // g81 — NEAR-DUP GRAPH DEGREE DISTRIBUTION (the graph-shape question
  // that decides the dedup strategy BEFORE g40's components run: a heavy
  // degree tail means big cliques — cluster-and-keep-one; scattered
  // degree-1 pairs mean pairwise survivorship is enough. g22 profiles
  // the exact-dup clusters; this profiles the ≥0.9-Jaccard NEAR-dup
  // graph, g2's edges). Degree counts both directions of each pair;
  // degree-0 mass is recovered from the 1-row corpus total (allowlisted
  // cross). All exact integers. Shape at scale: g2's banded pair join +
  // two bounded-key aggregates — the histogram domain is the max
  // degree, not the corpus.
  private val g81 = graded(
    "g81_dup_degree_dist",
    """WITH toks AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
      |  FROM documents),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |      len(list_intersect(a.tk, b.tk))::DOUBLE /
      |      len(list_distinct(list_concat(a.tk, b.tk)))::DOUBLE AS jac
      |    FROM toks a JOIN toks b
      |      ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 150) p
      |  WHERE jac >= 0.9),
      |deg AS (
      |  SELECT doc_id, count(*)::BIGINT AS degree FROM (
      |    SELECT doc_a AS doc_id FROM pairs
      |    UNION ALL SELECT doc_b FROM pairs) u
      |  GROUP BY doc_id),
      |h AS (SELECT degree, count(*)::BIGINT AS n_docs FROM deg
      |      GROUP BY degree),
      |t AS (SELECT count(*)::BIGINT AS total FROM documents)
      |SELECT degree, n_docs FROM h
      |UNION ALL
      |SELECT 0::BIGINT,
      |  (t.total - coalesce((SELECT sum(n_docs) FROM h), 0))::BIGINT
      |FROM t
      |ORDER BY degree""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val pairs = jaccPairs(spark, dir)
    val deg = pairs.select($"doc_a".as("doc_id"))
      .unionByName(pairs.select($"doc_b".as("doc_id")))
      .groupBy($"doc_id").agg(count(lit(1)).cast("bigint").as("degree"))
    val h = deg.groupBy($"degree")
      .agg(count(lit(1)).cast("bigint").as("n_docs"))
    val t = Tables.documents(spark, dir)
      .agg(count(lit(1)).cast("bigint").as("total"))
    val covered = h.agg(coalesce(sum($"n_docs"), lit(0L)).as("cov"))
    val zeroRow = t.crossJoin(broadcast(covered))
      .select(lit(0L).as("degree"), ($"total" - $"cov").cast("bigint")
        .as("n_docs"))
    h.unionByName(zeroRow).orderBy($"degree")
  }

  // g85 — NEAR-DUP GRAPH TRANSITIVITY (triangle census): are the ≥0.9-
  // Jaccard edges TRANSITIVE (clique-like dup clusters, where cluster-
  // and-keep-one is safe) or chain-like (where transitive closure over-
  // merges — the g40 chain fixture's pathology on real data)? Reports
  // edge/wedge/triangle counts and the global clustering coefficient
  // 3·triangles/wedges. Counting is DEGREE-ORIENTED: each edge is
  // directed from its lower-(degree, id) endpoint, wedges are enumerated
  // only at each triangle's minimum vertex under that order, and closure
  // is one equi-join back to the canonical pair set — the classical
  // O(m^1.5) bound, so a dup HUB (degree-Δ template cluster) costs
  // O(m·√m), not the O(Δ²) an id-oriented enumeration pays. The count is
  // orientation-INVARIANT, which is what lets the oracle state the same
  // census with the cheap id-oriented 3-way self-join DuckDB can run at
  // fixture scale. Input pairs are snapshot-served after a21 (the
  // write-once/read-many rule); exact integers everywhere, the one
  // double (global_cc) is a deterministic ratio of exact integers.
  private val g85 = graded(
    "g85_dup_transitivity",
    """WITH toks AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
      |  FROM documents),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |      len(list_intersect(a.tk, b.tk))::DOUBLE /
      |      len(list_distinct(list_concat(a.tk, b.tk)))::DOUBLE AS jac
      |    FROM toks a JOIN toks b
      |      ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 150) p
      |  WHERE jac >= 0.9),
      |deg AS (
      |  SELECT doc_id, count(*)::BIGINT AS d FROM (
      |    SELECT doc_a AS doc_id FROM pairs
      |    UNION ALL SELECT doc_b FROM pairs) u
      |  GROUP BY doc_id),
      |w AS (SELECT coalesce(sum((d * (d - 1)) // 2), 0)::BIGINT AS n_wedges
      |      FROM deg),
      |tri AS (
      |  SELECT count(*)::BIGINT AS n_triangles
      |  FROM pairs p1
      |  JOIN pairs p2 ON p2.doc_a = p1.doc_b
      |  JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b),
      |e AS (SELECT count(*)::BIGINT AS n_edges FROM pairs)
      |SELECT e.n_edges, w.n_wedges, tri.n_triangles,
      |  round(CASE WHEN w.n_wedges = 0 THEN 0.0
      |    ELSE 3.0 * tri.n_triangles / w.n_wedges END, 6) AS global_cc
      |FROM e, w, tri""".stripMargin) { (spark, dir) =>
    triangleCensus(jaccPairs(spark, dir))
  }

  /** The degree-oriented triangle census over a canonical (doc_a < doc_b)
    * undirected edge set — g85's kernel, factored so the orientation-
    * invariance property is unit-testable on hand-computed toy graphs
    * (`DedupPipelineSpec`). Returns one row: (n_edges, n_wedges,
    * n_triangles, global_cc).
    */
  private[graft] def triangleCensus(
      pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    val p = pairs.select($"doc_a", $"doc_b").persist()
    val deg = p.select($"doc_a".as("doc_id"))
      .unionByName(p.select($"doc_b".as("doc_id")))
      .groupBy($"doc_id").agg(count(lit(1)).cast("bigint").as("d"))
    val da = deg.select($"doc_id".as("doc_a"), $"d".as("da"))
    val db = deg.select($"doc_id".as("doc_b"), $"d".as("db"))
    // direct each edge low→high under the (degree, id) total order
    val lowFirst = $"da" < $"db" || ($"da" === $"db" && $"doc_a" < $"doc_b")
    val directed = p.join(da, "doc_a").join(db, "doc_b")
      .select(when(lowFirst, $"doc_a").otherwise($"doc_b").as("src"),
        when(lowFirst, $"doc_b").otherwise($"doc_a").as("dst"))
    // wedges at the minimum vertex: unordered out-neighbor pairs of src
    val e1 = directed.select($"src", $"dst".as("v"))
    val e2 = directed.select($"src", $"dst".as("w"))
    val wedgeCands = e1.join(e2, "src").where($"v" < $"w")
    // closure test against the canonical (doc_a < doc_b) pair set
    val tri = wedgeCands.join(p,
        wedgeCands("v") === p("doc_a") && wedgeCands("w") === p("doc_b"))
      .agg(count(lit(1)).cast("bigint").as("n_triangles"))
    val nw = deg.agg(coalesce(sum(expr("(d * (d - 1)) div 2")), lit(0L))
      .cast("bigint").as("n_wedges"))
    val ne = p.agg(count(lit(1)).cast("bigint").as("n_edges"))
    val out = ne.crossJoin(broadcast(nw)).crossJoin(broadcast(tri))
      .select($"n_edges", $"n_wedges", $"n_triangles",
        round(when($"n_wedges" === 0L, lit(0.0))
          .otherwise(lit(3.0) * $"n_triangles" / $"n_wedges"), 6)
          .as("global_cc"))
    // the census collapses to EXACTLY ONE row, so materialize it now and
    // release the cached edge blocks before returning — a long-lived
    // session calling this outside Bench/Verify's per-key clearCache
    // would otherwise leak |E| cached rows per call
    val row = out.collect()
    p.unpersist()
    pairs.sparkSession.createDataFrame(
      java.util.Arrays.asList(row: _*), out.schema)
  }

  // g83 — CROSS-SOURCE DUPLICATION FLOW: g2's near-dup pairs rolled up
  // to (source_a, source_b) — the mirror-site detector ("which sources
  // republish which?"). Within-source cells measure internal template
  // repetition; off-diagonal cells are syndication. The source pair is
  // CANONICALIZED (least, greatest) so A→B and B→A collapse into one
  // undirected cell; counts exact. Shape at scale: g2's banded pair
  // join + one broadcast of the doc→source map (at 100 TB: an equi-join
  // on doc_id, same key the pairs already carry) + a ≤|sources|² cell
  // aggregate.
  private val g83 = graded(
    "g83_source_pair_flow",
    """WITH toks AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
      |  FROM documents),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |      len(list_intersect(a.tk, b.tk))::DOUBLE /
      |      len(list_distinct(list_concat(a.tk, b.tk)))::DOUBLE AS jac
      |    FROM toks a JOIN toks b
      |      ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 150) p
      |  WHERE jac >= 0.9),
      |f AS (
      |  SELECT least(sa.source, sb.source) AS source_a,
      |    greatest(sa.source, sb.source) AS source_b
      |  FROM pairs
      |  JOIN documents sa ON sa.doc_id = pairs.doc_a
      |  JOIN documents sb ON sb.doc_id = pairs.doc_b)
      |SELECT source_a, source_b, count(*)::BIGINT AS n_pairs,
      |  (source_a = source_b) AS internal
      |FROM f GROUP BY source_a, source_b
      |ORDER BY n_pairs DESC, source_a, source_b""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documentsDist(spark, dir)
    val pairs = jaccPairs(spark, dir)
    val srcMap = docs.select($"doc_id", $"source")
    pairs
      .join(broadcast(srcMap.select($"doc_id".as("doc_a"),
        $"source".as("src_a"))), "doc_a")
      .join(broadcast(srcMap.select($"doc_id".as("doc_b"),
        $"source".as("src_b"))), "doc_b")
      .select(least($"src_a", $"src_b").as("source_a"),
        greatest($"src_a", $"src_b").as("source_b"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).cast("bigint").as("n_pairs"))
      .select($"source_a", $"source_b", $"n_pairs",
        ($"source_a" === $"source_b").as("internal"))
      .orderBy($"n_pairs".desc, $"source_a", $"source_b")
  }

  // g84 — DEDUP LENGTH-BIAS AUDIT: compare the length distribution of
  // g46's survivors against the removed docs — the fairness question
  // every survivorship policy should answer before shipping ("did
  // 'keep the longest' just delete every short doc, or only true
  // twins?"). Built ON g46: the Spark side literally runs g46's plan
  // and aggregates it (pipeline composition at the DataFrame level),
  // and the oracle extends the same recursive-CTE closure — so policy,
  // clusters, AND the audit are one consistent definition. Mean via
  // exact integer quotient, median via the d7-proven quantile.
  private val g84 = graded(
    "g84_dedup_length_bias",
    s"""${simhashPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
      |und AS (
      |  SELECT doc_a AS s, doc_b AS t FROM prs
      |  UNION ALL SELECT doc_b AS s, doc_a AS t FROM prs),
      |reach(s, t) AS (
      |  SELECT s, t FROM und
      |  UNION
      |  SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s),
      |lab AS (
      |  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.t), d.doc_id)) AS comp
      |  FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
      |  GROUP BY d.doc_id),
      |surv AS (
      |  SELECT comp, doc_id AS survivor_id FROM (
      |    SELECT l.comp, l.doc_id,
      |      row_number() OVER (PARTITION BY l.comp
      |        ORDER BY d.n_chars DESC, l.doc_id) AS rn
      |    FROM lab l JOIN documents d ON d.doc_id = l.doc_id) t
      |  WHERE rn = 1),
      |flag AS (
      |  SELECT l.doc_id, (l.doc_id = s.survivor_id) AS is_survivor
      |  FROM lab l JOIN surv s ON s.comp = l.comp)
      |SELECT f.is_survivor, count(*)::BIGINT AS n_docs,
      |  (sum(d.n_chars) // count(*))::BIGINT AS mean_chars,
      |  round(quantile_cont(d.n_chars, 0.5), 6) AS median_chars
      |FROM flag f JOIN documents d ON d.doc_id = f.doc_id
      |GROUP BY f.is_survivor
      |ORDER BY f.is_survivor""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // composition at the TABLE level: the shared verdict table (snapshot
    // after a21, g46's plan inline otherwise), aggregated
    val verdictRows = verdicts(spark, dir)
      .select($"doc_id", $"is_survivor")
    verdictRows
      .join(Tables.documents(spark, dir).select($"doc_id", $"n_chars"),
        "doc_id")
      .groupBy($"is_survivor")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum($"n_chars").cast("bigint").as("sc"),
        round(expr("percentile(n_chars, 0.5)"), 6).as("median_chars"))
      .select($"is_survivor", $"n_docs",
        expr("sc div n_docs").cast("bigint").as("mean_chars"),
        $"median_chars")
      .orderBy($"is_survivor")
  }

  // g87 — EXACT-SUBSTRING DUPLICATION SPANS (the character-level dedup
  // primitive from the "deduplicating training data" literature, distinct
  // from g73's global top-k token-gram table): every 24-char window that
  // appears verbatim in MORE THAN ONE document marks its span, and the
  // per-document answer is the MERGED coverage — exactly the deletion
  // spans a substring-dedup pass would cut. 24 chars (~4 tokens on this
  // corpus) is the discriminative point: at 40 only whole-document clones
  // surface (g1/g2's finding restated), at 24 partial template overlap
  // shows as multi-span fractional coverage. Three bucketed stages, no
  // all-pairs anywhere: (1) slide the window by explode(sequence) inside
  // the scan stage (text never shuffles — only 16-byte md5 digests of
  // each window leave the scan, the cross-engine key since g8),
  // (2) cross-doc windows = min(doc_id)≠max(doc_id) over a
  // digest-partitioned window (the ExactSubstr bucket design: candidates
  // ∝ duplicated windows, never n² — and the window form needs ONE
  // shuffle where a groupBy(dig)+join-back needs three), (3) the
  // h12 interval-union sweep per doc: fixed window length makes the
  // running max end = lag(pos)+24, so a gap is simply pos−prev > 24 and
  // each merged span covers e−s+24 chars. Per-doc windows are bounded by
  // doc length, so the doc_id window partition never skews. All-integer
  // output (exact ppm), unique-key ordering. Oracle slides via
  // unnest(generate_series(..)) — the lateral table-function form is
  // unsupported for column bounds in DuckDB 1.0 (DialectNotes).
  // The span oracle SHARED by g87 (digest-window detector) and g90
  // (sharded suffix-array detector): both must produce the identical
  // merged-coverage table, so the two keys grade as independent
  // implementations of one contract — the agreement the r9 verdict asked
  // for ("matches g87's span oracle", VERDICT §Next-round item 1).
  private[pipeline] val substringSpanOracle =
    """WITH w0 AS (
      |  SELECT doc_id, n_chars,
      |    unnest(generate_series(1, n_chars - 23)) AS pos, text
      |  FROM documents WHERE n_chars >= 24),
      |w AS (
      |  SELECT doc_id, n_chars, pos, md5(substr(text, pos::INT, 24)) AS dig
      |  FROM w0),
      |p AS (
      |  SELECT doc_id, n_chars, pos FROM (
      |    SELECT doc_id, n_chars, pos,
      |      min(doc_id) OVER (PARTITION BY dig) AS lo,
      |      max(doc_id) OVER (PARTITION BY dig) AS hi
      |    FROM w) t
      |  WHERE lo <> hi),
      |m AS (
      |  SELECT doc_id, n_chars, pos,
      |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |  FROM p),
      |g AS (
      |  SELECT doc_id, n_chars, pos,
      |    sum(CASE WHEN prev IS NULL OR pos - prev > 24 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS blk
      |  FROM m),
      |u AS (
      |  SELECT doc_id, n_chars, blk, min(pos) AS s, max(pos) AS e,
      |    count(*)::BIGINT AS n_win
      |  FROM g GROUP BY doc_id, n_chars, blk)
      |SELECT doc_id,
      |  sum(n_win)::BIGINT AS dup_windows,
      |  count(*)::BIGINT AS n_spans,
      |  sum(e - s + 24)::BIGINT AS covered_chars,
      |  ((sum(e - s + 24) * 1000000) // n_chars)::BIGINT AS dup_ppm
      |FROM u GROUP BY doc_id, n_chars
      |ORDER BY doc_id""".stripMargin

  /** The h12 interval-union sweep shared by g87/g90: merge each doc's
    * duplicated window positions (1-based, fixed length L) into maximal
    * spans and aggregate to the span-oracle output schema. A gap is
    * pos − prev > L (fixed window length makes the running max end
    * lag(pos)+L), and each merged span covers e−s+L chars. */
  private def mergeDupSpans(p: DataFrame, L: Int)
      : DataFrame = {
    val wl = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val run = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.withColumn("prev", lag(col("pos"), 1).over(wl))
      .withColumn("blk",
        sum(when(col("prev").isNull || col("pos") - col("prev") > L, 1)
          .otherwise(0)).over(run).cast("bigint"))
      .groupBy(col("doc_id"), col("n_chars"), col("blk"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"),
        count(lit(1)).cast("bigint").as("n_win"))
      .groupBy(col("doc_id"), col("n_chars"))
      .agg(sum(col("n_win")).cast("bigint").as("dup_windows"),
        count(lit(1)).cast("bigint").as("n_spans"),
        sum(col("e") - col("s") + L).cast("bigint").as("covered_chars"))
      .select(col("doc_id"), col("dup_windows"), col("n_spans"),
        col("covered_chars"),
        expr("(covered_chars * 1000000) div n_chars").cast("bigint")
          .as("dup_ppm"))
      .orderBy(col("doc_id"))
  }

  private val g87 = graded(
    "g87_substring_dup_spans", substringSpanOracle) { (spark, dir) =>
    import spark.implicits._
    val L = 24
    // the shuffle key is the 16-byte md5 of each window, never the raw
    // chars (md5 is the cross-engine digest since g8, so the oracle
    // states the identical key), and "some OTHER doc shares this window"
    // is min(doc_id)≠max(doc_id) over a digest-partitioned window — ONE
    // explode and ONE windows-sized shuffle, vs the groupBy+join-back
    // shape's two explodes and three shuffles. Digest partitions are
    // dup-group-sized (no skew); positions stay in place so no join
    // rejoins them. At 100 TB character-level exact-substring is
    // suffix-array territory (ExactSubstr); this digest-bucketed form is
    // the defensible distributed approximation (SCALE.md §3).
    val wd = Window.partitionBy($"dig")
    val p = Tables.documentsDist(spark, dir)
      .where($"n_chars" >= L)
      .select($"doc_id", $"n_chars",
        explode(sequence(lit(1), $"n_chars" - (L - 1))).as("pos"), $"text")
      .select($"doc_id", $"n_chars", $"pos",
        unhex(md5(expr(s"substring(text, pos, $L)"))).as("dig"))
      .withColumn("lo", min($"doc_id").over(wd))
      .withColumn("hi", max($"doc_id").over(wd))
      .where($"lo" =!= $"hi")
      .select($"doc_id", $"n_chars", $"pos")
    mergeDupSpans(p, L)
  }

  // g90 — EXACT-SUBSTRING SPANS VIA SHARDED SUFFIX ARRAY (ExactSubstr):
  // the production-form twin of g87, graded against the SAME span oracle
  // — two independent detectors, one contract. Where g87 shuffles a
  // ~40-byte row per corpus CHARACTER (every window's digest+doc+pos
  // into one corpus-wide digest partition), g90 builds a depth-truncated
  // suffix array per shard ([[SuffixDup]]), collapses every within-shard
  // repetition locally, and shuffles only (1) one 32-byte run-boundary
  // tuple per DISTINCT window per shard into a partially-aggregating
  // groupBy and (2) the positions of CONFIRMED duplicates into the
  // per-doc interval merge. The confirmed-duplicate hash set comes back
  // as a BROADCAST semi-join (dup content is a small fraction of any
  // corpus), so the per-position re-derivation never shuffles — it dies
  // in the scan stage unless duplicated. SCALE.md records the measured
  // shuffle-volume drop vs g87 at sf0.1; the 100 TB sizing argument
  // (shards sized to executor memory, maximal-repeat generalization)
  // lives on the kernel's Scaladoc.
  /** g90/g91's shared detector: the sharded-suffix-array pipeline up to
    * the confirmed cross-doc duplicate window positions
    * (doc_id, n_chars, pos). g90 aggregates them to the span-coverage
    * report; g91 emits the maximal merged spans themselves. */
  private def suffixDupPositions(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val L = SuffixDup.L
    // CONTENT-ADDRESSED sharding (not doc_id): identical and
    // near-identical documents co-locate, so the copy-dominated
    // duplication of a real crawl collapses INSIDE the per-shard suffix
    // array — zero shuffle rows for the 2nd..nth copy of a document
    // (SCALE.md measures this on the 8× copy corpus: g87's shuffle grows
    // 8×, g90's stays ~1×). A pathologically viral single document makes
    // one shard hot; the production salt is repartition(md5(text),
    // doc_id % s) at the cost of s× weaker collapse.
    val docs = Tables.documents(spark, dir)
      .where($"n_chars" >= L)
      .select($"doc_id", $"n_chars", $"text")
      .repartition(spark.sparkContext.defaultParallelism, md5($"text"))
    // stage 1: per-shard truncated suffix array → run-boundary tuples.
    // Consumed by both stage-2 rounds; Spark's ReusedExchange dedupes
    // the identical subtree, so the text shards once and the suffix
    // arrays build once per action (verified with Probe — an
    // eager checkpoint here changes no shuffle byte, only adds cost).
    val runs = docs.select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions(SuffixDup.shardRuns).toDF()
    // stage 2, round 1 — SLIM PREFILTER: only the 8-byte h1 lane (plus a
    // 1-byte local-cross flag) crosses the wire, a 4× byte cut on the
    // dominant O(distinct windows) shuffle term. A window can be a
    // cross-doc duplicate only if its content occurs as ≥2 run tuples
    // (≥2 shards, or twice in one shard... which the SA collapsed, so
    // that case carries lo≠hi) or is already cross-doc inside one shard.
    // An h1 collision only INFLATES candidates — round 2 re-decides on
    // the full 128 bits, so exactness is untouched.
    val cand = runs
      .select($"h1", ($"lo" =!= $"hi").cast("int").as("cross"))
      .groupBy($"h1")
      .agg(count(lit(1)).as("n"), max($"cross").as("anycross"))
      .where($"n" > 1 || $"anycross" === 1)
      .select($"h1")
    // stage 2, round 2 — exact cross-shard range intersection over the
    // candidate subset only: a window is a cross-doc duplicate iff the
    // global doc-id range it spans is non-degenerate. The candidate set
    // is ∝ true duplicates, so it broadcasts here; a corpus whose dup
    // set outgrows broadcast shuffles this join on h1 instead.
    val dup = runs.join(broadcast(cand), Seq("h1"))
      .groupBy($"h1", $"h2")
      .agg(min($"lo").as("glo"), max($"hi").as("ghi"))
      .where($"glo" =!= $"ghi")
      .select($"h1", $"h2")
    // stage 3: occurrences of confirmed duplicates only
    docs.as[(Long, Long, String)]
      .mapPartitions(SuffixDup.shardPositions).toDF()
      .join(broadcast(dup), Seq("h1", "h2"))
      .select($"doc_id", $"n_chars", $"pos")
  }

  private val g90 = graded(
    "g90_suffix_dup_spans", substringSpanOracle) { (spark, dir) =>
    mergeDupSpans(suffixDupPositions(spark, dir), SuffixDup.L)
  }

  // g91 — MAXIMAL DUPLICATED SPANS, the ExactSubstr CUT LIST: where
  // g87/g90 grade the per-doc coverage REPORT, this key emits the spans
  // themselves — (doc_id, span_start, span_len), each a MAXIMAL run of
  // CONSECUTIVE cross-doc-duplicated L-windows, covering chars
  // [span_start, span_start+span_len). A duplicated substring of any
  // length M ≥ L appears as exactly its M−L+1 consecutive duplicated
  // windows, so every maximal duplicated substring lies inside one
  // span, every span position starts a duplicated window, and
  // extending either endpoint adds a non-duplicated window — the
  // "maximal repeats of any length ≥ L" generalization of the
  // fixed-window report, and the byte ranges a substring-dedup pass
  // deletes. (The break is gap > 1, NOT g87/g90's coverage merge with
  // gap ≤ L: coverage-merged intervals conflate repeats up to L apart
  // and contain positions that are not duplicated windows, which would
  // make the cut list over-delete and the recoverability law false.)
  // Detector = g90's sharded suffix array unchanged (within-shard
  // collapse, slim h1 prefilter, broadcast-confirmed positions); only
  // the final walk differs, so SuffixDupSpec's recoverability law
  // (expanding the spans back to window positions reproduces the
  // confirmed-duplicate window set exactly) ties g91 to g87/g90's
  // contract. Oracle: the span-oracle chain emitting the consecutive
  // runs instead of their per-doc coverage rollup.
  private val g91 = graded(
    "g91_maximal_dup_spans",
    """WITH w0 AS (
      |  SELECT doc_id, n_chars,
      |    unnest(generate_series(1, n_chars - 23)) AS pos, text
      |  FROM documents WHERE n_chars >= 24),
      |w AS (
      |  SELECT doc_id, n_chars, pos, md5(substr(text, pos::INT, 24)) AS dig
      |  FROM w0),
      |p AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos,
      |      min(doc_id) OVER (PARTITION BY dig) AS lo,
      |      max(doc_id) OVER (PARTITION BY dig) AS hi
      |    FROM w) t
      |  WHERE lo <> hi),
      |m AS (
      |  SELECT doc_id, pos,
      |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |  FROM p),
      |g AS (
      |  SELECT doc_id, pos,
      |    sum(CASE WHEN prev IS NULL OR pos - prev > 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS blk
      |  FROM m),
      |u AS (
      |  SELECT doc_id, blk, min(pos) AS s, max(pos) AS e
      |  FROM g GROUP BY doc_id, blk)
      |SELECT doc_id, s::BIGINT AS span_start,
      |  (e - s + 24)::BIGINT AS span_len
      |FROM u ORDER BY doc_id, span_start""".stripMargin) { (spark, dir) =>
    val L = SuffixDup.L
    val wl = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val run = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    suffixDupPositions(spark, dir)
      .withColumn("prev", lag(col("pos"), 1).over(wl))
      .withColumn("blk",
        sum(when(col("prev").isNull || col("pos") - col("prev") > 1, 1)
          .otherwise(0)).over(run).cast("bigint"))
      .groupBy(col("doc_id"), col("blk"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"))
      .select(col("doc_id"), col("s").cast("bigint").as("span_start"),
        (col("e") - col("s") + L).cast("bigint").as("span_len"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  // g88 — DEDUP-CATALOG UPDATE CYCLE, the maintenance write-path g36/g79
  // only read from: those keys grade "new batch vs existing catalog";
  // this one grades the catalog's own life cycle — (1) base catalog of
  // fingerprints written as a real parquet table, (2) the arriving batch
  // anti-joined against the catalog AS READ FROM DISK and its genuinely
  // new fingerprints APPENDED (a5's append discipline — the catalog
  // grows by delta files, never a rewrite of history), (3) an a6-style
  // COMPACTION pass rewriting the accumulated files sorted by
  // fingerprint, (4) the graded row is the READ-BACK of the compacted
  // catalog — one row dropped/duplicated anywhere in the cycle and the
  // hash mismatches. Base/delta split is data-derived (doc_id ≤
  // ⌊2·max/3⌋), restated identically in the oracle. Scale notes: the
  // anti-join keys on 16-byte digests (never text); at 100 TB the
  // catalog is bucketed by fp so the per-ingest anti-join is
  // shuffle-free on the catalog side, and compaction is the scheduled
  // job that keeps delta-file count bounded — sorting by fp on rewrite
  // is the clustering that makes the NEXT cycle's probe prune files.
  private val g88 = graded(
    "g88_catalog_update",
    """WITH mx AS (SELECT (max(doc_id) * 2) // 3 AS k FROM documents),
      |fps AS (SELECT doc_id, md5(text) AS fp FROM documents),
      |base AS (
      |  SELECT fp, min(doc_id) AS first_doc FROM fps, mx
      |  WHERE doc_id <= mx.k GROUP BY fp),
      |delta AS (
      |  SELECT f.fp, min(f.doc_id) AS first_doc
      |  FROM fps f, mx
      |  WHERE f.doc_id > mx.k
      |    AND NOT EXISTS (SELECT 1 FROM base b WHERE b.fp = f.fp)
      |  GROUP BY f.fp)
      |SELECT fp, first_doc, origin FROM (
      |  SELECT fp, first_doc, 'base' AS origin FROM base
      |  UNION ALL
      |  SELECT fp, first_doc, 'delta' AS origin FROM delta) c
      |ORDER BY fp""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // each invocation grades a fresh cycle
    val cat = graft.sources.TmpDirs.fresh(snapshotRoot, dir, "catalog")
    val (base, delta) = fpSplit(spark, dir)
    base.withColumn("origin", lit("base"))
      .write.mode("overwrite").parquet(s"$cat/store")
    // the UPDATE: probe the catalog as it exists ON DISK, append only
    // genuinely new fingerprints
    delta(spark.read.parquet(s"$cat/store"))
      .withColumn("origin", lit("delta"))
      .write.mode("append").parquet(s"$cat/store")
    // compaction: rewrite the accumulated base+delta files clustered by
    // fp. repartition(1) + sortWithinPartitions makes the per-FILE sort
    // the write-path contract (sort+coalesce(1) would collapse the sort
    // into one partition and lean on partition-concatenation order —
    // implementation behavior, not a guarantee); one file is this
    // corpus's file-count target, production sizes by maxRecordsPerFile
    // and runs on a schedule, a6's discipline.
    spark.catalog.refreshByPath(s"$cat/store")
    spark.read.parquet(s"$cat/store")
      .repartition(1).sortWithinPartitions($"fp")
      .write.mode("overwrite").parquet(s"$cat/compacted")
    spark.read.parquet(s"$cat/compacted")
      .select($"fp", $"first_doc", $"origin")
      .orderBy($"fp")
  }

  // g89 — LSH S-CURVE CALIBRATION: the empirical detection-probability
  // curve of the banded MinHash detector as a function of TRUE Jaccard —
  // the tuning artifact that decides (bands, rows) before a 100 TB dedup
  // run (g49 grades the detector as one precision/recall scalar; this
  // grades the whole curve, so a threshold move is a table lookup, not a
  // rerun). Detector: g47's k=8 signature (md5-derived 32-bit token
  // hashes, affine rehashes over the >2^32 prime) split into 4 bands of
  // 2 rows — detected ⟺ some band agrees on BOTH components; theory says
  // P(detect) = 1 − (1 − j²)⁴. Ground truth: exact token-set Jaccard via
  // the sorted two-pointer kernel (g2's injective-hash rule) over the
  // banded id-window pair universe — the same declared-universe division
  // of labor as g2 (the curve is a property of pairs, not of corpus-wide
  // recall). Per Jaccard decile: pair count, detected count, empirical
  // rate (int/int quotient — IEEE-identical cross-engine), and the
  // theoretical rate at the decile midpoint spelled as explicit
  // left-associated multiplications (NO pow() — engines may differ in
  // the last ulp of pow, multiplication is deterministic IEEE).
  // Shape at scale: one token shuffle for signatures + sets, one bucket
  // equi-join (never n²), then a ≤10-row groupBy; signatures ride the
  // join as 8 longs, sets as int64 arrays.
  private val g89 = graded(
    "g89_lsh_s_curve", {
      val mins = mhAB8.zipWithIndex.map { case ((a, b), i) =>
        s"min(($a * h + $b) % $mhP) AS mh$i"
      }.mkString(",\n      |    ")
      val bands = (0 until 4).map(bnd =>
        s"(sa.mh${2 * bnd} = sb.mh${2 * bnd} AND sa.mh${2 * bnd + 1} = sb.mh${2 * bnd + 1})")
        .mkString(" OR ")
      s"""WITH tok AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
      |  FROM documents),
      |w AS (SELECT doc_id, unnest(t) AS word FROM tok),
      |hashed AS (
      |  SELECT doc_id, ${duckHex8("md5(word)")} AS h FROM w),
      |sig AS (
      |  SELECT doc_id,
      |    $mins
      |  FROM hashed GROUP BY doc_id),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.t, b.t))::DOUBLE /
      |      (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)))::DOUBLE
      |      AS jac
      |  FROM tok a JOIN tok b
      |    ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 150),
      |d AS (
      |  SELECT least(floor(p.jac * 10), 9)::BIGINT AS jac_bucket,
      |    CASE WHEN $bands THEN 1 ELSE 0 END AS det
      |  FROM p
      |  JOIN sig sa ON sa.doc_id = p.doc_a
      |  JOIN sig sb ON sb.doc_id = p.doc_b),
      |g AS (
      |  SELECT jac_bucket, count(*)::BIGINT AS n_pairs,
      |    sum(det)::BIGINT AS n_detected
      |  FROM d GROUP BY jac_bucket)
      |SELECT jac_bucket, n_pairs, n_detected,
      |  round(n_detected::DOUBLE / n_pairs::DOUBLE, 6) AS det_rate,
      |  round(1 - (1 - m * m) * (1 - m * m) * (1 - m * m) * (1 - m * m),
      |    6) AS theo_rate_mid
      |FROM (SELECT *, (jac_bucket + 0.5) / 10.0 AS m FROM g)
      |ORDER BY jac_bucket""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.sortedIntersectSize)
    val docs = Tables.documentsDist(spark, dir)
      .select($"doc_id", array_distinct(Tokens.words($"text")).as("t"))
    val (a, b) = sigSetSides(docs)
    val detected = (0 until 4).map { bnd =>
      (col(s"mh${2 * bnd}_a") === col(s"mh${2 * bnd}_b")) &&
        (col(s"mh${2 * bnd + 1}_a") === col(s"mh${2 * bnd + 1}_b"))
    }.reduce(_ || _)
    val m = ($"jac_bucket".cast("double") + 0.5) / 10.0
    val oneBand = lit(1.0) - m * m
    Banding.bandedPairs(a, b, "doc_id_a", "doc_id_b", 150)
      .withColumn("inter",
        expr("cast(sorted_intersect_size(ts_a, ts_b) as double)"))
      .withColumn("jac",
        $"inter" / (size($"ts_a") + size($"ts_b") - $"inter"))
      .select(least(floor($"jac" * 10), lit(9)).cast("bigint")
        .as("jac_bucket"),
        when(detected, 1L).otherwise(0L).as("det"))
      .groupBy($"jac_bucket")
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        sum($"det").cast("bigint").as("n_detected"))
      .withColumn("det_rate",
        round($"n_detected".cast("double") / $"n_pairs".cast("double"), 6))
      .withColumn("theo_rate_mid",
        round(lit(1.0) - oneBand * oneBand * oneBand * oneBand, 6))
      .select($"jac_bucket", $"n_pairs", $"n_detected", $"det_rate",
        $"theo_rate_mid")
      .orderBy("jac_bucket")
  }

  val defs: Seq[QueryDef] = Seq(g1, g2, g3, g8, g13, g14, g15, g16, g18,
    g19, g22, g24, g34, g40, g46, g47, g49, g54, g63, g75, g79, g81, g83,
    g84, g85, g87, g88, g89, g90, g91, g96, a21)
}
