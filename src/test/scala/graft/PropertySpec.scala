package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

/** Property-based invariants (SURVEY §5.3) — algebraic laws that must hold
  * for ANY input, checked over scalacheck-generated corpora:
  * dedup idempotence, Jaccard bounds/symmetry, rollup row-count law,
  * connected-components label laws.
  */
class PropertySpec extends SparkSpec {

  /** Run a scalacheck property and fail the scalatest test on falsification. */
  private def check(prop: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else a.intersect(b).size.toDouble / a.union(b).size.toDouble

  test("jaccard is symmetric, bounded, and 1 iff equal (on generated token sets)") {
    val tok = Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.toSet)
    check(Prop.forAll(tok, tok) { (a: Set[String], b: Set[String]) =>
      val j = jaccard(a, b)
      j >= 0.0 && j <= 1.0 && j == jaccard(b, a) && ((j == 1.0) == (a == b))
    })
  }

  test("Tokens: ngrams equal a sliding(n) reference, short docs give no grams; " +
      "words keeps empty tokens between repeated spaces") {
    import spark.implicits._
    val tok = Gen.oneOf("a", "b", "c", "")
    for (n <- Seq(2, 3, 13)) {
      // two generated token arrays per length 0 … n+2: below n the guard
      // must yield an empty array (without it sequence() counts down)
      val docs = for (len <- 0 to n + 2; _ <- 1 to 2)
        yield Gen.listOfN(len, tok).sample.get
      val got = docs.toDF("w")
        .select($"w", pipeline.Tokens.ngrams("w", n).as("g"))
        .collect().map(r => r.getSeq[String](0) -> r.getSeq[String](1))
      assert(got.length === docs.length)
      for ((w, g) <- got) {
        val expected =
          if (w.length < n) Seq.empty else w.sliding(n).map(_.mkString(" ")).toSeq
        assert(g === expected, s"n=$n words=$w")
      }
    }
    // DuckDB's string_split(text, ' ') gives the same three tokens; a
    // switch to a \s+ regex would drop the empty one and break parity
    val split = Seq("a  b").toDF("text")
      .select(pipeline.Tokens.words($"text")).head().getSeq[String](0)
    assert(split === Seq("a", "", "b"))
  }

  test("width_bucket equals d17's oracle floor arithmetic, boundaries included") {
    import spark.implicits._
    // exact bucket-edge values (multiples of the 25000.0 width) are the
    // hazard: if Spark's width_bucket divided in a different order than
    // floor((v-lo)/((hi-lo)/n)), a cent landing exactly on an edge would
    // flip buckets between the engines. Generated cents + explicit edges.
    val edges = (0 to 24).map(_ * 25000.0)
    val cents = Gen.listOfN(300, Gen.choose(0L, 60000000L)).sample.get
      .map(_ / 100.0)
    val df = (edges ++ cents ++ Seq(24999.99, 25000.01, 599999.99)).toDF("v")
      .selectExpr("v",
        "width_bucket(v, 0.0, 600000.0, 24) AS wb",
        "cast(floor((v - 0.0) / ((600000.0 - 0.0) / 24)) + 1 as bigint) AS fl")
    assert(df.where("wb <> fl").count() === 0)
  }

  test("g33 int8 quantization: codes bounded, reconstruction error <= scale/254") {
    import spark.implicits._
    val vecs = Gen.listOfN(40, Gen.listOfN(8,
      Gen.choose(-1000, 1000).map(_ / 250.0f))).sample.get
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    // same expressions as the g33 query body
    val q = df
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
      .selectExpr("vec_id", "v", "array_max(transform(v, x -> abs(x))) AS scale")
      .selectExpr("vec_id", "v", "scale",
        """transform(v, x -> CASE WHEN scale = 0D THEN 0L
          |  ELSE cast(floor(x / scale * 127.0 + 0.5) as bigint) END) AS qv"""
          .stripMargin)
    val rows = q.collect()
    for (r <- rows) {
      val v = r.getSeq[Double](1)
      val scale = r.getDouble(2)
      val qv = r.getSeq[Long](3)
      assert(qv.forall(c => c >= -127 && c <= 127),
        s"code out of int8 range: $qv")
      if (scale > 0) {
        val maxErr = v.zip(qv).map { case (x, c) =>
          math.abs(c * scale / 127.0 - x) }.max
        // worst case = half a quantization step = scale/127/2
        assert(maxErr <= scale / 254.0 + 1e-12, s"err $maxErr vs ${scale / 254.0}")
      }
    }
  }

  test("exact dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    import spark.implicits._
    val rows = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 14L), Gen.choose(0L, 4L))).sample.get
    val df = rows.toDF("k", "v")
    def dedup(d: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"k").orderBy($"v", $"k")
      d.withColumn("rn", row_number().over(w)).where($"rn" === 1).drop("rn")
    }
    val once = dedup(df).collect().toSet
    val twice = dedup(dedup(df)).collect().toSet
    assert(once.map(r => (r.getLong(0), r.getLong(1))) ===
      twice.map(r => (r.getLong(0), r.getLong(1))))
  }

  test("rollup row-count law: |rollup| == |groups| + |first-key groups| + 1") {
    import spark.implicits._
    val rows = Gen.listOfN(80,
      Gen.zip(Gen.oneOf("x", "y", "z"), Gen.choose(0, 3))).sample.get
    val df = rows.toDF("a", "b")
    val full = df.groupBy($"a", $"b").count().count()
    val firstOnly = df.groupBy($"a").count().count()
    val rolled = df.rollup($"a", $"b").count().count()
    assert(rolled === full + firstOnly + 1)
  }

  test("components: rep <= id, rep is a member, labels constant across edges") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 29L), Gen.choose(0L, 29L))).map(_.filter(e => e._1 != e._2))
    val edges = edgeGen.sample.get
    val nodes = (0L until 30L)
    // the session default finishes this graph on the driver, -1 forces
    // the label loop, and a threshold one edge row under the edge list
    // takes the loop path and finishes its first quotient on the driver
    // when that fits: the law holds on all three paths, with equal labels
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val quotientFinish = math.max(0L, 16L * (edges.size - 1)).toString
    val runs = for (t <- Seq(spark.conf.get(threshold), "-1", quotientFinish))
      yield withConf(threshold -> t) {
        val labels = operators.Components.connectedComponents(
          nodes.toDF("id"), edges.toDF("s", "d"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(labels.keySet === nodes.toSet)            // exactly one row per node
        assert(labels.forall { case (id, rep) => rep <= id }) // min-based label
        assert(labels.values.forall(labels.keySet.contains))  // rep is a real node
        assert(edges.forall { case (s, d) => labels(s) == labels(d) }) // fixpoint
        assert(labels.forall { case (_, rep) => labels(rep) == rep })  // rep is root
        labels
      }
    assert(operators.Components.lastPath.loop)
    assert(runs.distinct.size === 1)
  }

  test("h12 interval-union laws: merged covers inputs, busy bounded by span") {
    import spark.implicits._
    // laws on the real corpus: for every user, merged block count never
    // exceeds interval count, busy time is positive and bounded by the
    // longest block times the block count, and the longest block is at
    // least as long as the longest single interval's floor duration
    val rows = GradedRuns.rows("h12_interval_union")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nMerged, nIv, busy, longest) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nMerged >= 1 && nMerged <= nIv)
      assert(busy >= 0 && longest >= 0 && longest <= busy)
      assert(busy <= longest * nMerged) // each block <= longest block
    }
  }

  test("h11 streak laws: longest <= active days, streaks partition the days") {
    val rows = GradedRuns.rows("h11_streaks")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nStreaks, longest, nDays) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nStreaks >= 1 && longest >= 1)
      // streak lengths partition the active days: the longest plus one
      // day for each other streak can't exceed the total, and nStreaks
      // copies of the longest must cover it
      assert(longest + (nStreaks - 1) <= nDays)
      assert(longest * nStreaks >= nDays)
    }
  }

  test("h14 z-score laws: anomalies <= scored, max |z| >= 2 iff any anomaly") {
    val rows = GradedRuns.rows("h14_rolling_zscore")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (scored, anom, maxZ) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(anom >= 0 && anom <= scored)
      assert(maxZ >= 0.0)
      // the per-user max |z| exceeds the threshold exactly when at least
      // one row crossed it — threshold and max are computed on the same
      // rounded values, so the equivalence is exact, not approximate
      assert((maxZ > 2.0) == (anom > 0))
    }
  }

  test("h15 attribution laws: touch precedes purchase, ids distinct") {
    val rows = GradedRuns.rows("h15_attribution")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (purchase, touch, touchType, gap) =
        (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))
      assert(gap >= 0, s"purchase $purchase: negative gap")
      assert(touch != purchase)
      assert(touchType == "view" || touchType == "click")
    }
    // each purchase is attributed at most once
    val ids = rows.map(_.getLong(1))
    assert(ids.distinct.length == ids.length)
  }

  test("h16 ewma laws: smoother is a convex combination of its window") {
    import spark.implicits._
    // ewma of each row lies within [min, max] of the 10-row window that
    // produced it (convexity: the weights are positive and normalized).
    // The window is ordered by EVENT TIME (ts, event_id), which differs
    // from event_id order — events arrive out of order (h13 measures
    // exactly that) — so the test re-sorts by the raw table's timestamps
    // before slicing.
    val us = graft.sources.Tables(spark, sfDir, "events")
      .selectExpr("event_id", "ts div 1000 as us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = GradedRuns.rows("h16_ewma")
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getLong(0))
    for ((_, rs) <- byUser) {
      val ordered = rs.sortBy(r => (us(r.getLong(1)), r.getLong(1)))
      val vals = ordered.map(_.getDouble(2))
      val ew = ordered.map(_.getDouble(3))
      for (i <- ordered.indices) {
        val win = vals.slice(math.max(0, i - 9), i + 1)
        // 0.01 slack: the value column is rounded to 2dp for display
        // while the ewma consumed the unrounded doubles
        assert(ew(i) >= win.min - 0.01 && ew(i) <= win.max + 0.01,
          s"ewma ${ew(i)} outside window [${win.min}, ${win.max}]")
      }
    }
  }

  test("d20 sketch mergeability: union of group sketches == direct sketch") {
    import spark.implicits._
    // the law that makes sketches usable in a two-level aggregation
    // tree: register-wise union of per-group HLL sketches estimates
    // exactly what one sketch over the whole table estimates
    val li = graft.sources.Tables(spark, sfDir, "lineitem")
    val viaUnion = li.groupBy($"l_returnflag")
      .agg(expr("hll_sketch_agg(l_partkey)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .head().getLong(0)
    val direct = li
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(l_partkey))").as("est"))
      .head().getLong(0)
    assert(viaUnion == direct,
      s"merged estimate $viaUnion != direct estimate $direct")
    // and the estimate is a real approximation of the truth (<= 5% here)
    val exact = li.select(countDistinct($"l_partkey")).head().getLong(0)
    assert(math.abs(viaUnion - exact).toDouble / exact <= 0.05,
      s"estimate $viaUnion vs exact $exact exceeds 5%")
  }

  test("g48 chunk laws: stride spine, bounded sizes, exact tail coverage") {
    val rows = GradedRuns.rows("g48_chunk_overlap")
    assert(rows.nonEmpty)
    for ((_, rs) <- rows.groupBy(_.getLong(0))) {
      val cs = rs.sortBy(_.getLong(1))
      // chunk ids are a dense 0..k spine; starts advance by the stride
      for ((r, i) <- cs.zipWithIndex) {
        assert(r.getLong(1) === i.toLong)
        assert(r.getLong(2) === 1L + 24L * i) // start_tok
        assert(r.getLong(3) >= 1L && r.getLong(3) <= 32L) // n_tok
      }
      // every chunk but the last is full-size
      for (r <- cs.init) assert(r.getLong(3) === 32L)
      // the ceil spine never emits a redundant tail: a non-first last
      // chunk always contributes > overlap (8) NEW tokens
      if (cs.length > 1) assert(cs.last.getLong(3) >= 9L)
    }
  }

  test("g47 estimator laws: est is m/8, jac and err in [0,1], err consistent") {
    val rows = GradedRuns.rows("g47_minhash_est")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (est, jac, err) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(math.abs(est * 8 - math.round(est * 8)) < 1e-9) // m/8 grid
      assert(est >= 0 && est <= 1 && jac >= 0 && jac <= 1)
      assert(math.abs(err - math.abs(est - jac)) < 2e-6) // round-tolerant
    }
  }

  test("g49 eval laws: counts consistent with precision/recall quotients") {
    val r = GradedRuns.rows("g49_dedup_eval").head
    val (tp, fp, fn) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(tp >= 0 && fp >= 0 && fn >= 0 && tp + fn > 0)
    assert(math.abs(r.getDouble(3) - tp.toDouble / (tp + fp)) < 1e-6)
    assert(math.abs(r.getDouble(4) - tp.toDouble / (tp + fn)) < 1e-6)
  }

  test("g50 bloom laws: zero false negatives, bounded FPR, merge-order invariance") {
    import spark.implicits._
    for (f <- Seq(GraftExtensions.bloomAgg, GraftExtensions.bloomMightContain)) {
      val (name, info, builder) = f
      spark.sessionState.functionRegistry.registerFunction(name, info, builder)
    }
    // synthetic keyspace with a GUARANTEED overlap (the corpus-derived
    // fixture can have few/no members at small sf): corpus = 1..2000,
    // probes = 1001..6000 → members 1001..2000, non-members 2001..6000
    val corpus = (1L to 2000L).toDF("k")
    val probes = (1001L to 6000L).toDF("k")
    corpus.createOrReplaceTempView("g50_law_corpus")
    probes.createOrReplaceTempView("g50_law_probes")
    def confusion(nItems: Long, nBits: Long, corpusView: String): (Long, Long) = {
      val r = spark.sql(
        s"""SELECT
           |  sum(CASE WHEN k <= 2000 AND NOT hit THEN 1 ELSE 0 END) AS fn,
           |  sum(CASE WHEN k > 2000 AND hit THEN 1 ELSE 0 END) AS fp
           |FROM (SELECT k, bloom_might_contain(
           |    (SELECT bloom_agg(xxhash64(k), ${nItems}L, ${nBits}L)
           |     FROM $corpusView), xxhash64(k)) AS hit
           |  FROM g50_law_probes)""".stripMargin).head()
      (r.getLong(0), r.getLong(1))
    }
    // law 1: NO false negative at any sizing — even a filter at 10% of
    // the honest bit budget may only trade false-positive rate
    for ((items, bits) <- Seq((2000L, 16000L), (2000L, 1600L))) {
      val (fn, _) = confusion(items, bits, "g50_law_corpus")
      assert(fn == 0L, s"bloom false negative at sizing ($items, $bits)")
    }
    // law 2: FPR bounded — 8 bits/item ≈ 2% theoretical; assert ≤ 5%
    // (slack for hash-family variance) over 4000 non-member probes
    val (_, fp8) = confusion(2000L, 16000L, "g50_law_corpus")
    assert(fp8 <= 200L, s"FPR ${fp8 / 4000.0} exceeds 5% at 8 bits/item")
    // law 3: merge-order invariance — the OR-merge of per-partition
    // partial filters gives bit-identical verdicts whether the build ran
    // on 1 partition or scattered over 16 (the distributive-build claim)
    corpus.repartition(16).createOrReplaceTempView("g50_law_corpus16")
    val one = confusion(2000L, 16000L, "g50_law_corpus")
    val many = confusion(2000L, 16000L, "g50_law_corpus16")
    assert(one == many, s"partition count changed bloom verdicts: $one vs $many")
  }

  test("e10 discovery-curve laws: nondecreasing per user, bounded by 5 types") {
    val rows = GradedRuns.frame("e10_win_distinct")
      .orderBy("user_id", "event_id").collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getLong(0))
    for ((_, rs) <- byUser) {
      val curve = rs.map(_.getLong(2))
      assert(curve.head >= 1 && curve.last <= 5)
      // ordering within a user follows event_id, which is the window's
      // tiebreaker within equal timestamps but not its primary order —
      // so check monotonicity on the (ts, event_id)-ordered output only
      // via the weaker global bound here; exact monotone law holds on
      // the window's own order, pinned by the oracle parity
      assert(curve.max <= 5 && curve.min >= 1)
    }
  }

  test("a15 SCD2 laws: one current row per key, contiguous change-only intervals") {
    val rows = GradedRuns.rows("a15_scd2")
    assert(rows.nonEmpty)
    for ((_, rs0) <- rows.groupBy(_.getLong(0))) {
      // timestamps are NTZ → LocalDateTime rows
      def t(r: org.apache.spark.sql.Row, i: Int) =
        r.getAs[java.time.LocalDateTime](i)
      val rs = rs0.sortBy(r =>
        t(r, 2).toEpochSecond(java.time.ZoneOffset.UTC))
      // exactly one open interval, and it is the last one
      assert(rs.count(_.isNullAt(3)) == 1 && rs.last.isNullAt(3))
      for (Array(a, b) <- rs.sliding(2).filter(_.length == 2)) {
        // closed intervals: [from, to) with to == next.from (contiguous)
        assert(t(a, 3) == t(b, 2))
        // a version is cut only on CHANGE: consecutive attrs differ
        assert(a.getString(1) != b.getString(1))
      }
      for (r <- rs if !r.isNullAt(3))
        assert(t(r, 2).isBefore(t(r, 3)))
    }
  }

  test("r8 funnel law: gate survivors are monotone non-increasing") {
    val rows = GradedRuns.rows("r8_report_curation_funnel")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val counts = (1 to 5).map(r.getLong)
      assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
        s"funnel not monotone for lang ${r.getString(0)}: $counts")
      assert(counts.last >= 0)
    }
  }

  test("d22 equi-depth laws: 8 buckets per flag, sizes within 1, disjoint ranges") {
    val rows = GradedRuns.rows("d22_equidepth_hist")
    assert(rows.nonEmpty)
    for ((_, rs0) <- rows.groupBy(_.getString(0))) {
      val rs = rs0.sortBy(_.getInt(1))
      assert(rs.map(_.getInt(1)).toSeq == (1 to 8))
      val sizes = rs.map(_.getLong(2))
      assert(sizes.max - sizes.min <= 1, s"not equi-depth: ${sizes.toSeq}")
      // ntile's remainder goes to the FIRST buckets
      assert(sizes.sameElements(sizes.sortBy(-(_: Long))))
      for (r <- rs) assert(r.getDouble(3) <= r.getDouble(4))
      for (Array(a, b) <- rs.sliding(2).filter(_.length == 2))
        assert(a.getDouble(4) <= b.getDouble(3),
          s"bucket value ranges overlap: ${a.getDouble(4)} > ${b.getDouble(3)}")
    }
  }

  test("g51 pagerank laws: rank bounded by damping floor and total mass") {
    val rows = GradedRuns.rows("g51_pagerank")
    assert(rows.length == 25)
    val ranks = rows.map(_.getLong(2))
    // floor: an inbound-free node keeps exactly the 0.15 base; ceiling:
    // no node can hold more than the whole graph's initial mass
    assert(ranks.forall(r => r >= 150000L && r <= 25L * 1000000L))
    // presentation order is rank-descending
    assert(ranks.sameElements(ranks.sortBy(-(_: Long))))
  }

  test("g52 oov laws: counts nested, basis points are the floor quotient") {
    val rows = GradedRuns.rows("g52_oov_rate")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nTok, nOov, bp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nOov >= 0 && nOov <= nTok && nTok > 0)
      assert(bp == 10000L * nOov / nTok && bp >= 0 && bp <= 10000)
    }
  }

  test("g53 bucket laws: per-lang tertiles within 1, head scores >= tail scores") {
    val rows = GradedRuns.rows("g53_perplexity_bucket")
    assert(rows.nonEmpty)
    for ((_, rs) <- rows.groupBy(_.getString(1))) {
      val by = rs.groupBy(_.getString(3)).view.mapValues(_.length).toMap
      assert(by.keySet == Set("head", "middle", "tail"))
      assert(by.values.max - by.values.min <= 1, s"tertiles uneven: $by")
      def scores(b: String) = rs.filter(_.getString(3) == b).map(_.getDouble(2))
      assert(scores("head").min >= scores("middle").max ||
        scores("head").min >= scores("middle").min) // ties split at the edge
      assert(scores("middle").min >= scores("tail").max ||
        scores("middle").min >= scores("tail").min)
    }
  }

  test("g54 canonicalization laws: every 3-variant group collapses, output clean") {
    val rows = GradedRuns.rows("g54_url_dedup")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val canonical = r.getString(0)
      assert(r.getLong(1) == 3 && r.getLong(2) == 3)
      assert(canonical == canonical.toLowerCase)
      assert(!canonical.contains("utm_") && !canonical.contains("#")
        && !canonical.contains(":443") && !canonical.endsWith("/"))
    }
  }

  test("a16 PIT law: every fact matches exactly one dimension version") {
    val n = GradedRuns.rows("a16_pit_lookup").length.toLong
    val nOrders = graft.sources.Tables.orders(spark, sfDir).count()
    assert(n == nOrders, s"PIT join emitted $n rows for $nOrders facts")
    assert(GradedRuns.rows("a1_scan_project").nonEmpty) // guard: corpus loaded
  }

  test("c17 tolerance laws: match precedes click and is within 3 days or NULL") {
    val rows = GradedRuns.rows("c17_join_asof_tolerance")
    assert(rows.nonEmpty && rows.exists(!_.isNullAt(2))
      && rows.exists(_.isNullAt(2))) // both arms exercised
    for (r <- rows if !r.isNullAt(2)) assert(!r.isNullAt(3))
  }

  test("g56 hard-negative law: every mined negative has a different label") {
    val rows = GradedRuns.rows("g56_hard_negatives")
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getInt(1) != r.getInt(4)) // qlabel != neg_label
      assert(r.getInt(2) >= 1 && r.getInt(2) <= 3)
    }
  }

  test("g57 eval law: accuracy is the floor quotient, correct nested in eval") {
    val rows = GradedRuns.rows("g57_knn_eval")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, c, bp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(c >= 0 && c <= n && bp == 10000L * c / n)
    }
    assert(rows.map(_.getLong(1)).sum == 100) // eval set fully accounted
  }

  test("h18 rolling-active laws: wau bounds dau, both positive") {
    val rows = GradedRuns.rows("h18_rolling_dau")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (dau, wau) = (r.getLong(1), r.getLong(2))
      assert(dau >= 1 && wau >= dau) // 7-day distinct can't undercut 1-day
    }
  }

  test("r9 rulebook laws: real violations zero, every banded detector fires") {
    val rows = GradedRuns.rows("r9_check_constraints")
    assert(rows.length == 3)
    for (r <- rows) {
      assert(r.getLong(2) == 0, s"real violations in ${r.getString(0)}")
      assert(r.getLong(3) > 0, s"banded detector silent in ${r.getString(0)}")
    }
  }

  test("d25 weighted-median law: at least half the weight sits at or below it") {
    import spark.implicits._
    val med = GradedRuns.rows("d25_weighted_median")
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(sum($"l_quantity").as("tw"),
        sum(when($"l_extendedprice" <= lit(0), 0.0)).as("z"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((flag, m) <- med) {
      val below = graft.sources.Tables.lineitem(spark, sfDir)
        .where($"l_returnflag" === flag && round($"l_extendedprice", 2) <= m)
        .agg(sum($"l_quantity")).collect()(0).getDouble(0)
      assert(below >= li(flag) / 2.0,
        s"$flag: weight at/below median $below < half of ${li(flag)}")
    }
  }

  test("g58 corruption laws: span count is the stride ceiling, output shrinks") {
    val rows = GradedRuns.rows("g58_span_corruption")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nTok, nSpans, nOut) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nSpans == (nTok + 9) / 10)
      // each span drops 2 tokens and adds 1 sentinel — except a span
      // starting on the final token drops only 1
      assert(nOut >= nTok - 2 * nSpans + nSpans && nOut <= nTok - nSpans + 1)
    }
  }

  test("g66 kmeans-step laws: partition of the corpus, 64 dims per cluster") {
    import spark.implicits._
    val rows = GradedRuns.rows("g66_kmeans_step")
    assert(rows.nonEmpty)
    val n = graft.sources.Tables.embeddings(spark, sfDir).count()
    // within a cluster every dim row carries the same member count; the
    // E-step assigns each vector exactly once, so per dim the member
    // counts across clusters partition the corpus
    val byCluster = rows.groupBy(_.getLong(0))
    for ((c, rs) <- byCluster) {
      assert(rs.map(_.getInt(1)).sorted.toSeq == (0 until 64),
        s"cluster $c does not carry exactly dims 0..63")
      assert(rs.map(_.getLong(3)).distinct.size == 1,
        s"cluster $c has dim-dependent member counts")
    }
    val perDim = rows.filter(_.getInt(1) == 0).map(_.getLong(3)).sum
    assert(perDim == n, s"members sum $perDim != corpus size $n")
  }

  test("g67 BM25 laws: ranks are 1..k with scores non-increasing per term") {
    val rows = GradedRuns.rows("g67_bm25")
    assert(rows.nonEmpty)
    for ((_, rs) <- rows.groupBy(_.getString(0))) {
      val byRank = rs.sortBy(_.getInt(4))
      assert(byRank.map(_.getInt(4)).toSeq == (1 to byRank.size),
        "ranks not dense 1..k")
      val scores = byRank.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        "bm25 not non-increasing in rank")
    }
  }

  test("g68 DSIR law: target-language docs score above the rest on average") {
    import spark.implicits._
    val w = GradedRuns.frame("g68_dsir_weights")
      .join(graft.sources.Tables.documents(spark, sfDir), "doc_id")
      .groupBy($"lang" === "en")
      .agg(avg($"dsir_logratio")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // the defining property of an importance weight: documents FROM the
    // target slice are likelier under the target LM than the background
    assert(w(true) > w(false),
      s"en mean ${w(true)} not above non-en mean ${w(false)}")
  }

  test("g70 coverage laws: curve monotone in cutoff, ppm bounded") {
    val rows = GradedRuns.rows("g70_vocab_coverage")
      .sortBy(_.getInt(0))
    assert(rows.length == 3)
    val (vu, cov, ppm) = (rows.map(_.getLong(1)), rows.map(_.getLong(2)),
      rows.map(_.getLong(3)))
    assert(vu.zip(vu.tail).forall { case (a, b) => a <= b })
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b })
    assert(ppm.zip(ppm.tail).forall { case (a, b) => a <= b })
    assert(ppm.forall(p => p > 0 && p <= 1000000L))
  }

  test("g71 novelty laws: bounded counts, the earliest doc is fully novel") {
    val rows = GradedRuns.rows("g71_ngram_novelty")
    assert(rows.nonEmpty)
    for (r <- rows)
      assert(r.getLong(2) <= r.getLong(1) &&
        r.getLong(3) == r.getLong(2) * 1000000L / r.getLong(1))
    val first = rows.minBy(_.getLong(0))
    assert(first.getLong(3) == 1000000L,
      s"earliest doc ${first.getLong(0)} not fully novel: ${first.getLong(3)}")
  }

  test("h23/h24/h25 integer-law consistency: quotients, grids, burst bar") {
    val churn = GradedRuns.rows("h23_inactivity_churn")
    assert(churn.nonEmpty)
    for (r <- churn)
      assert(r.getLong(2) <= r.getLong(1) &&
        r.getLong(3) == r.getLong(2) * 1000000L / r.getLong(1))
    val cells = GradedRuns.rows("h24_seasonal_profile")
    assert(cells.nonEmpty)
    for (r <- cells) {
      assert(r.getInt(1) >= 0 && r.getInt(1) <= 6)
      assert(r.getInt(2) >= 0 && r.getInt(2) <= 23)
      assert(r.getBoolean(5) == (r.getLong(4) > 2000000L))
    }
    // every emitted burst minute satisfies the exact integer bar
    for (r <- GradedRuns.rows("h25_burst_flags"))
      assert(2 * r.getLong(2) * r.getLong(3) > 3 * r.getLong(4))
  }

  test("d31 Mann–Whitney laws: U bounds, rank-sum floor, verdict consistency") {
    val r = GradedRuns.rows("d31_mann_whitney")
    assert(r.length == 1)
    val (n0, n1, r1x2, u1x2, z, reject) = (r(0).getLong(0), r(0).getLong(1),
      r(0).getLong(2), r(0).getLong(3), r(0).getDouble(4), r(0).getBoolean(5))
    // rank sums are bounded by the best/worst rank assignments
    assert(r1x2 >= n1 * (n1 + 1), "rank sum below its minimum")
    assert(r1x2 <= n1 * (2 * (n0 + n1) - n1 + 1), "rank sum above its maximum")
    // 0 <= U1 <= n0*n1 (doubled form)
    assert(u1x2 >= 0 && u1x2 <= 2 * n0 * n1, s"U out of range: $u1x2")
    assert(reject == (math.abs(z) > 1.96), "verdict not derived from z")
  }

  test("d32 Cramér's V laws: bounded in [0,1], strength matches thresholds") {
    val r = GradedRuns.rows("d32_cramers_v")
    assert(r.length == 1)
    val (rdim, cdim, v, s) =
      (r(0).getLong(1), r(0).getLong(2), r(0).getDouble(4), r(0).getString(5))
    assert(rdim >= 2 && cdim >= 2, "degenerate contingency")
    assert(v >= 0.0 && v <= 1.0, s"V out of [0,1]: $v")
    val expected = if (v < 0.1) "negligible" else if (v < 0.3) "weak"
      else if (v < 0.5) "moderate" else "strong"
    assert(s == expected, s"strength label $s != $expected for V=$v")
  }

  test("r12 skew laws: max>=mean, ppm bounded, verdict derived from ratio") {
    val rows = GradedRuns.rows("r12_skew_report")
    assert(rows.length == 5)
    for (r <- rows) {
      val (nRows, nKeys, maxN, top1, skew, flag) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))
      assert(nKeys >= 1 && nKeys <= nRows)
      assert(maxN * nKeys >= nRows, "max below the mean is impossible")
      assert(top1 >= 0 && top1 <= 1000000L)
      assert(skew >= 1000L, "max/mean ratio below 1 is impossible")
      assert(flag == (skew > 10000L))
    }
  }

  test("h26 gap laws: quantiles ordered, positive, gap count bounds") {
    val rows = GradedRuns.rows("h26_gap_quantiles")
    assert(rows.nonEmpty)
    val totalGaps = rows.map(_.getLong(1)).sum
    val nEvents = sources.Tables(spark, sfDir, "events").count()
    // one gap per event except each user's first (gaps counted per type)
    assert(totalGaps < nEvents)
    for (r <- rows) {
      val (p50, p90, p99) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(p50 >= 0.0 && p50 <= p90 && p90 <= p99,
        s"quantiles not ordered for ${r.getString(0)}: $p50/$p90/$p99")
    }
  }

  test("m10 phash near-dup laws: symmetric-free pairs, bounded hamming, " +
      "contains every identical-signature pair") {
    val pairs = GradedRuns.rows("m10_phash_neardup")
    for (r <- pairs) {
      assert(r.getLong(0) < r.getLong(1), "pair not canonically ordered")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 6, "hamming out of band")
    }
    // zero-distance completeness: identical signatures MUST be found
    // (the pigeonhole guarantee at its strongest point)
    val sigs = GradedRuns.rows("m9_media_phash")
      .groupBy(r => (r.getLong(1), r.getLong(2)))
    val expectedZero = sigs.values.map(g => g.length.toLong * (g.length - 1) / 2).sum
    val foundZero = pairs.count(_.getLong(2) == 0L)
    assert(foundZero == expectedZero,
      s"zero-distance pairs: found $foundZero, expected $expectedZero")
  }

  test("g73 coverage laws: n_docs<=n_occ, ppm bounded, counts descending") {
    val rows = GradedRuns.rows("g73_dup_ngram_coverage")
    assert(rows.nonEmpty && rows.length <= 20)
    val occs = rows.map(_.getLong(1))
    assert(occs.zip(occs.tail).forall { case (a, b) => a >= b },
      "top-20 not ordered by occurrence count")
    for (r <- rows) {
      assert(r.getLong(2) <= r.getLong(1), "doc count above occurrence count")
      assert(r.getLong(2) >= 1)
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000L)
      assert(r.getString(0).split(" ").length == 5, "not a 5-gram")
    }
  }

  test("e13 ignore-nulls laws: locf is null only before the first observation") {
    val rows = GradedRuns.rows("e13_win_ignore_nulls")
    assert(rows.nonEmpty)
    val byCust = rows.groupBy(_.getLong(0))
    for ((_, rs) <- byCust) {
      val ordered = rs.sortBy(_.getLong(1))
      var seen = false
      for (r <- ordered) {
        val v = if (r.isNullAt(2)) None else Some(r.getDouble(2))
        val locf = if (r.isNullAt(4)) None else Some(r.getDouble(4))
        if (v.isDefined) { seen = true; assert(locf == v, "locf must equal a present value") }
        else assert(locf.isDefined == seen, "locf null iff nothing observed yet")
      }
    }
  }

  test("d33 info-gain laws: 0 <= IG <= min(H), gain ratio in [0,1]") {
    val r = GradedRuns.rows("d33_infogain")
    assert(r.length == 1)
    val (hrf, hls, hcond, ig, gr) = (r(0).getDouble(0), r(0).getDouble(1),
      r(0).getDouble(2), r(0).getDouble(3), r(0).getDouble(4))
    assert(hrf >= 0 && hls >= 0 && hcond >= 0)
    assert(hcond <= hrf + 1e-9, "conditioning cannot raise entropy")
    assert(ig >= -1e-9 && ig <= math.min(hrf, hls) + 1e-9)
    assert(gr >= -1e-9 && gr <= 1.0 + 1e-9)
  }

  test("h27 path laws: shares bounded, paths are <=3 known event types") {
    val types = Set("click", "purchase", "error", "signup", "view")
    val rows = GradedRuns.rows("h27_top_paths")
    assert(rows.nonEmpty && rows.length <= 10)
    for (r <- rows) {
      val steps = r.getString(0).split(">")
      assert(steps.length >= 1 && steps.length <= 3)
      assert(steps.forall(types.contains), s"unknown type in ${r.getString(0)}")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 1000000L)
    }
  }

  test("g74 KN laws: probs in (0,1], per-context mass sums below 1") {
    val rows = GradedRuns.rows("g74_kn_smoothing")
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(2) >= 1 && r.getLong(3) >= r.getLong(2),
        "context total below bigram count")
      assert(r.getLong(4) >= 1 && r.getLong(5) >= 1)
      val p = r.getDouble(6)
      assert(p > 0.0 && p <= 1.0, s"pkn out of (0,1]: $p")
    }
  }

  test("r11 mix-report laws: ppm quotients exact, shares sum to ~1e6") {
    val rows = GradedRuns.rows("r11_mix_report")
    assert(rows.nonEmpty)
    val shareSum = rows.map(_.getLong(3)).sum
    // floor quotients: the sum can undershoot 1e6 by at most n_langs
    assert(shareSum <= 1000000L && shareSum >= 1000000L - rows.length)
    for (r <- rows)
      assert(r.getLong(4) <= r.getLong(1) &&
        r.getLong(5) == r.getLong(4) * 1000000L / r.getLong(1))
  }

  test("a19 IVM law: state merge equals full recompute, key-complete") {
    val merged = GradedRuns.rows("a19_incremental_agg")
    val full = sources.Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        sum(round(col("o_totalprice") * 100, 0).cast("bigint"))
          .cast("bigint").as("rev_cents"))
      .orderBy(col("o_custkey"))
    assert(merged.toSeq === full.collect().toSeq,
      "incremental merge diverged from the full recompute")
  }

  test("g77 stopword laws: df bounded by corpus size, flag consistent") {
    val n = sources.Tables.documents(spark, sfDir).count()
    val rows = GradedRuns.rows("g77_stopword_discovery")
    assert(rows.nonEmpty && rows.length <= 50)
    for (r <- rows) {
      val (df, ppm) = (r.getLong(1), r.getLong(2))
      assert(df >= 1 && df <= n)
      assert(ppm == df * 1000000L / n, "ppm quotient exact")
      assert(r.getBoolean(3) == (ppm > 800000L), "flag derived from ppm")
    }
    val dfs = rows.map(_.getLong(1))
    assert(dfs.zip(dfs.tail).forall { case (a, b) => a >= b }, "df descending")
  }

  test("m11 hamming-hist laws: bounded support, m10 cut consistent") {
    val rows = GradedRuns.rows("m11_phash_hamming_hist")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val h = r.getLong(0)
      assert(h >= 0 && h <= 16)
      assert(r.getLong(1) >= 1)
      assert(r.getBoolean(2) == (h <= 6))
    }
    // the histogram's admitted mass must equal m10's pair count
    val admitted = rows.filter(_.getBoolean(2)).map(_.getLong(1)).sum
    val m10 = GradedRuns.rows("m10_phash_neardup").length.toLong
    assert(admitted === m10, "hist mass under the cut != m10 output")
  }

  test("g84 bias laws: groups partition the corpus, survivors not shorter") {
    val rows = GradedRuns.rows("g84_dedup_length_bias")
      .map(r =>
        r.getBoolean(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val total = sources.Tables.documents(spark, sfDir).count()
    assert(rows.values.map(_._1).sum === total)
    // note: survivor mean >= removed mean is NOT a theorem — short
    // singletons all survive and can drag the survivor mean below a
    // removed set of long near-dups; only the partition law is exact
    for ((surv, (n, mean)) <- rows)
      assert(n > 0 && mean > 0, s"degenerate group $surv")
    assert(rows.contains(true), "survivors always exist (singletons)")
  }

  test("h33 burstiness laws: B in [-1, 1), degenerate single gap at -1") {
    val rows = GradedRuns.rows("h33_burstiness")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, b) = (r.getLong(1), r.getDouble(3))
      assert(n >= 1 && r.getLong(2) > 0)
      assert(b >= -1.0 - 1e-9 && b < 1.0, s"B out of [-1,1): $b")
      if (n == 1) assert(math.abs(b + 1.0) < 1e-6, "single gap => B = -1")
    }
  }

  test("d42 weighted-corr laws: |r| <= 1, weights positive") {
    val rows = GradedRuns.rows("d42_weighted_corr")
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getDouble(1) > 0, "total weight positive")
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9, "Cauchy–Schwarz bound")
    }
  }

  test("h32 entropy laws: bounded by log2(successors), modal consistency") {
    val rows = GradedRuns.rows("h32_markov_entropy")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nFrom, nSucc) = (r.getLong(1), r.getLong(2))
      val h = r.getDouble(3)
      assert(nSucc >= 1 && nFrom >= nSucc)
      assert(h >= -1e-9 && h <= math.log(nSucc.toDouble) / math.log(2.0)
        + 1e-9, s"entropy outside [0, log2($nSucc)]: $h")
      // the modal transition cannot carry less than the uniform share
      assert(r.getLong(5) >= 1000000L / nSucc - 1,
        "modal share below uniform floor")
    }
  }

  test("g83 flow laws: canonical pairs, total pair mass matches g2") {
    val rows = GradedRuns.rows("g83_source_pair_flow")
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getString(0) <= r.getString(1), "canonical source order")
      assert(r.getBoolean(3) == (r.getString(0) == r.getString(1)))
      assert(r.getLong(2) >= 1)
    }
    val mass = rows.map(_.getLong(2)).sum
    val edges = GradedRuns.rows("g2_neardup_jaccard").length.toLong
    assert(mass === edges, "every near-dup pair lands in exactly one cell")
  }

  test("d41 HHI laws: bounded in [1/n, 1], effective n within [1, n]") {
    val rows = GradedRuns.rows("d41_hhi_concentration")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, hhi, eff) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(n >= 1)
      assert(hhi >= 1.0 / n - 1e-9 && hhi <= 1.0 + 1e-9,
        s"HHI out of [1/n, 1]: $hhi (n=$n)")
      assert(eff >= 1.0 - 1e-6 && eff <= n + 1e-6)
      assert(math.abs(eff * hhi - 1.0) < 1e-4, "effective_n = 1/HHI")
    }
  }

  test("h31 TWAP laws: value-range bounded, held time positive") {
    val rows = GradedRuns.rows("h31_twap")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, held) = (r.getLong(1), r.getLong(2))
      val (twap, mean) = (r.getDouble(3), r.getDouble(4))
      assert(n >= 1 && held > 0)
      // a weighted average of observed values stays within their range
      assert(twap >= 0.0 && twap <= 330.0, s"twap outside value range: $twap")
      assert(mean >= 0.0 && mean <= 330.0)
    }
  }

  test("g82 crosstab laws: cells partition the corpus, dup mass matches g81") {
    val rows = GradedRuns.rows("g82_quality_dup_matrix")
    val total = sources.Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getLong(2)).sum === total, "cells partition the corpus")
    val dupMass = rows.filter(_.getBoolean(1)).map(_.getLong(2)).sum
    val g81NonZero = GradedRuns.rows("g81_dup_degree_dist")
      .filter(_.getLong(0) > 0).map(_.getLong(1)).sum
    assert(dupMass === g81NonZero,
      "near-dup mass agrees with the degree distribution")
    assert(rows.map(r => (r.getString(0), r.getBoolean(1))).distinct.length
      == rows.length)
  }

  test("f22 skyline laws: mutual non-dominance, nothing outside dominates") {
    val sky = GradedRuns.rows("f22_skyline_pareto")
      .map(r => (r.getLong(1), r.getInt(2)))
    assert(sky.nonEmpty)
    def dominates(a: (Long, Int), b: (Long, Int)) =
      a._1 <= b._1 && a._2 >= b._2 && (a._1 < b._1 || a._2 > b._2)
    for (a <- sky; b <- sky if a != b)
      assert(!dominates(a, b), s"$a dominates skyline member $b")
    val all = sources.Tables.part(spark, sfDir)
      .select(round(col("p_retailprice") * 100, 0).cast("long"),
        col("p_size").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    for (p <- all)
      assert(sky.exists(s => s == p || dominates(s, p)),
        s"point $p neither on skyline nor dominated by it")
  }

  test("c21 spatial-grid law: equals the brute-force radius join exactly") {
    val grid = GradedRuns.rows("c21_join_spatial_grid")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the same deterministic points (n is tiny at the
    // spec sf, so the cross join is a test-only oracle, never a plan)
    val pts = sources.Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").as("id"),
        (conv(substring(md5(col("s_suppkey").cast("string")), 1, 8), 16, 10)
          .cast("long") % 1000000L).as("x"),
        (conv(substring(md5(col("s_suppkey").cast("string")), 9, 8), 16, 10)
          .cast("long") % 1000000L).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (ia, xa, ya) <- pts; (ib, xb, yb) <- pts if ia < ib
      d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
      if d2 <= 10000000000L
    } yield (ia, ib, d2)).toSet
    assert(grid === brute, "grid candidates must lose no within-R pair")
  }

  test("g81 degree laws: histogram mass equals corpus, handshake identity") {
    val rows = GradedRuns.rows("g81_dup_degree_dist")
    val total = sources.Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum === total,
      "degree histogram partitions the corpus")
    // handshake lemma: sum of degrees = 2 × edge count (g2's pairs)
    val degreeMass = rows.map(r => r.getLong(0) * r.getLong(1)).sum
    val edges = GradedRuns.rows("g2_neardup_jaccard").length.toLong
    assert(degreeMass === 2 * edges, "sum(degree) = 2·|E|")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("f21 variant laws: typed extraction agrees with the string path") {
    val v = GradedRuns.rows("f21_variant_funcs")
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    val s = GradedRuns.frame("b3_json_extract")
      .join(sources.Tables(spark, sfDir, "events").select("event_id",
        "event_type"), "event_id")
      .groupBy("event_type").agg(sum("k").as("sk"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v === s, "variant_get sums equal get_json_object sums")
  }

  test("a20 overwrite laws: repaired day doubled, all other days intact") {
    val rows = GradedRuns.rows("a20_dynamic_overwrite")
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // raw twin in exact cents: the unrepaired days must match EXACTLY
    // (integer sums have no fold-order tolerance to hide behind); the
    // repaired day doubles each row's value BEFORE the cents cast, so its
    // expectation is the doubled-value cents sum, not 2× the cents sum
    val raw = sources.Tables.eventsUs(spark, sfDir)
      .groupBy(date_format(col("ts_us"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("sc"),
        sum(round(col("value") * 2 * 100, 0).cast("long")).as("sc2"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows.keySet === raw.keySet, "no partition lost or invented")
    val d0 = raw.keys.min
    for ((day, (n, sc)) <- rows) {
      assert(n === raw(day)._1, s"$day row count preserved")
      val expect = if (day == d0) raw(day)._3 else raw(day)._2
      assert(sc === expect, s"$day cents sum (repair only at $d0)")
    }
    // the conf mutation must not leak out of the query (ADVICE r7)
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      .toLowerCase != "dynamic", "a20 leaked partitionOverwriteMode")
  }

  test("d40 inequality laws: Theil and MLD non-negative, MLD >= 0 <= T bound") {
    val rows = GradedRuns.rows("d40_theil_inequality")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, t, mld) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(n > 1)
      // Jensen: both indices are >= 0, = 0 iff all spends equal
      assert(t >= -1e-9, s"Theil negative: $t")
      assert(mld >= -1e-9, s"MLD negative: $mld")
      assert(t <= math.log(n.toDouble) + 1e-9, "Theil upper bound ln(n)")
    }
  }

  test("r16 cardinality laws: q-error >= 1, FK estimate exact for orders") {
    val rows = GradedRuns.rows("r16_join_cardinality")
    assert(rows.length == 3)
    for (r <- rows) {
      assert(r.getLong(5) >= 1 && r.getLong(6) >= 1)
      assert(r.getLong(7) >= 1000000L, "q-error is a max/min ratio")
      assert(r.getLong(3) <= r.getLong(1) && r.getLong(4) <= r.getLong(2))
    }
    // lineitem→orders is a complete FK: every lineitem matches exactly
    // one order, so the System-R estimate is EXACT (q-error == 1e6)
    val fk = rows.find(_.getString(0) == "lineitem_orders").get
    assert(fk.getLong(7) === 1000000L,
      "complete-FK join estimate must be exact")
  }

  test("d39 runs laws: run count within [1, n], expectation formula") {
    val r = GradedRuns.rows("d39_runs_test")
    assert(r.length == 1)
    val (np, nm, runs) = (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2))
    assert(np > 0 && nm > 0)
    assert(runs >= 1 && runs <= np + nm, "runs bounded by sequence length")
    val expected = 1.0 + 2.0 * np * nm / (np + nm).toDouble
    assert(math.abs(r(0).getDouble(3) - expected) < 1e-5)
  }

  test("e15 ratio-to-report laws: segment shares sum to ~1e6") {
    val rows = GradedRuns.rows("e15_win_ratio_report")
    assert(rows.nonEmpty)
    val bySeg = rows.groupBy(_.getString(1))
    for ((seg, rs) <- bySeg) {
      val sum = rs.map(_.getLong(3)).sum
      // truncating quotients: sum within [1e6 - n, 1e6 + n] (negative
      // balances truncate toward zero, so slight overshoot is possible)
      assert(math.abs(sum - 1000000L) <= rs.length,
        s"segment $seg shares sum to $sum")
    }
  }

  test("h30 debounce laws: firsts kept, gap/verdict consistent") {
    val rows = GradedRuns.rows("h30_debounce")
    assert(rows.length == sources.Tables.eventsUs(spark, sfDir).count(),
      "every event is emitted with a verdict")
    var kept = 0
    for (r <- rows) {
      val gap = if (r.isNullAt(3)) None else Some(r.getLong(3))
      assert(r.getBoolean(4) == gap.forall(_ > 300000000L))
      if (r.getBoolean(4)) kept += 1
    }
    assert(kept > 0, "at least the first event per key survives")
  }

  test("r15 KPI laws: counts positive, dup ppm quotient exact") {
    val r = GradedRuns.rows("r15_kpi_snapshot")
    assert(r.length == 1)
    val row = r(0)
    assert(row.getLong(0) > 0 && row.getLong(1) > 0 && row.getLong(6) > 0)
    assert(row.getLong(2) <= row.getLong(1), "buyers <= orders")
    assert(row.getLong(4) <= row.getLong(3), "dups <= docs")
    assert(row.getLong(5) == row.getLong(4) * 1000000L / row.getLong(3))
  }

  test("d38 QQ laws: deciles 10..90, each side monotone non-decreasing") {
    val rows = GradedRuns.rows("d38_qq_deciles")
    assert(rows.map(_.getInt(0)).toSeq == (1 to 9).map(_ * 10))
    val even = rows.map(_.getDouble(1))
    val odd = rows.map(_.getDouble(2))
    assert(even.zip(even.tail).forall { case (a, b) => a <= b })
    assert(odd.zip(odd.tail).forall { case (a, b) => a <= b })
    for (r <- rows)
      assert(math.abs(r.getDouble(3) - (r.getDouble(2) - r.getDouble(1)))
        < 2e-6, "gap consistency")
  }

  test("g80 balance laws: shares partition the corpus, imbalance >= 1") {
    val rows = GradedRuns.rows("g80_cluster_balance")
    assert(rows.nonEmpty && rows.length <= 8)
    val total = rows.map(_.getLong(1)).sum
    assert(total === sources.Tables.embeddings(spark, sfDir).count(),
      "every vector is assigned exactly once")
    val shareSum = rows.map(_.getLong(2)).sum
    assert(shareSum <= 1000000L && shareSum >= 1000000L - rows.length)
    val imb = rows.map(_.getLong(3)).distinct
    assert(imb.length == 1 && imb.head >= 1000000L,
      "one global imbalance, max/min >= 1")
  }

  test("g79 incremental-minhash laws: split respected, agreement bounded") {
    val rows = GradedRuns.rows("g79_incremental_minhash")
    assert(rows.nonEmpty)
    val ids = rows.map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "top-1 per new doc")
    for (r <- rows) {
      assert(r.getLong(0) % 5 == 4, "matched docs come from the batch split")
      assert(r.getLong(1) % 5 != 4, "matches come from the catalog split")
      val agree = r.getLong(2)
      assert(agree >= 4 && agree <= 8, "verify threshold enforced")
      assert(r.getLong(3) == agree * 1000000L / 8)
    }
  }

  test("f20 lambda laws: counts bounded by dims, pal_dot symmetric-sane") {
    val rows = GradedRuns.rows("f20_lambda_funcs")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val nPos = r.getInt(1)
      assert(nPos >= 0 && nPos <= 64)
      if (r.getBoolean(2)) assert(nPos > 0, "exists(>0.2) implies some >0")
      // palindromic dot of a vector with its reverse is an inner product
      // of two equal-norm vectors: |pal_dot| <= ||v||² (Cauchy–Schwarz);
      // dims are in (-1,1) so the bound 64 is loose but always valid
      assert(math.abs(r.getDouble(4)) <= 64.0)
      assert(r.getBoolean(3), "corpus dims all exceed -1")
    }
  }

  test("h29 decompose laws: n = trend+seasonal+residual, full-week trend") {
    val rows = GradedRuns.rows("h29_seasonal_decompose")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, trend, seas, resid) =
        (r.getLong(1), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(math.abs(n.toDouble - (trend + seas + resid)) < 2e-6,
        "additive identity must reconstruct the observation")
      assert(trend > 0, "daily event counts are positive so trend is too")
      assert(r.getInt(2) >= 0 && r.getInt(2) <= 6)
    }
    val days = rows.map(_.getLong(0))
    assert(days.distinct.length == days.length, "one row per day")
  }

  test("m12 trim laws: lead+trail+kept = n, all-silent edge consistent") {
    val rows = GradedRuns.rows("m12_audio_silence")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, lead, trail, kept) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(lead >= 0 && trail >= 0 && kept >= 0)
      assert(lead + trail + kept == n, "trim partition covers the signal")
      if (kept == 0) assert(lead == n && trail == 0, "all-silent canon")
      assert(r.getLong(5) == kept * 1000000L / n)
    }
  }

  test("r14 profile laws: one row per column, nulls+distinct bounded") {
    val n = sources.Tables.orders(spark, sfDir).count()
    val rows = GradedRuns.rows("r14_column_profile")
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority",
        "o_orderstatus"))
    for (r <- rows) {
      assert(r.getLong(1) >= 0 && r.getLong(1) <= n)
      assert(r.getLong(2) >= 1 && r.getLong(2) <= n)
      assert(r.getLong(4) >= 1 && r.getLong(4) <= n,
        "top count within table size")
    }
    val okey = rows.find(_.getString(0) == "o_orderkey").get
    assert(okey.getLong(2) === n, "orderkey is unique")
    assert(okey.getLong(4) === 1L, "unique column's mode count is 1")
  }

  test("g78 A-ES laws: keys negative+descending, deterministic rerun") {
    val rows = GradedRuns.rows("g78_weighted_sample")
    assert(rows.length == 20)
    val keys = rows.map(_.getDouble(3))
    assert(keys.forall(_ <= 0.0), "ln(u)/w is non-positive")
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b }, "descending")
    // a rerun against GradedRuns' run; both clear the cache after them
    val rerun = try SparkEntry.queries("g78_weighted_sample")(spark, sfDir)
      .collect() finally spark.catalog.clearCache()
    assert(rows.toSeq === rerun.toSeq, "hash-RNG sample must be rerunnable")
  }

  test("d37 MoM laws: 32 shards, both means inside the data range") {
    val r = GradedRuns.rows("d37_median_of_means")
    assert(r.length == 1)
    assert(r(0).getLong(0) === 32L)
    val (mom, plain, delta) =
      (r(0).getDouble(1), r(0).getDouble(2), r(0).getDouble(3))
    // o_totalprice spans ~[1.3e3, 5e5] dollars = [1.3e5, 5e7] cents
    assert(mom > 1e5 && mom < 5e7 && plain > 1e5 && plain < 5e7)
    assert(math.abs(delta - (mom - plain)) < 1e-5, "delta consistency")
  }

  test("d34 Levene laws: W non-negative and finite, totals consistent") {
    val r = GradedRuns.rows("d34_levene")
    assert(r.length == 1)
    assert(r(0).getLong(0) >= 2, "needs at least two groups")
    assert(r(0).getLong(1) > r(0).getLong(0), "n must exceed k")
    assert(r(0).getLong(2) >= 0, "total |deviation| mass is non-negative")
    val w = r(0).getDouble(3)
    assert(w >= 0.0 && !w.isNaN && !w.isInfinite, s"W out of range: $w")
  }

  test("d35 autocorr laws: rho bounded, pair counts below series length") {
    val rows = GradedRuns.rows("d35_autocorr")
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    for (r <- rows) {
      // Cauchy–Schwarz on the shared denominator keeps |rho| <= 1
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9)
      assert(r.getLong(1) > 0)
    }
  }

  test("d36 winsorize laws: bounds ordered, means inside them, trim<=n") {
    val rows = GradedRuns.rows("d36_winsorized")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, lo, hi) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      val (nLo, nHi) = (r.getLong(4), r.getLong(5))
      val (win, trim) = (r.getDouble(6), r.getDouble(7))
      assert(lo <= hi)
      // ~5% clipped each side (interpolated bound can shift a few rows)
      assert(nLo <= n / 10 && nHi <= n / 10)
      assert(win >= lo - 1e-6 && win <= hi + 1e-6,
        "winsorized mean must sit inside the clamp bounds")
      assert(trim >= lo - 1e-6 && trim <= hi + 1e-6)
    }
  }

  test("h28 lifetime laws: span/day arithmetic exact, activity bounded") {
    val rows = GradedRuns.rows("h28_user_lifetime")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, days) = (r.getLong(1), r.getLong(2))
      val spanUs = r.getLong(5)
      assert(days >= 1 && days <= n, "active days within [1, n_events]")
      assert(spanUs >= 0)
      assert(r.getLong(6) == spanUs / 86400000000L, "span_days quotient")
      assert(r.getLong(7) == n * 1000000L / days, "intensity ppm quotient")
      // active calendar days cannot exceed the covered span (+1 for the
      // partial first/last days)
      assert(days <= spanUs / 86400000000L + 2)
    }
  }

  test("g75 template laws: clusters >1 doc, spreads bounded by size") {
    val rows = GradedRuns.rows("g75_template_docs")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nd, ns, nl) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nd > 1, "only clusters are emitted")
      assert(ns >= 1 && ns <= nd && nl >= 1 && nl <= nd)
      assert(r.getString(0).split(" ").length == 3, "3-word template key")
    }
  }

  test("d43 Misra-Gries law: no false negative above the frequency bound") {
    // the kernel guarantee, on an adversarial stream: interleave one
    // genuine heavy hitter with a long tail of singletons arranged so
    // decrement-alls fire constantly. Any item with freq > n/(k+1) MUST
    // survive, whatever the interleaving.
    val k = 10
    val rng = new scala.util.Random(7)
    val stream = scala.collection.mutable.ArrayBuffer.empty[String]
    (1 to 2000).foreach { i =>
      stream += s"noise_$i" // 2000 singletons
      if (i % 4 == 0) stream += "HH" // 500 occurrences of the heavy key
    }
    val shuffled = rng.shuffle(stream.toSeq) // order must not matter
    val n = shuffled.length
    val survivors =
      graft.operators.Aggregates.misraGriesKeys(shuffled.iterator, k).toSet
    assert(survivors.size <= k, "summary never exceeds its capacity")
    assert(500 > n / (k + 1), "fixture sanity: HH is above the bound")
    assert(survivors.contains("HH"),
      s"freq 500 > n/(k+1)=${n / (k + 1)} must survive Misra-Gries")
    // end-to-end: the graded d43 output IS the exact heavy-hitter set
    val d43 = GradedRuns.rows("d43_heavy_hitters")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    import org.apache.spark.sql.functions._
    val toks = graft.sources.Tables.documentsDist(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("t"))
    val total = toks.count()
    val exact = toks.groupBy("t").count()
      .where(col("count") * 200 > total)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d43 === exact, "sketch-narrowed exact must equal exact HH set")
  }

  test("d44 merged quantile sketch: rank error within the epsilon bound") {
    val rows = GradedRuns.rows("d44_quantile_merge")
    assert(rows.length === 33, "32 group rows + 1 MERGED row")
    val merged = rows.find(_.getString(0) == "MERGED").get
    val vals = graft.sources.Tables.lineitem(spark, sfDir)
      .select("l_extendedprice").collect().map(_.getDouble(0)).sorted
    val n = vals.length
    assert(merged.getLong(1) === n.toLong, "merge must not lose counts")
    val eps = 0.01
    Seq(0.25 -> 2, 0.5 -> 3, 0.75 -> 4, 0.95 -> 5).foreach { case (q, i) =>
      val est = merged.getDouble(i)
      // rank of the returned value in the exact sorted data
      val lo = vals.count(_ < est)
      val hi = vals.count(_ <= est)
      val target = q * n
      // GK guarantee: some rank in [lo, hi] is within eps*n of target
      assert(lo - eps * n - 1 <= target && target <= hi + eps * n + 1,
        s"q=$q est=$est rank=[$lo,$hi] target=$target n=$n")
    }
    // group sketch counts partition the corpus
    assert(rows.filter(_.getString(0) != "MERGED").map(_.getLong(1)).sum
      === n.toLong)
  }

  test("d47 aggregate-tree GK sketches reproduce d44's driver merge exactly") {
    // the TypedImperativeAggregate pair (gk_sketch/gk_merge) must be the
    // SAME algorithm as d44's QuantileSummaries driver loop — identical
    // insertion and merge order by construction, so identical retained
    // samples and identical quantile answers; equality here transfers
    // d44's ±ε·N rank-bound law to d47 verbatim. Any divergence means
    // the aggregate tree reordered updates or lost a buffer.
    val d44 = GradedRuns.rows("d44_quantile_merge")
      .map(_.toSeq).toSeq
    val d47 = GradedRuns.rows("d47_gk_sketch_agg")
      .map(_.toSeq).toSeq
    assert(d47 === d44)
  }

  test("GkSketch serialization is a lossless round trip") {
    val qs = (1 to 5000).foldLeft(graft.functions.GkSketch.fresh()) {
      (s, i) => s.insert(math.sin(i) * 1000)
    }
    val rt = graft.functions.GkSketch.fromBytes(
      graft.functions.GkSketch.toBytes(qs))
    // compare against the COMPRESSED original: insert() buffers into the
    // head and only compress() folds it into count/sampled
    assert(rt.count === qs.compress().count)
    Seq(0.1, 0.5, 0.9).foreach { q =>
      assert(rt.query(q) === qs.compress().query(q),
        s"round-tripped sketch must answer q=$q identically")
    }
    // bytes are canonical: serialize(deserialize(b)) == b
    val b = graft.functions.GkSketch.toBytes(qs)
    assert(java.util.Arrays.equals(
      graft.functions.GkSketch.toBytes(
        graft.functions.GkSketch.fromBytes(b)), b))
  }

  test("r18 discrete-Laplace mechanism: zero mean, symmetric, correct zero mass") {
    // the mechanism laws the bit-pinned release cannot express: across a
    // wide key domain the keyed noise must average to ~0 (unbiased
    // release), split evenly between signs, and put the theoretical
    // (1−α)/(1+α) ≈ 0.2484 mass on zero (ε = 0.5, truncated K=8). All
    // deterministic — the hash RNG makes this a fixed property of the
    // mapping, not a flaky statistical test.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val z = spark.range(20000)
      .select(graft.operators.Reports.dlapNoise(
        graft.operators.Reports.dlapUniform(
          concat($"id".cast("string"), lit(":dlap")))).as("z"))
      .groupBy($"z").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = z.values.sum.toDouble
    val mean = z.map { case (k, c) => k * c }.sum / n
    assert(math.abs(mean) < 0.05, s"noise mean $mean not ~0")
    assert(math.abs(z.getOrElse(0, 0L) / n - 0.2484) < 0.02,
      s"P(z=0) = ${z.getOrElse(0, 0L) / n}")
    val pos = z.collect { case (k, c) if k > 0 => c }.sum / n
    val neg = z.collect { case (k, c) if k < 0 => c }.sum / n
    assert(math.abs(pos - neg) < 0.02, s"asymmetric: +$pos vs -$neg")
    assert(z.keys.forall(k => k >= -8 && k <= 8), "truncation violated")
  }

  test("d45 bootstrap-CI laws: ordered bounds bracketing the point estimate") {
    // golden pins the exact values; this pins the STATISTICAL shape the
    // pin cannot express — the order-statistic bounds are ordered and the
    // central 95% interval of 200 Poisson resamples brackets the point
    // mean (a bootstrap whose CI misses its own point estimate is
    // implemented wrong, whatever it hashes to)
    val r = GradedRuns.rows("d45_bootstrap_ci").head
    val (n, mean, lo, hi) =
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(n === 200L)
    assert(lo < hi, s"CI degenerate: [$lo, $hi]")
    assert(lo <= mean && mean <= hi,
      s"point mean $mean outside its own CI [$lo, $hi]")
  }

  test("g89 S-curve laws: counts consistent, rates bounded, curve anchored") {
    val rows = GradedRuns.rows("g89_lsh_s_curve")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nPairs, nDet, rate, theo) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(nDet >= 0 && nDet <= nPairs, "detected beyond pair count")
      // det_rate is round(·, 6): half-step tolerance, not exactness
      assert(math.abs(rate - nDet.toDouble / nPairs) <= 5e-7)
      assert(theo >= 0.0 && theo <= 1.0)
    }
    // the S shape itself: empirical detection rate is monotone
    // non-decreasing in the Jaccard decile on this corpus (measured
    // 0.024 → 0.989 across buckets 0–9 at sf0.001), and the curve's two
    // ends sit on the right sides of the threshold — a detector with
    // inverted band logic or swapped signature components flips these
    val byBucket = rows.sortBy(_.getLong(0)).map(_.getDouble(3))
    assert(byBucket.zip(byBucket.tail).forall { case (a, b) => a <= b },
      s"detection rate not monotone in Jaccard: ${byBucket.mkString(", ")}")
    assert(byBucket.head <= 0.1 && byBucket.last >= 0.9,
      "S-curve ends out of place: low-Jaccard pairs should rarely be " +
        s"detected, high-Jaccard almost always (${byBucket.head}, ${byBucket.last})")
  }

  test("d46 sketch-intersection laws: union bounds, error within HLL budget") {
    val rows = GradedRuns.rows("d46_hll_intersect")
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (ea, eb, eu, ei, exact) = (r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6))
      // register-wise union dominance: max input <= union <= sum of inputs
      assert(eu >= math.max(ea, eb) - 1e-6, s"union below an input: $r")
      assert(eu <= ea + eb + 1e-6, s"union above the inputs' sum: $r")
      assert(ei >= 0.0)
      // inclusion-exclusion stacks ~3 sketch errors (default lgK=12 HLL
      // is ~1.6% RSE each); 10% of the union is a generous-but-real
      // bound that a broken estimator (e.g. swapped union/input) smashes
      assert(math.abs(ei - exact) <= math.max(0.10 * eu, 16.0),
        s"intersection estimate off by more than the sketch budget: $r")
    }
  }

  test("g76 JS laws: symmetric-free pairs, bounded in [0,1] bits") {
    val rows = GradedRuns.rows("g76_js_divergence")
    assert(rows.nonEmpty)
    val pairs = rows.map(r => (r.getString(0), r.getString(1)))
    assert(pairs.forall { case (a, b) => a < b }, "canonical a<b ordering")
    assert(pairs.distinct.length == pairs.length, "no duplicate pairs")
    for (r <- rows) {
      val js = r.getDouble(3)
      assert(js >= -1e-9 && js <= 1.0 + 1e-9, s"JS bits out of [0,1]: $js")
      assert(r.getLong(2) >= 0)
    }
  }

  test("g99 BPE-trainer laws: the first merge IS g42's graded top pair; " +
      "max pair frequency is non-increasing across rounds") {
    val dir = "/root/testdata/sf0.01"
    val merges = SparkEntry.queries("g99_bpe_train")(spark, dir).collect()
    assert(merges.length == 10, "the trainer must learn 10 merges")
    // cross-gate: round 1 of the trainer is exactly the argmax of the
    // ORACLE-GRADED g42 pair count (same weighting, same tiebreak) —
    // the bench-only loop is pinned to a graded step
    val g42top = SparkEntry.queries("g42_bpe_step")(spark, dir)
      .collect().head
    assert(merges.head.getString(1) === g42top.getString(0) &&
      merges.head.getLong(2) === g42top.getLong(1),
      s"first merge ${merges.head} must equal g42's top pair $g42top")
    // a new symbol's pairs inherit at most the merged pair's count and
    // existing pairs only lose occurrences — so the max frequency the
    // trainer picks can never rise between rounds
    val ns = merges.map(_.getLong(2)).toSeq
    assert(ns.zip(ns.tail).forall { case (a, b) => b <= a },
      s"merge frequencies must be non-increasing: $ns")
  }

  test("g100 BPE-encoder laws: concat(encode(word)) = word over the " +
      "whole vocab; 1 <= n_toks <= length(word); doc coverage total") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val (vocab, merges) = pipeline.TextAnalysis.bpeTrain(spark, dir)
    assert(merges.size == 10)
    // ROUND TRIP: merging only ever concatenates adjacent tokens, so the
    // tokenization must reassemble every word exactly — one lost or
    // duplicated character anywhere in the fold fails here
    val broken = vocab
      .where(concat_ws("", col("toks")) =!= col("word") ||
        size(col("toks")) < 1 ||
        size(col("toks")) > length(col("word")))
      .count()
    assert(broken === 0,
      "every vocab word must round-trip through its tokenization")
    // the graded g100 output covers every document, and a doc never has
    // more tokens than characters nor fewer than words
    val enc = SparkEntry.queries("g100_bpe_encode")(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(enc.count() === docs)
    assert(enc.where(col("n_tokens") < col("n_words")).count() === 0,
      "a word encodes to at least one token")
  }

  test("g102 sequence laws: every doc's token-id sequence length IS " +
      "g100's n_tokens; ids are valid (within the vocab's id range)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val seqs = SparkEntry.queries("g102_bpe_ids")(spark, dir)
    // cross-key: the ORDERED sequence must carry exactly the token count
    // the count key grades — a dropped word, a duplicated token, or a
    // mis-joined id shows up as a length mismatch on some doc
    val counts = SparkEntry.queries("g100_bpe_encode")(spark, dir)
      .select(col("doc_id"), col("n_tokens").as("g100_n"))
    val joined = seqs.join(counts, Seq("doc_id"))
    assert(joined.count() === counts.count(), "every doc must have a sequence")
    assert(joined.where(col("n_tokens") =!= col("g100_n")).count() === 0,
      "sequence n_tokens must equal g100's count per doc")
    assert(joined.where(
        size(split(col("token_ids"), " ")) =!= col("n_tokens")).count() === 0,
      "the serialized sequence's length must equal its declared n_tokens")
    // id validity: every id in [0, |distinct tokens|)
    val nTok = pipeline.TextAnalysis.bpeTrain(spark, dir)._1
      .select(explode(col("toks")).as("t")).select("t").distinct().count()
    val bad = seqs.select(explode(split(col("token_ids"), " ")).as("s"))
      .select(col("s").cast("long").as("id"))
      .where(col("id").isNull || col("id") < 0 || col("id") >= nTok)
    assert(bad.count() === 0, s"ids must lie in [0, $nTok)")
  }

  test("g103 packing laws: windows are contiguous from 0, every window " +
      "but the last holds exactly 256 tokens, and the pack conserves " +
      "the corpus token count exactly") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val w = SparkEntry.queries("g103_pack_ids")(spark, dir)
      .orderBy("window_id").collect()
    assert(w.nonEmpty)
    // contiguity: the token stream has no holes, so neither do windows
    w.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i.toLong, s"window ids must be 0..${w.length - 1}")
    }
    // every window but the last is FULL (concat-and-chunk semantics:
    // a window closes only when its 256 tokens exist)
    w.dropRight(1).foreach(r =>
      assert(r.getLong(1) === 256L, s"non-final window not full: $r"))
    assert(w.last.getLong(1) >= 1L && w.last.getLong(1) <= 256L)
    // conservation: nothing dropped, nothing duplicated — the windows'
    // token counts sum to exactly the corpus count g100 grades
    val total = SparkEntry.queries("g100_bpe_encode")(spark, dir)
      .agg(sum(col("n_tokens"))).head().getLong(0)
    assert(w.map(_.getLong(1)).sum === total,
      "packing must conserve the corpus token count exactly")
    // every window names at least one doc and a sane doc span
    w.foreach { r =>
      assert(r.getLong(2) >= 1L)
      assert(r.getLong(3) <= r.getLong(4), "first_doc <= last_doc")
    }
  }

  test("two-pass bucketed vocab rank equals the one-pass global " +
      "row_number() rank, both ways, on a Zipf table with tied tails") {
    import org.apache.spark.sql.expressions.Window
    // Zipf-ish: n = V div (id + 1) — a long head and heavy ties in the
    // tail, where many tokens share one log2(n) bucket (the two-pass
    // rank's hardest case)
    val v = 20000L
    val freq = spark.range(v)
      .select(concat(lit("tok_"), lpad(col("id").cast("string"), 9, "0"))
        .as("token"),
        (lit(v) / (col("id") + 1)).cast("long").as("n"))
    val onePass = freq.select(col("token"),
      (row_number().over(Window.orderBy(col("n").desc, col("token"))) - 1)
        .cast("bigint").as("token_id"),
      col("n"))
    val twoPass = pipeline.TextAnalysis.rankTokens(freq)
    // exceptAll in BOTH directions plus equal counts: a one-way except
    // passes when the two-pass rank drops or duplicates rows
    assert(twoPass.exceptAll(onePass).count() === 0L)
    assert(onePass.exceptAll(twoPass).count() === 0L)
    assert(twoPass.count() === v)
    assert(onePass.count() === v)
  }
}
