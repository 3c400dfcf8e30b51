package graft

import graft.operators.Components

class ComponentsSpec extends SparkSpec {

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** A threshold `edgeRows` pairs of 16 B exceed by one row: the edge
    * list takes the label loop, and a first quotient smaller than the
    * edge list is finished on the driver.
    */
  private def quotientFinish(edgeRows: Int): String = (16L * (edgeRows - 1)).toString

  /** `body` at the session's default broadcast threshold (these graphs are
    * small, so the driver finish), under -1 (the label loop alone) and
    * under [[quotientFinish]] (contraction, then the driver finish of the
    * first quotient, unless it is already empty): all three results must
    * be equal.
    */
  private def allPaths[T](edgeRows: Int)(body: => T): T = {
    val atDefault = body
    val underLoop = withConf(threshold -> "-1")(body)
    val quotientFinished = withConf(threshold -> quotientFinish(edgeRows))(body)
    val p = Components.lastPath
    assert(p.loop && p.rounds == 0, p)
    assert(atDefault == underLoop, "driver finish and label loop disagree")
    assert(atDefault == quotientFinished, "driver finish and quotient finish disagree")
    atDefault
  }

  private def labelMap(labels: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def cc(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    allPaths(edges.size)(labelMap(Components.connectedComponents(
      nodes.toDF("id"), edges.toDF("src", "dst"))))
  }

  /** A path over ids 0 until n whose consecutive ids are scattered; n is
    * a power of two, so the odd multiplier makes `perm` a bijection.
    */
  private def scatteredPath(n: Int): Seq[(Long, Long)] = {
    val perm = (0 until n).map(i => (i * 1223) % n)
    (0 until n - 1).map(i => (perm(i).toLong, perm(i + 1).toLong))
  }

  test("shared-hub graph: a node with no min-ward in-edge still merges") {
    // edges (1,3),(2,3): naive pointer-chasing leaves 2 alone; correct
    // components merge all three
    val got = cc(Seq(1L, 2L, 3L), Seq((1L, 3L), (2L, 3L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("long chain converges (pointer jumping beats O(n) rounds)") {
    val n = 200L
    val nodes = (1L to n)
    val edges = (1L until n).map(i => (i, i + 1))
    val got = cc(nodes, edges)
    assert(got.values.toSet === Set(1L))
  }

  test("scattered-id path converges in O(log diameter) rounds") {
    // the g40 lesson: a path whose consecutive neighbors have SCATTERED
    // ids defeats the range-partitioned local contraction (the adjacent-id
    // chain above does not), so convergence rides entirely on the
    // in-loop quotient rewrite. A 2048-node scattered path converges in
    // 7 rounds with it (measured); without it the loop is diameter-bound
    // and needs more than 10 rounds — this pins the bound. The
    // threshold is forced to -1: at the default this graph is finished
    // on the driver and the bound would pin nothing.
    import spark.implicits._
    val n = 2048
    val labels = withConf(threshold -> "-1")(labelMap(Components.connectedComponents(
      (0L until n.toLong).toDF("id"), scatteredPath(n).toDF("s", "d"))))
    assert(Components.lastPath.rounds <= 10)
    assert(labels.size === n)
    assert(labels.values.forall(_ == 0L)) // one component, min id 0
  }

  test("the broadcast threshold elects the driver finish or the label loop") {
    // the same scattered path: at the default threshold its 2047 edges
    // (32 KB) are finished on the driver with no loop round; under -1 the
    // loop runs at least one round and finishes without the driver; one
    // row under the edge list, the loop starts and its first quotient
    // (~1,600 rows) is finished on the driver. At 1,024 rows that
    // quotient does not fit, and the loop runs to the empty quotient
    // although the next one (~560 rows) would fit: a finish after a
    // propagation round mislabels nodes (class doc). The labels are
    // equal every way.
    import spark.implicits._
    val n = 2048
    def run(): Map[Long, Long] = labelMap(Components.connectedComponents(
      (0L until n.toLong).toDF("id"), scatteredPath(n).toDF("s", "d")))
    val atDefault = run()
    assert(Components.lastPath === Components.Path(loop = false, rounds = 0, driverFinish = true))
    val underLoop = withConf(threshold -> "-1")(run())
    assert(Components.lastPath.loop && Components.lastPath.rounds >= 1)
    assert(!Components.lastPath.driverFinish)
    val quotientFinished = withConf(threshold -> quotientFinish(n - 1))(run())
    assert(Components.lastPath.loop && Components.lastPath.driverFinish)
    assert(Components.lastPath.rounds === 0)
    val loopToFixpoint = withConf(threshold -> (16 * 1024).toString)(run())
    assert(Components.lastPath.loop && Components.lastPath.rounds >= 1)
    assert(!Components.lastPath.driverFinish)
    assert(Seq(underLoop, quotientFinished, loopToFixpoint).forall(_ === atDefault))
    assert(atDefault.size === n && atDefault.values.forall(_ == 0L))
  }

  test("fitsBroadcast: rows x row size against the threshold, -1 never") {
    import org.apache.spark.sql.types._
    val pair = StructType(Seq(StructField("s", LongType), StructField("d", LongType)))
    def fits(t: String, rows: Long) = withConf(threshold -> t)(
      Sessions.fitsBroadcast(spark, "spec", rows, pair))
    assert(!fits("-1", 0L))
    assert(fits("160", 10L))  // 10 × 16 B = the threshold
    assert(!fits("159", 10L)) // one byte over
  }

  test("disjoint cliques and singletons keep separate representatives") {
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L))
    val got = cc(nodes, edges)
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L && got(12L) == 10L)
    assert(got(99L) == 99L)
  }

  test("label table has exactly one row per node (partition-straddling chain)") {
    // regression: the local-contraction pass emits one (node, lrep) pair
    // per partition a node appears in; an unaggregated seed join once
    // duplicated straddling nodes in the label table — toMap-based
    // assertions (above) cannot see that, so pin the raw row count
    import spark.implicits._
    val n = 200L
    allPaths(n.toInt - 1) {
      val labels = Components.connectedComponents(
        (1L to n).toDF("id"), (1L until n).map(i => (i, i + 1)).toDF("src", "dst"))
      assert(labels.count() === n)
      assert(labels.select("id").distinct().count() === n)
      labelMap(labels)
    }
  }

  test("loop shuffle sizing: adaptive, never a constant-4 funnel at scale") {
    // the r6 verdict finding: every dedup call site ran the label loop at
    // a hard-coded 4 shuffle partitions — right for 5k-node graphs, a
    // 4-partition funnel for a corpus-sized label table. The sizing rule:
    // ~50k label rows per task, floor 4 (small-graph latency sweet spot),
    // cap = session shuffle partitions (the cluster-wide sizing knob).
    assert(Components.loopPartitionsFor(0L, 32) === 4)
    assert(Components.loopPartitionsFor(5000L, 32) === 4)       // sf0.01 dedup graph
    assert(Components.loopPartitionsFor(200000L, 32) === 4)     // = 4 tasks of 50k
    assert(Components.loopPartitionsFor(300000L, 32) === 6)     // grows with rows
    assert(Components.loopPartitionsFor(100000000000L, 32) === 32)   // local cap
    assert(Components.loopPartitionsFor(100000000000L, 4096) === 4096) // cluster cap
    assert(Components.loopPartitionsFor(1000000L, 2) === 4)     // floor beats a tiny session
  }

  test("label loop runs at the adaptive width, not the small-graph floor") {
    // scattered-id path (defeats local contraction → the loop must run
    // ≥1 real round) over enough nodes that adaptive sizing must pick
    // MORE than the 4-partition floor; the returned labels carry the
    // loop's shuffle partitioning, so the partition count is observable.
    import spark.implicits._
    val n = 300000
    val perm = (0 until n).map(i => (i.toLong * 299711L) % n) // odd ⊥ n=3e5? 299711 odd, gcd check below
    // 299711 = prime > n/…; ensure bijection: gcd(299711, 300000) = 1
    assert(BigInt(299711).gcd(BigInt(n)) == BigInt(1))
    val edges = (0 until n - 1).map(i => (perm(i), perm(i + 1)))
    // the shared test session runs at 4 shuffle partitions (which would
    // CAP the adaptive size right at the floor and hide a regression) —
    // widen to a cluster-like 32 for this call, restore after. AQE is
    // disabled for the call because its small-partition coalescing
    // rewrites the runtime partition count and would hide WHICH conf
    // ceiling the loop ran under — the exact thing this test observes.
    // The broadcast threshold is forced to -1 so that the loop, not the
    // driver finish, labels this 299,999-edge graph.
    withConf("spark.sql.shuffle.partitions" -> "32",
        "spark.sql.adaptive.enabled" -> "false", threshold -> "-1") {
      val expected = Components.loopPartitionsFor(n.toLong, 32)
      assert(expected > 4, s"fixture too small to distinguish adaptive from floor ($expected)")
      val labels = Components.connectedComponents(
        (0L until n.toLong).toDF("id"), edges.toDF("s", "d"))
      // FIXTURE GUARD: the partition observation below is only meaningful
      // if the label LOOP produced the returned labels. If contraction
      // ever collapses this scattered chain completely, the early-exit
      // path returns seed labels at session width — that is an
      // improvement, not a sizing regression, and this assert names it.
      assert(Components.lastPath.rounds >= 1,
        "fixture no longer defeats local contraction (loop ran 0 non-empty " +
          "rounds) — pick a harder fixture for the adaptive-width test")
      assert(labels.rdd.getNumPartitions === expected,
        s"label loop not adaptively sized: got ${labels.rdd.getNumPartitions}, want $expected")
      assert(labels.select("rep").distinct().count() === 1L) // still one component
    }
  }

  test("random graph matches a driver-side union-find oracle") {
    val rnd = new scala.util.Random(5)
    val n = 300
    val nodes = (0L until n)
    val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // oracle: classic union-find
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = nodes.map(i => i -> find(i.toInt).toLong).toMap
    assert(cc(nodes, edges) === expect)
  }
}
