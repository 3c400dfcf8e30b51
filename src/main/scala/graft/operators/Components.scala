package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components for dedup clustering (hash-to-min label
  * propagation accelerated by pointer jumping).
  *
  * The dedup pipelines reduce "which documents are the same?" to
  * components over a verified-similarity edge list; the component
  * representative (minimum id) is the retained document.
  *
  * **One election, applied to the edge list and to the first
  * quotient.** [[graft.Sessions.fitsBroadcast]] asks whether the
  * observed rows × 16 B (two longs) fit the session's
  * auto-broadcast join threshold (-1: never). The edge list is
  * checkpointed and counted; if it fits, the graph is finished on the
  * driver ([[finish]]): the pairs are collected, one union-find (min
  * root, path halving) labels them, and the nodes are left-joined
  * against the broadcast (doc, rep) table — the driver holds no more than
  * the broadcast that threshold already allows. Otherwise the standard
  * large-graph formulation below runs on joins without broadcast hints
  * (so -1 is respected). Its first quotient (the edges left between the
  * contraction's seed labels, step 3) faces the same election: if it
  * fits, it is finished on the driver the same way, mapping every seed
  * label through the quotient's union-find, and no round runs. All
  * paths return the component minimum, which is unique, so their
  * outputs are value-identical. Every election logs a `[broadcast] cc …`
  * line to stderr.
  *
  * The loop path:
  *
  *  1. **neighbor-min** — `rep(v) ← min(rep(v), min over neighbors u of
  *     rep(u))`: one join of the label table with the undirected edge
  *     list + one aggregate. At the fixpoint of this step alone, labels
  *     are constant across every edge, i.e. exactly the component minimum
  *     — this is what makes the algorithm correct.
  *  2. **pointer jump** — `rep(v) ← min(rep(v), rep(rep(v)))`: halves
  *     remaining chain depth, purely an accelerator (without it the
  *     neighbor-min fixpoint needs O(diameter) rounds; with it,
  *     O(log diameter)). Applied [[JumpsPerRound]] = 2 times per round:
  *     each application is one more tiny label-table self-join INSIDE the
  *     same checkpointed round, while each saved ROUND costs two
  *     scheduled jobs — at 2 jumps the per-round depth reduction is ~4×
  *     (2^jumps).
  *  3. rounds stop when the label-contracted QUOTIENT graph has no edge
  *     left (lv ≠ lu) — that emptiness ⟺ labels constant across every
  *     edge ⟺ the neighbor-min fixpoint. A non-empty quotient strictly
  *     decreases Σrep within its round (min-monotone updates), so
  *     progress per round is guaranteed and no separate convergence
  *     aggregate is needed (r15: the old per-round Σrep job never fired
  *     before the quotient check and was removed). A quotient still
  *     non-empty after [[MaxRounds]] rounds throws instead of returning
  *     labels that never converged.
  *
  * Each round's label table is `localCheckpoint`'d: self-referencing
  * joins otherwise grow the logical plan exponentially and the
  * analyze/optimize cost quadratically.
  *
  * CRITICAL detail: the in-loop checkpoints are wrapped in
  * [[freshStatsCheckpoint]]. Spark's `localCheckpoint` truncates the
  * LINEAGE but carries the origin plan's STATISTICS onto the resulting
  * `LogicalRDD` — so a loop that feeds checkpoint(joins(checkpoint(...)))
  * back into itself compounds the size estimate every round
  * (estimate^2 per self-join — ^4 with 2 jumps). By round ~4 the
  * sizeInBytes BigInt has millions of digits and the optimizer's stats
  * visitor (`SizeInBytesOnlyStatsPlanVisitor`, via InjectRuntimeFilter /
  * join selection) burns minutes in BigInteger multiplication — observed
  * as a >240 s hang on a 500-node graph. Rebuilding the DataFrame from
  * the checkpointed RDD resets stats to the session default at the cost
  * of an InternalRow↔Row conversion per consumption — negligible for a
  * label table, and bounded at any scale because it never compounds.
  */
object Components {

  private val JumpsPerRound = 2 // class doc, step 2
  private val ContractPasses = 3 // labelLoop, the contraction cascade
  private val MaxRounds = 30 // class doc, step 3: O(log diameter) rounds suffice

  /** localCheckpoint + detach the origin-plan statistics (see class doc). */
  private def freshStatsCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    df.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** [[freshStatsCheckpoint]] with eager = false: the RDD is MARKED for
    * local checkpointing but not yet computed, so the first job that
    * consumes it materializes (and persists) it as an ordinary
    * dependency. This is the round-fusion device (r15 verdict #1): a
    * chain of lazily-marked intermediates collapses into the ONE
    * scheduled job that materializes the chain's eager tail, while each
    * link still ends up persisted + lineage-truncated exactly as the
    * eager form — same dataflow, same per-link caching, fewer job
    * barriers. Stats are detached the same way (class doc).
    */
  private def lazyStatsCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(false)
    df.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** How the most recent [[connectedComponents]] call ran: whether the
    * edge list took the label loop, how many loop rounds ran, and whether
    * the driver finished the edge list or the first quotient. A test hook
    * (ComponentsSpec checks a fixture took the path it names), not part
    * of the operator contract; as a process-global last-writer-wins cell
    * it is only meaningful while calls do not overlap (keys run
    * sequentially everywhere today).
    */
  final case class Path(loop: Boolean, rounds: Int, driverFinish: Boolean)
  @volatile var lastPath: Path = Path(loop = false, rounds = 0, driverFinish = false)

  /** Loop shuffle sizing from the OBSERVED label-table row count.
    *
    * The label table is |nodes| rows of (long, long) — per-round
    * task-scheduling latency dominates when it is small (measured: 10
    * rounds × 0.45 s at 32 partitions vs ~0.15 s at 4 for a 5k-node
    * graph), while a corpus-sized label table funneled through a small
    * constant is the classic at-scale bottleneck. So: target ~50k label
    * rows per task (≈ 800 KB of (long, long) — latency-bound below that,
    * comfortably parallel above), capped at the SESSION shuffle setting —
    * on a real cluster that cap is the user's cluster-wide sizing knob
    * and AQE coalesces below it; exceeding it here would second-guess
    * both — and floored at 4 (the measured small-graph sweet spot). The
    * floor takes PRECEDENCE over the cap: a session setting below 4 is
    * deliberately exceeded, because a 1-3-partition label loop serializes
    * every round with no compensating benefit.
    */
  def loopPartitionsFor(labelRows: Long, sessionParts: Int): Int = {
    val rowsPerTask = 50000L
    val needed = (labelRows + rowsPerTask - 1) / rowsPerTask
    math.max(4L, math.min(sessionParts.toLong, needed)).toInt
  }

  /** @param nodes single-column DataFrame of node ids (long)
    * @param edges  two-column DataFrame of undirected edges; column names
    *               are taken positionally. Both endpoints of every edge
    *               must be ids in `nodes`: the paths (class doc) only
    *               agree on graphs that keep this contract.
    * @return (id, rep) — rep is the minimum node id in the component
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val idCol = nodes.columns.head
    val Seq(s, d) = edges.columns.toSeq.take(2)
    // materialize the (long, long) pairs ONCE: the election below counts
    // them, and on the loop path contraction pass 1's repartitionByRange
    // runs a range-SAMPLING job over its input before the shuffle, so an
    // unmaterialized edge plan executes twice — and every CC caller
    // derives edges from an expensive pipeline (banded LSH joins,
    // similarity verification, window ranks). Measured on g44's LSH edge
    // set: ~1.7 s of duplicated derivation saved for one cheap (s, d)-pair
    // materialization (16 B/row at any graph size).
    val pairs = freshStatsCheckpoint(
      edges.select(col(s).cast("long"), col(d).cast("long")))
    // THE ELECTION (class doc), over the observed edge rows; the count
    // scans the checkpointed RDD
    val edgeRows = pairs.rdd.count()
    val labels =
      if (graft.Sessions.fitsBroadcast(spark, "cc edges", edgeRows, pairs.schema)) {
        lastPath = Path(loop = false, rounds = 0, driverFinish = true)
        finish(nodes.select(col(idCol).cast("long").as("doc")), pairs)
      } else {
        // localContract's per-partition union-find memory is bounded by
        // the partition's node set, so it must use the SESSION sizing
        // (e.g. 32), not the label-loop's deliberately-small count — at
        // scale the narrowed count would concentrate the edges' nodes
        // into a handful of in-memory maps.
        val contractParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
        labelLoop(nodes, pairs, edgeRows, contractParts)
      }
    labels.toDF(idCol, "rep")
  }

  /** One union-find pass (union by min root, path halving) over `pairs`:
    * (node, component min) for every node the pairs touch. The kernel
    * behind both [[localContract]]'s per-partition pass and
    * [[finish]]; memory is bounded by the node set of `pairs`.
    */
  private def unionFind(pairs: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent(x)
      }
      x
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by min: keep the smaller id as root
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
    }
    parent.keysIterator.map(n => (n, find(n))).toSeq.iterator
  }

  /** The driver finish: collect `pairs` (two long columns), run
    * [[unionFind]] once, and map the `doc` column of `labels` through the
    * broadcast (doc, rep) table. Roots map to themselves, so only
    * non-root rows are broadcast; roots and vertices no pair touches both
    * take `coalesce(rep, doc)`. Returns (`labels`' first column, rep).
    * On the edge list `labels` is the node ids as `doc`; on the first
    * quotient it is (node, doc = seed label), and the quotient's
    * vertices are seed labels.
    */
  private def finish(labels: DataFrame, pairs: DataFrame): DataFrame = {
    import labels.sparkSession.implicits._
    val reps = unionFind(pairs.as[(Long, Long)].collect().iterator)
      .filter { case (n, r) => n != r }.toSeq.toDF("doc", "rep")
    labels.join(broadcast(reps), Seq("doc"), "left")
      .select(col(labels.columns.head), coalesce(col("rep"), col("doc")).as("rep"))
  }

  /** Phase 1 — partition-local contraction: union-find over each
    * partition's edge subset (`mapPartitions`, one pass, path-halving),
    * emitting (node, local component min) pairs. The loop then iterates
    * over THIS bipartite pair set instead of the raw edges: every original
    * edge was already merged locally, so each partition's subgraph
    * collapses to stars and the join loop only reconciles components that
    * straddle partitions. This is the standard local-contraction move for
    * distributed CC — the per-partition pass is memory-bounded by the
    * partition size (pick edge partitioning so a partition's node set
    * fits an executor; at 100 TB that is the same sizing exercise as any
    * hash aggregation), and it converts O(diameter) join rounds into
    * O(log #partitions-straddled) — measured 10 rounds → 2 on the sf0.01
    * dedup graph (the loop reaches the fixpoint in round 1 and round 2
    * verifies it), with identical output.
    */
  private def localContract(edges: DataFrame, parts: Int): DataFrame = {
    import edges.sparkSession.implicits._
    val Seq(srcCol, dstCol) = edges.columns.toSeq.take(2)
    edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      // RANGE partition by source id: contraction only helps when edges of
      // the same component co-locate, and similarity edges overwhelmingly
      // connect nearby ids (banded/chained candidates) — hash partitioning
      // scatters a chain's edges across partitions and contracts nothing
      // (measured: zero round reduction), range partitioning collapses
      // each id-range's subgraph completely
      .repartitionByRange(parts, col("s"))
      .as[(Long, Long)]
      .mapPartitions(unionFind)
      .toDF("doc", "lrep")
  }

  /** QUOTIENT REWRITE (the alternating-algorithm step): map both edge
    * endpoints of `u` through the labels `l` and drop self-loops, so each
    * round propagates over the contracted quotient graph instead of the
    * original edges. On a fixed edge set the min label walks ONE edge-hop
    * per round — chain-shaped components (diameter = size) took
    * O(diameter) rounds (measured: 12 on the g40 order-chain graph).
    * Contracting through the labels merges every already-agreed run into
    * one quotient vertex, so remaining diameter shrinks geometrically →
    * O(log diameter) rounds (measured: 12→4 on the same graph).
    * Correctness: label(v) is always in v's component (min-monotone
    * updates over component members only), so the quotient preserves
    * connectivity, every quotient vertex is a label value — a real node
    * id present in `l` — and the edge set SHRINKS as components agree,
    * so later rounds get cheaper.
    */
  private def quotient(u: DataFrame, l: DataFrame): DataFrame =
    u.join(l.select(col("doc").as("v"), col("rep").as("lv")), "v")
      .join(l.select(col("doc").as("u"), col("rep").as("lu")), "u")
      .where(col("lv") =!= col("lu"))
      .select(col("lv").as("v"), col("lu").as("u"))
      .distinct()

  /** The above-threshold path: contraction passes, then the driver
    * finish of the first quotient if it fits, else the label loop.
    * Returns (node, rep) in the caller's session.
    */
  private def labelLoop(nodes: DataFrame, pairs: DataFrame,
      edgeRows: Long, contractParts: Int): DataFrame = {
    val spark = nodes.sparkSession
    val idCol = nodes.columns.head
    // components over (node, local-rep) pairs ≡ components over the raw
    // edges: a partition's UF links exactly the nodes its edges connect,
    // and the pairs connect those nodes through their local rep.
    // THREE contraction passes with alternating locality: pass 1
    // co-locates by source id (collapses each id-range's subgraph), pass
    // 2 re-keys the surviving (node, local-rep) pairs by REP id — chains
    // that straddled pass-1 partitions meet at their reps and collapse
    // there — and pass 3 re-keys by node id again over the now-aligned
    // reps. localContract's output always has the same component
    // structure as its input, so passes compose safely; measured: pass 2
    // cut the 8× sf0.1 join loop from ~5 rounds to ~2, pass 3 cut sf0.1
    // from 3 to 2 — each pass is one linear mapPartitions over the
    // (much smaller) pair set, each saved round is two scheduled jobs.
    // Three passes suffice even for g40's per-customer order chains,
    // which scatter over the whole key range (the label-propagation
    // worst case): the straddles they leave form a first quotient small
    // enough for the driver finish (sf0.1 × 8: 4–5,748 rows, no loop
    // round; 7 passes cost 4 more jobs).
    val cascade = (2 to ContractPasses).foldLeft(localContract(pairs,
        contractParts)) { (prev, i) =>
      val keyed = if (i % 2 == 0) prev.select(col("lrep"), col("doc"))
                  else prev.select(col("doc"), col("lrep"))
      localContract(keyed, contractParts)
    }
    // contracted is consumed three times (both und directions + the seed
    // aggregate) — LAZILY marked: the seed-phase fusion below computes
    // and persists it inside the first job that needs it, instead of
    // paying a dedicated materialization job (r16: seed-phase fusion,
    // same dataflow as the old eager form).
    val contracted = lazyStatsCheckpoint(
      cascade.where(col("doc") =!= col("lrep")))
    val und0 = contracted
      .select(col("doc").as("v"), col("lrep").as("u"))
      .union(contracted.select(col("lrep").as("v"), col("doc").as("u")))

    // seed labels with the locally-contracted rep where one exists.
    // contracted has one row PER PARTITION a node appears in — aggregate
    // to one seed per node BEFORE the join, or nodes straddling
    // partitions would be duplicated in the label table (and every
    // downstream row containing them doubled).
    val seed = contracted.groupBy(col("doc")).agg(min(col("lrep")).as("lrep"))
    val labels = lazyStatsCheckpoint(
      nodes.select(col(idCol).cast("long").as("doc"))
        .join(seed, Seq("doc"), "left")
        .select(col("doc"), coalesce(col("lrep"), col("doc")).as("rep")))
    // SEED-PHASE FUSION (r16): the FIRST quotient rewrite is the eager
    // tail that materializes contracted → seed labels → first quotient
    // in ONE scheduled job (the lazy marks above persist each link as an
    // ordinary dependency of this job). It deliberately runs in the
    // CALLER session at session width: the first quotient processes the
    // full contracted pair set — the widest data the loop ever sees —
    // while the narrowed loop width ([[propagate]]) is sized from the
    // label table and applies from the first propagation round on
    // (identical values to the pre-r16 sequence: u1 = Q(u0, l0)).
    val und = freshStatsCheckpoint(quotient(und0, labels))
    // THE ELECTION again, on this first quotient: every contracted pair
    // maps into it, so its union-find applied to the seed labels is
    // exact. Not so after a propagation round — pointer jumping can
    // leave a node's label a hop behind its label's label, a link no
    // quotient carries (a finish after round 1 of ComponentsSpec's
    // scattered path mislabelled 54–58 of 2048 nodes) — so a started
    // loop runs to the empty quotient. The count is one cached scan.
    val undRows = und.rdd.count()
    if (undRows == 0L) {
      lastPath = Path(loop = true, rounds = 0, driverFinish = false)
      labels
    } else if (graft.Sessions.fitsBroadcast(spark, "cc quotient", undRows, und.schema)) {
      lastPath = Path(loop = true, rounds = 0, driverFinish = true)
      finish(labels.select(col("doc").as("node"), col("rep").as("doc")), und)
    } else propagate(labels, und, undRows, edgeRows, contractParts)
  }

  /** The label loop (class doc, steps 1–3) from the seed labels and a
    * non-empty first quotient to the empty quotient. Returns (doc, rep)
    * in the caller's session.
    */
  private def propagate(seed: DataFrame, first: DataFrame, firstRows: Long,
      edgeRows: Long, contractParts: Int): DataFrame = {
    val spark = seed.sparkSession
    // the label row count the adaptive loop sizing needs — counting
    // `nodes` directly would re-execute its upstream plan (for g19 that
    // is the whole exact-dedup stage), while `seed` was persisted by the
    // job that computed the first quotient, so this counts a cached RDD.
    val labelRows = seed.rdd.count()
    // everything before (contraction, first quotient, seed labels) ran
    // at the SESSION shuffle sizing; only the per-round loop joins below
    // are re-sized, on a CHILD session ([[graft.Sessions.scoped]]) rather
    // than the caller's: joins and aggregates have no per-DataFrame width
    // knob, and the loop's checkpointed-RDD inputs re-home to the child
    // for the InternalRow↔Row layer freshStatsCheckpoint already pays.
    // Two confs differ there: the width is the row-count-adaptive
    // loopParts, and planning is NON-ADAPTIVE (r16 round fusion): with
    // AQE, `localCheckpoint(eager = false)` is not lazy — every
    // intermediate stage materializes at mark time, re-imposing the
    // per-link job barriers the fusion removes. AQE has nothing left to
    // decide: the width IS loopParts, every table is (long, long), and
    // the rounds are serial, so the job-barrier count dominates.
    val loopParts = loopPartitionsFor(labelRows, contractParts)
    val loopSession = graft.Sessions.scoped(spark,
      "spark.sql.shuffle.partitions" -> loopParts.toString,
      "spark.sql.adaptive.enabled" -> "false")
    var und = rehome(first, loopSession)
    var labels = rehome(seed, loopSession)
    var undRows = firstRows
    var rounds = 0
    // the loop's width decision and the observation behind it; stderr,
    // so Bench's two-line stdout protocol is never touched
    System.err.println(
      s"[cc] edges=$edgeRows path=loop init rows=$labelRows loopParts=$loopParts")
    // ROTATED ROUND STRUCTURE (r16): each iteration computes
    // l_k = P(u_k, l_{k-1}) (neighbor-min + jumps) and u_{k+1} =
    // Q(u_k, l_k) as ONE fused job — the round's eager tail is the next
    // quotient's checkpoint, and the lazily marked l1/labels links
    // persist as its ordinary dependencies. Termination: a NON-empty
    // quotient strictly decreases Σrep in its round (its (lv ≠ lu) edge
    // hands min(lv, lu) to the larger side through neighbor-min, every
    // update is min-monotone), so the loop ends at the empty quotient —
    // the convergence proof — and MaxRounds backstops, and throws.
    do {
      if (rounds == MaxRounds) throw new IllegalStateException(
        s"connected components did not converge: $edgeRows edges, " +
          s"$undRows quotient edges left after $rounds rounds")
      // neighbor-min: min label over each node's neighbors
      val nbrMin = und
        .join(labels.select(col("doc").as("u"), col("rep").as("urep")), "u")
        .groupBy(col("v").as("doc")).agg(min("urep").as("nrep"))
      // mark before jumping: each jump SELF-joins its input, so an
      // unmarked chain doubles the (edge-join + aggregate) subtree per
      // jump — 2^k copies. Over the persisted link every jump is a join
      // of in-memory scans, and k jumps compress label-path depth by
      // 2^k within one scheduled round.
      val l1 = lazyStatsCheckpoint(labels
        .join(nbrMin, Seq("doc"), "left")
        .select(col("doc"),
          least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep")))
      val jumped = (1 to JumpsPerRound).foldLeft(l1) { (cur, _) =>
        cur.as("a")
          .join(cur.select(col("doc").as("rdoc"), col("rep").as("rrep")),
            col("a.rep") === col("rdoc"))
          .select(col("a.doc").as("doc"),
            least(col("a.rep"), col("rrep")).as("rep"))
      }
      val nextLabels = lazyStatsCheckpoint(jumped)
      // the round's ONE eager materialization: quotient against the NEW
      // labels — computing it schedules l1 and nextLabels on the way
      und = freshStatsCheckpoint(quotient(und, nextLabels))
      labels = nextLabels
      rounds += 1
      undRows = und.rdd.count()
    } while (undRows > 0L)
    lastPath = Path(loop = true, rounds, driverFinish = false)
    // re-home the result to the CALLER's session: downstream operators
    // compose it with caller-session DataFrames and must plan at the
    // caller's sizing, not the loop's. The underlying checkpointed RDD
    // keeps the loop's partitioning (observable, and observed by
    // ComponentsSpec); only the planning session changes.
    rehome(labels, spark)
  }

  private def rehome(df: DataFrame, s: SparkSession): DataFrame =
    s.createDataFrame(df.rdd, df.schema)
}

