package graft.operators

import graft.QueryDef
import graft.QueryDef.graded
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** C: the join surface.
  *
  * Scale notes (100 TB):
  *  - dims (region/nation/customer-at-small-sf) are broadcast — no shuffle
  *    of the fact side; `broadcast()` is explicit where the dim is provably
  *    tiny, otherwise AQE's runtime size check decides.
  *  - fact⋈fact (orders⋈lineitem) is a shuffle hash/sort-merge join on the
  *    join key; at scale both sides would be bucketed by orderkey to make
  *    this a zero-shuffle co-located join.
  *  - the as-of join (C8) deliberately avoids the O(events × orders)
  *    expansion: it is the union-merge formulation — one window pass over
  *    (orders ∪ events) per user — which is O((n+m) log(n+m)) and survives
  *    arbitrarily large right sides. This is the 100 TB-safe as-of.
  */
object Joins {

  // C1 — star join, dims broadcast. Explicit broadcast() on nation keeps the
  // plan shuffle-free on the dim side regardless of stats.
  private val c1 = graded(
    "c1_join_broadcast",
    """SELECT n_name,
      |  round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2)::DOUBLE AS rev,
      |  count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(round(sum($"o_totalprice".cast("decimal(30,10)")), 2).cast("double")
          .as("rev"),
        count(lit(1)).as("n_orders"))
      .orderBy("n_name")
  }

  // C2 — fact⋈fact sort-merge join (hinted so the plan demonstrates SMJ even
  // when AQE would pick something else at small sf). The per-row double
  // product (IEEE-identical across engines) is cast to DECIMAL(30,10) before
  // summing so the aggregate is exact and order-insensitive — Spark's
  // shuffle order vs DuckDB's scan order can no longer flip the rounding of
  // boundary values.
  private val c2 = graded(
    "c2_join_sortmerge",
    """SELECT o_orderkey,
      |  round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2)::DOUBLE AS rev,
      |  count(*) AS n_items
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderkey
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir).hint("merge"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey")
      .agg(round(sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(30,10)")), 2).cast("double").as("rev"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderkey")
  }

  // C3 — left outer join; unmatched left rows survive with count 0.
  private val c3 = graded(
    "c3_join_outer",
    """SELECT c_custkey, c_name, count(o_orderkey) AS n_big,
      |  round(coalesce(sum(o_totalprice), 0), 2) AS big_total
      |FROM customer
      |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
      |  ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val big = Tables.orders(spark, dir).where($"o_totalprice" > 400000)
    Tables.customer(spark, dir)
      .join(big, $"o_custkey" === $"c_custkey", "left_outer")
      .groupBy($"c_custkey", $"c_name")
      .agg(count($"o_orderkey").as("n_big"),
        round(coalesce(sum($"o_totalprice"), lit(0)), 2).as("big_total"))
      .orderBy("c_custkey")
  }

  // C4 — left semi join (IN-subquery form on the oracle side). Catalyst
  // rewrites IN (subquery) to exactly this semi join.
  private val c4 = graded(
    "c4_join_semi",
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer
      |WHERE c_custkey IN
      |  (SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1%')
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val urgent = Tables.orders(spark, dir).where($"o_orderpriority".like("1%"))
    Tables.customer(spark, dir)
      .join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  // C5 — left anti join (NOT EXISTS): customers with no 400k+ order.
  private val c5 = graded(
    "c5_join_anti",
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val big = Tables.orders(spark, dir).where($"o_totalprice" > 400000)
    Tables.customer(spark, dir)
      .join(big, $"c_custkey" === $"o_custkey", "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  // C6 — theta (non-equi) join on a value proximity predicate. The theta
  // condition is executed as a value-bucket equi-join
  // ([[graft.operators.Banding.valueBandedPairs]]): bucket =
  // floor(acctbal/10), left exploded to [bkt-1, bkt, bkt+1] — a
  // hash-partitioned join with the original predicate as residual filter,
  // instead of a nested loop over all pairs. Same result set as the
  // oracle's pure theta SQL.
  private val c6 = graded(
    "c6_join_theta",
    """SELECT a.s_suppkey AS sk_a, b.s_suppkey AS sk_b,
      |  round(abs(a.s_acctbal - b.s_acctbal), 2) AS bal_diff
      |FROM supplier a JOIN supplier b
      |  ON a.s_suppkey < b.s_suppkey
      | AND abs(a.s_acctbal - b.s_acctbal) < 10
      |ORDER BY sk_a, sk_b""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val s = Tables.supplier(spark, dir)
    val a = s.select($"s_suppkey".as("sk_a"), $"s_acctbal".as("bal_a"))
    val b = s.select($"s_suppkey".as("sk_b"), $"s_acctbal".as("bal_b"))
    Banding.valueBandedPairs(a, b, "sk_a", "sk_b", "bal_a", "bal_b", 10.0)
      .select($"sk_a", $"sk_b", round(abs($"bal_a" - $"bal_b"), 2).as("bal_diff"))
      .orderBy("sk_a", "sk_b")
  }

  // C7 — range join: equi key + time-interval predicate. The equi component
  // keeps this a hash join with a residual range filter (never a cartesian).
  private val c7 = graded(
    "c7_join_range",
    """SELECT o_orderkey, count(*) AS n_shipped_120d,
      |  round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2)::DOUBLE
      |    AS val_120d
      |FROM lineitem JOIN orders
      |  ON l_orderkey = o_orderkey
      | AND l_shipdate >= o_orderdate
      | AND l_shipdate <= o_orderdate + INTERVAL 120 DAY
      |GROUP BY o_orderkey
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        $"l_orderkey" === $"o_orderkey"
          && $"l_shipdate" >= $"o_orderdate"
          && $"l_shipdate" <= expr("o_orderdate + interval 120 days"))
      .groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n_shipped_120d"),
        round(sum($"l_extendedprice".cast("decimal(30,10)")), 2).cast("double")
          .as("val_120d"))
      .orderBy("o_orderkey")
  }

  // C8 — as-of join via union-merge: latest order per user at each event
  // time. One window pass over the per-user time-sorted union instead of an
  // O(n×m) range-join expansion — the formulation that survives 100 TB.
  // Tiebreak on equal order dates: ordering by (t, src, ok) makes
  // last_value pick the max orderkey — deterministic in both engines.
  private val c8 = graded(
    "c8_join_asof",
    """WITH u AS (
      |  SELECT o_custkey AS user_id, o_orderdate AS t, 0 AS src,
      |         o_orderkey AS ok, o_orderdate AS od, CAST(NULL AS BIGINT) AS event_id
      |  FROM orders
      |  UNION ALL
      |  SELECT user_id, ts AS t, 1 AS src,
      |         CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP), event_id
      |  FROM events
      |), m AS (
      |  SELECT user_id, event_id, src,
      |    last_value(ok IGNORE NULLS) OVER w AS asof_orderkey,
      |    last_value(od IGNORE NULLS) OVER w AS asof_date
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id ORDER BY t, src, ok
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT event_id, user_id, asof_orderkey, asof_date
      |FROM m WHERE src = 1
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val orders = Tables.orders(spark, dir).select(
      $"o_custkey".as("user_id"), $"o_orderdate".as("t"), lit(0).as("src"),
      $"o_orderkey".as("ok"), $"o_orderdate".as("od"),
      lit(null).cast("bigint").as("event_id"))
    val events = Tables.eventsUs(spark, dir).select(
      $"user_id", $"ts_us".as("t"), lit(1).as("src"),
      lit(null).cast("bigint").as("ok"),
      lit(null).cast("timestamp_ntz").as("od"), $"event_id")
    val w = Window.partitionBy($"user_id").orderBy($"t", $"src", $"ok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.unionByName(events)
      .select($"user_id", $"event_id", $"src",
        last($"ok", ignoreNulls = true).over(w).as("asof_orderkey"),
        last($"od", ignoreNulls = true).over(w).as("asof_date"))
      .where($"src" === 1)
      .select("event_id", "user_id", "asof_orderkey", "asof_date")
      .orderBy("event_id")
  }

  // C9 — cross join against a 1-row aggregate: share-of-total report.
  private val c9 = graded(
    "c9_join_cross",
    """WITH nat AS (
      |  SELECT n_name, sum(o_totalprice) AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name
      |), tot AS (SELECT sum(rev) AS t FROM nat)
      |SELECT n_name, round(rev, 2) AS rev, round(rev / t * 100, 6) AS pct
      |FROM nat CROSS JOIN tot
      |ORDER BY n_name""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val nat = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum($"o_totalprice").as("rev0"))
    val tot = nat.agg(sum($"rev0").as("t"))
    nat.crossJoin(tot)
      .select($"n_name", round($"rev0", 2).as("rev"),
        round($"rev0" / $"t" * 100, 6).as("pct"))
      .orderBy("n_name")
  }

  // C10 — correlated scalar subqueries through the SQL surface. Catalyst's
  // RewriteCorrelatedScalarSubquery decorrelates both into left outer
  // joins over pre-aggregated subplans — at scale these are two shuffles
  // on c_custkey, not a per-row re-execution (which is what a naive
  // engine, and the reference's script model, would do).
  private val c10 = graded(
    "c10_subquery_scalar",
    """SELECT c_custkey, c_name,
      |  (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
      |  round(coalesce((SELECT max(o_totalprice) FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey), 0), 2) AS max_spend
      |FROM customer c
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    // the views and the query live on the key's own session: a later
    // key's bare `FROM orders` on the caller's must not resolve to them
    val s = graft.Sessions.scoped(spark)
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(
      """SELECT c_custkey, c_name,
        |  (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  round(coalesce((SELECT max(o_totalprice) FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey), 0), 2) AS max_spend
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin)
  }

  // C11 — LATERAL correlated derived table (top-1-per-outer-row), the SQL
  // surface for "for each customer, their single largest order". Catalyst
  // plans the correlated limit as a window/rank under the hood — the same
  // single-shuffle shape as e5 — rather than per-row re-execution.
  private val c11 = graded(
    "c11_lateral",
    """SELECT c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS top_price
      |FROM customer c,
      |  LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
      |           WHERE o.o_custkey = c.c_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val s = graft.Sessions.scoped(spark) // c10's view rule
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(
      """SELECT c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS top_price
        |FROM customer c,
        |  LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |           WHERE o.o_custkey = c.c_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        |ORDER BY c_custkey""".stripMargin)
  }

  // C12 — FORWARD as-of join (first order at-or-after each event), the
  // mirror of c8's backward as-of and the same zero-join formulation:
  // union both streams, one sorted window per user, `first_value IGNORE
  // NULLS` over the FOLLOWING frame. Same-timestamp orders sort after
  // events (src DESC) so "at-or-after" includes exact ties; `ok` in the
  // sort makes the tie winner deterministic.
  private val c12 = graded(
    "c12_join_asof_fwd",
    """WITH u AS (
      |  SELECT o_custkey AS user_id, o_orderdate AS t, 0 AS src,
      |         o_orderkey AS ok, o_orderdate AS od, CAST(NULL AS BIGINT) AS event_id
      |  FROM orders
      |  UNION ALL
      |  SELECT user_id, ts AS t, 1 AS src,
      |         CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP), event_id
      |  FROM events
      |), m AS (
      |  SELECT user_id, event_id, src,
      |    first_value(ok IGNORE NULLS) OVER w AS next_orderkey,
      |    first_value(od IGNORE NULLS) OVER w AS next_date
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id ORDER BY t, src DESC, ok
      |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |)
      |SELECT event_id, user_id, next_orderkey, next_date
      |FROM m WHERE src = 1
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val orders = Tables.orders(spark, dir).select(
      $"o_custkey".as("user_id"), $"o_orderdate".as("t"), lit(0).as("src"),
      $"o_orderkey".as("ok"), $"o_orderdate".as("od"),
      lit(null).cast("bigint").as("event_id"))
    val events = Tables.eventsUs(spark, dir).select(
      $"user_id", $"ts_us".as("t"), lit(1).as("src"),
      lit(null).cast("bigint").as("ok"),
      lit(null).cast("timestamp_ntz").as("od"), $"event_id")
    val w = Window.partitionBy($"user_id").orderBy($"t", $"src".desc, $"ok")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    orders.unionByName(events)
      .select($"user_id", $"event_id", $"src",
        first($"ok", ignoreNulls = true).over(w).as("next_orderkey"),
        first($"od", ignoreNulls = true).over(w).as("next_date"))
      .where($"src" === 1)
      .select("event_id", "user_id", "next_orderkey", "next_date")
      .orderBy("event_id")
  }

  // C13 — skew-safe SALTED join, graded against the plain-join oracle
  // (same result set proves the salt is a plan-level rewrite, not a
  // semantic change). The hot-key mitigation for a fact⋈fact join whose
  // key distribution AQE cannot fix (e.g. one order id carrying millions
  // of rows after an upstream explode): the probe side gets a
  // deterministic row-local salt in [0, S), the build side is replicated
  // S× with `explode`, and the join key becomes (key, salt) — every hot
  // key now spreads over S shuffle partitions. The salt never reaches
  // the output, so the graded aggregate is byte-identical to the
  // unsalted plan. S is DERIVED from the observed hot-key histogram
  // ([[SkewJoin.adaptiveSalts]] — r12's max_key_n statistic over
  // rowsPerSalt, the per-bucket capacity knob): this corpus has no
  // genuinely skewed key (r12 reports max/mean ≤ 1.5× everywhere), so
  // rowsPerSalt = 2 is the demonstration capacity that makes the
  // fixture's max l_orderkey multiplicity (12–17 across sfs) yield a
  // real, sf-adaptive salt count (6–9) — at 100 TB the knob comes from
  // executor memory / row width and an unskewed join correctly derives
  // S = 1 (no replication paid). The graded aggregate is independent of
  // S by construction, so the derivation can never flip the result.
  private val c13 = graded(
    "c13_join_salted",
    """SELECT o_orderpriority,
      |  count(*) AS n_items,
      |  round(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(30,10))), 2)::DOUBLE AS revenue
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val saltS = SkewJoin.adaptiveSalts(
      Tables.lineitem(spark, dir), "l_orderkey", rowsPerSalt = 2)
    // row-local deterministic salt: any per-row value works because the
    // salt is joined away; hash() keeps it uniform across the S buckets
    val l = Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(hash($"l_linenumber", $"l_suppkey"), lit(saltS)))
    val o = Tables.orders(spark, dir)
      .withColumn("salt", explode(array((0 until saltS).map(lit): _*)))
    l.join(o, $"l_orderkey" === $"o_orderkey" && l("salt") === o("salt"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        round(sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(30,10)")), 2).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  // C14 — NULL-AWARE anti join: `NOT IN (subquery)` under ANSI three-
  // valued logic. One NULL in the subquery makes `x NOT IN S` UNKNOWN
  // for every non-member — zero rows survive — while the null-stripped
  // form is a plain anti join; the graded output is both counts side by
  // side, pinning the semantic cliff. This is a DISTINCT physical
  // operator in Spark (null-aware broadcast anti join, not the c5
  // LeftAnti path), so the SQL form is the implementation — rewriting to
  // DataFrame joins would bypass exactly the operator under test. Both
  // branches broadcast the (filtered) build side; the probe never
  // shuffles.
  private val c14: QueryDef = {
    val sql =
      """SELECT * FROM (
        |  SELECT
        |    (SELECT count(*) FROM part WHERE p_partkey NOT IN
        |      (SELECT CASE WHEN l_quantity > 49 THEN l_partkey END
        |       FROM lineitem)) AS n_null_bearing,
        |    (SELECT count(*) FROM part WHERE p_partkey NOT IN
        |      (SELECT l_partkey FROM lineitem WHERE l_quantity > 49))
        |      AS n_null_stripped) t
        |ORDER BY n_null_bearing""".stripMargin
    graded("c14_join_null_anti", sql) { (spark, dir) =>
      val s = graft.Sessions.scoped(spark) // c10's view rule
      Tables.part(s, dir).createOrReplaceTempView("part")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(sql)
    }
  }

  // C15 — NULL-SAFE join (`<=>` join key): NULL keys match each other
  // instead of matching nothing — the b5 predicate as a whole join
  // operator. Spark still plans a HASH join (null-safe equality is an
  // equi key, not a theta predicate), which is the point at scale: the
  // NULL group shuffles to one partition like any other key value.
  // Scale shape: the key space is id-RANGE buckets (div, not mod), so
  // key count grows with the data and per-key group size stays constant
  // — a mod-derived key space is fixed-size and its per-key pair-out
  // grows quadratically (measured: 5.0 ratio at 8× before this
  // derivation). The NULL group is pinned to a constant id set, since a
  // null population that grows with the data is exactly the skew bomb
  // null-safe joins are notorious for (production: salt or pre-filter).
  private val c15 = graded(
    "c15_join_null_safe",
    """WITH a AS (
      |  SELECT event_id, CASE WHEN event_id < 10 THEN NULL
      |    ELSE event_id // 20 END AS k FROM events),
      |b AS (
      |  SELECT event_id, CASE WHEN event_id < 10 THEN NULL
      |    ELSE event_id // 20 END AS k
      |  FROM events WHERE event_id % 3 = 0)
      |SELECT coalesce(a.k, -1)::BIGINT AS k, count(*) AS n_pairs
      |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
      |GROUP BY 1
      |ORDER BY k""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.apply(spark, dir, "events")
    val a = ev.select($"event_id",
      when($"event_id" < 10, lit(null).cast("bigint"))
        .otherwise(expr("event_id div 20")).as("k"))
    val b = ev.where($"event_id" % 3 === 0).select(
      when($"event_id" < 10, lit(null).cast("bigint"))
        .otherwise(expr("event_id div 20")).as("kb"))
    a.join(b, $"k" <=> $"kb")
      .groupBy(coalesce($"k", lit(-1L)).as("k"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("k")
  }

  // C16 — RECURSIVE CTE (new SQL surface in Spark 4): each customer's
  // order chain walked iteratively — anchor = first order per customer,
  // recursive step = follow the next-order edge, position accumulating,
  // depth-capped at 8 (the realistic hierarchical-walk shape: org charts,
  // BOMs, category trees are shallow; the cap also bounds the iteration
  // count, since every recursion level is a separate join JOB — an
  // UNCAPPED walk costs depth × job latency, which is why
  // unbounded-diameter graphs go to [[graft.operators.Components]]'
  // O(log d) loop instead (g40/g44) — complementary surfaces, not
  // competing). The oracle is the INDEPENDENT closed form (g40's
  // precedent: the chain is built so recursion has a window-derivable
  // answer — row_number ≤ 8 per customer), so the recursion machinery is
  // what's actually graded, not mirrored.
  private val c16 = QueryDef.graded(
    "c16_recursive_cte",
    """SELECT o_orderkey, o_custkey, pos FROM (
      |  SELECT o_orderkey, o_custkey,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey)::BIGINT AS pos
      |  FROM orders) t
      |WHERE pos <= 8
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // the walk emits one row per order across all iterations, so Spark's
    // recursion safety valve (cteRecursionRowLimit, default 1e6 rows)
    // trips below the 8x audit scale — raise it on a scoped session that
    // the edge view and the recursive query run on, so the caller's
    // session keeps its limit; the DEPTH limit stays at its default
    val s = graft.Sessions.scoped(spark,
      "spark.sql.cteRecursionRowLimit" -> "1000000000")
    // materialize the edge list ONCE: a plain CTE is inlined into every
    // recursive step, so the lead-window would be recomputed depth times
    // — persist + temp view makes each iteration a cache-read join.
    // (r16 measured the localCheckpoint alternative — LogicalRDD scans
    // instead of InMemoryRelation — at 3.2–3.5 s vs 2.6 s steady-state:
    // the per-step InternalRow↔Row conversion over 8 recursion steps
    // costs more than the columnar cache scans save. Kept as persist.)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderkey".as("src"),
        lead($"o_orderkey", 1).over(w).as("dst"),
        row_number().over(w).as("rn"))
      .persist()
      .createOrReplaceTempView("graft_c16_edges")
    s.sql(
      """WITH RECURSIVE r AS (
        |  SELECT o_custkey, src AS o_orderkey, CAST(1 AS BIGINT) AS pos
        |  FROM graft_c16_edges WHERE rn = 1
        |  UNION ALL
        |  SELECT e.o_custkey, e.dst, r.pos + 1
        |  FROM r JOIN graft_c16_edges e ON r.o_orderkey = e.src
        |    AND e.o_custkey = r.o_custkey
        |  WHERE e.dst IS NOT NULL AND r.pos < 8)
        |SELECT o_orderkey, o_custkey, pos FROM r
        |ORDER BY o_orderkey""".stripMargin)
  }

  // C17 — AS-OF WITH STALENESS TOLERANCE (the feature-store lookup rule:
  // "most recent feature value, but never older than the freshness
  // SLA"): each click joins to the user's latest preceding purchase
  // ONLY if it happened within 3 days — older matches become NULL, not
  // silently-stale features. Same union+ignore-nulls-window machinery
  // as c8 (one shuffle on the user key, no inequality self-join); the
  // tolerance is a colocated interval predicate applied AFTER the
  // as-of resolution, which is what makes it expressible without a
  // second join. Ties at one timestamp: purchases sort before clicks
  // (src), max event_id wins among simultaneous purchases — the c8
  // determinism rule.
  private val c17 = graded(
    "c17_join_asof_tolerance",
    """WITH u AS (
      |  SELECT user_id, ts AS t, 0 AS src, event_id AS aid, ts AS ats,
      |         CAST(NULL AS BIGINT) AS event_id
      |  FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, 1, CAST(NULL AS BIGINT),
      |         CAST(NULL AS TIMESTAMP), event_id
      |  FROM events WHERE event_type = 'click'
      |), m AS (
      |  SELECT user_id, event_id, src, t,
      |    last_value(aid IGNORE NULLS) OVER w AS last_pid,
      |    last_value(ats IGNORE NULLS) OVER w AS last_pts
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id ORDER BY t, src, aid
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT event_id, user_id,
      |  CASE WHEN last_pts IS NOT NULL AND t - last_pts <= INTERVAL 3 DAY
      |       THEN last_pid END AS asof_purchase,
      |  CASE WHEN last_pts IS NOT NULL AND t - last_pts <= INTERVAL 3 DAY
      |       THEN last_pts END AS asof_purchase_ts
      |FROM m WHERE src = 1
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.eventsUs(spark, dir)
    val purchases = ev.where($"event_type" === "purchase").select(
      $"user_id", $"ts_us".as("t"), lit(0).as("src"),
      $"event_id".as("aid"), $"ts_us".as("ats"),
      lit(null).cast("bigint").as("event_id"))
    val clicks = ev.where($"event_type" === "click").select(
      $"user_id", $"ts_us".as("t"), lit(1).as("src"),
      lit(null).cast("bigint").as("aid"),
      lit(null).cast("timestamp_ntz").as("ats"), $"event_id")
    val w = Window.partitionBy($"user_id").orderBy($"t", $"src", $"aid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fresh = $"last_pts".isNotNull &&
      expr("t - last_pts <= INTERVAL '3' DAY")
    purchases.unionByName(clicks)
      .select($"user_id", $"event_id", $"src", $"t",
        last($"aid", ignoreNulls = true).over(w).as("last_pid"),
        last($"ats", ignoreNulls = true).over(w).as("last_pts"))
      .where($"src" === 1)
      .select($"event_id", $"user_id",
        when(fresh, $"last_pid").as("asof_purchase"),
        when(fresh, $"last_pts").as("asof_purchase_ts"))
      .orderBy("event_id")
  }

  // C18 — NEAREST as-of join, completing the family (c8 backward, c12
  // forward, c17 tolerance): each event matches whichever adjacent order
  // is closest in time, ties to the earlier (backward) order. pandas
  // merge_asof(direction='nearest'), distributed. Same zero-join union
  // formulation as c8/c12 — both directions come out of ONE sorted
  // window pass (two frames over the same sort), then a pure map-side
  // argmin picks the side; no second shuffle. Time arithmetic is
  // tz-free integer µs: orders enter as days-since-epoch × 86400e6
  // (date subtraction, no timestamp cast), events as `ts div 1000` —
  // so the distance math is BIGINT-exact in both engines. An order at
  // the event's exact timestamp sorts before the event (src 0 < 1),
  // lands in the backward frame at distance 0, and wins any tie.
  private val c18 = graded(
    "c18_join_asof_nearest",
    """WITH u AS (
      |  SELECT o_custkey AS user_id,
      |    date_diff('day', DATE '1970-01-01', o_orderdate)::BIGINT
      |      * 86400000000 AS us,
      |    0 AS src, o_orderkey AS ok, CAST(NULL AS BIGINT) AS event_id
      |  FROM orders
      |  UNION ALL
      |  SELECT user_id, epoch_us(ts) AS us, 1 AS src,
      |    CAST(NULL AS BIGINT), event_id
      |  FROM events
      |), m AS (
      |  SELECT user_id, event_id, src, us,
      |    last_value(ok IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY us, src, ok
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_ok,
      |    first_value(ok IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY us, src, ok
      |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f_ok,
      |    first_value(CASE WHEN src = 0 THEN us END IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY us, src, ok
      |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f_us,
      |    last_value(CASE WHEN src = 0 THEN us END IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY us, src, ok
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_us
      |  FROM u
      |)
      |SELECT event_id, user_id,
      |  CASE
      |    WHEN b_ok IS NULL AND f_ok IS NULL THEN NULL
      |    WHEN f_ok IS NULL THEN b_ok
      |    WHEN b_ok IS NULL THEN f_ok
      |    WHEN (us - b_us) <= (f_us - us) THEN b_ok ELSE f_ok END
      |    AS near_orderkey,
      |  CASE
      |    WHEN b_ok IS NULL AND f_ok IS NULL THEN NULL
      |    WHEN f_ok IS NULL THEN us - b_us
      |    WHEN b_ok IS NULL THEN f_us - us
      |    WHEN (us - b_us) <= (f_us - us) THEN us - b_us
      |    ELSE f_us - us END AS dist_us,
      |  CASE
      |    WHEN b_ok IS NULL AND f_ok IS NULL THEN 'none'
      |    WHEN f_ok IS NULL THEN 'backward'
      |    WHEN b_ok IS NULL THEN 'forward'
      |    WHEN (us - b_us) <= (f_us - us) THEN 'backward'
      |    ELSE 'forward' END AS direction
      |FROM m WHERE src = 1
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val orders = Tables.orders(spark, dir).select(
      $"o_custkey".as("user_id"),
      (datediff($"o_orderdate", lit(java.sql.Date.valueOf("1970-01-01")))
        .cast("bigint") * 86400000000L).as("us"),
      lit(0).as("src"), $"o_orderkey".as("ok"),
      lit(null).cast("bigint").as("event_id"))
    val events = Tables.apply(spark, dir, "events").select(
      $"user_id", expr("ts div 1000").as("us"), lit(1).as("src"),
      lit(null).cast("bigint").as("ok"), $"event_id")
    val sorted = Window.partitionBy($"user_id").orderBy($"us", $"src", $"ok")
    val wb = sorted.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = sorted.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val ordUs = when($"src" === 0, $"us")
    val m = orders.unionByName(events)
      .select($"user_id", $"event_id", $"src", $"us",
        last($"ok", ignoreNulls = true).over(wb).as("b_ok"),
        last(ordUs, ignoreNulls = true).over(wb).as("b_us"),
        first($"ok", ignoreNulls = true).over(wf).as("f_ok"),
        first(ordUs, ignoreNulls = true).over(wf).as("f_us"))
      .where($"src" === 1)
    val bWins = $"b_ok".isNotNull && ($"f_ok".isNull
      || ($"us" - $"b_us") <= ($"f_us" - $"us"))
    m.select($"event_id", $"user_id",
        when($"b_ok".isNull && $"f_ok".isNull, lit(null).cast("bigint"))
          .when(bWins, $"b_ok").otherwise($"f_ok").as("near_orderkey"),
        when($"b_ok".isNull && $"f_ok".isNull, lit(null).cast("bigint"))
          .when(bWins, $"us" - $"b_us").otherwise($"f_us" - $"us")
          .as("dist_us"),
        when($"b_ok".isNull && $"f_ok".isNull, "none")
          .when(bWins, "backward").otherwise("forward").as("direction"))
      .orderBy("event_id")
  }

  // C19 — INTERVAL OVERLAP JOIN (the temporal-DB / genomics "overlap
  // join" completing the join family: c7 ranges a point against bands,
  // h12 unions intervals WITHIN a set — this joins two interval SETS on
  // overlap): which pairs of users had concurrently-active sessions, for
  // how long? Sessions come from h3's shared sessionSpansUs helper (one
  // definition — the two operators cannot desynchronize). The naive form
  // is an O(n²) inequality join; here each session lands in its covered
  // HOUR bands (sessions are hour-scale, so a handful of rows each; the
  // first form used DAY bands and paid 5.2 s at sf0.1 because every
  // session of a day paired with every other — band granularity must
  // match the interval scale, measured 5.2 → 1.4 s) and the join
  // is an EQUI-join on the band plus the overlap residual — Catalyst
  // plans a hash join, never a nested loop, and at 100 TB the shuffle
  // carries day-local sessions only. Pairs found in two shared bands
  // (midnight-spanning overlaps) are collapsed by a distinct on the
  // session-pair key BEFORE aggregation. All arithmetic is exact µs
  // integers; overlaps < 10 min are dropped by declaration.
  private val c19 = graded(
    "c19_join_interval",
    """WITH s AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 1 HOUR
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sid AS (
      |  SELECT user_id, ts,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM s),
      |sp AS (
      |  SELECT user_id, sid, min(epoch_us(ts))::BIGINT AS s_us,
      |    max(epoch_us(ts))::BIGINT AS e_us
      |  FROM sid GROUP BY user_id, sid),
      |p AS (
      |  SELECT a.user_id AS user_a, b.user_id AS user_b,
      |    least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us) AS ov_us
      |  FROM sp a JOIN sp b
      |    ON a.user_id < b.user_id
      |    AND a.s_us < b.e_us AND b.s_us < a.e_us)
      |SELECT user_a, user_b, count(*)::BIGINT AS n_overlaps,
      |  sum(ov_us)::BIGINT AS total_overlap_us
      |FROM p WHERE ov_us >= 600000000
      |GROUP BY user_a, user_b
      |ORDER BY user_a, user_b""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val sp = EventTime.sessionSpansUs(spark, dir)
      .select($"user_id", $"sid", $"s_us", $"e_us")
    // explode each session into its covered day bands (hour-scale
    // sessions → ≤ 2 bands); the band is the hash-join key
    val banded = sp.select($"user_id", $"sid", $"s_us", $"e_us",
      explode(expr(
        "sequence(s_us div 3600000000, e_us div 3600000000)")).as("day"))
    val a = banded.select($"day", $"user_id".as("user_a"),
      $"sid".as("sid_a"), $"s_us".as("sa"), $"e_us".as("ea"))
    val b = banded.select($"day", $"user_id".as("user_b"),
      $"sid".as("sid_b"), $"s_us".as("sb"), $"e_us".as("eb"))
    a.join(b, Seq("day"))
      .where($"user_a" < $"user_b" && $"sa" < $"eb" && $"sb" < $"ea")
      .select($"user_a", $"sid_a", $"user_b", $"sid_b",
        (least($"ea", $"eb") - greatest($"sa", $"sb")).as("ov_us"))
      .where($"ov_us" >= 600000000L)
      .distinct() // collapse pairs met in two shared day bands
      .groupBy($"user_a", $"user_b")
      .agg(count(lit(1)).cast("bigint").as("n_overlaps"),
        sum($"ov_us").cast("bigint").as("total_overlap_us"))
      .orderBy("user_a", "user_b")
  }

  // C20 — BLOOM-RUNTIME-FILTER join (the semi-join reduction every
  // at-scale engine applies when a selective dim filter faces a huge
  // fact: build a ~1 MB bloom over the surviving build keys, broadcast
  // it, and drop non-matching fact rows BEFORE the join shuffle — at
  // 100 TB the shuffle shrinks by the filter's selectivity, here ~86%).
  // Spark injects this automatically only under narrow conditions
  // (spark.sql.optimizer.runtime.bloomFilter); this key states it
  // EXPLICITLY with the bloom_agg/bloom_might_contain pair that
  // GraftExtensions exposes from Spark's own BloomFilterAggregate
  // machinery (the g50 primitives, here doing their real job). EXACT
  // semantics despite the approximate filter: blooms have zero false
  // negatives (PropertySpec-pinned law), so no qualifying row is
  // dropped, and the actual equi-join afterwards removes the false
  // positives — which is why the oracle is the PLAIN join, no bloom
  // anywhere. Sizing: 16k items / 160k bits ≈ 1% FPR at the surviving
  // key count; at 100 TB both literals scale with the filtered-dim
  // cardinality estimate, nothing else changes.
  private val c20 = graded(
    "c20_join_bloom",
    """SELECT l_returnflag,
      |  round(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(30,10))), 2)::DOUBLE AS rev,
      |  count(*)::BIGINT AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    // c10's view rule; the functions go where the query runs
    val s = graft.Sessions.scoped(spark)
    graft.GraftExtensions.register(s, graft.GraftExtensions.bloomAgg,
      graft.GraftExtensions.bloomMightContain)
    Tables.orders(s, dir).createOrReplaceTempView("graft_c20_orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_c20_lineitem")
    s.sql(
      """WITH dim AS (
        |  SELECT o_orderkey FROM graft_c20_orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000),
        |pruned AS (
        |  SELECT l_orderkey, l_returnflag, l_extendedprice, l_discount
        |  FROM graft_c20_lineitem
        |  WHERE bloom_might_contain(
        |    (SELECT bloom_agg(xxhash64(o_orderkey), 16000L, 160000L)
        |     FROM dim),
        |    xxhash64(l_orderkey)))
        |SELECT l_returnflag,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(30,10))), 2) AS DOUBLE) AS rev,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM pruned JOIN dim ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  // c21 — SPATIAL RADIUS SELF-JOIN by grid bucketing: the standard
  // distributed spatial-join shape (geohash/S2-style) on a plane of
  // points derived deterministically from the supplier table — "all
  // supplier pairs within radius R" (R = 100k on the 1M plane). One side explodes into its cell
  // plus the 8 neighbors (every within-R pair must share one of those
  // cells when the cell edge ≥ R — the 2-D pigeonhole), the candidate
  // join is a hash join on the cell key, and the EXACT integer squared
  // distance verifies. No haversine floats anywhere: coordinates and
  // distances are exact integers, so no engine-ulp boundary flip can
  // change the row set (the same reason g2 hashes tokens injectively).
  // At 100 TB this is a shuffle on cell keys with density-bounded
  // buckets — the spatial twin of every LSH family here.
  private val c21 = graded(
    "c21_join_spatial_grid", {
      val hx = graft.pipeline.Dedup.duckHex8At("md5(s_suppkey::VARCHAR)", 1)
      val hy = graft.pipeline.Dedup.duckHex8At("md5(s_suppkey::VARCHAR)", 9)
      s"""WITH pts AS (
      |  SELECT s_suppkey AS id, ($hx % 1000000)::BIGINT AS x,
      |    ($hy % 1000000)::BIGINT AS y
      |  FROM supplier),
      |cells AS (
      |  SELECT id, x, y, (x // 100000 + dx) AS cx, (y // 100000 + dy) AS cy
      |  FROM pts,
      |    (SELECT unnest([-1, 0, 1]) AS dx) a,
      |    (SELECT unnest([-1, 0, 1]) AS dy) b),
      |base AS (SELECT id, x, y, x // 100000 AS cx, y // 100000 AS cy FROM pts)
      |SELECT DISTINCT c.id AS id_a, p.id AS id_b,
      |  ((c.x - p.x) * (c.x - p.x) + (c.y - p.y) * (c.y - p.y))::BIGINT
      |    AS dist2
      |FROM cells c JOIN base p ON c.cx = p.cx AND c.cy = p.cy
      |  AND c.id < p.id
      |WHERE (c.x - p.x) * (c.x - p.x) + (c.y - p.y) * (c.y - p.y)
      |  <= 10000000000
      |ORDER BY id_a, id_b""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val pts = Tables.supplier(spark, dir)
      .select($"s_suppkey".as("id"),
        (conv(substring(md5($"s_suppkey".cast("string")), 1, 8), 16, 10)
          .cast("bigint") % 1000000L).as("x"),
        (conv(substring(md5($"s_suppkey".cast("string")), 9, 8), 16, 10)
          .cast("bigint") % 1000000L).as("y"))
    val cells = pts
      .crossJoin(broadcast(Seq(-1L, 0L, 1L).toDF("dx")))
      .crossJoin(broadcast(Seq(-1L, 0L, 1L).toDF("dy")))
      .select($"id", $"x", $"y",
        (expr("x div 100000") + $"dx").as("cx"),
        (expr("y div 100000") + $"dy").as("cy"))
    val base = pts.select($"id".as("id_b"), $"x".as("xb"), $"y".as("yb"),
      expr("x div 100000").as("cx"), expr("y div 100000").as("cy"))
    cells.join(base, Seq("cx", "cy"))
      .where($"id" < $"id_b")
      .withColumn("dist2",
        (($"x" - $"xb") * ($"x" - $"xb")
          + ($"y" - $"yb") * ($"y" - $"yb")).cast("bigint"))
      .where($"dist2" <= 10000000000L)
      .select($"id".as("id_a"), $"id_b", $"dist2")
      .distinct()
      .orderBy($"id_a", $"id_b")
  }

  // C22 — AQE AUTOMATIC SKEW SPLIT, the "when is c13's manual salt
  // unnecessary" row: the SAME kind of hot-key fact⋈fact join, left
  // UNSALTED, with AQE's OptimizeSkewedJoin doing the mitigation at
  // runtime — it splits the oversized shuffle partition into
  // advisory-sized mapper-chunk ranges and replicates the matching
  // build-side partition per chunk (salting's replicate-and-spread,
  // derived from RUNTIME sizes instead of a hand histogram). The graded
  // result equals the plain recompute (skew split is a physical rewrite,
  // not a semantic one) and PlanQualitySpec pins that the executed
  // adaptive plan actually carries a skew=true sort-merge join, so the
  // row can't silently degrade into an ordinary join.
  //
  // The fixture derives a genuinely hot key (60% of lineitem collapses
  // to key 0 — this corpus has no organic skew, r12's finding) and the
  // key plans on a conf-scoped session (graft.Sessions.scoped): skew
  // thresholds are scaled to the test corpus so the optimizer faces at
  // test scale exactly what default thresholds (256 MB partition, 64 MB
  // advisory) face at 100 TB — the demonstrated mechanism is identical,
  // not the numbers — broadcast is disabled so the join stays
  // sort-merge (the skewed regime — a broadcastable build side would
  // never skew in the first place), and none of it leaks to other keys.
  // The decision rule for operators: AQE handles skew that becomes
  // VISIBLE as one oversized shuffle partition of separable rows (this
  // row); c13's salt remains necessary when a single key's build side
  // must itself be split before the shuffle (explode-amplified or
  // hot×hot joins) or when AQE is off the table (streaming, non-SMJ).
  private val c22 = graded(
    "c22_join_skew_aqe",
    """WITH l AS (
      |  SELECT CASE WHEN l_orderkey % 10 < 6 THEN 0
      |    ELSE l_orderkey END AS k, l_extendedprice AS v
      |  FROM lineitem)
      |SELECT (l.k = 0) AS is_hot, count(*) AS n_rows,
      |  round(sum(CAST(l.v AS DECIMAL(30,10))), 2)::DOUBLE AS sum_v,
      |  count(o.o_orderkey)::BIGINT AS n_matched
      |FROM l LEFT JOIN orders o ON l.k = o.o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val s = graft.Sessions.scoped(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "512b")
    // the single-file corpus scans as ONE map task, and AQE can only
    // split a skewed reduce partition at MAPPER-OUTPUT granularity — an
    // indivisible single-mapper partition can never split. The round-
    // robin repartition (the documentsDist single-file fixup) restores
    // the multi-mapper layout any real table has.
    val l = Tables.lineitem(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(when($"l_orderkey" % 10 < 6, 0L)
        .otherwise($"l_orderkey").as("k"), $"l_extendedprice".as("v"))
    // the build side stays a PLAIN projected scan: OptimizeSkewedJoin
    // pattern-matches SMJ(Sort(shuffle), Sort(shuffle)) exactly, so an
    // aggregate between the build shuffle and its sort would disable the
    // rewrite (measured, not guessed — the groupBy variant never fired).
    // LEFT OUTER keeps the hot rows (key 0 matches no o_orderkey) and is
    // a left-splittable join type for the skew rule.
    val r = Tables.orders(s, dir).select($"o_orderkey")
    l.join(r, $"k" === $"o_orderkey", "left_outer")
      .groupBy(($"k" === 0L).as("is_hot"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum($"v".cast("decimal(30,10)")), 2).cast("double")
          .as("sum_v"),
        count($"o_orderkey").cast("bigint").as("n_matched"))
      .orderBy($"is_hot")
  }

  val defs: Seq[QueryDef] = Seq(c1, c2, c3, c4, c5, c6, c7, c8, c9, c10,
    c11, c12, c13, c14, c15, c16, c17, c18, c19, c20, c21, c22)
}
