package graft.operators

import graft.QueryDef
import graft.QueryDef.graded
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** E: window functions.
  *
  * Scale notes (100 TB): each query is exactly one shuffle on the window
  * partition key, then a per-partition sort — WindowExec. Rank-filter
  * queries (e5) additionally benefit from WindowGroupLimit pushdown, which
  * drops rows below the rank cutoff before the final sort. Window
  * orderings always carry a unique-key tiebreaker so ranks and frames are
  * deterministic across engines.
  */
object Windows {

  // E1 — rank within group, tiebroken to density.
  private val e1 = graded(
    "e1_win_rank",
    """SELECT c_nationkey, c_custkey, c_acctbal,
      |  rank() OVER (PARTITION BY c_nationkey
      |               ORDER BY c_acctbal DESC, c_custkey)::INT AS rk
      |FROM customer
      |ORDER BY c_nationkey, rk""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey").orderBy($"c_acctbal".desc, $"c_custkey")
    Tables.customer(spark, dir)
      .select($"c_nationkey", $"c_custkey", $"c_acctbal", rank().over(w).as("rk"))
      .orderBy("c_nationkey", "rk")
  }

  // E2 — lag/lead analytics with a day-gap derived column.
  private val e2 = graded(
    "e2_win_laglead",
    """SELECT o_custkey, o_orderkey,
      |  lag(o_orderkey) OVER w AS prev_ok,
      |  lead(o_orderkey) OVER w AS next_ok,
      |  datediff('day', lag(o_orderdate) OVER w, o_orderdate)::INT AS days_since_prev
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey",
        lag($"o_orderkey", 1).over(w).as("prev_ok"),
        lead($"o_orderkey", 1).over(w).as("next_ok"),
        datediff($"o_orderdate", lag($"o_orderdate", 1).over(w)).as("days_since_prev"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // E3 — sliding row frame + ntile bucketing.
  private val e3 = graded(
    "e3_win_frame",
    """SELECT o_custkey, o_orderkey,
      |  round(avg(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg,
      |  ntile(4) OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice, o_orderkey)::INT AS quartile
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val wf = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(-2, Window.currentRow)
    val wn = Window.partitionBy($"o_custkey").orderBy($"o_totalprice", $"o_orderkey")
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey",
        round(avg($"o_totalprice").over(wf), 6).as("mov_avg"),
        ntile(4).over(wn).as("quartile"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // E4 — running total (explicit ROWS frame so both engines use identical
  // frame semantics). The summand is DECIMAL, not double: even with a
  // deterministic frame order, the two engines' window ACCUMULATION
  // shapes differ (running accumulate vs segment tree), which reorders
  // double additions — the a20 grading hazard in window form; decimal
  // addition is associative, so the frame total is exact either way.
  private val e4 = graded(
    "e4_win_running",
    """SELECT o_custkey, o_orderkey,
      |  round(sum(CAST(o_totalprice AS DECIMAL(30,10))) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)::DOUBLE
      |    AS run_total
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey",
        round(sum($"o_totalprice".cast("decimal(30,10)")).over(w), 2)
          .cast("double").as("run_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // E5 — top-k per group: the idiomatic dedup/report primitive. Spark plans
  // a WindowGroupLimit that prunes below-cutoff rows before the full sort.
  private val e5 = graded(
    "e5_topk_pergroup",
    """SELECT o_custkey, rn, o_orderkey, o_totalprice
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey)::INT AS rn
      |  FROM orders) t
      |WHERE rn <= 2
      |ORDER BY o_custkey, rn""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice",
        row_number().over(w).as("rn"))
      .where($"rn" <= 2)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  // E6 — distribution window functions: percent_rank / cume_dist over the
  // acctbal distribution per market segment, plus first/last frame values.
  // Tiebreak by c_custkey inside the frame functions' ORDER BY keeps the
  // cross-engine ordering total.
  private val e6 = graded(
    "e6_win_dist",
    """SELECT c_custkey, c_mktsegment,
      |  round(percent_rank() OVER w, 6) AS pr,
      |  round(cume_dist() OVER w, 6) AS cd,
      |  first_value(c_custkey) OVER w AS poorest,
      |  nth_value(c_custkey, 2) OVER w AS second_poorest
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal", $"c_custkey")
    Tables.customer(spark, dir)
      .select($"c_custkey", $"c_mktsegment",
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        first($"c_custkey").over(w).as("poorest"),
        nth_value($"c_custkey", 2).over(w).as("second_poorest"))
      .orderBy("c_custkey")
  }

  // E7 — value-RANGE frame (vs e3's row-count frame): the frame is every
  // peer within 500.0 of the current acctbal, so tied/near values share
  // identical frames — deterministic under ties by construction, unlike
  // ROWS frames which need a unique ordering.
  private val e7 = graded(
    "e7_win_rangeframe",
    """SELECT c_custkey, c_mktsegment,
      |  round(sum(CAST(c_acctbal AS DECIMAL(30,10))) OVER (
      |    PARTITION BY c_mktsegment ORDER BY c_acctbal
      |    RANGE BETWEEN 500 PRECEDING AND CURRENT ROW), 2)::DOUBLE
      |    AS near_sum,
      |  count(*) OVER (
      |    PARTITION BY c_mktsegment ORDER BY c_acctbal
      |    RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS near_cnt
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal")
      .rangeBetween(-500, 0)
    Tables.customer(spark, dir)
      .select($"c_custkey", $"c_mktsegment",
        round(sum($"c_acctbal".cast("decimal(30,10)")).over(w), 2)
          .cast("double").as("near_sum"),
        count(lit(1)).over(w).as("near_cnt"))
      .orderBy("c_custkey")
  }

  // E8 — ntile bucketing (quartiles per partition): ntile depends only on
  // row ORDER, so the ordering carries a unique tiebreak (o_orderkey) —
  // without it the bucket boundary row is engine-dependent under price
  // ties. Both engines use the same larger-leading-buckets ntile rule.
  private val e8 = graded(
    "e8_ntile",
    """SELECT o_orderkey, o_orderpriority,
      |  ntile(4) OVER (PARTITION BY o_orderpriority
      |                 ORDER BY o_totalprice, o_orderkey) AS price_quartile
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderpriority",
        ntile(4).over(w).as("price_quartile"))
      .orderBy("o_orderkey")
  }

  // E9 — moving MEDIAN (robust rolling statistic): exact interpolating
  // percentile over a trailing 5-row frame per user — the outlier-proof
  // counterpart of e4's running mean, and the window form of d7/d18's
  // `percentile` ≡ `quantile_cont` pairing. Partitions on user_id like
  // every event-time window; the frame keeps per-row state at 5 values
  // regardless of scale.
  private val e9 = graded(
    "e9_moving_median",
    """SELECT event_id, user_id,
      |  round(value, 6) AS value,
      |  round(quantile_cont(value, 0.5) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med5
      |FROM events
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts_us", $"event_id").rowsBetween(-4, Window.currentRow)
    Tables.eventsUs(spark, dir)
      .select($"event_id", $"user_id",
        round($"value", 6).as("value"),
        round(expr("percentile(value, 0.5)").over(w), 6).as("med5"))
      .orderBy("event_id")
  }

  // E10 — running DISTINCT count over a window (the "discovery curve":
  // how many distinct event types each user has seen so far). Spark has
  // no DISTINCT window aggregate — the gap is bridged with
  // `size(collect_set() OVER running-frame)`, which keeps a per-frame
  // hash set exactly like a streaming stateful operator would; the
  // DuckDB twin states the intent directly as `count(DISTINCT) OVER`.
  // Per-user frames only — the set size is bounded by the event-type
  // cardinality (5), not the row count, so frame state stays O(1).
  private val e10 = graded(
    "e10_win_distinct",
    """SELECT user_id, event_id,
      |  count(DISTINCT event_type) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_types_seen
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.eventsUs(spark, dir)
      .select($"user_id", $"event_id",
        size(collect_set($"event_type").over(w)).cast("bigint")
          .as("n_types_seen"))
      .orderBy("user_id", "event_id")
  }

  // E11 — CONDITIONAL window aggregation (the FILTER clause): per event,
  // over the trailing 10-row frame, the count of high-value events and
  // the sum of click revenue only. Spark has no FILTER clause on window
  // aggregates — the bridge is sum(CASE) inside the frame (NULL-skipping
  // sum reproduces FILTER's empty-frame NULL exactly); the DuckDB twin
  // states FILTER directly. One window pass on the user_id shuffle;
  // frame state is O(frame), the h14 shape.
  private val e11 = graded(
    "e11_win_cond",
    """SELECT event_id, user_id,
      |  count(*) FILTER (WHERE value > 120) OVER w AS n_high,
      |  round(sum(CAST(value AS DECIMAL(30,10)))
      |    FILTER (WHERE event_type = 'click') OVER w, 2)::DOUBLE
      |    AS click_sum
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts_us", $"event_id").rowsBetween(-9, Window.currentRow)
    Tables.eventsUs(spark, dir)
      .select($"event_id", $"user_id",
        sum(when($"value" > 120, 1L).otherwise(0L)).over(w).as("n_high"),
        round(sum(when($"event_type" === "click", $"value")
          .cast("decimal(30,10)")).over(w), 2).cast("double")
          .as("click_sum"))
      .orderBy("event_id")
  }

  // E12 — window NAVIGATION functions (first_value / last_value /
  // nth_value): anchor every event to its user's first, latest and
  // second reading — the "compare to baseline" projection session
  // analytics runs constantly. All three read one full-partition frame
  // (ROWS UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING stated explicitly:
  // the default frame STOPS at CURRENT ROW, which silently turns
  // last_value into "current value" — the classic navigation bug, here
  // pinned by the oracle). Values are exact picks of stored doubles (no
  // arithmetic), so parity needs no rounding. One shuffle on user_id.
  private val e12 = graded(
    "e12_win_nav",
    """SELECT event_id, user_id,
      |  first_value(value) OVER w AS first_v,
      |  last_value(value) OVER w AS last_v,
      |  nth_value(value, 2) OVER w AS second_v
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.eventsUs(spark, dir)
      .select($"event_id", $"user_id",
        first($"value").over(w).as("first_v"),
        last($"value").over(w).as("last_v"),
        nth_value($"value", 2).over(w).as("second_v"))
      .orderBy("event_id")
  }

  // E13 — IGNORE NULLS window navigation (the sparse-column nav family
  // h6's LOCF is one instance of, graded as first-class semantics:
  // lag/last_value/first_value that SKIP nulls rather than return them —
  // SQL:2011 null treatment, the capability gap that separates "has
  // window functions" from "can navigate sparse telemetry"). The sparse
  // column is synthesized DETERMINISTICALLY (o_orderkey arithmetic, ~71%
  // null) so both engines see identical null placement. Window order
  // carries the unique o_orderkey — determinism under the DialectNotes
  // window rule. Shape at scale: one (o_custkey)-partitioned window pass;
  // IGNORE NULLS costs nothing extra — the frame walk just skips.
  private val e13 = graded(
    "e13_win_ignore_nulls",
    """WITH s AS (
      |  SELECT o_custkey, o_orderkey,
      |    CASE WHEN o_orderkey % 7 < 2 THEN o_totalprice END AS v
      |  FROM orders)
      |SELECT o_custkey, o_orderkey, round(v, 2) AS v,
      |  round(lag(v IGNORE NULLS) OVER w, 2) AS prev_obs,
      |  round(last_value(v IGNORE NULLS) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS locf,
      |  round(first_value(v IGNORE NULLS) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS first_obs
      |FROM s
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderkey")
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey",
        when($"o_orderkey" % 7 < 2, $"o_totalprice").as("v"))
      .select($"o_custkey", $"o_orderkey", round($"v", 2).as("v"),
        round(lag($"v", 1, null, ignoreNulls = true).over(w), 2)
          .as("prev_obs"),
        round(last($"v", ignoreNulls = true).over(wf), 2).as("locf"),
        round(first($"v", ignoreNulls = true).over(wf), 2).as("first_obs"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // E14 — TIME-INTERVAL RANGE frame (the calendar twin of e7's numeric
  // value range: the frame is "everything in the last 7 days", resolved
  // against the ORDER BY timestamp VALUE, not a row count — the shape
  // every rolling-revenue dashboard means when it says "trailing week").
  // The Spark side goes through SQL because the DataFrame API's
  // rangeBetween only takes long offsets — interval frame bounds are a
  // SQL-surface capability, which is exactly what this key grades.
  // Determinism: RANGE frames are value-resolved, so orderdate ties
  // share one frame — no tiebreak needed inside the window; the unique
  // o_orderkey orders the OUTPUT. Shape at scale: one
  // (o_custkey)-partitioned sort; the interval frame walk is the same
  // two-pointer sweep as any range frame — no self-join, no explosion.
  private val e14 = graded(
    "e14_win_range_interval",
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  round(sum(CAST(o_totalprice AS DECIMAL(30,10))) OVER w, 2)::DOUBLE
      |    AS rev_7d,
      |  count(*) OVER w AS n_7d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
      |  RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (spark, dir) =>
    // the view lives on the key's own session, not the caller's
    val s = graft.Sessions.scoped(spark)
    Tables.orders(s, dir).createOrReplaceTempView("graft_e14_orders")
    s.sql(
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))) OVER w, 2)
        |    AS DOUBLE) AS rev_7d,
        |  count(*) OVER w AS n_7d
        |FROM graft_e14_orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |  RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  // e15 — RATIO_TO_REPORT: each row's share of its partition total (the
  // Oracle/Redshift-named window idiom, here as the exact-ppm integer
  // quotient this engine grades shares with — no float division rides
  // the window). The whole-partition sum is an unbounded window frame
  // over the mktsegment partition; Spark plans it as a single
  // WindowExec pass after one segment-key shuffle, no self-join.
  private val e15 = graded(
    "e15_win_ratio_report",
    """SELECT c_custkey, c_mktsegment,
      |  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
      |  (CAST(round(c_acctbal * 100, 0) AS BIGINT) * 1000000
      |    // sum(CAST(round(c_acctbal * 100, 0) AS BIGINT))
      |      OVER (PARTITION BY c_mktsegment))::BIGINT AS share_ppm
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"c_mktsegment")
    Tables.customer(spark, dir)
      .select($"c_custkey", $"c_mktsegment",
        round($"c_acctbal" * 100, 0).cast("bigint").as("bal_cents"))
      .withColumn("seg_total", sum($"bal_cents").over(w))
      .withColumn("share_ppm",
        expr("(bal_cents * 1000000) div seg_total").cast("bigint"))
      .drop("seg_total")
      .orderBy($"c_custkey")
  }

  val defs: Seq[QueryDef] =
    Seq(e1, e2, e3, e4, e5, e6, e7, e8, e9, e10, e11, e12, e13, e14, e15)
}
