package graft.operators

import graft.QueryDef
import graft.QueryDef.graded
import graft.sources.{Fixtures, Tables, TmpDirs}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** H: event-time windowing semantics, graded in batch form (SURVEY §1.2 —
  * Spark's `window()` expression is the same operator in batch and
  * Structured Streaming; the streaming wrapper lives in
  * [[graft.streaming.StreamingDemo]]).
  *
  * Scale notes (100 TB): tumbling/sliding windows are plain hash
  * aggregates on a derived bucket key — they shuffle pre-aggregated
  * buckets only. Sessionization is one window pass per user partition
  * (shuffle on user_id), the same layout a streaming stateful operator
  * would keep; skewed users are handled by AQE skew splitting on the
  * shuffle.
  */
object EventTime {

  // H1 — tumbling daily window. window().start is emitted µs-normalized so
  // it equals DuckDB's time_bucket on the truncated timestamp. The value
  // sum is graded in EXACT CENTS (cast per-row to integer cents, sum
  // bigint) — a raw double Σ cannot be graded at any rounding because
  // summation order varies across partition layouts and engines
  // (DialectNotes rule; the a19/d21 precedent). Exact cents also make the
  // h34 streaming twin bit-stable across micro-batch partial aggregates.
  /** Shared by h1 (batch) and h34 (the Structured Streaming parity key):
    * one oracle definition means the two keys can never drift apart on
    * what "the tumbling daily report" is.
    */
  private val tumblingOracle =
    """SELECT time_bucket(INTERVAL 1 DAY, ts) AS day_start,
      |  count(*) AS n_events,
      |  sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS sum_cents
      |FROM events
      |GROUP BY day_start
      |ORDER BY day_start""".stripMargin

  private val h1 = graded("h1_win_tumbling", tumblingOracle) { (spark, dir) =>
    import spark.implicits._
    Tables.eventsUs(spark, dir)
      .groupBy(window($"ts_us", "1 day"))
      .agg(count(lit(1)).as("n_events"),
        sum(round($"value" * 100, 0).cast("bigint")).cast("bigint")
          .as("sum_cents"))
      .select($"window.start".as("day_start"), $"n_events", $"sum_cents")
      .orderBy("day_start")
  }

  // H2 — sliding window (2-day span, 1-day slide): each event lands in two
  // windows. The oracle reconstructs the same windows from a calendar
  // spine + range join; the inner join drops empty windows on both sides.
  // The spine bounds derive from the data (not literals) so a regenerated
  // fixture with a wider ts range cannot silently truncate the oracle.
  // Value sum graded in exact cents (h1's rule — a raw double Σ cannot be
  // graded at any rounding).
  private val h2 = graded(
    "h2_win_sliding",
    """WITH b AS (
      |  SELECT time_bucket(INTERVAL 1 DAY, min(ts)) - INTERVAL 1 DAY AS lo,
      |         time_bucket(INTERVAL 1 DAY, max(ts)) AS hi
      |  FROM events),
      |spine AS (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS win_start FROM b)
      |SELECT win_start, count(*) AS n_events,
      |  sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS sum_cents
      |FROM spine
      |JOIN events ON ts >= win_start AND ts < win_start + INTERVAL 2 DAY
      |GROUP BY win_start
      |ORDER BY win_start""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.eventsUs(spark, dir)
      .groupBy(window($"ts_us", "2 days", "1 day"))
      .agg(count(lit(1)).as("n_events"),
        sum(round($"value" * 100, 0).cast("bigint")).cast("bigint")
          .as("sum_cents"))
      .select($"window.start".as("win_start"), $"n_events", $"sum_cents")
      .orderBy("win_start")
  }

  /** THE sessionization rule (1-hour inactivity gap), shared by h3 and
    * h10 so the two can never silently desynchronize: lag → new-session
    * flag → running-sum session id → per-session span. Integer-µs domain
    * throughout (no float, no ns residue).
    * @return (user_id, sid, n_events, s_us, e_us)
    */
  private[operators] def sessionSpansUs(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val gapUs = 3600L * 1000 * 1000
    val ev = Tables.apply(spark, dir, "events")
      .select($"user_id", $"event_id", expr("ts div 1000").as("us"))
    val wl = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val wr = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("new_s",
        when(lag($"us", 1).over(wl).isNull
          || $"us" - lag($"us", 1).over(wl) > gapUs, 1).otherwise(0))
      .withColumn("sid", sum($"new_s").over(wr).cast("bigint"))
      .groupBy($"user_id", $"sid")
      .agg(count(lit(1)).as("n_events"),
        min($"us").as("s_us"), max($"us").as("e_us"))
  }

  // H3 — sessionization with a 1-hour inactivity gap: lag → new-session
  // flag → running-sum session id → per-session aggregate. All timestamp
  // arithmetic happens µs-normalized so both engines see identical gaps.
  private val h3 = graded(
    "h3_sessionize",
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 1 HOUR
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT user_id, event_id, ts,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
      |  FROM g
      |)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end
      |FROM s
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    sessionSpansUs(spark, dir)
      .select($"user_id", $"sid".as("session_id"), $"n_events",
        timestamp_micros($"s_us").as("session_start"),
        timestamp_micros($"e_us").as("session_end"))
      .orderBy("user_id", "session_id")
  }

  // H5 — calendar gap-fill: daily event counts with missing days emitted
  // as zero rows. The spine is generated from the data's own min/max day
  // (sequence + explode — a generator, not a driver-side loop) and
  // left-joined against the aggregated days; at 100 TB the daily
  // aggregate is tiny regardless of input size, so the spine join is a
  // broadcast. The report twin of streaming's "emit empty windows".
  private val h5 = graded(
    "h5_gap_fill",
    """WITH d AS (
      |  SELECT date_trunc('day', ts) AS day, count(*) AS n
      |  FROM events GROUP BY 1),
      |mm AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
      |spine AS (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
      |  FROM mm)
      |SELECT spine.day, coalesce(d.n, 0)::BIGINT AS n_events
      |FROM spine LEFT JOIN d USING (day)
      |ORDER BY day""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val daily = Tables.eventsUs(spark, dir)
      .groupBy(date_trunc("DAY", $"ts_us").as("day"))
      .agg(count(lit(1)).as("n"))
    val spine = daily.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    spine.join(daily, Seq("day"), "left")
      .select($"day", coalesce($"n", lit(0L)).as("n_events"))
      .orderBy("day")
  }

  // H6 — forward-fill (LOCF: last observation carried forward), the other
  // half of gap handling next to h5's zero-fill. A sparse reading (value
  // observed only when value > 120, deterministically derived so both
  // engines see identical nulls) is carried forward per user in event
  // order via `last_value(... IGNORE NULLS)` over a running frame — one
  // window pass, shuffle on user_id only, the same layout sessionize
  // uses.
  private val h6 = graded(
    "h6_locf",
    """SELECT user_id, event_id,
      |  round(reading, 2) AS reading,
      |  round(last_value(reading IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS filled
      |FROM (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN value > 120 THEN value END AS reading
      |  FROM events) t
      |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.eventsUs(spark, dir)
      .withColumn("reading", when($"value" > 120, $"value"))
      .select($"user_id", $"event_id",
        round($"reading", 2).as("reading"),
        round(last($"reading", ignoreNulls = true).over(w), 2).as("filled"))
      .orderBy("user_id", "event_id")
  }

  // H7 — conversion funnel (view → click → purchase) with STRICT temporal
  // ordering: a step counts only if it happens after the user's first
  // qualifying previous step (min(ts WHERE type=click AND ts > first
  // view), not just "has a click"). Three per-user aggregations chained
  // by step — every join/agg shuffles on user_id only, and the scan
  // pushes the event_type filter, so each step reads one type's rows.
  // The product-analytics report every event pipeline ends up running.
  private val h7 = graded(
    "h7_funnel",
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, min(e.ts) AS t3
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |  GROUP BY e.user_id)
      |SELECT step, n_users FROM (
      |  SELECT 1 AS step, '1_view' AS step_name, count(*)::BIGINT AS n_users FROM s1
      |  UNION ALL SELECT 2, '2_click', count(*)::BIGINT FROM s2
      |  UNION ALL SELECT 3, '3_purchase', count(*)::BIGINT FROM s3) f
      |ORDER BY step""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.eventsUs(spark, dir)
    val s1 = ev.where($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts_us").as("t1"))
    val s2 = ev.where($"event_type" === "click")
      .join(s1, "user_id").where($"ts_us" > $"t1")
      .groupBy($"user_id").agg(min($"ts_us").as("t2"))
    val s3 = ev.where($"event_type" === "purchase")
      .join(s2, "user_id").where($"ts_us" > $"t2")
      .groupBy($"user_id").agg(min($"ts_us").as("t3"))
    s1.agg(lit(1).as("step"), count(lit(1)).as("n_users"))
      .union(s2.agg(lit(2), count(lit(1))))
      .union(s3.agg(lit(3), count(lit(1))))
      .orderBy("step")
  }

  // H8 — cohort retention: cohort = a user's first-activity day; a cell
  // (cohort_day, day_offset) counts users from that cohort active again
  // `offset` days later. Distinct (user, day) activity first — one row
  // per user-day however many raw events — then one shuffle on user_id
  // to attach cohorts. Day keys travel as strings (engine-neutral
  // hashing; dates/timestamps have cross-engine dtype hazards).
  private val h8 = graded(
    "h8_retention",
    """WITH act AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
      |coh AS (SELECT user_id, min(day) AS cday FROM act GROUP BY user_id)
      |SELECT strftime(coh.cday, '%Y-%m-%d') AS cohort_day,
      |  date_diff('day', coh.cday, act.day)::BIGINT AS day_offset,
      |  count(*)::BIGINT AS n_users
      |FROM act JOIN coh ON act.user_id = coh.user_id
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val act = Tables.eventsUs(spark, dir)
      .select($"user_id", date_trunc("DAY", $"ts_us").as("day")).distinct()
    val coh = act.groupBy($"user_id").agg(min($"day").as("cday"))
    act.join(coh, "user_id")
      .groupBy(date_format($"cday", "yyyy-MM-dd").as("cohort_day"),
        datediff($"day", $"cday").cast("bigint").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  // h9 — event-sequence pattern matching (MATCH_RECOGNIZE-lite / CEP):
  // per user, the event types in strict (ts, event_id) order form a
  // string, and the pattern "view,click,purchase" is counted as strictly
  // ADJACENT, non-overlapping, left-to-right occurrences — the strict
  // form of h7's funnel (h7 allows interleaving, h9 does not). Both
  // engines count non-overlapping matches left-to-right. One groupBy on
  // user_id; the per-user sequence string is bounded by the user's event
  // count, never the corpus. Ordering lives in the µs domain on both
  // sides (g1's rule) so ns residue can't flip adjacent events.
  private val h9 = graded(
    "h9_seq_pattern",
    """SELECT user_id, count(*)::BIGINT AS n_events,
      |  len(regexp_extract_all(
      |    string_agg(event_type, ',' ORDER BY ts, event_id),
      |    'view,click,purchase'))::BIGINT AS n_strict_funnels
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.eventsUs(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(ts_us, event_id, event_type))), s -> s.event_type)"),
          ",").as("seq"))
      .select($"user_id", $"n_events",
        expr("cast(regexp_count(seq, 'view,click,purchase') as bigint)")
          .as("n_strict_funnels"))
      .orderBy("user_id")
  }

  // h10 — max concurrent sessions per day (the capacity-planning sweep
  // line): sessions ([[sessionSpansUs]] — h3's rule, shared code) become
  // ±1 deltas at their closed-interval endpoints (−1 at end + 1 µs so
  // single-event sessions still count), deltas are NETTED per distinct µs
  // (so no window ever sees ties), and concurrency = running sum over
  // time. A day's true peak is max(carry-in level at midnight, in-day
  // delta levels) — sampling only in-day deltas under-reports when the
  // peak walks in over midnight, and days with zero deltas but active
  // carried-over sessions would vanish — so the output is a full day
  // SPINE (h5's gap-fill machinery) with the carry-in LOCF'd along it
  // (h6's machinery). The oracle states the running sum as ONE global
  // window; the Spark side computes the identical result with the g28
  // two-pass distributed prefix sum keyed by day — the only global-order
  // windows touch the tiny per-day tables. µs-integer domain throughout;
  // day keys are strings (h8's dtype rule).
  private val h10 = graded(
    "h10_max_concurrency",
    """WITH g AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |), s AS (
      |  SELECT user_id, us,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM g
      |), sess AS (
      |  SELECT user_id, sid, min(us) AS s_us, max(us) AS e_us
      |  FROM s GROUP BY user_id, sid
      |), d0 AS (
      |  SELECT s_us AS us, 1 AS d FROM sess
      |  UNION ALL
      |  SELECT e_us + 1, -1 FROM sess
      |), d AS (
      |  SELECT us, sum(d) AS d FROM d0 GROUP BY us
      |), c AS (
      |  SELECT us, us // 86400000000 AS day_k,
      |    sum(d) OVER (ORDER BY us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |  FROM d
      |), per_day AS (
      |  SELECT day_k, max(conc) AS in_day_max, arg_max(conc, us) AS end_conc
      |  FROM c GROUP BY day_k
      |), spine AS (
      |  SELECT unnest(generate_series((SELECT min(day_k) FROM per_day),
      |                                (SELECT max(day_k) FROM per_day))) AS day_k
      |), sp AS (
      |  SELECT spine.day_k, per_day.in_day_max,
      |    last_value(per_day.end_conc IGNORE NULLS) OVER (
      |      ORDER BY spine.day_k
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS carry_in
      |  FROM spine LEFT JOIN per_day ON spine.day_k = per_day.day_k
      |)
      |SELECT strftime(make_timestamp(day_k * 86400000000), '%Y-%m-%d') AS day,
      |  greatest(coalesce(carry_in, 0), coalesce(in_day_max, 0))::BIGINT
      |    AS max_concurrent
      |FROM sp
      |ORDER BY day""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val usPerDay = 86400000000L
    val sess = sessionSpansUs(spark, dir)
    val deltas = sess.select($"s_us".as("us"), lit(1L).as("d"))
      .unionAll(sess.select(($"e_us" + 1L).as("us"), lit(-1L).as("d")))
      .groupBy($"us").agg(sum($"d").as("d"))
      .withColumn("day_k", expr(s"us div $usPerDay"))
    // two-pass prefix sum (g28): day-local cumsum + tiny per-day totals
    val wLocal = Window.partitionBy($"day_k").orderBy($"us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = deltas.withColumn("lcs", sum($"d").over(wLocal))
    val wDay = Window.orderBy($"day_k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixes = deltas.groupBy($"day_k").agg(sum($"d").as("dtot"))
      .withColumn("dprefix", sum($"dtot").over(wDay) - $"dtot")
      .select($"day_k", $"dprefix")
    // per-day peak among in-day deltas + the level carried past midnight
    val perDay = local.join(broadcast(prefixes), "day_k")
      .withColumn("conc", $"dprefix" + $"lcs")
      .groupBy($"day_k")
      .agg(max($"conc").as("in_day_max"),
        expr("max_by(conc, us)").as("end_conc"))
    // full day spine (h5) with the carry-in level LOCF'd along it (h6);
    // the spine and windows are day-granular — tiny at any event scale
    val bounds = perDay.agg(min($"day_k").as("lo"), max($"day_k").as("hi"))
    val spine = bounds
      .select(explode(expr("sequence(lo, hi)")).as("day_k"))
    val wCarry = Window.orderBy($"day_k")
      .rowsBetween(Window.unboundedPreceding, -1)
    spine.join(perDay, Seq("day_k"), "left")
      .withColumn("carry_in", last($"end_conc", ignoreNulls = true).over(wCarry))
      .select(
        date_format(timestamp_micros($"day_k" * usPerDay), "yyyy-MM-dd")
          .as("day"),
        greatest(coalesce($"carry_in", lit(0L)),
          coalesce($"in_day_max", lit(0L))).as("max_concurrent"))
      .orderBy("day")
  }

  // H11 — gaps-and-islands: per-user longest run of CONSECUTIVE active
  // days (the retention/engagement "streak" metric). The classic
  // O(n)·two-window reduction: distinct (user, day) → day_number minus
  // row_number is constant within a consecutive run → group on that
  // island key. Day arithmetic is integer (days since epoch) in both
  // engines; no session gap heuristics, calendar-day exact. Shuffles:
  // one distinct on (user, day), one window partitioned by user, two
  // cheap aggregates — all on the user key, no global ordering anywhere.
  private val h11 = graded(
    "h11_streaks",
    """WITH d AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |n AS (
      |  SELECT user_id, day,
      |    datediff('day', DATE '1970-01-01', day)
      |      - row_number() OVER (PARTITION BY user_id ORDER BY day) AS isl
      |  FROM d),
      |s AS (
      |  SELECT user_id, isl, count(*) AS len FROM n GROUP BY user_id, isl)
      |SELECT user_id,
      |  count(*) AS n_streaks,
      |  max(len) AS longest_streak,
      |  sum(len)::BIGINT AS n_active_days
      |FROM s GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val d = Tables.eventsUs(spark, dir)
      .select($"user_id", to_date($"ts_us").as("day")).distinct()
    val isl = d.withColumn("isl",
      datediff($"day", lit("1970-01-01").cast("date"))
        - row_number().over(Window.partitionBy($"user_id").orderBy($"day")))
    isl.groupBy($"user_id", $"isl").agg(count(lit(1)).as("len"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_streaks"),
        max($"len").as("longest_streak"),
        sum($"len").as("n_active_days"))
      .orderBy("user_id")
  }

  // H12 — merged interval union per user (total "busy" time): each event
  // opens an interval [ts, ts + floor(value·60) seconds); overlapping or
  // touching intervals merge; the graded output is the merged-interval
  // count and total/longest covered time. The distributed sweep is the
  // running-max-of-end window EXCLUDING the current row: an interval
  // starts a new merged block iff its start exceeds every previous end.
  // All arithmetic is integer µs (the h3 rule — no float time anywhere);
  // the duration derives via floor() BEFORE the bigint cast because
  // double→int64 casts round in DuckDB but truncate in Spark. One
  // user-partitioned sort feeds both windows; nothing global.
  private val h12 = graded(
    "h12_interval_union",
    """WITH iv AS (
      |  SELECT user_id, epoch_us(ts) AS s,
      |    epoch_us(ts) + floor(value * 60)::BIGINT * 1000000 AS e
      |  FROM events),
      |m AS (
      |  SELECT user_id, s, e,
      |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM iv),
      |g AS (
      |  SELECT user_id, s, e,
      |    sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY s, e
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS blk
      |  FROM m),
      |u AS (
      |  SELECT user_id, blk, min(s) AS bs, max(e) AS be, count(*) AS n_iv
      |  FROM g GROUP BY user_id, blk)
      |SELECT user_id,
      |  count(*) AS n_merged,
      |  sum(n_iv)::BIGINT AS n_intervals,
      |  sum(be - bs)::BIGINT AS busy_us,
      |  max(be - bs) AS longest_us
      |FROM u GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val iv = Tables.apply(spark, dir, "events")
      .select($"user_id", expr("ts div 1000").as("s"),
        (expr("ts div 1000")
          + floor($"value" * 60).cast("bigint") * lit(1000000L)).as("e"))
    val wl = Window.partitionBy($"user_id").orderBy($"s", $"e")
    val prev = wl.rowsBetween(Window.unboundedPreceding, -1)
    val run = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv
      .withColumn("prev_max", max($"e").over(prev))
      .withColumn("blk",
        sum(when($"prev_max".isNull || $"s" > $"prev_max", 1).otherwise(0))
          .over(run).cast("bigint"))
      .groupBy($"user_id", $"blk")
      .agg(min($"s").as("bs"), max($"e").as("be"), count(lit(1)).as("n_iv"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_merged"),
        sum($"n_iv").as("n_intervals"),
        sum($"be" - $"bs").as("busy_us"),
        max($"be" - $"bs").as("longest_us"))
      .orderBy("user_id")
  }

  // H13 — out-of-orderness profiling: per-user lateness distribution,
  // where lateness = (running max event-time in ARRIVAL order) − event
  // time. This is the batch measurement that sizes a streaming
  // watermark (H4): the watermark delay must cover the observed lateness
  // quantile you are willing to wait for; guessing it wastes state or
  // drops events. Arrival order is event_id (the ingest sequence);
  // all arithmetic integer-µs (h3's rule). One user-partitioned window +
  // one aggregate.
  private val h13 = graded(
    "h13_lateness",
    """WITH l AS (
      |  SELECT user_id,
      |    max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - epoch_us(ts) AS late_us
      |  FROM events)
      |SELECT user_id,
      |  count(*) AS n_events,
      |  count(CASE WHEN late_us > 0 THEN 1 END) AS n_late,
      |  max(late_us) AS max_late_us,
      |  round(quantile_cont(late_us, 0.95), 6) AS p95_late_us
      |FROM l
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.apply(spark, dir, "events")
      .select($"user_id", $"event_id", expr("ts div 1000").as("us"))
      .withColumn("late_us", max($"us").over(w) - $"us")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        count(when($"late_us" > 0, 1)).as("n_late"),
        max($"late_us").as("max_late_us"),
        round(expr("percentile(late_us, 0.95)"), 6).as("p95_late_us"))
      .orderBy("user_id")
  }

  // H14 — rolling z-score anomaly detection: each event scored against a
  // trailing OUT-OF-SAMPLE baseline (the 10 rows strictly before it, so
  // an outlier never contaminates its own baseline — the streaming
  // monitor shape, computable with the same window in a stateful stream).
  // Scores need >= 5 baseline rows and a nonzero spread; z is rounded to
  // 6dp BEFORE the |z| > 2 threshold and the per-user max so both engines
  // compare identical numbers (sliding-frame avg/stddev accumulate in
  // different tree orders across engines; ~1e-13 relative residue,
  // absorbed at 6dp). One user-partitioned window, no global ordering —
  // the shuffle key is user_id, the same layout h3/h13 already use.
  private val h14 = graded(
    "h14_rolling_zscore",
    """WITH z AS (
      |  SELECT user_id, value,
      |    avg(value) OVER w AS mu,
      |    stddev_samp(value) OVER w AS sd,
      |    count(*) OVER w AS n
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
      |), s AS (
      |  SELECT user_id, round((value - mu) / sd, 6) AS zr
      |  FROM z WHERE n >= 5 AND sd > 0)
      |SELECT user_id,
      |  count(*) AS n_scored,
      |  count(CASE WHEN abs(zr) > 2 THEN 1 END) AS n_anomalies,
      |  max(abs(zr)) AS max_abs_z
      |FROM s GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(-10, -1)
    Tables.eventsUs(spark, dir)
      .withColumn("mu", avg($"value").over(w))
      .withColumn("sd", stddev_samp($"value").over(w))
      .withColumn("n", count(lit(1)).over(w))
      .where($"n" >= 5 && $"sd" > 0)
      .withColumn("zr", round(($"value" - $"mu") / $"sd", 6))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_scored"),
        count(when(abs($"zr") > 2, 1)).as("n_anomalies"),
        max(abs($"zr")).as("max_abs_z"))
      .orderBy("user_id")
  }

  // H15 — last-touch attribution: every purchase is credited to the most
  // recent preceding marketing touch (view or click) by the same user.
  // The touch id is carried forward with the LOCF machinery (h6's
  // ignore-nulls last_value over the user timeline) instead of an
  // inequality self-join — one window pass on the user_id shuffle vs an
  // O(purchases × touches) range join; at 100 TB the difference is the
  // whole query. Touch details come back via one equi-join on event_id
  // (broadcast-sized: purchases are ~1/5 of events). Gap arithmetic
  // stays integer-µs (h3's rule).
  private val h15 = graded(
    "h15_attribution",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      |  FROM events),
      |t AS (
      |  SELECT user_id, event_id, event_type, us,
      |    last_value(CASE WHEN event_type IN ('view', 'click')
      |                    THEN event_id END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_id
      |  FROM e)
      |SELECT t.user_id, t.event_id AS purchase_id, t.touch_id,
      |  x.event_type AS touch_type,
      |  (t.us - x.us) AS gap_us
      |FROM t JOIN e x ON t.touch_id = x.event_id
      |WHERE t.event_type = 'purchase'
      |ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val e = Tables.apply(spark, dir, "events")
      .select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("us"))
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val t = e
      .withColumn("touch_id",
        last(when($"event_type".isin("view", "click"), $"event_id"),
          ignoreNulls = true).over(w))
      .where($"event_type" === "purchase" && $"touch_id".isNotNull)
    val x = e.select($"event_id".as("touch_id"),
      $"event_type".as("touch_type"), $"us".as("touch_us"))
    t.join(x, "touch_id")
      .select($"user_id", $"event_id".as("purchase_id"), $"touch_id",
        $"touch_type", ($"us" - $"touch_us").as("gap_us"))
      .orderBy("purchase_id")
  }

  // H16 — EWMA smoothing per user (the classic monitoring smoother next
  // to h14's z-score and e9's moving median). EWMA is a recursion, which
  // SQL can't state — but a (1−α)-geometric tail decays below float
  // noise fast, so the 10-term truncated form IS the operator: ewma_t =
  // Σ_j w_j·x_{t−j} / Σ_j w_j over the lags that exist. The weights are
  // precomputed in Scala and inlined as shortest-round-trip double
  // LITERALS into both engines' SQL — pow() is not required to be
  // correctly rounded, so evaluating it per-engine could differ in the
  // last ulp, while a decimal literal parses to the identical double in
  // both. The ±-chain is a fixed left-to-right expression tree (not an
  // aggregation), so summation order is deterministic; round(6) on top.
  // One user-partitioned sort serves all 10 lags — Spark collapses them
  // into a single Window physical node.
  private val h16: QueryDef = {
    val alpha = 0.2
    val w = (0 to 9).map(j => math.pow(1 - alpha, j))
    val oNum = w.zipWithIndex
      .map { case (wj, j) => s"coalesce(lag(value, $j) OVER w * $wj, 0)" }
      .mkString(" + ")
    val oDen = w.zipWithIndex
      .map { case (wj, j) =>
        s"(CASE WHEN lag(value, $j) OVER w IS NOT NULL THEN $wj ELSE 0 END)" }
      .mkString(" + ")
    graded(
      "h16_ewma",
      s"""SELECT user_id, event_id, round(value, 2) AS value,
        |  round(($oNum) / ($oDen), 6) AS ewma
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val win = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      val num = w.zipWithIndex.map { case (wj, j) =>
        coalesce(lag($"value", j).over(win) * lit(wj), lit(0.0)) }
        .reduce(_ + _)
      val den = w.zipWithIndex.map { case (wj, j) =>
        when(lag($"value", j).over(win).isNotNull, lit(wj)).otherwise(lit(0.0)) }
        .reduce(_ + _)
      Tables.eventsUs(spark, dir)
        .select($"user_id", $"event_id", round($"value", 2).as("value"),
          round(num / den, 6).as("ewma"))
        .orderBy("user_id", "event_id")
    }
  }

  // H17 — MULTI-touch attribution (U-shaped / position-based): every
  // purchase splits credit over ALL its preceding touches within 1 hour —
  // 100% to a lone touch, 50/50 for two, else 40/40 to first/last and
  // 20% shared equally by the middles. Complements h15's last-touch
  // (one window pass) with the interval-join shape: an equi-join on
  // user_id time-bounded in both directions — the same join whose
  // streaming form (H4 attributionJoin) evicts state by watermark; at
  // scale the shuffle key is user_id and the time bound caps the
  // per-purchase fan-out. Credit fractions derive from integer rank/count
  // only; the final per-type sum rounds at 6dp (float-sum-order rule).
  private val h17 = graded(
    "h17_multitouch",
    """WITH t AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      |  FROM events WHERE event_type IN ('view', 'click')),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT p.purchase_id, t.event_id, t.event_type, t.us,
      |    row_number() OVER (PARTITION BY p.purchase_id
      |      ORDER BY t.us, t.event_id) AS rn,
      |    count(*) OVER (PARTITION BY p.purchase_id) AS n
      |  FROM p JOIN t ON t.user_id = p.user_id
      |    AND t.us >= p.p_us - 3600000000 AND t.us < p.p_us),
      |c AS (
      |  SELECT event_type,
      |    CASE WHEN n = 1 THEN 1.0
      |         WHEN n = 2 THEN 0.5
      |         WHEN rn = 1 OR rn = n THEN 0.4
      |         ELSE 0.2 / (n - 2) END AS credit
      |  FROM j)
      |SELECT event_type, count(*) AS n_touches,
      |  round(sum(CAST(credit AS DECIMAL(30,10))), 6)::DOUBLE
      |    AS total_credit
      |FROM c GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.apply(spark, dir, "events")
      .select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("us"))
    val t = ev.where($"event_type".isin("view", "click"))
      .select($"user_id", $"event_id", $"event_type", $"us")
    val p = ev.where($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"us".as("p_us"))
    val wOrd = Window.partitionBy($"purchase_id").orderBy($"us", $"event_id")
    val wAll = Window.partitionBy($"purchase_id")
    p.join(t, Seq("user_id"))
      .where($"us" >= $"p_us" - lit(3600000000L) && $"us" < $"p_us")
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("credit",
        when($"n" === 1, 1.0)
          .when($"n" === 2, 0.5)
          .when($"rn" === 1 || $"rn" === $"n", 0.4)
          .otherwise(lit(0.2) / ($"n" - 2)))
      .groupBy($"event_type")
      // the per-row credit is a float quantity (0.2/(n-2) has no finite
      // decimal form), but quantizing it to DECIMAL(30,10) BEFORE the sum
      // makes the aggregate order-independent: both engines round the
      // identical double to the identical decimal, then sum exactly —
      // the <5e-11 quantization is invisible at the graded 6 dp
      .agg(count(lit(1)).as("n_touches"),
        round(sum($"credit".cast("decimal(30,10)")), 6).cast("double")
          .as("total_credit"))
      .orderBy("event_type")
  }

  // h18 — ROLLING DISTINCT ACTIVES (DAU + trailing-7-day WAU per day):
  // the engagement staple whose naive form is a per-day COUNT(DISTINCT)
  // over a sliding range join. The oracle states exactly that (day
  // spine × user-days, range predicate); the Spark side computes the
  // identical result with the scale-correct shape — each user-day
  // CONTRIBUTES itself to the 7 spine days it falls in (a 7-row
  // sequence explode), turning the range join into an equi-join on the
  // day key with partial aggregation, then the contribution days are
  // clipped to the observed spine (broadcast — one row per calendar
  // day, growing with time span, never with row count). h10's day-spine
  // trick pointed at distinct-count instead of concurrency.
  private val h18 = graded(
    "h18_rolling_dau",
    """WITH ud AS (
      |  SELECT DISTINCT ts::DATE AS day, user_id FROM events),
      |spine AS (SELECT DISTINCT day FROM ud),
      |wau AS (
      |  SELECT s.day, count(DISTINCT u.user_id) AS wau
      |  FROM spine s JOIN ud u
      |    ON u.day <= s.day AND u.day > s.day - 7
      |  GROUP BY s.day),
      |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day)
      |SELECT d.day, d.dau, w.wau
      |FROM dau d JOIN wau w ON d.day = w.day
      |ORDER BY d.day""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val ud = Tables.eventsUs(spark, dir)
      .select(to_date($"ts_us").as("day"), $"user_id").distinct()
    val spine = ud.select($"day".as("sday")).distinct()
    // each user-day feeds spine days [day, day+6]; clip to observed days
    val wau = ud
      .select($"user_id",
        explode(expr("sequence(day, date_add(day, 6))")).as("sday"))
      .join(broadcast(spine), "sday")
      .groupBy($"sday").agg(countDistinct($"user_id").as("wau"))
    val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
    dau.join(wau, $"day" === $"sday")
      .select($"day", $"dau", $"wau")
      .orderBy("day")
  }

  // h19 — TIME-TO-CONVERT (click → next purchase latency, per day):
  // the funnel-velocity metric next to h7's step counts — c12's
  // forward-as-of machinery resolves each click's next purchase in one
  // window pass (no inequality self-join), then per-day conversion
  // counts and the exact median latency among converted clicks (d7's
  // percentile ≡ quantile_cont pairing over exact µs-derived minutes).
  // A same-instant purchase converts with latency zero: clicks sort
  // before purchases at one timestamp (is_click DESC), so the forward
  // frame sees it. Purchases carry NULL event_ids, but ties among them
  // carry identical payloads (pt = their own µs), so the f17
  // null-ordering divergence cannot change the resolved value. One
  // user-key shuffle + one day-key aggregate.
  private val h19 = graded(
    "h19_time_to_convert",
    """WITH u AS (
      |  SELECT user_id, epoch_us(ts) AS t, 1 AS is_click, event_id,
      |         CAST(NULL AS BIGINT) AS pt
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, epoch_us(ts), 0, CAST(NULL AS BIGINT),
      |         epoch_us(ts)
      |  FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT user_id, event_id, is_click, t,
      |    first_value(pt IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY t, is_click DESC, event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_pt
      |  FROM u),
      |c AS (
      |  SELECT (t // 86400000000)::BIGINT AS day_k,
      |    next_pt IS NOT NULL AS conv, next_pt - t AS lat
      |  FROM m WHERE is_click = 1)
      |SELECT day_k, count(*) AS n_clicks,
      |  sum(CASE WHEN conv THEN 1 ELSE 0 END)::BIGINT AS n_conv,
      |  round(quantile_cont(CASE WHEN conv THEN lat / 60000000.0 END, 0.5),
      |    4) AS med_minutes
      |FROM c GROUP BY day_k
      |ORDER BY day_k""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.apply(spark, dir, "events")
      .select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("us"))
    val clicks = ev.where($"event_type" === "click").select(
      $"user_id", $"us".as("t"), lit(1).as("is_click"), $"event_id",
      lit(null).cast("bigint").as("pt"))
    val purchases = ev.where($"event_type" === "purchase").select(
      $"user_id", $"us".as("t"), lit(0).as("is_click"),
      lit(null).cast("bigint").as("event_id"), $"us".as("pt"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"t", $"is_click".desc, $"event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    clicks.unionByName(purchases)
      .withColumn("next_pt", first($"pt", ignoreNulls = true).over(w))
      .where($"is_click" === 1)
      .select(expr("t div 86400000000").cast("bigint").as("day_k"),
        $"next_pt".isNotNull.as("conv"), ($"next_pt" - $"t").as("lat"))
      .groupBy($"day_k")
      .agg(count(lit(1)).as("n_clicks"),
        sum(when($"conv", 1).otherwise(0)).cast("bigint").as("n_conv"),
        round(expr(
          "percentile(CASE WHEN conv THEN lat / 60000000.0 END, 0.5)"), 4)
          .as("med_minutes"))
      .orderBy("day_k")
  }

  // H20 — first-order Markov transition matrix over per-user event
  // sequences: the behavioral model behind next-event prediction and
  // anomaly scoring ("error after purchase is 40× rarer than error after
  // click"). lag() over (user, time, event_id) forms consecutive pairs —
  // ONE shuffle on user_id, the same partitioning every other H-key uses —
  // then a 25-cell aggregate. Probabilities are integer parts-per-million
  // against the per-source-state total (exact integer division, no float
  // parity surface). 100 TB: the pair-forming window is the only
  // row-proportional stage; the transition matrix itself is |types|².
  private val h20 = QueryDef.graded(
    "h20_markov",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_id, event_type,
      |    lag(event_type) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |      AS prev_type
      |  FROM events),
      |p AS (
      |  SELECT prev_type, event_type, count(*)::BIGINT AS n
      |  FROM e WHERE prev_type IS NOT NULL
      |  GROUP BY prev_type, event_type)
      |SELECT prev_type, event_type, n,
      |  (sum(n) OVER (PARTITION BY prev_type))::BIGINT AS n_from,
      |  ((n * 1000000) // sum(n) OVER (PARTITION BY prev_type))::BIGINT
      |    AS p_ppm
      |FROM p
      |ORDER BY prev_type, event_type""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val e = Tables.eventsUs(spark, dir)
      .select($"user_id", expr("ts div 1000").as("t"), $"event_id",
        $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(
        Window.partitionBy($"user_id").orderBy($"t", $"event_id")))
    val p = e.where($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type")
      .agg(count(lit(1)).cast("bigint").as("n"))
    val wFrom = Window.partitionBy($"prev_type")
    p.withColumn("n_from", sum($"n").over(wFrom).cast("bigint"))
      .withColumn("p_ppm",
        expr("(n * 1000000) div n_from").cast("bigint"))
      .orderBy("prev_type", "event_type")
  }

  // H21 — CUSUM change-point flagging over the daily event-count series:
  // the standard volume-anomaly monitor (did ingest break / double on
  // some day?). The cumulative sum of deviations-from-mean is kept
  // INTEGER-exact by scaling: s_i = Σ_{j≤i} (D·n_j − T) with D = #days
  // and T = total events (i.e. D× the classical Σ(n_j − T/D)), so both
  // engines sum identical BIGINTs and the |s_i| > (D·T) div 10 flag
  // (10% of scaled total mass, by declaration) can never float-drift.
  // Shape at scale: one shuffle to the bounded day grain, then a global
  // window over the ~O(days) series — fine at any corpus size because
  // the day dimension, not the corpus, bounds the window input; the D/T
  // totals ride a 1-row broadcast (allowlisted BNLJ).
  private val h21 = graded(
    "h21_cusum_changepoint",
    """WITH d AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS n
      |  FROM events GROUP BY 1),
      |t AS (
      |  SELECT count(*)::BIGINT AS nd, sum(n)::BIGINT AS total FROM d),
      |c AS (
      |  SELECT day, n,
      |    sum(nd * n - total) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS s,
      |    nd, total
      |  FROM d CROSS JOIN t)
      |SELECT (DATE '1970-01-01' + (day::INT)) AS day, n, s,
      |  (abs(s) > (nd * total) // 10) AS changepoint
      |FROM c ORDER BY day""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val d = Tables.apply(spark, dir, "events")
      .groupBy(expr("(ts div 1000) div 86400000000").as("day"))
      .agg(count(lit(1)).cast("bigint").as("n"))
    val t = d.agg(count(lit(1)).cast("bigint").as("nd"),
      sum($"n").cast("bigint").as("total"))
    val w = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.crossJoin(broadcast(t))
      .withColumn("s", sum($"nd" * $"n" - $"total").over(w).cast("bigint"))
      .select(
        expr("date_add(date'1970-01-01', cast(day as int))").as("day"),
        $"n", $"s",
        (abs($"s") > expr("(nd * total) div 10")).as("changepoint"))
      .orderBy("day")
  }

  // h22 — Poisson overdispersion monitor on the arrival process: hourly
  // event counts per type, then the variance-to-mean (Fano) dispersion
  // index — ≈1 for a well-behaved Poisson arrival stream, ≫1 signals
  // bursty/bot traffic or an ingest replay. Every statistic is derived
  // from EXACT BIGINT power sums over the hourly counts (Σn, Σn², nb),
  // so mean / var_samp / dispersion are each ONE double division of two
  // exact integers — no float accumulation anywhere, and the > 1.2 flag
  // compares the ROUNDED index (cannot ulp-flip). var_samp =
  // (nb·Σn² − (Σn)²) / (nb·(nb−1)); dispersion = var/mean =
  // (nb·Σn² − (Σn)²) / ((nb−1)·Σn). Shape at scale: one shuffle to the
  // bounded (type, hour) grain with map-side partial counts, then a
  // 5-row aggregate — the corpus never rides the second shuffle.
  private val h22 = graded(
    "h22_dispersion",
    """WITH b AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
      |    count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT event_type, count(*)::BIGINT AS nb, sum(n)::BIGINT AS sn,
      |    sum(n * n)::BIGINT AS sn2
      |  FROM b GROUP BY event_type)
      |SELECT event_type, nb AS n_buckets, sn AS n_events,
      |  round(sn::DOUBLE / nb::DOUBLE, 6) AS mean_rate,
      |  round((nb * sn2 - sn * sn)::DOUBLE / (nb * (nb - 1))::DOUBLE, 6)
      |    AS var_rate,
      |  round((nb * sn2 - sn * sn)::DOUBLE / ((nb - 1) * sn)::DOUBLE, 6)
      |    AS dispersion,
      |  (round((nb * sn2 - sn * sn)::DOUBLE / ((nb - 1) * sn)::DOUBLE, 6)
      |    > 1.2) AS overdispersed
      |FROM p ORDER BY event_type""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val b = Tables.apply(spark, dir, "events")
      .groupBy($"event_type",
        expr("(ts div 1000) div 3600000000").as("hr"))
      .agg(count(lit(1)).cast("bigint").as("n"))
    b.groupBy($"event_type")
      .agg(count(lit(1)).cast("bigint").as("nb"),
        sum($"n").cast("bigint").as("sn"),
        sum($"n" * $"n").cast("bigint").as("sn2"))
      .select($"event_type", $"nb".as("n_buckets"), $"sn".as("n_events"),
        round($"sn".cast("double") / $"nb".cast("double"), 6).as("mean_rate"),
        round(($"nb" * $"sn2" - $"sn" * $"sn").cast("double")
          / ($"nb" * ($"nb" - 1)).cast("double"), 6).as("var_rate"),
        round(($"nb" * $"sn2" - $"sn" * $"sn").cast("double")
          / (($"nb" - 1) * $"sn").cast("double"), 6).as("dispersion"))
      .withColumn("overdispersed", $"dispersion" > 1.2)
      .orderBy("event_type")
  }

  // h23 — cohort churn/inactivity report (the retention team's
  // dashboard, h8's complement): users grouped by FIRST-event DAY
  // (integer days since epoch — no calendar/tz surface; the corpus spans
  // ~30 days, so day is the informative cohort grain), a user is CHURNED
  // when their last event is more than 7 days older than the corpus's
  // newest event (the "as-of now" inactivity rule, entirely in exact µs
  // integers), and the per-cohort churn rate is an exact ppm integer —
  // no float anywhere in the query. Shape at scale: one user_id shuffle
  // for the min/max pass (map-side partial), a 1-row global-max
  // broadcast (allowlisted BNLJ), then a day-grain rollup bounded by the
  // calendar, not the corpus.
  private val h23 = graded(
    "h23_inactivity_churn",
    """WITH u AS (
      |  SELECT user_id, min(epoch_us(ts))::BIGINT AS first_us,
      |    max(epoch_us(ts))::BIGINT AS last_us
      |  FROM events GROUP BY user_id),
      |m AS (SELECT max(last_us)::BIGINT AS now_us FROM u)
      |SELECT (DATE '1970-01-01'
      |    + ((u.first_us // 86400000000)::INT)) AS cohort_day,
      |  count(*)::BIGINT AS n_users,
      |  sum(CASE WHEN u.last_us < m.now_us - 604800000000
      |      THEN 1 ELSE 0 END)::BIGINT AS n_churned,
      |  ((sum(CASE WHEN u.last_us < m.now_us - 604800000000
      |      THEN 1 ELSE 0 END) * 1000000) // count(*))::BIGINT AS churn_ppm
      |FROM u CROSS JOIN m
      |GROUP BY 1 ORDER BY cohort_day""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val u = Tables.apply(spark, dir, "events")
      .groupBy($"user_id")
      .agg(min(expr("ts div 1000")).cast("bigint").as("first_us"),
        max(expr("ts div 1000")).cast("bigint").as("last_us"))
    val m = u.agg(max($"last_us").cast("bigint").as("now_us"))
    u.crossJoin(broadcast(m))
      .groupBy(expr(
        "date_add(date'1970-01-01', cast(first_us div 86400000000 as int))")
        .as("cohort_day"))
      .agg(count(lit(1)).cast("bigint").as("n_users"),
        sum(when($"last_us" < $"now_us" - 604800000000L, 1).otherwise(0))
          .cast("bigint").as("n_churned"))
      .select($"cohort_day", $"n_users", $"n_churned",
        expr("(n_churned * 1000000) div n_users").cast("bigint")
          .as("churn_ppm"))
      .orderBy("cohort_day")
  }

  // h24 — hour-of-day × day-of-week SEASONAL PROFILE per event type with
  // hot-cell flags (the traffic-shape fingerprint capacity planning and
  // anomaly baselines read). Day-of-week is computed ARITHMETICALLY —
  // (days_since_epoch + 3) mod 7, 0 = Monday (1970-01-01 was a
  // Thursday) — so no calendar/locale/tz function surface can diverge
  // between engines. Each cell's load ratio vs the type's uniform
  // 168-cell expectation is an exact integer cross-multiplication:
  // ratio_ppm = n·168·10⁶ div total; hot ⟺ ratio > 2×10⁶. Shape at
  // scale: one shuffle to the bounded (type, dow, hour) grain with
  // map-side partial counts, then a per-type rollup of ≤ 840 cells.
  private val h24 = graded(
    "h24_seasonal_profile",
    """WITH c AS (
      |  SELECT event_type,
      |    ((epoch_us(ts) // 86400000000 + 3) % 7)::INT AS dow,
      |    ((epoch_us(ts) // 3600000000) % 24)::INT AS hour,
      |    count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2, 3),
      |t AS (SELECT event_type, sum(n)::BIGINT AS total FROM c
      |      GROUP BY event_type)
      |SELECT c.event_type, c.dow, c.hour, c.n,
      |  ((c.n * 168 * 1000000) // t.total)::BIGINT AS ratio_ppm,
      |  (((c.n * 168 * 1000000) // t.total) > 2000000) AS hot
      |FROM c JOIN t USING (event_type)
      |ORDER BY event_type, dow, hour""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val c = Tables.apply(spark, dir, "events")
      .groupBy($"event_type",
        expr("cast(((ts div 1000) div 86400000000 + 3) % 7 as int)")
          .as("dow"),
        expr("cast(((ts div 1000) div 3600000000) % 24 as int)").as("hour"))
      .agg(count(lit(1)).cast("bigint").as("n"))
    val t = c.groupBy($"event_type")
      .agg(sum($"n").cast("bigint").as("total"))
    c.join(broadcast(t), "event_type")
      .select($"event_type", $"dow", $"hour", $"n",
        expr("(n * 168 * 1000000) div total").cast("bigint")
          .as("ratio_ppm"),
        (expr("(n * 168 * 1000000) div total") > 2000000L).as("hot"))
      .orderBy("event_type", "dow", "hour")
  }

  // h25 — per-user BURST DETECTION (the bot/abuse screen a trust-and-
  // safety pipeline runs): a user's active minute is a burst when its
  // event count exceeds 1.5× the user's own mean active-minute rate
  // (this synthetic stream is near-uniform — measured max ratio ≈ 1.98 —
  // so the classic 3× bar would be vacuously empty; the MECHANISM is
  // what's graded and the bar is data-calibrated by declaration). The
  // comparison is an exact integer CROSS-MULTIPLICATION —
  // 2·n·nm_u > 3·total_u — so no division, no float, no rounding anywhere;
  // only bursty minutes are emitted. Shape at scale: one shuffle to the
  // (user, minute) grain with map-side partial counts, one user-grain
  // rollup joined back on user_id — both shuffles user-keyed, and the
  // per-user totals table is user-dimension-sized.
  private val h25 = graded(
    "h25_burst_flags",
    """WITH m AS (
      |  SELECT user_id, epoch_us(ts) // 60000000 AS minute,
      |    count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |u AS (
      |  SELECT user_id, count(*)::BIGINT AS nm, sum(n)::BIGINT AS total
      |  FROM m GROUP BY user_id)
      |SELECT m.user_id,
      |  make_timestamp(m.minute * 60000000) AS minute_ts,
      |  m.n, u.nm AS active_minutes, u.total AS user_events
      |FROM m JOIN u USING (user_id)
      |WHERE 2 * m.n * u.nm > 3 * u.total
      |ORDER BY user_id, minute_ts""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val m = Tables.apply(spark, dir, "events")
      .groupBy($"user_id", expr("(ts div 1000) div 60000000").as("minute"))
      .agg(count(lit(1)).cast("bigint").as("n"))
    val u = m.groupBy($"user_id")
      .agg(count(lit(1)).cast("bigint").as("nm"),
        sum($"n").cast("bigint").as("total"))
    m.join(u, "user_id")
      .where(lit(2) * $"n" * $"nm" > lit(3) * $"total")
      .select($"user_id",
        expr("timestamp_micros(minute * 60000000)").as("minute_ts"),
        $"n", $"nm".as("active_minutes"), $"total".as("user_events"))
      .orderBy("user_id", "minute_ts")
  }

  // h26 — INTER-EVENT GAP QUANTILES (the arrival-process profile behind
  // h3's session threshold and h5's grid step: what gap is NORMAL per
  // event type? p50/p90/p99 of consecutive same-user gaps): gaps are
  // exact µs BIGINTs off one lag window ordered by (ts, event_id) — the
  // unique-key suffix makes the window deterministic under equal
  // timestamps (DialectNotes window rule), and ordering by time (not
  // event_id) is load-bearing: the gap is between temporally adjacent
  // events. Exact interpolating percentiles are graded (d7's
  // percentile ≡ quantile_cont parity); at 100 TB the same query ships
  // with approx_percentile per the d11 rule — 5 groups × full sort is
  // the exact form's only scale cost. Shape: one (user_id)-partitioned
  // window — gaps run per user ACROSS types (partitioning by type too
  // would splice distant events together) and each gap is attributed to
  // its LATER event's type — then a 5-group sort aggregate.
  // Output is SECONDS, not µs: the interpolated p99 sits near 1.8e11 µs,
  // where a last-ulp difference in the two engines' interpolation is
  // ~1e-4 absolute — bigger than round(6) absorbs. Dividing to seconds
  // first rescales the ulp noise to ~1e-10, far inside the rounding
  // guard (the same magnitude-budget reasoning as the float-sum rule).
  private val h26 = graded(
    "h26_gap_quantiles",
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS gap_us
      |  FROM events)
      |SELECT event_type,
      |  count(gap_us)::BIGINT AS n_gaps,
      |  round(quantile_cont(gap_us, 0.5) / 1000000.0::DOUBLE, 6) AS p50_s,
      |  round(quantile_cont(gap_us, 0.9) / 1000000.0::DOUBLE, 6) AS p90_s,
      |  round(quantile_cont(gap_us, 0.99) / 1000000.0::DOUBLE, 6) AS p99_s
      |FROM g
      |WHERE gap_us IS NOT NULL
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    Tables.apply(spark, dir, "events")
      .select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("us"))
      .withColumn("gap_us", $"us" - lag($"us", 1).over(w))
      .where($"gap_us".isNotNull)
      .groupBy($"event_type")
      .agg(count($"gap_us").cast("bigint").as("n_gaps"),
        round(expr("percentile(gap_us, 0.5)") / lit(1000000.0), 6).as("p50_s"),
        round(expr("percentile(gap_us, 0.9)") / lit(1000000.0), 6).as("p90_s"),
        round(expr("percentile(gap_us, 0.99)") / lit(1000000.0), 6).as("p99_s"))
      .orderBy("event_type")
  }

  // h27 — TOP SESSION PATHS (the navigation-flow report next to h7's
  // fixed funnel and h20's one-step Markov matrix: which OPENING
  // sequences actually happen? — h7 asks about one ordered pattern,
  // this ranks all observed 3-step openers): per user-day, the first
  // three event types in time order joined into a path string; top 10
  // paths by frequency with exact ppm share. Determinism: the path is
  // built from a rank-keyed struct sort — collect_list is never graded
  // bare (DialectNotes) — with (ts, event_id) ordering the rank; count
  // ties break on the path string. Shape at scale: one (user, day)
  // window pass keeps only rn ≤ 3 (WindowGroupLimit prunes the rest),
  // the path aggregate shuffles 3-row groups, the top-10 is a
  // TakeOrdered over distinct paths (≤ |types|³ = 125 rows).
  private val h27 = graded(
    "h27_top_paths",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type,
      |    row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 86400000000
      |      ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events),
      |p AS (
      |  SELECT user_id, day, string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM e WHERE rn <= 3 GROUP BY user_id, day),
      |c AS (SELECT path, count(*)::BIGINT AS n_sessions FROM p GROUP BY path),
      |t AS (SELECT sum(n_sessions)::BIGINT AS total FROM c)
      |SELECT c.path, c.n_sessions,
      |  ((c.n_sessions * 1000000) // t.total)::BIGINT AS share_ppm
      |FROM c CROSS JOIN t
      |ORDER BY n_sessions DESC, path
      |LIMIT 10""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val day = expr("(ts div 1000) div 86400000000")
    val w = Window.partitionBy($"user_id", $"day")
      .orderBy($"us", $"event_id")
    val e = Tables.apply(spark, dir, "events")
      .select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("us"), day.as("day"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= 3)
    val p = e.groupBy($"user_id", $"day")
      .agg(expr(
        """array_join(transform(array_sort(collect_list(struct(rn, event_type))),
          |  x -> x.event_type), '>')""".stripMargin).as("path"))
    val c = p.groupBy($"path").agg(count(lit(1)).cast("bigint").as("n_sessions"))
    val t = c.agg(sum($"n_sessions").cast("bigint").as("total"))
    c.crossJoin(broadcast(t))
      .select($"path", $"n_sessions",
        expr("(n_sessions * 1000000) div total").cast("bigint").as("share_ppm"))
      .orderBy($"n_sessions".desc, $"path")
      .limit(10)
  }

  // h28 — USER LIFETIME summary (the per-user longitudinal companion to
  // h8's cohort matrix: first/last touch, span, active-day count, and
  // an exact events-per-active-day intensity in ppm). Everything is
  // integer or timestamp arithmetic on the normalized µs clock — span
  // comes from the epoch-ns bigint `ts` div'd to µs, active days from a
  // distinct count of day-truncated stamps — so the verdict needs no
  // float tolerance at all. Shape at scale: one hash aggregate keyed on
  // user_id (the natural high-cardinality partitioning key at 100 TB);
  // countDistinct rewrites to a two-level expand+agg, still one shuffle
  // family, no window, no sort until the final output ordering.
  private val h28 = graded(
    "h28_user_lifetime",
    """SELECT user_id, count(*)::BIGINT AS n_events,
      |  count(DISTINCT date_trunc('day', ts))::BIGINT AS active_days,
      |  min(ts) AS first_ts, max(ts) AS last_ts,
      |  (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT AS span_us,
      |  ((epoch_us(max(ts)) - epoch_us(min(ts))) // 86400000000)::BIGINT
      |    AS span_days,
      |  (count(*) * 1000000 // count(DISTINCT date_trunc('day', ts)))::BIGINT
      |    AS events_per_day_ppm
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    Tables.eventsUs(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).cast("bigint").as("n_events"),
        countDistinct(date_trunc("day", $"ts_us")).cast("bigint")
          .as("active_days"),
        min($"ts_us").as("first_ts"), max($"ts_us").as("last_ts"),
        (max($"ts") - min($"ts")).cast("bigint").as("span_ns"))
      .withColumn("span_us", expr("span_ns div 1000").cast("bigint"))
      .select($"user_id", $"n_events", $"active_days", $"first_ts",
        $"last_ts", $"span_us",
        expr("span_us div 86400000000").cast("bigint").as("span_days"),
        expr("(n_events * 1000000) div active_days").cast("bigint")
          .as("events_per_day_ppm"))
      .orderBy($"user_id")
  }

  // h29 — CLASSICAL SEASONAL DECOMPOSITION of the daily event-count
  // series: additive trend (centered 7-day moving average, emitted only
  // where the full week exists) + day-of-week seasonal (mean of the
  // detrended values per dow) + residual. h24 profiles the dow×hour
  // RATIOS; this separates the three components an anomaly reviewer
  // wants side by side ("is Tuesday's dip seasonal or a real drop?").
  // Determinism: daily counts are exact BIGINTs, the trend is an exact
  // 7-int window sum over ONE double divide, the dow means average ~n/7
  // detrended doubles (~1e-13 accumulation error against the 6dp
  // verdict). The window is a RANGE frame over the day NUMBER, so
  // calendar gaps shrink the frame and the count==7 guard masks it —
  // row-frame decomposition would silently misalign across gaps.
  // Shape at scale: one shuffle to the bounded day grain; the O(days)
  // window and 7-row seasonal broadcast are day-dimension costs
  // (h21's class), independent of event volume.
  private val h29 = graded(
    "h29_seasonal_decompose",
    """WITH dc AS (
      |  SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day,
      |    count(*)::BIGINT AS n
      |  FROM events GROUP BY 1),
      |tr AS (
      |  SELECT day, n, ((day + 3) % 7)::INT AS dow,
      |    CASE WHEN count(*) OVER w = 7
      |      THEN (sum(n) OVER w)::DOUBLE / 7.0 END AS trend
      |  FROM dc
      |  WINDOW w AS (ORDER BY day RANGE BETWEEN 3 PRECEDING
      |    AND 3 FOLLOWING)),
      |se AS (SELECT dow, avg(n::DOUBLE - trend) AS seas FROM tr
      |       WHERE trend IS NOT NULL GROUP BY dow)
      |SELECT tr.day, tr.n, tr.dow, round(tr.trend, 6) AS trend,
      |  round(se.seas, 6) AS seasonal,
      |  round(tr.n::DOUBLE - tr.trend - se.seas, 6) AS residual
      |FROM tr JOIN se USING (dow)
      |WHERE tr.trend IS NOT NULL
      |ORDER BY tr.day""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val dc = Tables.eventsUs(spark, dir)
      .select(expr("(ts div 1000) div 86400000000").as("day"))
      .groupBy($"day").agg(count(lit(1)).cast("bigint").as("n"))
    val w = Window.orderBy($"day").rangeBetween(-3, 3)
    val tr = dc
      .withColumn("dow", (($"day" + 3) % 7).cast("int"))
      .withColumn("trend", when(count(lit(1)).over(w) === 7,
        sum($"n").over(w).cast("double") / 7.0))
      .where($"trend".isNotNull)
    val se = tr.groupBy($"dow")
      .agg(avg($"n".cast("double") - $"trend").as("seas"))
    tr.join(broadcast(se), "dow")
      .select($"day", $"n", $"dow", round($"trend", 6).as("trend"),
        round($"seas", 6).as("seasonal"),
        round($"n".cast("double") - $"trend" - $"seas", 6).as("residual"))
      .orderBy($"day")
  }

  // h30 — DEBOUNCE: flag repeat events of the same (user, type) arriving
  // within 5 minutes of the previous one (double-click suppression /
  // at-least-once-delivery cleanup — the ingest-side dedup h3's
  // sessionizer assumes already happened). Every event is emitted with
  // its verdict, so the downstream choice (drop vs weight) stays with
  // the caller; gaps are exact µs integers off the normalized clock and
  // the lag window is tie-broken by event_id for identical stamps.
  // Shape at scale: one shuffle on the (user, type) key — the same
  // high-cardinality partitioning every h-operator rides; state per key
  // is one timestamp (the streaming twin of this is a trivial
  // mapGroupsWithState).
  private val h30 = graded(
    "h30_debounce",
    """WITH g AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |SELECT event_id, user_id, event_type, gap_us,
      |  (gap_us IS NULL OR gap_us > 300000000) AS kept
      |FROM g ORDER BY event_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts_us", $"event_id")
    Tables.eventsUs(spark, dir)
      .withColumn("us", expr("ts div 1000"))
      .withColumn("gap_us", ($"us" - lag($"us", 1).over(w)).cast("bigint"))
      .select($"event_id", $"user_id", $"event_type", $"gap_us",
        ($"gap_us".isNull || $"gap_us" > 300000000L).as("kept"))
      .orderBy($"event_id")
  }

  // h31 — TIME-WEIGHTED AVERAGE (TWAP): per user, each event's value
  // holds until the next event, so the average weights each value by
  // its holding time — the finance/IoT aggregate a plain mean silently
  // fakes when sampling is irregular (h16's EWMA weights by recency;
  // this weights by DURATION). The last event has no successor and
  // drops out (standard TWAP treatment, stated identically in both
  // engines). Exactness: value in cents × gap in µs is an exact BIGINT
  // product (≤ 7.8e16, no overflow), summed exactly; ONE double divide
  // at the end. One (user)-keyed shuffle + one lead window.
  private val h31 = graded(
    "h31_twap",
    """WITH seq AS (
      |  SELECT user_id, CAST(round(value * 100, 0) AS BIGINT) AS vc,
      |    epoch_us(ts) AS us,
      |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS nxt
      |  FROM events),
      |w AS (SELECT user_id, vc, (nxt - us)::BIGINT AS dur
      |      FROM seq WHERE nxt IS NOT NULL)
      |SELECT user_id, count(*)::BIGINT AS n_held,
      |  sum(dur)::BIGINT AS held_us,
      |  round(sum(vc * dur)::DOUBLE / sum(dur)::DOUBLE / 100.0, 6) AS twap,
      |  round(avg(vc::DOUBLE) / 100.0, 6) AS plain_mean
      |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    Tables.eventsUs(spark, dir)
      .withColumn("us", expr("ts div 1000"))
      .select($"user_id", round($"value" * 100, 0).cast("bigint").as("vc"),
        $"us", lead($"us", 1).over(w).as("nxt"))
      .where($"nxt".isNotNull)
      .withColumn("dur", ($"nxt" - $"us").cast("bigint"))
      .groupBy($"user_id")
      .agg(count(lit(1)).cast("bigint").as("n_held"),
        sum($"dur").cast("bigint").as("held_us"),
        round(sum($"vc" * $"dur").cast("double")
          / sum($"dur").cast("double") / 100.0, 6).as("twap"),
        round(avg($"vc".cast("double")) / 100.0, 6).as("plain_mean"))
      .orderBy($"user_id")
  }

  // h32 — MARKOV TRANSITION ENTROPY: per from-state, the entropy of
  // h20's next-event distribution plus its modal transition — the
  // PREDICTABILITY summary h20's full matrix answers 25 numbers at a
  // time ("after an error, what happens next?" becomes one bits figure
  // per state). Probabilities come from the same exact BIGINT
  // transition counts; the ≤|types| log terms sum under d33's rounding
  // discipline; the modal transition tiebreaks (count DESC, type ASC).
  // Shape at scale: h20's (user)-keyed lag window collapses to a
  // |types|²-bounded transition table before anything else runs.
  private val h32 = graded(
    "h32_markov_entropy",
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |      AS prev_type
      |  FROM events),
      |p AS (
      |  SELECT prev_type, event_type, count(*)::BIGINT AS n
      |  FROM e WHERE prev_type IS NOT NULL
      |  GROUP BY prev_type, event_type),
      |f AS (SELECT prev_type, sum(n)::BIGINT AS n_from,
      |        count(*)::BIGINT AS n_successors FROM p GROUP BY prev_type),
      |m AS (
      |  SELECT prev_type, event_type AS modal_next, n AS modal_n,
      |    row_number() OVER (PARTITION BY prev_type
      |      ORDER BY n DESC, event_type) AS rk
      |  FROM p)
      |SELECT p.prev_type, f.n_from, f.n_successors,
      |  round(sum(-(p.n::DOUBLE / f.n_from::DOUBLE)
      |    * ln(p.n::DOUBLE / f.n_from::DOUBLE) / ln(2.0)), 6)
      |    AS entropy_bits,
      |  m.modal_next,
      |  (m.modal_n * 1000000 // f.n_from)::BIGINT AS modal_ppm
      |FROM p
      |JOIN f USING (prev_type)
      |JOIN m ON m.prev_type = p.prev_type AND m.rk = 1
      |GROUP BY p.prev_type, f.n_from, f.n_successors, m.modal_next,
      |  m.modal_n
      |ORDER BY p.prev_type""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val ln2 = log(lit(2.0))
    val w = Window.partitionBy($"user_id").orderBy(expr("ts div 1000"),
      $"event_id")
    val p = Tables.eventsUs(spark, dir)
      .select($"user_id", $"event_type", $"event_id", $"ts",
        lag($"event_type", 1).over(w).as("prev_type"))
      .where($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type")
      .agg(count(lit(1)).cast("bigint").as("n"))
    val f = p.groupBy($"prev_type")
      .agg(sum($"n").cast("bigint").as("n_from"),
        count(lit(1)).cast("bigint").as("n_successors"))
    val wm = Window.partitionBy($"prev_type").orderBy($"n".desc, $"event_type")
    val m = p.withColumn("rk", row_number().over(wm))
      .where($"rk" === 1)
      .select($"prev_type", $"event_type".as("modal_next"),
        $"n".as("modal_n"))
    p.join(broadcast(f), "prev_type")
      .join(broadcast(m), "prev_type")
      .groupBy($"prev_type", $"n_from", $"n_successors", $"modal_next",
        $"modal_n")
      .agg(round(sum(-($"n".cast("double") / $"n_from".cast("double"))
        * log($"n".cast("double") / $"n_from".cast("double")) / ln2), 6)
        .as("entropy_bits"))
      .select($"prev_type", $"n_from", $"n_successors", $"entropy_bits",
        $"modal_next",
        expr("(modal_n * 1000000) div n_from").cast("bigint")
          .as("modal_ppm"))
      .orderBy($"prev_type")
  }

  // h33 — BURSTINESS INDEX B = (σ−μ)/(σ+μ) over each user's inter-event
  // gaps (Goh–Barabási): B→−1 is a metronome, B≈0 Poisson, B→1 bursty —
  // the one-number answer to "is this user's activity clocked or
  // clumped?". h22's Fano factor measures COUNT dispersion in fixed
  // hourly bins; this measures the GAP process itself, bin-free. Gaps
  // are exact µs integers; per user the three exact sums (n, Σg, Σg²)
  // reduce to population σ and μ in ONE fixed IEEE tree, rounded 6
  // (Σg² runs in HUGEINT/DECIMAL(38,0) — a month-long gap squares past
  // int64, and Spark's non-ANSI bigint multiply would WRAP silently).
  // Single-gap users get σ=0 ⇒ B=−1 (stated, not special-cased).
  // One (user)-keyed shuffle; the lag window never leaves the user
  // partition.
  private val h33 = graded(
    "h33_burstiness",
    """WITH g AS (
      |  SELECT user_id,
      |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id))::BIGINT AS gap
      |  FROM events),
      |s AS (SELECT user_id, count(*)::BIGINT AS n, sum(gap)::BIGINT AS sg,
      |        sum(gap::HUGEINT * gap::HUGEINT) AS sg2
      |      FROM g WHERE gap IS NOT NULL GROUP BY user_id)
      |SELECT user_id, n AS n_gaps,
      |  (sg // n)::BIGINT AS mean_gap_us,
      |  round((sqrt(sg2::DOUBLE / n::DOUBLE
      |      - (sg::DOUBLE / n::DOUBLE) * (sg::DOUBLE / n::DOUBLE))
      |    - sg::DOUBLE / n::DOUBLE)
      |    / (sqrt(sg2::DOUBLE / n::DOUBLE
      |      - (sg::DOUBLE / n::DOUBLE) * (sg::DOUBLE / n::DOUBLE))
      |    + sg::DOUBLE / n::DOUBLE), 6) AS burstiness
      |FROM s ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val s = Tables.eventsUs(spark, dir)
      .withColumn("us", expr("ts div 1000"))
      .withColumn("gap", ($"us" - lag($"us", 1).over(w)).cast("bigint"))
      .where($"gap".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum($"gap").cast("bigint").as("sg"),
        sum($"gap".cast("decimal(19,0)") * $"gap".cast("decimal(19,0)"))
          .as("sg2"))
    val mu = $"sg".cast("double") / $"n".cast("double")
    val sigma = sqrt($"sg2".cast("double") / $"n".cast("double") - mu * mu)
    s.select($"user_id", $"n".as("n_gaps"),
        expr("sg div n").cast("bigint").as("mean_gap_us"),
        round((sigma - mu) / (sigma + mu), 6).as("burstiness"))
      .orderBy($"user_id")
  }

  // distinct in-memory sink per streaming-key invocation (all five
  // graded streaming keys share the counter): a memory-sink query name is
  // a registered temp view, and a re-run (Probe's two timed passes, a
  // bench after a verify in one JVM) must not collide with a finished
  // query's still-registered table
  private val streamSinkRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** Session for a graded streaming key, with the STATE-STORE width
    * sized from the observed events row count: a stateful streaming
    * query keeps one state store per shuffle partition per stateful
    * operator side, and at small input volume the per-partition snapshot
    * IO dominates wall-clock (measured: h36 6.0 s at 32 partitions vs
    * 2.8 s at 8, on 100k events) while a corpus-sized stream needs the
    * full width — exactly the Components label-loop sizing problem, so
    * the SAME rule applies (loopPartitionsFor: ~50k rows/task, floor 4,
    * cap = the session setting = the user's cluster-wide knob), on a
    * [[graft.Sessions.scoped]] child session, so the caller's conf is
    * never touched. The row count is one
    * metadata-cheap parquet count. A real deployment sizes this from
    * expected per-batch volume; the checkpoint pins it for the query's
    * life either way.
    */
  private def streamSession(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.SparkSession = {
    // a fixture: the sizing probe runs once per corpus, not on every
    // graded-key invocation's timed path
    val rows = Fixtures.once(spark, dir, "events_rows")(
      Tables(spark, dir, "events").count())
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    graft.Sessions.scoped(spark, "spark.sql.shuffle.partitions" ->
      graft.operators.Components.loopPartitionsFor(rows, sessionParts).toString)
  }

  /** Drain a streaming job into a uniquely-named in-memory sink with
    * AvailableNow and return the sink table — the ONE definition of the
    * graded streaming keys' (h34–h38) drain mechanics, so the timeout,
    * the failure message and the stop-in-`finally` semantics cannot
    * drift between the four parity keys.
    *
    * Post-drain hygiene matters because the SUITE outlives the query:
    * a memory sink is a registered temp view holding every emitted row
    * on the heap, and a stopped stateful query leaves its state-store
    * providers loaded with a background maintenance thread snapshotting
    * them — left in place, five drains in a row measurably contaminate
    * the wall-clock of whatever runs next in the same JVM (BENCH_r08:
    * h3/h5–h8 regressed 4–7.7× purely by running after h34–h38). So:
    * localCheckpoint the sink rows (eager — cuts lineage off the view),
    * drop the view, and unload the state stores + stop maintenance.
    *
    * SINGLE-THREADED ASSUMPTION: StateStore.stop() is process-global —
    * it unloads EVERY loaded provider and kills the shared maintenance
    * thread, so a concurrent streaming query in the same JVM would have
    * its state yanked mid-run. Safe here because the h34–h42 keys run
    * strictly sequentially (Bench/Verify/Probe are single-threaded and
    * the test suites drive one stream at a time — the same documented
    * contract as Components.lastRunNonEmptyRounds); a multi-tenant
    * deployment would scope the unload to the drained query's providers
    * instead.
    */
  private def drainToMemorySink(df: org.apache.spark.sql.DataFrame,
      keyName: String, mode: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val sink = s"${keyName}_sink_${streamSinkRuns.incrementAndGet()}"
    val q = df.writeStream.format("memory").queryName(sink)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      if (!q.awaitTermination(300000))
        throw new IllegalStateException(
          s"$keyName stream did not drain within 300 s (sink $sink)")
    } finally q.stop()
    val out = spark.table(sink).localCheckpoint(true)
    spark.catalog.dropTempView(sink)
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    out
  }

  // h34 — STRUCTURED STREAMING PARITY, graded end-to-end: the events
  // table is consumed as a FILE STREAM (readStream + AvailableNow — the
  // exact mechanics of a production landing-directory job), aggregated by
  // the SAME tumbling-window/cents expressions as batch h1 with
  // incremental micro-batch state, written to a sink, and the SINK's
  // content is what the DuckDB oracle grades — so "stream ≡ batch" is a
  // CORRECTNESS row, not just a spec-level law (StreamingSpec keeps the
  // multi-micro-batch and watermark variants). This works bit-for-bit
  // because the sum is exact integer cents: streaming state merges in
  // arrival order, which only an order-independent aggregate survives.
  // Scale notes: at 100 TB the file source is a partitioned landing dir
  // or Kafka; the complete-mode memory sink here holds ≤ one row per day
  // (bounded by the calendar, not the corpus) — a real deployment writes
  // append/update mode to a table sink with the watermark finalizing
  // windows, which the StreamingSpec session test exercises.
  private val h34 = graded("h34_stream_tumbling_parity", tumblingOracle) {
    (spark, dir) =>
    import spark.implicits._
    drainToMemorySink(graft.streaming.StreamingJobs
      .tumblingCounts(graft.streaming.StreamingJobs
        .readEvents(streamSession(spark, dir), dir)),
      "h34", "complete")
      .select($"win_start".as("day_start"), $"n_events", $"sum_cents")
      .orderBy("day_start")
  }

  // h35 — STATEFUL STREAMING PARITY (session windows), the second graded
  // streaming row next to h34's stateless tumbling windows: the events
  // file stream grouped by the native `session_window` (1-hour inactivity
  // gap) with watermarked state, drained by AvailableNow, and the SINK
  // graded against a DuckDB oracle. session_window's merge rule was
  // probed empirically (the windows [ts, ts+gap) of consecutive events
  // merge when next_ts <= last_ts + gap, INCLUSIVE — two events exactly
  // one gap apart form ONE session), so a new session starts iff the gap
  // STRICTLY exceeds the timeout: exactly h3's lag-rule `>`. The oracle
  // restates that rule as an independent lag-CTE closure grouped into
  // sessions, with session_end = last_ts + gap restated as
  // max(ts) + 1 HOUR. Scale notes: this graded run drains in COMPLETE
  // mode (the memory sink re-emits the full session table per batch),
  // where Spark retains ALL aggregation state — fine for a finite
  // fixture, not the deployment shape. A production run writes
  // APPEND-mode to a table sink: there the watermark finalizes and
  // EVICTS each session once it passes the session's close, bounding
  // state by ACTIVE sessions instead of the corpus — same expression,
  // different sink mode (StreamingSpec exercises the watermark variant).
  private val h35 = graded(
    "h35_stream_session_parity",
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 1 HOUR
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT user_id, ts,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM g
      |)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 1 HOUR AS session_end,
      |  count(*) AS n_events
      |FROM s
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    drainToMemorySink(graft.streaming.StreamingJobs
      .sessionCounts(graft.streaming.StreamingJobs
        .readEvents(streamSession(spark, dir), dir)),
      "h35", "complete")
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .orderBy("user_id", "session_start")
  }

  // h36 — STREAM-STREAM JOIN PARITY, the third graded streaming row and
  // the hardest streaming surface: view→purchase attribution as a
  // watermarked stream-stream INTERVAL join (both sides time-bounded, so
  // buffered join state is evictable — StreamingJobs.attributionJoin's
  // scale contract), drained by AvailableNow in append mode (an inner
  // stream-stream join emits every pair once both rows have arrived; on
  // a finite stream that is ALL pairs), and the sink graded against the
  // plain batch interval join in DuckDB. With h34 (stateless agg) and
  // h35 (stateful session windows) this grades the full streaming
  // triad. `value` rides through ungraded-side-effect-free: it is a raw
  // per-row pass-through, not an aggregate, so no summation-order
  // hazard (the DialectNotes raw-double rule targets Σ, not projection).
  // Grading caveat shared with h37: on this harness AvailableNow drains
  // the fixture in ONE micro-batch (no maxFilesPerTrigger), so no pair
  // can be lost to watermark eviction before its partner arrives. A
  // multi-batch deployment with files NOT ordered by event time must
  // size the watermark from the observed lateness (the h13 profile) or
  // late rows are silently dropped — the same buffer-sizing caveat
  // rollingZscore documents for the stateful monitors.
  private val h36 = graded(
    "h36_stream_join_parity",
    """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |  v.ts AS v_ts, p.ts AS p_ts, p.value
      |FROM events v JOIN events p
      |  ON v.user_id = p.user_id
      | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
      |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
      |ORDER BY view_id, purchase_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    drainToMemorySink(graft.streaming.StreamingJobs
      .attributionJoin(graft.streaming.StreamingJobs
        .readEvents(streamSession(spark, dir), dir)),
      "h36", "append")
      .select($"user_id", $"view_id", $"purchase_id", $"v_ts", $"p_ts",
        $"value")
      .orderBy("view_id", "purchase_id")
  }

  // h37 — ARBITRARY-STATEFUL STREAMING PARITY (flatMapGroupsWithState),
  // the fourth graded streaming row: the per-user gap monitor runs as a
  // custom state machine (state = last event's µs order key + running
  // (gap count, max gap), carried ACROSS micro-batches so a gap
  // straddling a batch boundary still counts — PROVIDED batches arrive
  // in event-time order, which holds here because AvailableNow drains
  // the fixture in one batch; a landing dir whose files interleave event
  // time needs the watermark-buffered replay the rollingZscore doc
  // prescribes, or a cross-batch gap is computed against the wrong
  // predecessor), and the final per-user state is graded against a
  // lag-window closure in DuckDB. Chosen over the z-score twin
  // deliberately: this monitor's state is all INTEGER µs arithmetic, so
  // stream ≡ batch is bit-exact by construction (a float-stddev state
  // machine would hinge on ulp agreement between two summation orders —
  // un-gradable by hash). Update-mode emissions are folded with max()
  // per user — both counters are monotone, so max = final state
  // regardless of how many micro-batches emitted. Single-event users
  // emit (0, 0), hence the coalesce in the oracle.
  private val h37 = graded(
    "h37_stream_state_parity",
    """WITH g AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev
      |  FROM events)
      |SELECT user_id, count(prev) AS n_gaps,
      |  coalesce(max(us - prev), 0) AS max_gap_us
      |FROM g GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    drainToMemorySink(graft.streaming.StreamingJobs
      .maxGapMonitor(graft.streaming.StreamingJobs
        .readEvents(streamSession(spark, dir), dir))
      .toDF(), "h37", "update")
      .groupBy($"user_id")
      .agg(max($"n_gaps").as("n_gaps"),
        max($"max_gap_us").as("max_gap_us"))
      .orderBy("user_id")
  }

  // h38 — STREAMING INGEST DEDUP PARITY, the fifth graded streaming row
  // and the one that completes the family with the training-pipeline
  // ingest shape: an at-least-once delivery is simulated by reading the
  // events table as TWO independent file streams and unioning them
  // (every event arrives exactly twice, the redelivery worst case), then
  // `dropDuplicatesWithinWatermark("event_id")` — the streaming twin of
  // batch exact dedup g1 — collapses each event back to ONE row, and the
  // append-mode sink is graded against the plain events table in DuckDB
  // (event_id is unique in the corpus, so "dedup of 2× events ≡ events"
  // is exact, not statistical). Scale notes: this is the operator that
  // makes streaming ingest idempotent at 100 TB — plain
  // `dropDuplicates` keeps one state row per key FOREVER (state grows
  // with the corpus and the query eventually OOMs), while the
  // WithinWatermark variant evicts a key's state once the watermark
  // passes its event time, bounding state by the redelivery horizon
  // (here 1 h) × arrival rate, independent of corpus size. Grading
  // caveat shared with h36/h37: AvailableNow drains both source copies
  // in ONE micro-batch, so no duplicate can arrive after its key's
  // state was evicted; a deployment must size the watermark to the
  // broker's actual redelivery window or a late duplicate re-emits.
  private val h38 = graded(
    "h38_stream_dedup_parity",
    """SELECT event_id, user_id, ts, event_type
      |FROM events
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val s = streamSession(spark, dir)
    // two readEvents calls = two distinct source plans: a self-union of
    // ONE source node would be collapsed to a single scan and deliver
    // each row once, defeating the redelivery fixture
    val redelivered = graft.streaming.StreamingJobs.readEvents(s, dir)
      .unionAll(graft.streaming.StreamingJobs.readEvents(s, dir))
    drainToMemorySink(
      graft.streaming.StreamingJobs.dedupEvents(redelivered),
      "h38", "append")
      .select($"event_id", $"user_id", $"ts_us".as("ts"), $"event_type")
      .orderBy("event_id")
  }

  // Staged multi-file landing dir for h39 (written once per JVM per
  // corpus): the driver corpus ships events as ONE parquet file, which a
  // file stream drains in ONE micro-batch — staging the same rows as 4
  // part-files with maxFilesPerTrigger=1 makes the foreachBatch sink
  // discipline face what it faces in production, a SEQUENCE of batches
  // appending to one table. Projection only (event_id, ts_us, value);
  // row set identical to the corpus, so the oracle still reads `events`.
  private def stagedEventsDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Fixtures.dir(spark, dir, "h39_stage") { path =>
      Tables.eventsUs(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
        .repartition(4, col("event_id"))
        .write.mode("overwrite").parquet(path)
    }._1

  // h39 — STREAMING TABLE-SINK PARITY, the write-side row that closes the
  // h34–h38 family: the staged events landing dir is drained as a
  // multi-micro-batch file stream (maxFilesPerTrigger=1) whose foreachBatch
  // sink appends each batch to a REAL parquet table through
  // StreamingJobs.idempotentAppend (a plain overwrite written straight
  // into the batch's own batch_id= directory). The
  // graded row then DELIBERATELY RETRIES the last batch — re-appending the
  // same rows under the same batchId, exactly what Spark does after a sink
  // failure — before aggregating the table into h1's tumbling report
  // against h1's verbatim oracle: one duplicated or dropped row from the
  // retry and the sums hash-mismatch. So exactly-once is graded, not just
  // spec'd (StreamingSpec holds the standalone replay law). Scale notes:
  // stateless stream → no state store; the table grows one partition per
  // batch and the readback aggregate prunes nothing because it wants
  // everything — a real consumer prunes on its own predicates.
  private val h39 = graded("h39_stream_sink_parity", tumblingOracle) {
    (spark, dir) =>
    import spark.implicits._
    val s = streamSession(spark, dir)
    val stage = stagedEventsDir(s, dir)
    // a fresh run must not inherit partitions from a previous invocation
    // whose batch split differed (the checkpoint is temp-scoped per run)
    val out = TmpDirs.fresh("graft_stream_stage", dir, "h39_sink")
    val stream = s.readStream
      .schema(s.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
      .select($"ts_us",
        round($"value" * 100, 0).cast("bigint").as("cents"))
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.StreamingJobs.idempotentAppend(b, id, out)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      if (!q.awaitTermination(300000))
        throw new IllegalStateException(
          "h39 stream did not drain within 300 s")
    } finally q.stop()
    // retry the last batch: localCheckpoint materializes the replay rows
    // BEFORE the overwrite touches the path they came from
    val t0 = s.read.parquet(out)
    // partition-dir column: inferred INT for small ids, hence the cast
    val lastId = t0.agg(max($"batch_id").cast("bigint")).head().getLong(0)
    val replay = t0.where($"batch_id" === lastId).drop("batch_id")
      .localCheckpoint(true)
    graft.streaming.StreamingJobs.idempotentAppend(replay, lastId, out)
    s.catalog.refreshByPath(out)
    s.read.parquet(out)
      .groupBy(window($"ts_us", "1 day"))
      .agg(count(lit(1)).as("n_events"),
        sum($"cents").cast("bigint").as("sum_cents"))
      .select($"window.start".as("day_start"), $"n_events", $"sum_cents")
      .orderBy("day_start")
  }

  // h43 — STREAMING SINK THROUGH THE TRANSACTION LOG: h39 grades
  // exactly-once via partition-overwrite idempotence; this row grades
  // the LOG-NATIVE form every lakehouse streaming sink actually uses
  // (Delta's txnVersion discipline): each micro-batch is staged and
  // COMMITTED to an a23 TxLog table with base = batchId, so version
  // N+1 IS batch N and a retried batch re-commits against the same
  // base — which the atomic-exclusive commit point REJECTS
  // (FileAlreadyExistsException), making the sink idempotent by
  // protocol rather than by overwrite discipline. The graded path
  // deliberately retries the last batch (re-stages its rows, re-commits
  // at the same base, requires the rejection), then runs an a25 vacuum
  // retaining every version — which must reclaim exactly the retry's
  // orphaned staging files — and aggregates the head snapshot into h1's
  // tumbling report against h1's verbatim oracle: a duplicated or
  // dropped row anywhere in stage/commit/retry/vacuum and the sums
  // hash-mismatch. Scale: commit cost per batch is O(1) manifest
  // publish + O(files) paths; the retry costs one rejected link — no
  // data rewrite; readers pin manifests mid-stream without blocking
  // the writer (a23's isolation).
  private val h43 = graded("h43_stream_txlog_parity", tumblingOracle) {
    (spark, dir) =>
    import spark.implicits._
    import graft.sources.TxLog
    val s = streamSession(spark, dir)
    val stage = stagedEventsDir(s, dir)
    val table = TmpDirs.fresh("graft_stream_stage", dir, "h43_txlog")
    val stream = s.readStream
      .schema(s.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
      .select($"ts_us",
        round($"value" * 100, 0).cast("bigint").as("cents"))
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val staged = TxLog.stage(b, table)
        // version id+1 = batch id: a Spark-retried batch re-commits
        // against the same base and the commit point rejects it
        try { TxLog.commit(table, staged, id.toInt); () }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            // a rejected commit proves only that the version number
            // exists — certify the committed version's delta IS this
            // batch before treating the conflict as "already committed"
            // (a checkpoint/table mismatch would otherwise silently
            // DISCARD a batch with different data; r11 advice item).
            // Conflict-path-only cost: two small counts, never run in a
            // clean drain.
            val prior = if (id > 0) TxLog.files(table, id.toInt).toSet
                        else Set.empty[String]
            val delta = (TxLog.files(table, id.toInt + 1).toSet -- prior)
              .toSeq.sorted
            val have = b.sparkSession.read.parquet(delta: _*).count()
            val want = b.sparkSession.read.parquet(staged: _*).count()
            require(have == want,
              s"batch $id retry conflicts with a DIFFERENT committed " +
                s"version: $have committed vs $want retried rows")
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      if (!q.awaitTermination(300000))
        throw new IllegalStateException(
          "h43 stream did not drain within 300 s")
    } finally q.stop()
    // deliberate retry of the LAST batch: same rows, same base version
    val head = TxLog.currentVersion(table).get
    val lastFiles = (TxLog.files(table, head).toSet --
      (if (head > 1) TxLog.files(table, head - 1).toSet
       else Set.empty[String])).toSeq.sorted
    val replay = s.read.parquet(lastFiles: _*).localCheckpoint(true)
    val orphans = TxLog.stage(replay, table)
    val rejected =
      try { TxLog.commit(table, orphans, head - 1); false }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
      }
    require(rejected, "the retried batch must lose the commit race")
    require(TxLog.currentVersion(table).contains(head),
      "a rejected retry must not advance the log")
    // GC retaining every version: must reclaim exactly the retry orphans
    // graceMs = 0: the retry orphans were staged by this cycle seconds
    // ago; the default grace window exists for concurrent writers.
    val swept = TxLog.vacuum(table, keepLast = head, graceMs = 0L)
    require(swept == orphans,
      s"vacuum must reclaim exactly the retry's staging files: $swept")
    TxLog.read(s, table, head)
      .groupBy(window($"ts_us", "1 day"))
      .agg(count(lit(1)).as("n_events"),
        sum($"cents").cast("bigint").as("sum_cents"))
      .select($"window.start".as("day_start"), $"n_events", $"sum_cents")
      .orderBy("day_start")
  }

  // Staged WATERMARK landing dir for h44 (built once per JVM per corpus):
  // the corpus re-staged so a file stream delivers it with REAL
  // out-of-orderness — on-time rows as two time-range files arriving in
  // time order, then the injected LATE set (rows from the corpus's first
  // two days, event_id % 3 = 0) as the LAST file. Arrival order is
  // pinned by explicit mtimes (the file source orders unseen files by
  // modification time; maxFilesPerTrigger=1 makes each file one batch).
  // Determinism of the drop set: the first batch runs at watermark 0 (no
  // drops), every later ON-TIME batch only carries rows ≥ the previous
  // files' max (range-partitioned arrival), and the LATE batch — the
  // third — executes under a watermark that has already absorbed the
  // FIRST file's max (measured: Spark executes batch N with the
  // watermark committed from batch N−1's stats, a one-batch lag the
  // three-file layout absorbs — StreamingSpec pins the lag itself).
  // That watermark ≥ (older-half max − delay) ≈ mid-corpus − 1 day,
  // which sits WEEKS past every late row's window — so exactly the
  // injected set drops, regardless of range-boundary sampling.
  // Concurrency note (r12 verdict): the wall-clock mtime stamps are
  // relative-order-only (any strictly increasing sequence works); the
  // landing dir is a per-pid Fixtures.dir, so no other process writes it.
  private def stagedWatermarkDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Fixtures.dir(spark, dir, "h44_stage") { path =>
      // user_id rides along for h47's session grouping; h44's tumbling
      // aggregate never references it
      val ev = Tables.eventsUs(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      val cutoff = ev
        .agg(expr("date_trunc('DAY', min(ts_us)) + INTERVAL 2 DAYS"))
        .head().getTimestamp(0)
      val isLate = col("ts_us") < lit(cutoff) && col("event_id") % 3 === 0
      ev.where(!isLate).repartitionByRange(2, col("ts_us"))
        .write.parquet(path)
      val dirF = new java.io.File(path)
      def parts = dirF.listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      // range-part file NAMES order by partition index = time order
      val onTime = parts.sortBy(_.getName)
      val base = System.currentTimeMillis()
      onTime.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(base + i * 60000L) }
      val lateRows = ev.where(isLate)
      require(lateRows.count() > 0,
        "h44 needs injected late rows — the corpus lost its first days?")
      lateRows.repartition(1).write.mode("append").parquet(path)
      val seen = onTime.map(_.getName).toSet
      parts.filterNot(f => seen(f.getName))
        .foreach(_.setLastModified(base + 3600000L))
    }._1

  // h44 — TRUE-WATERMARK STREAMING, graded (the r11 verdict's item #4:
  // h34–h43 grade batch-replay parity and StreamingSpec holds standalone
  // laws, but no graded key ran `withWatermark` LATE-DATA DROP inside a
  // real micro-batch drain): the staged landing dir above delivers the
  // corpus over three micro-batches with the injected late set arriving
  // last, the tumbling-cents aggregate runs UNDER `withWatermark(ts_us,
  // 1 day)` in UPDATE mode, and every update batch lands through
  // h39's idempotentAppend — the final report takes each window's row
  // from its LATEST update batch (the materialization rule of an
  // update-mode keyed sink). The watermark at the late batch stands at
  // max(on-time) − 1 day, weeks past the late rows' windows, so the
  // state for those windows is long evicted and Spark MUST drop them:
  // the oracle aggregates the corpus EXCLUDING exactly the injected
  // set, so a single retained late row (watermark not enforced) or a
  // wrongly dropped on-time row hash-mismatches. StreamingSpec holds
  // the counter-law: the SAME drain WITHOUT the watermark retains the
  // late rows. Scale: watermark-bounded state is THE property that
  // makes a 100 TB stream's memory finite — state lives one delay
  // window, not forever; the update sink writes O(changed windows) per
  // batch.
  private val h44 = graded(
    "h44_stream_watermark_drop",
    """WITH b AS (
      |  SELECT time_bucket(INTERVAL 1 DAY, min(ts)) AS d0 FROM events)
      |SELECT time_bucket(INTERVAL 1 DAY, ts) AS day_start,
      |  count(*) AS n_events,
      |  sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS sum_cents
      |FROM events, b
      |WHERE NOT (ts < b.d0 + INTERVAL 2 DAY AND event_id % 3 = 0)
      |GROUP BY day_start
      |ORDER BY day_start""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val s = streamSession(spark, dir)
    val stage = stagedWatermarkDir(s, dir)
    val out = TmpDirs.fresh("graft_stream_stage", dir, "h44_sink")
    val report = s.readStream
      .schema(s.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
      .withWatermark("ts_us", "1 day")
      .groupBy(window($"ts_us", "1 day"))
      .agg(count(lit(1)).as("n_events"),
        sum(round($"value" * 100, 0).cast("bigint")).cast("bigint")
          .as("sum_cents"))
      .select($"window.start".as("day_start"), $"n_events", $"sum_cents")
    val q = report.writeStream
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.StreamingJobs.idempotentAppend(b, id, out)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      if (!q.awaitTermination(300000))
        throw new IllegalStateException(
          "h44 stream did not drain within 300 s")
    } finally q.stop()
    // stateful drain hygiene (drainToMemorySink's rule): unload the
    // state-store providers before whatever runs next in this JVM
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    s.catalog.refreshByPath(out)
    val t = s.read.parquet(out)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"day_start").orderBy($"batch_id".desc)
    t.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"day_start", $"n_events", $"sum_cents")
      .orderBy("day_start")
  }

  // Staged TWO-SIDED landing dirs for h45 (built once per JVM per
  // corpus): clicks and purchases re-staged as separate mtime-ordered
  // landing dirs so a stream-stream join consumes both sides with real
  // out-of-orderness. Each side's on-time rows land as two time-range
  // files in time order; the CLICK side additionally gets h44's injected
  // LATE set (first-two-days clicks, event_id % 3 = 0) as its LAST file.
  // The drop-set determinism argument is h44's, extended across sources:
  // the GLOBAL watermark is the MIN over both sources' per-source
  // watermarks, both sides' batch-2 files end near the corpus max, so at
  // the late batch the watermark stands ≈ corpus-max − 1 day — weeks
  // past every late click — regardless of which source's range boundary
  // sits lower.
  private def stagedJoinDirs(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) =
    Fixtures.dir(spark, dir, "h45_stage") { root =>
      val (cPath, pPath) = (s"$root/clicks", s"$root/purchases")
      val ev = Tables.eventsUs(spark, dir)
      val cutoff = ev
        .agg(expr("date_trunc('DAY', min(ts_us)) + INTERVAL 2 DAYS"))
        .head().getTimestamp(0)
      val base = System.currentTimeMillis()
      def stageSide(df: org.apache.spark.sql.DataFrame, tsCol: String,
          path: String, late: Option[org.apache.spark.sql.DataFrame])
          : Unit = {
        df.repartitionByRange(2, col(tsCol)).write.parquet(path)
        val dirF = new java.io.File(path)
        def parts = dirF.listFiles().filter(f =>
          f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        val onTime = parts.sortBy(_.getName)
        onTime.zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(base + i * 60000L) }
        late.foreach { l =>
          require(l.count() > 0, "h45 needs injected late clicks")
          l.repartition(1).write.mode("append").parquet(path)
          val seen = onTime.map(_.getName).toSet
          parts.filterNot(f => seen(f.getName))
            .foreach(_.setLastModified(base + 3600000L))
        }
      }
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id"),
          col("ts_us").as("c_ts"), col("value").as("c_val"))
      val isLate = col("c_ts") < lit(cutoff) && col("c_id") % 3 === 0
      stageSide(clicks.where(!isLate), "c_ts", cPath,
        late = Some(clicks.where(isLate)))
      stageSide(ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts_us").as("p_ts")),
        "p_ts", pPath, late = None)
      (cPath, pPath)
    }._2

  // h45 — TRUE-WATERMARK STREAM-STREAM JOIN (h44 graded watermark
  // AGGREGATION state; this key grades watermark JOIN state — the other
  // stateful regime a 100 TB stream cannot run unbounded): purchases
  // join the clicks that preceded them by ≤ 1 hour for the same user,
  // both sides under `withWatermark(…, 1 day)`, consumed from the
  // two-sided landing dirs above. The event-time range condition is
  // what lets Spark BOUND both join states: click state evicts once the
  // watermark passes c_ts + 1 h (no future purchase can reach back to
  // it), purchase state once it passes p_ts — and the SAME predicates
  // filter late input, so the injected late clicks (arriving at a
  // watermark weeks past their match window) are provably dropped. The
  // oracle computes the interval join EXCLUDING exactly the injected
  // set: one late click leaking into the join (watermark not enforced)
  // or one on-time boundary pair lost (state evicted too early — the
  // cross-batch matches around the file boundary are the hard part)
  // hash-mismatches. Inner join in append mode emits each pair exactly
  // once, in the batch its later side arrives; every batch lands
  // through h39's idempotentAppend. StreamingSpec holds the
  // counter-law: the same drain with an effectively-infinite watermark
  // delay retains the late clicks. Scale: join state is one delay
  // window per side — the property that makes a stream-stream join's
  // memory finite at 100 TB; candidates shuffle on user_id, never
  // all-pairs.
  private val h45 = graded(
    "h45_stream_watermark_join",
    """WITH b AS (
      |  SELECT time_bucket(INTERVAL 1 DAY, min(ts)) AS d0 FROM events),
      |c AS (
      |  SELECT event_id, user_id, ts, value FROM events, b
      |  WHERE event_type = 'click'
      |    AND NOT (ts < b.d0 + INTERVAL 2 DAY AND event_id % 3 = 0)),
      |p AS (
      |  SELECT user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT time_bucket(INTERVAL 1 DAY, p.ts) AS day_start,
      |  count(*)::BIGINT AS n_pairs,
      |  sum(CAST(round(c.value * 100, 0) AS BIGINT))::BIGINT
      |    AS click_cents
      |FROM p JOIN c ON p.user_id = c.user_id
      |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      |GROUP BY day_start
      |ORDER BY day_start""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val s = streamSession(spark, dir)
    val (cPath, pPath) = stagedJoinDirs(s, dir)
    val out = TmpDirs.fresh("graft_stream_stage", dir, "h45_sink")
    def side(path: String, tsCol: String) = s.readStream
      .schema(s.read.parquet(path).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(path)
      .withWatermark(tsCol, "1 day")
    val pairs = side(pPath, "p_ts").join(side(cPath, "c_ts"),
      $"p_user" === $"user_id" &&
        $"p_ts" >= $"c_ts" &&
        $"p_ts" <= $"c_ts" + expr("INTERVAL 1 HOUR"))
    val q = pairs.writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.StreamingJobs.idempotentAppend(b, id, out)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      if (!q.awaitTermination(300000))
        throw new IllegalStateException(
          "h45 stream did not drain within 300 s")
    } finally q.stop()
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    s.catalog.refreshByPath(out)
    s.read.parquet(out)
      .groupBy(window($"p_ts", "1 day"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        sum(round($"c_val" * 100, 0).cast("bigint")).cast("bigint")
          .as("click_cents"))
      .select($"window.start".as("day_start"), $"n_pairs", $"click_cents")
      .orderBy("day_start")
  }

  // h46 — WATERMARK LEFT-OUTER STREAM-STREAM JOIN (h45 graded the inner
  // form; the outer form grades the OTHER thing watermark join state
  // does — EMIT on eviction, not just forget: "clicks that never
  // converted within the hour" exist as rows only because the watermark
  // proved no future purchase can still match them). Same two-sided
  // landing dirs as h45, clicks on the LEFT: a null-padded row emits
  // when an unmatched click's state is evicted, i.e. once the final
  // watermark (min over both sources of max-on-time − 1 day) passes
  // c_ts + 1 h — so the oracle's expired set is exactly the unmatched
  // on-time clicks older than that cut, stated as the same least()/
  // interval arithmetic. The max is ms-TRUNCATED in the oracle because
  // Spark's event-time watermark is millisecond-precision
  // (EventTimeWatermarkExec accumulates eventTime/1000): a µs-exact cut
  // would count a click falling in the sub-ms window between the two
  // cuts as expired when the stream never evicts it (r12 advice item).
  // floor_ms is monotone, so least(floor_ms(a), floor_ms(b)) =
  // floor_ms(least(a, b)) and one truncation covers both sources. Unmatched clicks YOUNGER than the cut are
  // still in state when the drain ends and emit NOTHING (the honest
  // semantics of an outer stream join: absence of proof is not proof of
  // absence); the injected late clicks are input-filtered and emit
  // neither pairs nor nulls. Graded row = per-day matched vs expired
  // counts: one spurious null row (eviction before the watermark
  // proved it), one missing null row (state leak), or one late click
  // surfacing anywhere hash-mismatches. Scale: eviction IS the memory
  // bound — without it every unmatched click lives forever.
  private val h46 = graded(
    "h46_stream_outer_join",
    """WITH b AS (
      |  SELECT time_bucket(INTERVAL 1 DAY, min(ts)) AS d0 FROM events),
      |c AS (
      |  SELECT event_id, user_id, ts FROM events, b
      |  WHERE event_type = 'click'
      |    AND NOT (ts < b.d0 + INTERVAL 2 DAY AND event_id % 3 = 0)),
      |p AS (
      |  SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      |mx AS (
      |  SELECT date_trunc('milliseconds',
      |      least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p)))
      |    - INTERVAL 1 DAY - INTERVAL 1 HOUR AS cut),
      |m AS (
      |  SELECT c.event_id, c.ts AS c_ts
      |  FROM c JOIN p ON c.user_id = p.user_id
      |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR),
      |u AS (
      |  SELECT c.ts AS c_ts FROM c, mx
      |  WHERE c.ts < mx.cut
      |    AND NOT EXISTS (SELECT 1 FROM m WHERE m.event_id = c.event_id))
      |SELECT time_bucket(INTERVAL 1 DAY, c_ts) AS day_start,
      |  sum(n_matched)::BIGINT AS n_matched,
      |  sum(n_expired)::BIGINT AS n_expired
      |FROM (
      |  SELECT c_ts, 1 AS n_matched, 0 AS n_expired FROM m
      |  UNION ALL SELECT c_ts, 0, 1 FROM u)
      |GROUP BY day_start
      |ORDER BY day_start""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val s = streamSession(spark, dir)
    val (cPath, pPath) = stagedJoinDirs(s, dir)
    val out = TmpDirs.fresh("graft_stream_stage", dir, "h46_sink")
    def side(path: String, tsCol: String) = s.readStream
      .schema(s.read.parquet(path).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(path)
      .withWatermark(tsCol, "1 day")
    val pairs = side(cPath, "c_ts").join(side(pPath, "p_ts"),
      $"user_id" === $"p_user" &&
        $"p_ts" >= $"c_ts" &&
        $"p_ts" <= $"c_ts" + expr("INTERVAL 1 HOUR"),
      "leftOuter")
    val q = pairs.writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.StreamingJobs.idempotentAppend(b, id, out)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      if (!q.awaitTermination(300000))
        throw new IllegalStateException(
          "h46 stream did not drain within 300 s")
    } finally q.stop()
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    s.catalog.refreshByPath(out)
    s.read.parquet(out)
      .groupBy(window($"c_ts", "1 day"))
      .agg(count($"p_ts").cast("bigint").as("n_matched"),
        sum(when($"p_ts".isNull, 1L).otherwise(0L)).cast("bigint")
          .as("n_expired"))
      .select($"window.start".as("day_start"), $"n_matched", $"n_expired")
      .orderBy("day_start")
  }

  // h47 — WATERMARKED SESSION-WINDOW DRAIN, graded (the r12 verdict's
  // #5: h35 grades session-window CONTENT in a complete-mode batch
  // replay; this key grades the stateful regime a 100 TB clickstream
  // actually runs — gap-based session state under `withWatermark` in
  // APPEND mode, where a session row EXISTS only because the watermark
  // PROVED no future event can extend it). h44's staged landing dir
  // (three mtime-ordered files, injected late set last) drains through
  // session_window(ts_us, 1 h) × user_id: sessions merge on update
  // while open, the late batch runs at a watermark ≈ max(on-time) −
  // 1 day (the h44 one-batch-lag argument — batch 3 executes under
  // batch 2's stats, which already cover ALL on-time rows), so (a) the
  // injected late rows are input-filtered weeks after their sessions
  // closed and extend nothing, and (b) exactly the sessions whose
  // close (last event + gap) precedes that watermark finalize and EMIT;
  // younger sessions are still open at drain end and emit NOTHING (the
  // h46 honesty rule: absence of proof ≠ proof of absence). The oracle
  // assembles sessions from the on-time rows (h3/h35's lag-rule CTE,
  // shared text) and keeps those closed before the SAME cut, stated as
  // ms-truncated watermark arithmetic (Spark's watermark is
  // ms-precision — the h46 advice fix, applied here from birth).
  // Boundary notes: (a) the lag rule's `> 1 HOUR` matches Spark's
  // session merge EXACTLY — session_window merges at a gap of exactly
  // one timeout (inclusive; probed empirically, pinned by
  // StreamingSpec's "gap exactly equal to the timeout MERGES" law), so
  // a new session starts iff the gap STRICTLY exceeds it; (b) a session
  // whose close lands exactly ON the ms-truncated watermark is the
  // remaining measure-zero boundary (strict `<` here vs the engine's
  // eviction comparison) — deterministic per corpus, and weeks of
  // daylight separate every fixture session from the cut.
  // StreamingSpec holds the counter-law (an effectively-infinite delay
  // finalizes nothing: zero rows from the same drain). Scale:
  // gap-session state is bounded by OPEN sessions per key — the
  // watermark is what closes them; without it a quiet user's session
  // lives forever and state grows with users × history.
  private val h47 = graded(
    "h47_stream_session_drain",
    """WITH b AS (
      |  SELECT time_bucket(INTERVAL 1 DAY, min(ts)) AS d0 FROM events),
      |ot AS (
      |  SELECT user_id, event_id, ts, value FROM events, b
      |  WHERE NOT (ts < b.d0 + INTERVAL 2 DAY AND event_id % 3 = 0)),
      |mx AS (
      |  SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 1 DAY AS wm
      |  FROM ot),
      |g AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 1 HOUR
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM ot
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, value,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM g),
      |f AS (
      |  SELECT user_id, min(ts) AS s_start,
      |    max(ts) + INTERVAL 1 HOUR AS s_end,
      |    count(*)::BIGINT AS n_events,
      |    sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS cents
      |  FROM s GROUP BY user_id, sid)
      |SELECT user_id, s_start, s_end, n_events, cents
      |FROM f, mx WHERE f.s_end < mx.wm
      |ORDER BY user_id, s_start""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val s = streamSession(spark, dir)
    val stage = stagedWatermarkDir(s, dir)
    val out = TmpDirs.fresh("graft_stream_stage", dir, "h47_sink")
    val report = s.readStream
      .schema(s.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
      .withWatermark("ts_us", "1 day")
      .groupBy(session_window($"ts_us", "1 hour"), $"user_id")
      .agg(count(lit(1)).cast("bigint").as("n_events"),
        sum(round($"value" * 100, 0).cast("bigint")).cast("bigint")
          .as("cents"))
      .select($"user_id", $"session_window.start".as("s_start"),
        $"session_window.end".as("s_end"), $"n_events", $"cents")
    val q = report.writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.StreamingJobs.idempotentAppend(b, id, out)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      if (!q.awaitTermination(300000))
        throw new IllegalStateException(
          "h47 stream did not drain within 300 s")
    } finally q.stop()
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    s.catalog.refreshByPath(out)
    s.read.parquet(out)
      .select($"user_id", $"s_start", $"s_end", $"n_events", $"cents")
      .orderBy("user_id", "s_start")
  }

  // h40 — QUANTIFIED-PATTERN CEP (the MATCH_RECOGNIZE-shaped extension of
  // h9's adjacent-pair lite form): each user's event history becomes an
  // ordered SYMBOL STRING (event-type initials are distinct on this
  // corpus: c/p/e/s/v, ordered by ts then event_id), and patterns with
  // QUANTIFIERS and CHARACTER ALTERNATION run as regexes over it —
  // `[cv]+p` = "a browse streak (clicks/views) closed by a purchase"
  // (counted non-overlapping, the funnel h7 can't see because it needs
  // adjacency), `e{2,}` = "consecutive-error bursts" with the longest
  // burst length. Spark has no native MATCH_RECOGNIZE; compiling the
  // pattern to a regex over a per-key collected sequence IS the
  // idiomatic distributed form (Flink CEP does the same NFA walk per
  // key). Scale notes: one shuffle by user_id; per-user state = one
  // string bounded by that user's event count (the h27 collect bound);
  // both engines run greedy leftmost matching — parity proves the
  // semantics agree, and a symbol string sidesteps engine differences
  // in multi-char token alternation.
  private val h40 = graded(
    "h40_cep_pattern",
    """WITH s AS (
      |  SELECT user_id,
      |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
      |      AS sym
      |  FROM events GROUP BY user_id)
      |SELECT user_id,
      |  len(regexp_extract_all(sym, '[cv]+p'))::BIGINT AS n_funnels,
      |  len(regexp_extract_all(sym, 'e{2,}'))::BIGINT AS n_error_bursts,
      |  coalesce(list_max(list_transform(
      |    regexp_extract_all(sym, 'e{2,}'), m -> len(m))), 0)::BIGINT
      |    AS max_burst
      |FROM s ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.eventsUs(spark, dir)
      .groupBy($"user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"ts", $"event_id",
          expr("substring(event_type, 1, 1)").as("c")))),
        x => x.getField("c")), "").as("sym"))
      .select($"user_id",
        expr("cast(size(regexp_extract_all(sym, '[cv]+p', 0)) as bigint)")
          .as("n_funnels"),
        expr("cast(size(regexp_extract_all(sym, 'e{2,}', 0)) as bigint)")
          .as("n_error_bursts"),
        expr("""cast(coalesce(array_max(transform(
          regexp_extract_all(sym, 'e{2,}', 0), m -> length(m))), 0)
          as bigint)""").as("max_burst"))
      .orderBy("user_id")
  }

  // h41 — STREAMING KEYED-UPSERT PARITY, the MERGE twin of h39's append
  // (the two production foreachBatch write shapes: h39 lands immutable
  // facts, h41 maintains LATEST STATE per key — registries, profiles,
  // catalog heads). The staged multi-batch event stream drives
  // StreamingJobs.upsertLatest: per batch, per-user last-writer-wins
  // merge into a parquet table hash-partitioned on user_id % 8, reading
  // and dynamically overwriting ONLY the buckets the batch touches. The
  // graded run then DELIBERATELY REPLAYS one staged batch file through
  // the same merge before reading the table back: upsert idempotency is
  // SEMANTIC (re-offering rows the table already reflects is a fixed
  // point of last-writer-wins), so one regressed, duplicated, or dropped
  // user row hash-mismatches against the batch oracle — the global
  // per-user argmax over all events. Scale notes: each micro-batch
  // rewrites at most `buckets` partitions, never the table; the merge's
  // read is partition-pruned by the touched-bucket list; state lives in
  // the table, not a state store, so there is nothing to bound.
  private val h41 = graded(
    "h41_stream_upsert_parity",
    """SELECT user_id, ts AS last_ts_us, event_id AS last_event_id,
      |  CAST(round(value * 100, 0) AS BIGINT) AS last_cents
      |FROM (
      |  SELECT user_id, ts, event_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val s = streamSession(spark, dir)
    val stage = stagedEventsDir(s, dir)
    // fresh table per run: a leftover from a previous invocation holds
    // merged state this run's batches would be a no-op against
    val out = TmpDirs.fresh("graft_stream_stage", dir, "h41_upsert")
    val proj = (df: org.apache.spark.sql.DataFrame) => df
      .select($"event_id", $"user_id", $"ts_us",
        round($"value" * 100, 0).cast("bigint").as("cents"))
    val stream = s.readStream
      .schema(s.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
    val q = proj(stream).writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.StreamingJobs.upsertLatest(b, out)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      if (!q.awaitTermination(300000))
        throw new IllegalStateException(
          "h41 stream did not drain within 300 s")
    } finally q.stop()
    // replay one staged batch (lexicographically first part-file — any
    // batch works, because upsert idempotency is per-row semantic, not
    // per-batch positional): the merge must leave the table unchanged
    val firstFile = new java.io.File(stage).listFiles()
      .filter(f => f.getName.startsWith("part-")).map(_.getPath).min
    graft.streaming.StreamingJobs.upsertLatest(
      proj(s.read.parquet(firstFile)), out)
    s.read.parquet(out)
      .select($"user_id", $"last_ts_us", $"last_event_id", $"last_cents")
      .orderBy("user_id")
  }

  // h42 — STREAM-STATIC DIMENSION-ENRICHMENT JOIN, the remaining join
  // regime next to h36's stream-stream: a live stream joined against a
  // PRE-COMPUTED batch dimension (here: per-user activity profile,
  // band = total-event-count div 20) — the enrich-then-aggregate shape
  // of virtually every production streaming report (events × user
  // segment, clicks × campaign). Stream-static joins are STATELESS:
  // each micro-batch hash/broadcast-joins the dim and moves on, so
  // state is only the downstream aggregate's ≤ |types|×|bands| cells —
  // bounded by the dim's band domain, not the corpus. The dim is
  // broadcast (the 100 TB discipline for a small static side; Spark
  // re-plans it per micro-batch — a real deployment caches the dim or
  // lets AQE re-broadcast). Exact-cents sums make the cross-batch
  // merge order-independent (h34's rule).
  private val h42 = graded(
    "h42_stream_static_join",
    """WITH prof AS (
      |  SELECT user_id, count(*)::BIGINT AS n_total
      |  FROM events GROUP BY user_id),
      |e AS (
      |  SELECT ev.event_type, (p.n_total // 20)::BIGINT AS band,
      |    CAST(round(ev.value * 100, 0) AS BIGINT) AS cents
      |  FROM events ev JOIN prof p ON p.user_id = ev.user_id)
      |SELECT event_type, band, count(*)::BIGINT AS n_events,
      |  sum(cents)::BIGINT AS sum_cents
      |FROM e GROUP BY event_type, band
      |ORDER BY event_type, band""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val s = streamSession(spark, dir)
    val prof = Tables.eventsUs(s, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).cast("bigint").as("n_total"))
      .select($"user_id", expr("n_total div 20").cast("bigint").as("band"))
    val stream = graft.streaming.StreamingJobs.readEvents(s, dir)
      .select($"user_id", $"event_type",
        round($"value" * 100, 0).cast("bigint").as("cents"))
    val enriched = stream.join(broadcast(prof), "user_id")
      .groupBy($"event_type", $"band")
      .agg(count(lit(1)).cast("bigint").as("n_events"),
        sum($"cents").cast("bigint").as("sum_cents"))
    drainToMemorySink(enriched, "h42", "complete")
      .select($"event_type", $"band", $"n_events", $"sum_cents")
      .orderBy("event_type", "band")
  }

  // Staged CDC feed for h48 (once per JVM per corpus): three
  // change-batch files with pinned, strictly increasing mtimes, so the
  // file stream delivers them as three micro-batches IN ORDER
  // (maxFilesPerTrigger=1, the h44 arrival discipline). Batch contents
  // derive deterministically from the orders corpus; batch 3
  // deliberately OVERLAPS batch 1 on the %20=1 keys (a later absolute
  // upsert supersedes an earlier one), so an out-of-order or dropped
  // batch is visible in the final state, not just in row counts.
  private def stagedCdcDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Fixtures.dir(spark, dir, "h48_stage") { path =>
      val b = Tables.orders(spark, dir).select(col("o_orderkey"),
        col("o_orderpriority"),
        round(col("o_totalprice") * 100, 0).cast("bigint").as("cents"))
      val mk = Tables.orders(spark, dir)
        .agg(max(col("o_orderkey")).cast("bigint")).head().getLong(0)
      val batches = Seq(
        // batch 1: re-price every %10=1 key (absolute upsert)
        b.where(col("o_orderkey") % 10 === 1)
          .select(col("o_orderkey"), col("o_orderpriority"),
            (col("cents") * 2).as("cents"), lit("upsert").as("op")),
        // batch 2: delete every %10=2 key
        b.where(col("o_orderkey") % 10 === 2)
          .select(col("o_orderkey"), col("o_orderpriority"), col("cents"),
            lit("delete").as("op")),
        // batch 3: mixed — supersede the %20=1 slice of batch 1,
        // delete %10=4, insert fresh keys past max(key)
        b.where(col("o_orderkey") % 20 === 1)
          .select(col("o_orderkey"), lit("X-CDC").as("o_orderpriority"),
            (col("cents") * 6).as("cents"), lit("upsert").as("op"))
          .unionByName(b.where(col("o_orderkey") % 10 === 4)
            .select(col("o_orderkey"), col("o_orderpriority"),
              col("cents"), lit("delete").as("op")))
          .unionByName(b.where(col("o_orderkey") % 10 === 5)
            .select((col("o_orderkey") + mk).as("o_orderkey"),
              col("o_orderpriority"), col("cents"),
              lit("upsert").as("op"))))
      val base = System.currentTimeMillis()
      var seen = Set.empty[String]
      batches.zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.mode("append").parquet(path)
        val parts = new java.io.File(path).listFiles().filter(f =>
          f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        parts.filterNot(f => seen(f.getName))
          .foreach(_.setLastModified(base + i * 60000L))
        seen = parts.map(_.getName).toSet
      }
    }._1

  // h48 — STREAMING CDC APPLY THROUGH MERGE (the ingest loop a lakehouse
  // table actually runs: h43 grades append-only streaming commits with
  // txn-version idempotence; a34/a41/a42 grade MERGE as a batch job —
  // this key runs the COMPOSITION: a change-data feed drains as ordered
  // micro-batches and each batch lands as ONE file-granular
  // `TxLog.mergeInto` at the current head, the Delta
  // `foreachBatch + MERGE` pattern verbatim). The staged feed's batch 3
  // deliberately supersedes half of batch 1's upserts, so application
  // ORDER is graded, not just net membership; all changes carry
  // ABSOLUTE values (CDC-apply discipline: re-offering a reflected row
  // is a fixed point, so a Spark batch retry converges rather than
  // double-applying). The key REQUIRES the drain to advance the head by
  // exactly the batch count (one commit per micro-batch — no fused or
  // dropped batch). Graded row = per-priority rollup of the final head.
  // Scale: each batch's merge rewrites only ITS touched files (the a34
  // property), so steady-state ingest cost tracks the change volume —
  // never the table; state lives in the log, not a state store.
  private val h48 = graded(
    "h48_stream_merge_apply",
    """WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
      |b AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    round(o_totalprice * 100, 0)::BIGINT AS cents
      |  FROM orders),
      |final AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 20 = 1 THEN 'X-CDC'
      |         ELSE o_orderpriority END AS o_orderpriority,
      |    CASE WHEN o_orderkey % 20 = 1 THEN cents * 6
      |         WHEN o_orderkey % 10 = 1 THEN cents * 2
      |         ELSE cents END AS cents
      |  FROM b
      |  WHERE o_orderkey % 10 <> 2 AND o_orderkey % 10 <> 4
      |  UNION ALL
      |  SELECT o_orderkey + mx.mk, o_orderpriority, cents
      |  FROM b, mx WHERE o_orderkey % 10 = 5)
      |SELECT o_orderpriority, count(*)::BIGINT AS n,
      |  sum(cents)::BIGINT AS cents
      |FROM final GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.sources.TxLog
    val s = streamSession(spark, dir)
    val feed = stagedCdcDir(s, dir)
    val table = TmpDirs.fresh("graft_stream_stage", dir, "h48_table")
    val base = Tables.orders(s, dir).select($"o_orderkey",
        $"o_orderpriority",
        round($"o_totalprice" * 100, 0).cast("bigint").as("cents"))
      .repartitionByRange(8, $"o_orderkey")
    // base-as-v1 shared per JVM (shallow clone); every drain below
    // merges fresh commits onto this invocation's own log
    val (fixT, fixV) = Fixtures.dir(s, dir, "orders_rbr8_cdcbase")(
      t => TxLog.commit(t, TxLog.stage(base, t), 0))
    val v1 = TxLog.cloneAsV1(fixT, fixV, table)
    val stream = s.readStream
      .schema(s.read.parquet(feed).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed)
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        // one MERGE per micro-batch at the current head — the change
        // batch is consumed three times inside the merge, so
        // materialize it once (the a34 discipline)
        val ch = b.localCheckpoint(true)
        TxLog.mergeInto(b.sparkSession, table,
          TxLog.currentVersion(table).get, ch, "o_orderkey")
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      if (!q.awaitTermination(300000))
        throw new IllegalStateException(
          "h48 stream did not drain within 300 s")
    } finally q.stop()
    val head = TxLog.currentVersion(table).get
    require(head == v1 + 3,
      s"the drain must land exactly one merge per change batch, head=$head")
    TxLog.read(s, table, head)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum($"cents").cast("bigint").as("cents"))
      .orderBy("o_orderpriority")
  }

  val defs: Seq[QueryDef] = Seq(h1, h2, h3, h5, h6, h7, h8, h9, h10, h11,
    h12, h13, h14, h15, h16, h17, h18, h19, h20, h21, h22, h23, h24, h25,
    h26, h27, h28, h29, h30, h31, h32, h33, h34, h35, h36, h37, h38, h39,
    h40, h41, h42, h43, h44, h45, h46, h47, h48)
}
