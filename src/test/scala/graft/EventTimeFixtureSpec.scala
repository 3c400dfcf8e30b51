package graft

import java.time.{LocalDateTime, ZoneOffset}

/** Hand-built-fixture tests for the event-time semantics that oracle
  * parity exercises only statistically: the as-of tie at an exactly
  * equal timestamp, the no-prior-order null, and the session gap landing
  * exactly on the 1 h threshold.
  */
class EventTimeFixtureSpec extends SparkSpec {

  private val S = 1000000000L // ns per second
  private val H = 3600L * S

  private lazy val dir: String = {
    import spark.implicits._
    val d = freshDir("fix").toString
    // as-of users 1,2 (second-scale); sessionize users 11-13 (hour-scale)
    Seq(
      (1L, 5L * S, 1L, "x", 1.0, """{"k": 1}"""),
      (2L, 10L * S, 1L, "x", 1.0, """{"k": 1}"""),
      (3L, 15L * S, 1L, "x", 1.0, """{"k": 1}"""),
      (4L, 25L * S, 1L, "x", 1.0, """{"k": 1}"""),
      (5L, 7L * S, 2L, "x", 1.0, """{"k": 1}"""),
      (11L, 0L, 11L, "x", 1.0, """{"k": 1}"""),
      (12L, H / 2, 11L, "x", 1.0, """{"k": 1}"""),
      (13L, 2L * H, 11L, "x", 1.0, """{"k": 1}"""),
      (14L, 0L, 12L, "x", 1.0, """{"k": 1}"""),
      (15L, 0L, 13L, "x", 1.0, """{"k": 1}"""),
      (16L, H, 13L, "x", 1.0, """{"k": 1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    def ntz(sec: Long) = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC)
    Seq(
      (101L, 1L, "O", 100.0, ntz(10), "1-URGENT"),
      (102L, 1L, "O", 200.0, ntz(20), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$d/orders.parquet")
    d
  }

  test("as-of join: equal-timestamp order counts, no-prior-order is null") {
    val got = SparkEntry.queries("c8_join_asof")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // event 2 is at exactly the order-101 timestamp → the order counts
    assert(got(1L) === None)
    assert(got(2L) === Some(101L))
    assert(got(3L) === Some(101L))
    assert(got(4L) === Some(102L))
    assert(got(5L) === None) // user 2 has no orders at all
    assert(got(11L) === None)
  }

  test("sessionize: gap of exactly the threshold stays in-session") {
    val got = SparkEntry.queries("h3_sessionize")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // user 11: 30 min gap chains, 1.5 h gap splits
    assert(got((11L, 1L)) === 2L)
    assert(got((11L, 2L)) === 1L)
    // user 12: single event, single session
    assert(got((12L, 1L)) === 1L)
    // user 13: gap is exactly 1 h — the rule is strict '>' → same session
    assert(got((13L, 1L)) === 2L)
    assert(!got.contains((13L, 2L)))
  }

  // Midnight carry-in: two sessions overlap only across a day boundary.
  // On day 2 the only deltas are the session ENDS (each at level 1 after
  // its own −1... the peak of 2 is the level CARRIED IN at midnight), and
  // day 3 has no deltas at all but still one active session — both would
  // be wrong without the day-spine/carry-in formulation.
  private lazy val carryDir: String = {
    import spark.implicits._
    val d = freshDir("carry").toString
    val D = 24L * H
    val rows = Seq(
      // session A: user 21, day1 23:00 → day2 00:30 (45-min gaps)
      (21L, D - H, 21L, "x", 1.0, "{}"),
      (26L, D - H / 4, 21L, "x", 1.0, "{}"),
      (22L, D + H / 2, 21L, "x", 1.0, "{}"),
      // session B: user 22, day1 23:30 → day2 00:10
      (23L, D - H / 2, 22L, "x", 1.0, "{}"),
      (24L, D + H / 6, 22L, "x", 1.0, "{}"),
      // session C: user 23, day2 23:30 → day4 01:00 via ≤1 h steps, so
      // day3 contains an active session but NO deltas at all
      (25L, 2 * D - H / 2, 23L, "x", 1.0, "{}")) ++
      (0 to 25).map(i => (30L + i, 2 * D + i * H, 23L, "x", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    d
  }

  test("max concurrency counts the level carried in at midnight and quiet days") {
    val got = SparkEntry.queries("h10_max_concurrency")(spark, carryDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // day 1 (1970-01-01): A and B both start late → peak 2 in-day
    assert(got("1970-01-01") === 2L)
    // day 2: peak 2 happens AT midnight (carry-in); in-day deltas alone
    // would report 1
    assert(got("1970-01-02") === 2L)
    // day 3: session C active all day, zero deltas — must still appear
    assert(got("1970-01-03") === 1L)
    // day 4: C ends mid-day
    assert(got("1970-01-04") === 1L)
  }
}
