package graft

/** Hand-built-fixture tests for h11 (gaps-and-islands streaks) and h12
  * (interval union). Oracle parity proves cross-engine agreement on the
  * statistical corpus; these pin the SEMANTICS on cases the corpus may
  * never hit: a broken streak, duplicate events on one day, touching
  * intervals (end == next start must merge — the sweep condition is
  * strictly `start > running_max_end`), and zero-length intervals from
  * sub-minute durations flooring to 0.
  */
class IntervalFixtureSpec extends SparkSpec {

  private val S = 1000000000L // ns per second
  private val D = 86400L * S  // ns per day

  private lazy val dir: String = {
    import spark.implicits._
    val d = freshDir("iv").toString
    Seq(
      // h11 user 21: active days {0,1,2,4} with a duplicate event on day
      // 1 → streaks [3, 1]
      (1L, 0L * D, 21L, "x", 1.0, "{}"),
      (2L, 1L * D + 5L * S, 21L, "x", 1.0, "{}"),
      (3L, 1L * D + 9L * S, 21L, "x", 1.0, "{}"),
      (4L, 2L * D, 21L, "x", 1.0, "{}"),
      (5L, 4L * D, 21L, "x", 1.0, "{}"),
      // h11 user 22: one day only
      (6L, 10L * D, 22L, "x", 1.0, "{}"),
      // h12 user 31: [0,120s] ∪ [60s,180s] (overlap) ∪ [180s,240s]
      // (touching) → one 240 s block; [1000s,1060s] → second block
      (7L, 0L, 31L, "x", 2.0, "{}"),
      (8L, 60L * S, 31L, "x", 2.0, "{}"),
      (9L, 180L * S, 31L, "x", 1.0, "{}"),
      (10L, 1000L * S, 31L, "x", 1.0, "{}"),
      // h12 user 32: two zero-length intervals at the same instant
      // (floor(0.008·60) = 0) → one merged block of zero busy time
      (11L, 500L * S, 32L, "x", 0.008, "{}"),
      (12L, 500L * S, 32L, "x", 0.008, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    d
  }

  test("h11 streaks: consecutive-day islands, duplicate days collapse") {
    val got = SparkEntry.queries("h11_streaks")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(21L) === ((2L, 3L, 4L))) // 2 streaks, longest 3, 4 active days
    assert(got(22L) === ((1L, 1L, 1L)))
  }

  test("h12 interval union: overlap and touching merge, zero-length collapses") {
    val got = SparkEntry.queries("h12_interval_union")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // user 31: 4 intervals → 2 merged blocks; busy 240 s + 60 s; longest 240 s
    assert(got(31L) === ((2L, 4L, 300L * 1000000L, 240L * 1000000L)))
    // user 32: 2 zero-length intervals at one instant → 1 block, 0 busy
    assert(got(32L) === ((1L, 2L, 0L, 0L)))
  }
}
