package graft

import graft.streaming.StreamingJobs
import org.apache.spark.sql.functions._

/** H4: the streaming pipeline must produce the same answers as its graded
  * batch twins once the (finite) file stream is fully consumed.
  */
class StreamingSpec extends SparkSpec {

  test("streaming tumbling window equals batch h1 on the full stream") {
    val stream = StreamingJobs.readEvents(spark, sfDir)
    assert(stream.isStreaming)
    val streamed = StreamingJobs.drainToMemory(
        StreamingJobs.tumblingCounts(stream), "h4_tumble", "complete")
      .select(col("win_start").cast("long"), col("n_events"), col("sum_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("h1_win_tumbling")(spark, sfDir)
      .select(col("day_start").cast("long"), col("n_events"), col("sum_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("session_window: streaming output equals batch, except the watermark tail") {
    val stream = StreamingJobs.readEvents(spark, sfDir)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("session_start").cast("long"),
        col("session_end").cast("long"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = key(StreamingJobs.drainToMemory(
      StreamingJobs.sessionCounts(stream), "h4_sessions", "append"))
    val batchEvents = graft.sources.Tables.eventsUs(spark, sfDir)
    val batch = key(StreamingJobs.sessionCounts(batchEvents, streaming = false))
    assert(streamed.nonEmpty)
    // append mode only emits sessions closed by the final watermark (max
    // event time − 1 h gap): everything emitted must match batch exactly,
    // and everything withheld must lie inside that watermark tail.
    assert(streamed.subsetOf(batch))
    // timestamp→long cast yields epoch SECONDS; the 1 h gap is 3600 s
    val maxSec = batchEvents.agg(max(col("ts_us").cast("long"))).head().getLong(0)
    val tail = batch.diff(streamed)
    assert(tail.forall { case (_, _, end, _) => end >= maxSec - 3600L },
      s"withheld sessions outside the watermark tail: ${tail.take(3)}")
  }

  test("flatMapGroupsWithState totals equal batch groupBy on the full stream") {
    val stream = StreamingJobs.readEvents(spark, sfDir)
    // finite stream → one update emission per user; compare against batch
    val streamed = StreamingJobs.drainToMemory(
        StreamingJobs.statefulUserTotals(stream).toDF(), "h4_state", "update")
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("total_value").as("tv"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = graft.sources.Tables.eventsUs(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("tv"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed.keySet === batch.keySet)
    for ((u, (n, tv)) <- batch) {
      assert(streamed(u)._1 === n, s"user $u count")
      // double-sum fold order differs between the state machine and the
      // hash aggregate — compare within float tolerance
      assert(math.abs(streamed(u)._2 - tv) < 1e-6, s"user $u total")
    }
  }

  test("multi-microbatch stream (1 file per trigger) equals batch") {
    // split events into 4 time-ordered chunk files so the stream arrives
    // over 4 micro-batches — exercising incremental state updates and
    // watermark advancement, which a single-file stream never does
    val chunkDir = freshDir("chunks").toString
    val ev = graft.sources.Tables.eventsUs(spark, sfDir)
    ev.withColumn("chunk", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts_us"))))
      .write.mode("overwrite").partitionBy("chunk").parquet(chunkDir)
    val stream = StreamingJobs.fileStream(spark, chunkDir)
      .withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
    // complete mode: every batch carries the whole table, the last the
    // final one
    var batches = 0
    var streamed = Set.empty[(Long, Long, Long)]
    StreamingJobs.drain(StreamingJobs.tumblingCounts(stream), "h4_chunks",
        "complete") { (b, _) =>
      batches += 1
      streamed = b
        .select(col("win_start").cast("long"), col("n_events"), col("sum_cents"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(batches > 1, "expected multiple micro-batches")
    val batch = SparkEntry.queries("h1_win_tumbling")(spark, sfDir)
      .select(col("day_start").cast("long"), col("n_events"), col("sum_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("stream-stream interval join equals the batch join on the full stream") {
    val stream = StreamingJobs.readEvents(spark, sfDir)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("view_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = key(StreamingJobs.drainToMemory(
      StreamingJobs.attributionJoin(stream), "h4_attr", "append"))
    val batch = key(StreamingJobs.attributionJoin(
      graft.sources.Tables.eventsUs(spark, sfDir), streaming = false))
    assert(batch.nonEmpty)
    // an inner stream-stream join emits a pair as soon as both rows have
    // arrived — on a finite AvailableNow stream every pair is emitted
    assert(streamed === batch)
  }

  test("stateful rolling z-score equals batch h14 on the full stream") {
    val stream = StreamingJobs.readEvents(spark, sfDir)
    // finite stream → take each user's final state emission
    val streamed = StreamingJobs.drainToMemory(
        StreamingJobs.rollingZscore(stream).toDF(), "h4_zscore", "update")
      .groupBy("user_id")
      .agg(max("n_scored").as("s"), max("n_anomalies").as("a"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = SparkEntry.queries("h14_rolling_zscore")(spark, sfDir)
      .select(col("user_id"), col("n_scored"), col("n_anomalies"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed === batch)
  }

  test("stateful max-gap monitor equals the batch lag window on the full stream") {
    val stream = StreamingJobs.readEvents(spark, sfDir)
    val streamed = StreamingJobs.drainToMemory(
        StreamingJobs.maxGapMonitor(stream).toDF(), "h4_gaps", "update")
      .groupBy("user_id")
      .agg(max("n_gaps").as("n"), max("max_gap_us").as("m"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // batch twin: one lag window per user (h26's per-user core)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    val batch = sources.Tables(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"))
      .withColumn("gap", col("us") - lag("us", 1).over(w))
      .groupBy("user_id")
      .agg(count("gap").as("n"), coalesce(max("gap"), lit(0L)).as("m"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed === batch)
  }

  test("stateful debounce verdicts equal batch h30 on the full stream") {
    val stream = StreamingJobs.readEvents(spark, sfDir)
    val streamed = StreamingJobs.drainToMemory(
        StreamingJobs.debounceMonitor(stream).toDF(), "h4_debounce", "append")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val batch = SparkEntry.queries("h30_debounce")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(streamed.size === batch.size)
    assert(streamed === batch, "per-event verdicts must agree")
  }

  test("streaming seasonal-profile cells equal batch h24 counts") {
    val stream = StreamingJobs.readEvents(spark, sfDir)
    val streamed = StreamingJobs.drainToMemory(
        StreamingJobs.seasonalProfile(stream), "h24_stream", "complete")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getLong(3))).toSet
    val batch = SparkEntry.queries("h24_seasonal_profile")(spark, sfDir)
      .select(col("event_type"), col("dow"), col("hour"), col("n"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getLong(3))).toSet
    assert(streamed === batch)
  }

  test("streaming dedup emits each event_id once") {
    val stream = StreamingJobs.readEvents(spark, sfDir)
    val out = StreamingJobs.drainToMemory(
      StreamingJobs.dedupEvents(stream), "h4_dedup", "append")
    val batchDistinct = graft.sources.Tables
      .eventsUs(spark, sfDir).select("event_id").distinct().count()
    assert(out.select("event_id").distinct().count() === batchDistinct)
    assert(out.count() === batchDistinct)
  }

  test("h38 redelivery fixture: two unioned file streams deliver 2x, dedup restores 1x") {
    // guards h38's load-bearing assumption: two SEPARATE readEvents calls
    // union into an actual 2x delivery (if Spark ever collapsed the two
    // identical source plans into one scan, h38 would grade a vacuous
    // no-op dedup and this test names the failure)
    val redelivered = StreamingJobs.readEvents(spark, sfDir)
      .unionAll(StreamingJobs.readEvents(spark, sfDir))
    val raw = StreamingJobs.drainToMemory(redelivered, "h38_raw", "append")
    val n = graft.sources.Tables.eventsUs(spark, sfDir).count()
    assert(raw.count() === 2 * n,
      "the union of two independent file streams must deliver every event twice")
    val deduped = SparkEntry.queries("h38_stream_dedup_parity")(spark, sfDir)
    assert(deduped.count() === n)
    assert(deduped.select("event_id").distinct().count() === n)
  }

  test("session_window boundary rule: a gap exactly equal to the timeout MERGES") {
    // h35's oracle encodes session_window's merge rule as `gap > timeout
    // starts a new session`. No corpus fixture has a pair sitting exactly
    // on the boundary (which is why an initial `>=` draft graded green
    // while being boundary-wrong), so the rule is pinned here directly:
    // consecutive windows [ts, ts+gap) merge when next_ts <= last_ts+gap
    // INCLUSIVE — exactly-one-gap-apart is ONE session, one µs past the
    // gap is two. If a Spark upgrade ever flips this, this test names the
    // h35 oracle line that must flip with it.
    import spark.implicits._
    val df = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 01:00:00"),
      (2L, "2024-01-01 00:00:00"), (2L, "2024-01-01 01:00:00.000001"))
      .toDF("u", "s").withColumn("ts", to_timestamp($"s"))
    val sessions = df.groupBy($"u", session_window($"ts", "1 hour")).count()
      .groupBy($"u").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sessions(1L) === 1L,
      "exact-gap pair must MERGE (h35 oracle's new-session rule is >)")
    assert(sessions(2L) === 2L,
      "a gap one microsecond past the timeout must split")
  }

  test("withWatermark drops provably-late rows; the same drain without " +
      "it retains them (h44's counter-law)") {
    val dir =
      freshDir("wm").toString + "/in"
    import spark.implicits._
    def ts(day: Int, i: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:$i%02d")
    // arrival order (landInOrder): day-10 rows, then day-11 rows, then
    // the LATE day-1 rows. The late file must be the SECOND batch after
    // the watermark-advancing data: Spark executes batch N with the
    // watermark committed from batch N−1's stats (measured: a late file
    // arriving as batch 1 is still processed at the initial watermark —
    // the exact one-batch lag h44's three-file staging absorbs by
    // construction).
    val onTime = (0 until 10).map(i => (i.toLong, ts(10, i), 1.0))
      .toDF("event_id", "ts_us", "value")
    val onTime2 = (20 until 25).map(i => (i.toLong, ts(11, i - 20), 1.0))
      .toDF("event_id", "ts_us", "value")
    val late = (0 until 5).map(i => (100L + i, ts(1, i), 1.0))
      .toDF("event_id", "ts_us", "value")
    StreamingJobs.landInOrder(dir,
      Seq(onTime, onTime2, late).map(_.repartition(1)))
    def drain(withWm: Boolean, name: String): Map[Long, Long] = {
      val src = StreamingJobs.fileStream(spark, dir)
      val in = if (withWm) src.withWatermark("ts_us", "1 day") else src
      val agg = in.groupBy(window(col("ts_us"), "1 day"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("day"), col("n"))
      // update-mode memory sink appends each update; latest = max n
      StreamingJobs.drainToMemory(agg, name,
          if (withWm) "update" else "complete")
        .groupBy("day").agg(max("n").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val raw = drain(withWm = false, "h44law_raw")
    val wm = drain(withWm = true, "h44law_wm")
    // without a watermark the drain retains the late day
    assert(raw.values.toSeq.sorted === Seq(5L, 5L, 10L),
      s"raw drain must hold all three days: $raw")
    // with the watermark (advanced to day 9 by the first batch, in
    // force by the late batch) the late day's rows DROP
    assert(wm.values.toSeq.sorted === Seq(5L, 10L),
      s"watermarked drain must retain exactly the on-time days: $wm")
    val lateDay = raw.keySet.min // day 1 has the smallest window start
    assert(!wm.contains(lateDay), s"late day survived the watermark: $wm")
  }

  test("session windows under a watermark: exactly the sessions the " +
      "watermark CLOSED emit in append mode; late rows extend nothing; " +
      "an infinite delay finalizes nothing (h47's counter-law)") {
    import spark.implicits._
    val dir =
      freshDir("wms").toString + "/in"
    def ts(day: Int, i: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:$i%02d")
    // arrival: user-1 session on day 10, then user-2 session on day 20
    // (advances the watermark PAST day 10's close), then LATE day-1
    // rows for user 1, landed in that order as in h44's law above.
    val f1 = (0 until 10).map(i => (1L, ts(10, i), 1.0))
      .toDF("user_id", "ts_us", "value")
    val f2 = (0 until 5).map(i => (2L, ts(20, i), 1.0))
      .toDF("user_id", "ts_us", "value")
    val f3 = (0 until 5).map(i => (1L, ts(1, i), 1.0))
      .toDF("user_id", "ts_us", "value")
    StreamingJobs.landInOrder(dir, Seq(f1, f2, f3).map(_.repartition(1)))
    def drain(delay: String, name: String) = {
      val sessions = StreamingJobs.fileStream(spark, dir)
        .withWatermark("ts_us", delay)
        .groupBy(session_window(col("ts_us"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("n"))
      StreamingJobs.drainToMemory(sessions, name, "append")
        .collect().map(r => r.getLong(0) -> r.getLong(1))
    }
    val strict = drain("1 day", "h47law_strict")
    // user 1's day-10 session finalized once day 20 pushed the watermark
    // past its close, and the late day-1 rows neither extended it (n
    // stays 10) nor emitted a session of their own; user 2's session is
    // still OPEN at drain end — absence of proof, no emission
    assert(strict.toSeq === Seq(1L -> 10L),
      s"exactly the closed on-time session must emit: ${strict.toSeq}")
    // infinite delay: the watermark never moves, nothing ever finalizes
    val loose = drain("100000 days", "h47law_loose")
    assert(loose.isEmpty,
      s"an unbounded watermark must finalize nothing: ${loose.toSeq}")
  }

  test("stream-stream join under watermarks: a 1-day delay drops the " +
      "late side's input and evicts the other side's state; an " +
      "effectively-infinite delay retains the late pairs (h45's " +
      "counter-law)") {
    import spark.implicits._
    val root = freshDir("wmj").toString
    val cDir = s"$root/clicks"; val pDir = s"$root/purch"
    def ts(day: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:$m%02d:00")
    val users = (1L to 5L).toSeq
    // clicks: day-10 file, day-11 file, then the LATE day-1 file
    StreamingJobs.landInOrder(cDir, Seq(
      users.map(u => (u, ts(10, 0))).toDF("user_id", "c_ts"),
      users.map(u => (u, ts(11, 0))).toDF("user_id", "c_ts"),
      (1L to 3L).map(u => (u, ts(1, 0))).toDF("user_id", "c_ts"))
      .map(_.repartition(1)))
    // purchases (all on time): day-10 + day-1 purchases arrive first —
    // the day-1 purchase can only pair with the LATE clicks, so its
    // pair's existence is exactly the watermark question
    StreamingJobs.landInOrder(pDir, Seq(
      (users.map(u => (u, ts(10, 30))) ++
        (1L to 3L).map(u => (u, ts(1, 30)))).toDF("p_user", "p_ts"),
      users.map(u => (u, ts(11, 30))).toDF("p_user", "p_ts"))
      .map(_.repartition(1)))
    def drain(delay: String, name: String): Long = {
      def side(dir: String, tsCol: String) =
        StreamingJobs.fileStream(spark, dir).withWatermark(tsCol, delay)
      val pairs = side(pDir, "p_ts").join(side(cDir, "c_ts"),
        col("p_user") === col("user_id") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      StreamingJobs.drainToMemory(pairs, name, "append").count()
    }
    val strict = drain("1 day", "h45law_strict")
    val loose = drain("100 days", "h45law_loose")
    // 10 on-time pairs (5 users × 2 days); the 3 late-click pairs exist
    // only when the watermark never catches up
    assert(strict === 10L,
      s"1-day watermark must emit exactly the on-time pairs, got $strict")
    assert(loose === 13L,
      s"infinite-ish watermark must retain the late pairs, got $loose")
  }

  test("an outer stream-stream join without watermarks is rejected — " +
      "eviction is what makes null-row emission possible (h46's " +
      "precondition)") {
    import spark.implicits._
    val dir =
      freshDir("oj").toString + "/in"
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("k", "ts").write.parquet(dir)
    def src = StreamingJobs.fileStream(spark, dir)
    val j = src.join(
      src.withColumnRenamed("k", "k2").withColumnRenamed("ts", "ts2"),
      col("k") === col("k2"), "leftOuter")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      StreamingJobs.drainToMemory(j, "oj_bad", "append")
    }
    assert(ex.getMessage.toLowerCase.contains("watermark"),
      s"rejection must name the missing watermark: ${ex.getMessage}")
  }

  test("a drain whose sink throws fails by the drain's name and leaves " +
      "no stream running") {
    val ex = intercept[IllegalStateException] {
      StreamingJobs.drain(StreamingJobs.readEvents(spark, sfDir),
          "h4_refused", "append") { (_, id) =>
        throw new RuntimeException(s"sink refused batch $id")
      }
    }
    assert(ex.getMessage.startsWith("h4_refused "), ex.getMessage)
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("sink refused")),
      s"the sink's own error must stay in the cause chain: $ex")
    assert(spark.streams.active.isEmpty,
      s"a failed drain left ${spark.streams.active.map(_.name).toSeq}")
  }

  test("idempotentAppend exactly-once law: a replayed batch does not duplicate") {
    // Structured Streaming's failure contract is "batchId N may run
    // MORE THAN ONCE with identical data" — exactly-once holds iff the
    // sink write is idempotent per batchId. Pin that law directly on
    // StreamingJobs.idempotentAppend: replaying a batch leaves the table
    // byte-identical; a NEW batchId appends.
    import spark.implicits._
    val out = freshDir("law").resolve("out").toString
    val b0 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    val b1 = Seq((3L, 30.0)).toDF("id", "v")
    StreamingJobs.idempotentAppend(b0, 0L, out)
    StreamingJobs.idempotentAppend(b1, 1L, out)
    def snap() = spark.read.parquet(out)
      .select(col("id"), col("v"), col("batch_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .toSet
    val before = snap()
    assert(before.size === 3)
    // the retry: same batchId, same rows — the table must not change
    StreamingJobs.idempotentAppend(b1, 1L, out)
    spark.catalog.refreshByPath(out)
    assert(snap() === before,
      "replaying batch 1 must overwrite its own partition, not append")
    // and a retry must not touch OTHER batches' partitions
    StreamingJobs.idempotentAppend(b0, 0L, out)
    spark.catalog.refreshByPath(out)
    assert(snap() === before)
  }

  test("upsertLatest laws: replay is a fixed point; batch order is immaterial") {
    // The upsert sink's exactly-once is SEMANTIC (h41): last-writer-wins
    // by (last_ts_us, last_event_id) makes (1) re-applying any batch a
    // no-op, and (2) the final state independent of batch arrival order —
    // the two properties a replayed/reordered micro-batch sequence needs.
    import spark.implicits._
    def mk(rows: Seq[(Long, Long, Long, Long)]) = rows
      .toDF("event_id", "user_id", "us", "cents")
      .select($"event_id", $"user_id",
        expr("timestamp_micros(us)").as("ts_us"), $"cents")
    // user 1: newer row in b0 than b1 (later batch carries OLDER data —
    // the case where append-style thinking regresses); user 2 split
    // across batches; user 9 only in b1. Same-ts tie for user 2 decided
    // by event_id (total order).
    val b0 = mk(Seq((100L, 1L, 5000L, 11L), (200L, 2L, 7000L, 22L)))
    val b1 = mk(Seq((90L, 1L, 4000L, 10L), (210L, 2L, 7000L, 23L),
      (300L, 9L, 1000L, 90L)))
    def runOrder(name: String, batches: Seq[org.apache.spark.sql.DataFrame],
        replay: Option[org.apache.spark.sql.DataFrame]) = {
      val out = freshDir(s"upsert-law-$name").resolve("out").toString
      batches.foreach(StreamingJobs.upsertLatest(_, out))
      replay.foreach(StreamingJobs.upsertLatest(_, out))
      spark.read.parquet(out)
        .select($"user_id", $"last_ts_us", $"last_event_id", $"last_cents")
        .collect().map(_.toSeq).toSet
    }
    val fwd = runOrder("fwd", Seq(b0, b1), None)
    assert(fwd.size === 3)
    // user 1 keeps b0's NEWER row even though b1 arrived later
    assert(fwd.exists(r => r.head == 1L && r(3) == 11L))
    // user 2's same-ts tie goes to the larger event_id
    assert(fwd.exists(r => r.head == 2L && r(3) == 23L))
    assert(runOrder("rev", Seq(b1, b0), None) === fwd,
      "upsert state must not depend on batch arrival order")
    assert(runOrder("rep", Seq(b0, b1), Some(b0)) === fwd,
      "replaying a batch must be a fixed point of the merge")
  }
}
