package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQueryException, Trigger}
import org.apache.spark.sql.types._

/** H4: true Structured Streaming over the events table (non-graded — the
  * harness has no live stream; the graded event-time semantics H1–H3 run
  * in batch form, which uses the very same `window()` expressions).
  *
  * Spark's batch/streaming unification means every transform here is
  * shared with the batch path; only the source (`readStream` file source)
  * and sink differ. File-source streaming needs an explicit schema — it is
  * declared to match the events parquet footer (ts is epoch-ns read as
  * bigint under the nanosAsLong flag, SURVEY §1.3).
  *
  * Scale notes (real cluster):
  *  - the file source discovers new files per micro-batch → at 100 TB the
  *    same code points at a partitioned landing directory or Kafka.
  *  - the watermark bounds state: window aggregates older than
  *    (max event time − watermark) are finalized and evicted.
  *  - dedup-by-key uses `dropDuplicatesWithinWatermark`, the streaming
  *    twin of batch g1: state also bounded by the watermark.
  */
object StreamingJobs {

  /** events parquet schema. File streams cannot infer, so the schema is
    * probed from the parquet footer with a one-off batch read — this keeps
    * the stream correct across both corpus vintages (ts as epoch-ns bigint
    * under `nanosAsLong`, or native TIMESTAMP(MICROS) → TIMESTAMP_NTZ).
    */
  def eventsSchema(spark: SparkSession, sfDir: String): StructType = {
    graft.sources.Tables.ensureEventsConf(spark)
    spark.read.parquet(s"$sfDir/events.parquet").schema
  }

  /** Streaming scan of the events parquet dir, normalized to the same
    * shape the batch loader ([[graft.sources.Tables.apply]]) produces:
    * `ts` epoch-ns bigint + `ts_us` µs timestamp, whatever the on-disk
    * vintage.
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sources.Tables.ensureEventsConf(spark)
    val footer = eventsSchema(spark, sfDir)
    // `events.parquet` is a single FILE in the driver corpus but a
    // DIRECTORY of part-files in any written-out corpus (ScaleCheck's 8x
    // replica, a real table) — and the two layouts need different stream
    // paths: the file source's basePath must be a directory (a file path
    // throws), while a `pathGlobFilter=events.parquet` on the parent dir
    // matches no leaf file in the directory layout and the stream
    // silently drains EMPTY (caught by the 8x scale audit). So: stream
    // the table path when it is a directory, else the parent dir
    // filtered to the table file. Local-FS check is fine here — on a
    // cluster this corpus loader is the component you replace with a
    // catalog table / Kafka source anyway (class doc).
    val tablePath = s"$sfDir/events.parquet"
    val raw =
      if (new java.io.File(tablePath).isDirectory)
        spark.readStream.schema(footer).parquet(tablePath)
      else
        spark.readStream.schema(footer)
          .option("pathGlobFilter", "events.parquet").parquet(sfDir)
    val ns = footer("ts").dataType match {
      case LongType => raw // ns vintage: already epoch-ns
      case _ => raw.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
    }
    ns.withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
  }

  /** File stream over a parquet landing dir, one file per micro-batch
    * (`maxFilesPerTrigger=1`), with the schema read from the parquet
    * footer (a file stream cannot infer one). The file source takes
    * unseen files in modification-time order; [[landInOrder]] pins it.
    */
  def fileStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(path).schema)
      .option("maxFilesPerTrigger", "1").parquet(path)

  /** Appends each of `batches` to the parquet dir `path`, then stamps that
    * batch's new `part-*.parquet` files, in file-name order, with the next
    * strictly increasing modification time, so a [[fileStream]] over
    * `path` delivers the files in exactly this order: a batch written as
    * N partitions arrives as N micro-batches, in partition order. Only
    * the relative order of the stamps matters (they start at the wall
    * clock); the dir must have no other writer.
    */
  def landInOrder(path: String, batches: Seq[DataFrame]): Unit = {
    def parts = Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    val mtimes = Iterator.iterate(System.currentTimeMillis())(_ + 1000L)
    batches.foreach { b =>
      val seen = parts.map(_.getName).toSet
      b.write.mode("append").parquet(path)
      parts.filterNot(f => seen(f.getName)).sortBy(_.getName)
        .foreach(_.setLastModified(mtimes.next()))
    }
  }

  private val drainTimeoutMs = 300000L

  // a memory sink's query name is a registered temp view, so every drain
  // gets its own: a re-run (Probe's two passes, a bench after a verify in
  // one JVM) must not collide with an earlier drain's name
  private val memorySinkRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** Drains the finite stream `df` with `Trigger.AvailableNow`, handing
    * each micro-batch and its id to the `foreachBatch` `sink` — the ONE
    * drain policy of every streaming key and test, so the timeout, the
    * failure message and the clean-up cannot drift between them:
    *  - a drain that has not finished within 300 s, or whose query
    *    fails (a throwing sink included), throws an
    *    `IllegalStateException` that starts with `name`;
    *  - the query is stopped in `finally`, so no drain leaves a stream
    *    running, whatever it throws;
    *  - then the state stores are unloaded.
    *
    * Post-drain hygiene matters because the SUITE outlives the query: a
    * stopped stateful query leaves its state-store providers loaded with
    * a background maintenance thread snapshotting them — left in place,
    * five drains in a row measurably contaminate the wall-clock of
    * whatever runs next in the same JVM (BENCH_r08: h3/h5–h8 regressed
    * 4–7.7× purely by running after h34–h38).
    *
    * SINGLE-THREADED ASSUMPTION: StateStore.stop() is process-global —
    * it unloads EVERY loaded provider and kills the shared maintenance
    * thread, so a concurrent streaming query in the same JVM would have
    * its state yanked mid-run. Safe here because the streaming keys run
    * strictly sequentially (Bench/Verify/Probe are single-threaded and
    * the test suites drive one stream at a time — the same documented
    * contract as Components.lastRunNonEmptyRounds); a multi-tenant
    * deployment would scope the unload to the drained query's providers
    * instead.
    */
  def drain(df: DataFrame, name: String, mode: String)(
      sink: (DataFrame, Long) => Unit): Unit =
    await(name, df.writeStream.outputMode(mode).foreachBatch(sink))

  /** [[drain]] into an in-memory sink, returning the sink's rows: they are
    * `localCheckpoint`ed (eager — it cuts the lineage off the sink), and
    * the sink's temp view is dropped even when the drain throws, so no
    * emitted row stays registered on the session.
    */
  def drainToMemory(df: DataFrame, name: String, mode: String): DataFrame = {
    val sink = s"${name}_sink_${memorySinkRuns.incrementAndGet()}"
    try {
      await(name, df.writeStream.format("memory").queryName(sink)
        .outputMode(mode))
      df.sparkSession.table(sink).localCheckpoint(true)
    } finally df.sparkSession.catalog.dropTempView(sink)
  }

  private def await(name: String, writer: DataStreamWriter[Row]): Unit = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    try {
      if (!q.awaitTermination(drainTimeoutMs))
        throw new IllegalStateException(
          s"$name stream did not drain within ${drainTimeoutMs / 1000} s")
    } catch {
      case e: StreamingQueryException =>
        throw new IllegalStateException(
          s"$name stream failed: ${e.getMessage}", e)
    } finally {
      q.stop()
      StateStore.stop()
    }
  }

  /** Tumbling 1-day event-time window counts with a 1-day watermark —
    * streaming twin of the graded batch h1_win_tumbling. The value sum is
    * EXACT CENTS (h1's grading rule): integer partial aggregates are
    * order-independent, so micro-batch incremental state merges produce
    * bit-identical sums to the batch plan — which is what lets
    * h34_stream_tumbling_parity grade this stream against h1's DuckDB
    * oracle as a CORRECTNESS row, not a tolerance check.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_us", "1 day")
      .groupBy(window(col("ts_us"), "1 day").as("win"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100, 0).cast("bigint")).cast("bigint")
          .as("sum_cents"))
      .select(col("win.start").as("win_start"), col("n_events"), col("sum_cents"))

  /** Watermark-bounded streaming dedup by event_id — streaming twin of
    * batch exact dedup (g1).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_us", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Exactly-once micro-batch append for a foreachBatch parquet sink —
    * the production write discipline h34–h38's memory sinks stand in
    * for. Structured Streaming guarantees each batchId is REPLAYED with
    * the same data after a failure, so exactly-once reduces to making
    * the per-batch write idempotent: every batch is written with a plain
    * overwrite straight into its own `batch_id=<id>` directory — a
    * retried batch replaces its own partition instead of appending
    * duplicates, and batches never touch each other's partitions. At
    * 100 TB the same call writes a partitioned landing table; downstream
    * readers just prune on their own predicates (batch_id is a physical
    * idempotency key, not a query key).
    *
    * Failure window: the overwrite deletes the directory before it
    * writes, so while the write runs the partition is empty or partial
    * to a concurrent reader, and after a crash mid-write it stays so
    * until the batch is replayed. An empty batch still creates its (empty)
    * `batch_id=<id>` directory.
    */
  def idempotentAppend(batch: DataFrame, batchId: Long,
      tablePath: String): Unit =
    // the batch's OWN partition directory is the write target (r16):
    // `batch_id` is constant within a call, so the dynamic-overwrite
    // machinery — stage the whole output, diff the touched partition
    // set, swap directories — reduced to replacing exactly this one
    // directory anyway; writing it directly keeps the identical
    // idempotency contract (a retried batch replaces its own partition,
    // batches never touch each other's) and the identical read-back
    // (partition discovery still surfaces batch_id from the directory
    // name) at one plain overwrite per micro-batch instead of a
    // dynamic-commit protocol pass. This is per-batch cost at any
    // scale — the a20 dynamic mechanism remains the right tool when a
    // batch spans MANY partitions; a constant-partition write is the
    // degenerate case where it only adds protocol.
    batch.write.mode("overwrite").parquet(s"$tablePath/batch_id=$batchId")

  /** Exactly-once micro-batch UPSERT for a foreachBatch parquet sink —
    * the keyed-table twin of [[idempotentAppend]] (which lands immutable
    * facts; this maintains LATEST-STATE per key, the other production
    * write shape: device registries, user profiles, catalog heads).
    * Merge rule: per user, keep the row with the greatest
    * (last_ts_us, last_event_id) between on-disk state and the incoming
    * batch — last-writer-wins with a total, deterministic order.
    *
    * Idempotency here is SEMANTIC, not positional: replaying any batch
    * (Spark's failure-replay contract) re-offers rows the table already
    * reflects, and last-writer-wins makes that a fixed point — unlike
    * append, no batch_id bookkeeping is needed. What makes it scale is
    * the PARTITION-SCOPED rewrite: the table is hash-partitioned on
    * `bucket = user_id % buckets`, each merge reads ONLY the buckets the
    * batch touches and dynamically overwrites only those partitions —
    * at 100 TB with thousands of buckets a micro-batch rewrites a few
    * shards, never the table (a20's discipline driving a MERGE).
    */
  def upsertLatest(batch: DataFrame, tablePath: String,
      buckets: Int = 8): Unit = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.expressions.Window
    val wIn = Window.partitionBy(col("user_id"))
      .orderBy(col("last_ts_us").desc, col("last_event_id").desc)
    // NO pre-merge dedupe pass (r16): last-writer-wins over
    // existing ∪ raw-batch elects the same per-user winner as over
    // existing ∪ pre-deduped-batch — the single row_number pass after
    // the union IS the dedupe (ties are impossible beyond identical
    // rows: event_id is unique, and (last_ts_us, last_event_id) is the
    // total order). Dropping it removes one window exchange from EVERY
    // micro-batch — per-batch cost at any scale, since the batch is
    // consumed twice (bucket election + merge) and paid the window both
    // times.
    val incoming = batch
      .select(col("user_id"), col("ts_us").as("last_ts_us"),
        col("event_id").as("last_event_id"), col("cents").as("last_cents"))
      .withColumn("bucket", pmod(col("user_id"), lit(buckets)).cast("int"))
    // the touched-bucket list is a ≤`buckets`-row driver fetch steering
    // which partitions the merge reads — control flow, not data flow
    val affected = incoming.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // dynamic partition overwrite does NOT leave a root _SUCCESS marker
    // (each commit stages into the touched partitions only), so table
    // existence is probed by the partition directories themselves —
    // through Hadoop's FileSystem, not java.io.File: on HDFS/S3 a local
    // File probe is silently false and the merge would drop prior rows
    // in the touched buckets (r9 ADVICE)
    val tbl = new org.apache.hadoop.fs.Path(tablePath)
    // TxLog's per-session conf cache: newHadoopConf() copies the full
    // conf map per call, and this runs once per micro-batch (the r11
    // advice item, applied to the streaming merge path)
    val fs = tbl.getFileSystem(graft.sources.TxLog.hadoopConf)
    val hasTable = fs.exists(tbl) && fs.listStatus(tbl)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
    val existing =
      if (hasTable)
        // explicit schema (the incoming projection + the bucket
        // partition column it already carries): skips the per-batch
        // footer-inference pass over the table's files — r16, the
        // read is otherwise identical
        Some(spark.read.schema(incoming.schema).parquet(tablePath)
          .where(col("bucket").isin(affected: _*))
          .select(incoming.columns.map(col): _*))
      else None
    val merged = existing.map(_.unionByName(incoming)).getOrElse(incoming)
      .withColumn("rn", row_number().over(wIn)).where(col("rn") === 1)
      .drop("rn")
      // materialize BEFORE the write: the merge plan reads the very
      // files the dynamic overwrite is about to replace
      .localCheckpoint(true)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(tablePath)
    spark.catalog.refreshByPath(tablePath)
  }

  /** Seasonal-profile cell counts — streaming twin of the graded batch
    * h24 grid. The (type, dow, hour) keys derive arithmetically from the
    * epoch-ns `ts` (same integer expressions as batch), so the streaming
    * aggregate is an ordinary bounded-cardinality groupBy (≤ 840 cells of
    * state at any corpus size — the state-boundedness property that makes
    * this monitor deployable as a stream).
    */
  def seasonalProfile(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"),
        expr("cast(((ts div 1000) div 86400000000 + 3) % 7 as int)").as("dow"),
        expr("cast(((ts div 1000) div 3600000000) % 24 as int)").as("hour"))
      .agg(count(lit(1)).cast("bigint").as("n"))

  /** Per-user running aggregate state record for [[statefulUserTotals]]. */
  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Arbitrary stateful processing via `flatMapGroupsWithState` — the
    * escape hatch when no built-in aggregate/window expresses the state
    * machine. Here the "machine" is a running (count, sum) per user so the
    * spec can cross-check against a batch groupBy; a real pipeline would
    * put e.g. per-session ML feature accumulation or cross-event pattern
    * matching here.
    *
    * Scale notes: state lives in the state store keyed by user — update
    * cost is O(batch rows), memory is O(distinct active keys). With no
    * natural expiry, production code sets `GroupStateTimeout` (event-time
    * timeout + watermark) so abandoned keys are evicted; NoTimeout here
    * because the finite spec stream ends immediately.
    */
  def statefulUserTotals(events: DataFrame): Dataset[UserTotals] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").as[Long], col("value").as[Double])
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          var (n, v) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { r => n += 1; v += r._2 }
          state.update((n, v))
          Iterator(UserTotals(user, n, v))
      }
  }

  /** Per-user output record for [[rollingZscore]]. */
  final case class ZScoreStats(user_id: Long, n_scored: Long, n_anomalies: Long)

  /** Streaming twin of the graded batch h14_rolling_zscore: the trailing
    * out-of-sample z-score monitor as a stateful stream. Each user's rows
    * are replayed in EVENT-TIME order ((ts, event_id) — the same total
    * order as h14's window), a ≤10-value ring buffer is the baseline, and
    * z is rounded to 6dp before the |z| > 2 threshold exactly like the
    * batch operator, so `StreamingSpec` can assert stream ≡ batch.
    *
    * Scale/ordering notes: state is O(1) per user (the ring buffer plus
    * two counters). On this finite AvailableNow stream each group sees
    * all its rows in one call, so an in-call sort is exact; a live
    * multi-batch deployment must buffer by watermark before scoring
    * (rows crossing micro-batch boundaries out of order would otherwise
    * replay in arrival order) — the h13 lateness profile is what sizes
    * that buffer.
    */
  def rollingZscore(events: DataFrame): Dataset[ZScoreStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").as[Long],
        expr("ts div 1000").as[Long], // integer-µs domain, h14's exact order key
        col("event_id").as[Long], col("value").as[Double])
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, Double)],
         state: GroupState[(Long, Long)]) =>
          val ordered = rows.toArray.sortBy(r => (r._2, r._3))
          val win = scala.collection.mutable.Queue.empty[Double]
          var scored = 0L
          var anomalies = 0L
          for ((_, _, _, v) <- ordered) {
            if (win.size >= 5) {
              val n = win.size
              val mu = win.sum / n
              val sd = math.sqrt(win.iterator.map(x => (x - mu) * (x - mu)).sum / (n - 1))
              if (sd > 0) {
                scored += 1
                val zr = BigDecimal((v - mu) / sd)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                if (math.abs(zr) > 2.0) anomalies += 1
              }
            }
            win.enqueue(v)
            if (win.size > 10) win.dequeue()
          }
          val (ps, pa) = state.getOption.getOrElse((0L, 0L))
          state.update((ps + scored, pa + anomalies))
          Iterator(ZScoreStats(user, ps + scored, pa + anomalies))
      }
  }

  /** Per-user gap-monitor output record for [[maxGapMonitor]]. */
  final case class GapStats(user_id: Long, n_gaps: Long, max_gap_us: Long)

  /** Streaming twin of the h26 gap profile's per-user core: the running
    * (gap count, max inter-event gap) monitor as a stateful stream — the
    * alert a pipeline pages on ("this source went quiet") long before a
    * batch h26 would notice. State per user is three longs (last event's
    * (µs, id) order key and the running max); rows are replayed in
    * event-time order inside the call exactly like [[rollingZscore]],
    * and the state carries the LAST event across micro-batches so gaps
    * spanning batch boundaries are still counted — `StreamingSpec`
    * asserts stream ≡ batch lag-window twin on the full stream.
    */
  def maxGapMonitor(events: DataFrame): Dataset[GapStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").as[Long],
        expr("ts div 1000").as[Long], col("event_id").as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long, Long, Long)]) =>
          val ordered = rows.toArray.sortBy(r => (r._2, r._3))
          var (lastUs, lastId, nGaps, maxGap) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L, 0L))
          for ((_, us, id) <- ordered) {
            if (lastUs != Long.MinValue) {
              val gap = us - lastUs
              nGaps += 1
              if (gap > maxGap) maxGap = gap
            }
            lastUs = us; lastId = id
          }
          state.update((lastUs, lastId, nGaps, maxGap))
          Iterator(GapStats(user, nGaps, maxGap))
      }
  }

  /** Stream–stream INTERVAL join (view→purchase attribution): each
    * purchase joins the same user's views from the preceding hour. Both
    * sides carry watermarks and the join condition bounds event time in
    * BOTH directions — exactly what Spark needs to evict join state: a
    * buffered view can be dropped once the purchase-side watermark passes
    * `v_ts + 1 hour`, so state is bounded at any scale. The same
    * expression tree runs in batch (`streaming = false`) and
    * `StreamingSpec` asserts stream ≡ batch on the finite stream.
    */
  def attributionJoin(events: DataFrame, streaming: Boolean = true): DataFrame = {
    val views0 = events.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts_us").as("v_ts"))
    val purch0 = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts_us").as("p_ts"), col("value"))
    val views = if (streaming) views0.withWatermark("v_ts", "1 hour") else views0
    val purch = if (streaming) purch0.withWatermark("p_ts", "1 hour") else purch0
    views.join(purch,
      expr("""v_user = p_user AND
             |p_ts >= v_ts AND p_ts <= v_ts + interval 1 hour""".stripMargin))
      .select(col("v_user").as("user_id"), col("view_id"),
        col("purchase_id"), col("v_ts"), col("p_ts"), col("value"))
  }

  /** Per-user session windows (1 h inactivity gap) via the native
    * `session_window` expression. The SAME call works on a batch
    * DataFrame — `sessionCounts(batchEvents, streaming = false)` — which
    * is Spark's batch/streaming unification in one line; `StreamingSpec`
    * asserts the two agree. In streaming, state for a session is evicted
    * once the watermark passes its close — bounded memory at any scale.
    */
  def sessionCounts(events: DataFrame, streaming: Boolean = true): DataFrame = {
    val src = if (streaming) events.withWatermark("ts_us", "1 hour") else events
    src
      .groupBy(col("user_id"), session_window(col("ts_us"), "1 hour").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))
  }

  /** Per-event debounce verdict for [[debounceMonitor]]. */
  final case class DebounceVerdict(event_id: Long, kept: Boolean)

  /** Streaming twin of the graded batch h30_debounce: per (user, type)
    * key the state is ONE timestamp (the previous event's µs order key),
    * each arriving event is flagged kept iff it is the key's first or
    * arrives > 5 min after the previous one. Rows replay in event-time
    * order inside the call ([[maxGapMonitor]]'s rule) and the state
    * carries the last event across micro-batches, so a repeat that
    * straddles a batch boundary is still suppressed — `StreamingSpec`
    * asserts stream ≡ batch verdict-for-verdict.
    */
  def debounceMonitor(events: DataFrame): Dataset[DebounceVerdict] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").as[Long], col("event_type").as[String],
        expr("ts div 1000").as[Long], col("event_id").as[Long])
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Long, String), rows: Iterator[(Long, String, Long, Long)],
         state: GroupState[Long]) =>
          val ordered = rows.toArray.sortBy(r => (r._3, r._4))
          var lastUs = state.getOption.getOrElse(Long.MinValue)
          val out = ordered.map { case (_, _, us, id) =>
            val kept = lastUs == Long.MinValue || us - lastUs > 300000000L
            lastUs = us
            DebounceVerdict(id, kept)
          }
          state.update(lastUs)
          out.iterator
      }
  }
}
