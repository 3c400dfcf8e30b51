package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Corpus table loaders.
  *
  * All graded queries read the driver-generated parquet star schema
  * (TESTDATA.md). Schema is always inferred from parquet footers — never
  * hand-declared — so the engine's view of the data matches the DuckDB
  * oracle's (SURVEY.md §1.2). It is inferred from the footer once per JVM
  * per (file, parquet confs) ([[footerSchema]]): Spark's inference is a
  * one-task job that would otherwise run on every read of a file that
  * never changes.
  *
  * Scale note: at 100 TB these become partitioned-directory reads; all
  * downstream operators are written against the DataFrame, not the path, so
  * swapping in a partitioned/bucketed catalog table changes nothing here.
  */
object Tables {

  /** Conf invariants for events reads, asserted by VALUE (SURVEY §1.3):
    *  - `nanosAsLong`: the ns-vintage corpus writes parquet
    *    TIMESTAMP(NANOS), which Spark only reads under this legacy flag
    *    (as epoch-ns bigint) — there is no per-read DataFrameReader
    *    option for it, the parquet schema converter consults SQLConf;
    *  - session timeZone=UTC: the µs-vintage NTZ→epoch cast applies the
    *    session zone, and the DuckDB oracle computes from the same naive
    *    column in UTC.
    * Conf WRITES in the per-read path are a cross-query contamination
    * hazard (the a20 lesson) and planner-cache noise — but a write-once
    * session REGISTRY records that the confs were set, not that they are
    * still CORRECT: any later code that mutates session timeZone would
    * silently shift every subsequent µs-vintage events read. So each
    * read checks the VALUES (two cheap SQLConf map lookups, no planner
    * effect) and writes only on drift — steady state performs zero conf
    * writes, and a mutated session self-heals on its next events read.
    * [[graft.Sessions.local]] sets both confs at build time, so on its
    * sessions (every graft main, the test suites) and their
    * [[graft.Sessions.scoped]] children this never writes; it writes only
    * for a session a caller builds itself (the perfbench harness's).
    */
  private[graft] def ensureEventsConf(spark: SparkSession): Unit = {
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
        .contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (!spark.conf.getOption("spark.sql.session.timeZone").contains("UTC"))
      spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** Read one table. The `events.ts` column has shipped in two vintages of
    * the corpus (SURVEY.md §1.3):
    *  - parquet TIMESTAMP(NANOS), which Spark reads as epoch-ns bigint
    *    under the legacy `nanosAsLong` flag;
    *  - parquet TIMESTAMP(MICROS) (naive → TIMESTAMP_NTZ in Spark).
    * The loader is schema-adaptive: whatever vintage is on disk, `ts`
    * leaves here as an epoch-NANOSECOND bigint, so every downstream
    * `ts div 1000` µs-normalization works identically against both.
    * For the µs vintage the NTZ→epoch conversion goes through an explicit
    * TIMESTAMP cast, which applies the session time zone — pinned to UTC
    * by [[ensureEventsConf]] so the synthesized epoch agrees with what
    * the DuckDB oracle computes from the same naive column.
    *
    * The read declares the schema inferred from the footer once per JVM
    * per (file, parquet confs) ([[footerSchema]]), so it starts no job.
    */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") ensureEventsConf(spark)
    val df = spark.read.schema(footerSchema(spark, sfDir, name))
      .parquet(s"$sfDir/$name.parquet")
    if (name != "events") return df
    df.schema("ts").dataType match {
      case LongType => df // ns vintage: already epoch-ns
      case _ => // µs vintage: TIMESTAMP_NTZ (or TIMESTAMP) → epoch-ns bigint
        df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
    }
  }

  /** The session confs that change the types Spark infers from a parquet
    * footer: TIMESTAMP(NANOS) as bigint, naive timestamps as NTZ, binary
    * as string, INT96 as timestamp. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  /** The schema Spark infers from `name`'s parquet footer under this
    * session's [[inferenceConfs]], inferred once per JVM per (file, conf
    * values) — a [[graft.sources.Fixtures]] artifact under the read-only
    * corpus contract — so a [[graft.Sessions.scoped]] child with other
    * values gets its own. An events caller runs [[ensureEventsConf]]
    * first, as [[apply]] does.
    */
  private[graft] def footerSchema(spark: SparkSession, sfDir: String,
      name: String): StructType = {
    val confs = inferenceConfs
      .map(k => s"${k.stripPrefix("spark.sql.")}=${spark.conf.get(k)}")
    Fixtures.once(spark, sfDir, s"footer_$name${confs.mkString("{", ",", "}")}")(
      spark.read.parquet(s"$sfDir/$name.parquet").schema)
  }

  /** `events` with the nanosecond timestamp normalized to microseconds:
    *  - `ts_us`  timestamp at µs precision — bit-equal to what the
    *    DuckDB oracle reads for the same column (ns vintage: it truncates
    *    ns → µs; µs vintage: identity)
    *  - `ts`     epoch-ns bigint (synthesized by [[apply]] for the µs
    *    vintage) kept for intermediate comparisons
    *
    * Integer `div` (not `/`) is load-bearing: epoch-ns ≈ 1.7e18 exceeds a
    * double's 53-bit mantissa, so float division would corrupt timestamps.
    */
  def eventsUs(spark: SparkSession, sfDir: String): DataFrame =
    apply(spark, sfDir, "events")
      .withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))

  def region(spark: SparkSession, sfDir: String): DataFrame    = apply(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = apply(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = apply(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = apply(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = apply(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = apply(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")

  /** The corpus ships each table as ONE parquet file with one row group,
    * so the scan is a single partition and any per-row-expensive pipeline
    * (shingling, hashing, vector math) serializes onto one core — measured
    * 4× slower than a spread scan even at sf0.1. These loaders hash-
    * repartition on the key right after the scan: a ~MB shuffle that buys
    * full-core parallelism downstream. At 100 TB the scan has thousands of
    * row groups and natural parallelism — this is specifically the
    * small/single-file fixup, which is why it is opt-in per pipeline
    * rather than folded into the plain loaders.
    */
  def documentsDist(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
    d.repartition(spark.sparkContext.defaultParallelism, d("doc_id"))
  }

  def embeddingsDist(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embeddings(spark, sfDir)
    e.repartition(spark.sparkContext.defaultParallelism, e("vec_id"))
  }
}
