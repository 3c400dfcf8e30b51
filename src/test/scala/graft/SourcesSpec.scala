package graft

import graft.sources.{Fixtures, Formats, Tables, TmpDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

class SourcesSpec extends SparkSpec {

  private def tmp(name: String): String = freshDir(name).resolve("out").toString

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("csv round-trip preserves rows and types") {
    val src = Tables.nation(spark, sfDir)
    val path = tmp("csv")
    Formats.writeCsv(src, path)
    val back = Formats.readCsv(spark, path, src.schema)
    assert(back.schema === src.schema)
    assert(asSet(back) === asSet(src))
  }

  test("json round-trip preserves rows and types") {
    val src = Tables.customer(spark, sfDir)
    val path = tmp("json")
    Formats.writeJson(src, path)
    val back = Formats.readJson(spark, path, src.schema)
    assert(asSet(back) === asSet(src))
  }

  test("json round-trip preserves ntz timestamps (orders)") {
    val src = Tables.orders(spark, sfDir)
    val path = tmp("json_ts")
    Formats.writeJson(src, path)
    val back = Formats.readJson(spark, path, src.schema)
    assert(back.schema === src.schema)
    assert(asSet(back) === asSet(src))
  }

  test("orc round-trip preserves rows and types") {
    val src = Tables.supplier(spark, sfDir)
    val path = tmp("orc")
    src.write.orc(path)
    val back = spark.read.orc(path)
    assert(back.schema === src.schema)
    assert(asSet(back) === asSet(src))
  }

  test("malformed json: PERMISSIVE isolates bad records, FAILFAST raises") {
    import org.apache.spark.sql.types._
    val dir = freshDir("badjson")
    java.nio.file.Files.write(dir.resolve("data.json"),
      java.util.Arrays.asList(
        """{"id": 1, "v": "ok"}""",
        """{"id": 2, "v": """, // truncated mid-record
        """{"id": 3, "v": "also ok"}"""))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("_corrupt", StringType)))
    // PERMISSIVE (the 100 TB default): bad records land in the corrupt
    // column instead of killing the job hours in
    // (cached: Spark refuses queries touching ONLY the corrupt column
    // on the raw file scan)
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(dir.toString)
      .cache()
    try {
      assert(permissive.where(col("_corrupt").isNull).count() === 2)
      assert(permissive.where(col("_corrupt").isNotNull).count() === 1)
    } finally permissive.unpersist()
    // FAILFAST: the validation-run mode — malformed input must raise
    intercept[org.apache.spark.SparkException] {
      spark.read.schema(StructType(schema.dropRight(1)))
        .option("mode", "FAILFAST").json(dir.toString).collect()
    }
  }

  test("partitioned parquet write prunes partitions at the scan") {
    val src = Tables.documents(spark, sfDir)
    val path = tmp("part")
    Formats.writePartitioned(src, path, "lang")
    val scan = spark.read.parquet(path).where(col("lang") === "en")
    // content must round-trip for the selected partition
    assert(asSet(scan.select("doc_id", "text")) ===
      asSet(src.where(col("lang") === "en").select("doc_id", "text")))
    // and the physical plan must show partition pruning, not a full scan
    val physical = scan.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters: [isnotnull(lang"),
      s"no partition pruning in plan:\n$physical")
  }

  test("events conf invariants self-heal after a session mutation") {
    // ensureEventsConf asserts conf VALUES, not "was set once": a later
    // query that mutates session timeZone (the conf-leak class a20 was
    // fixed for) must be healed by the NEXT events read, or every
    // µs-vintage NTZ→epoch cast silently shifts by the zone offset
    val conf = spark.conf
    withConf("spark.sql.session.timeZone" -> "America/New_York") {
      Tables.ensureEventsConf(spark)
      assert(conf.get("spark.sql.session.timeZone") === "UTC")
      assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    }
  }

  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region _, "nation" -> Tables.nation _,
    "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
    "part" -> Tables.part _, "orders" -> Tables.orders _,
    "lineitem" -> Tables.lineitem _, "documents" -> Tables.documents _,
    "embeddings" -> Tables.embeddings _,
    "events" -> ((s: SparkSession, d: String) => Tables(s, d, "events")))

  private def normalisedPlan(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "#")

  test("a repeated table read starts no job and matches an uncached read") {
    for ((t, load) <- loaders) {
      load(spark, sfDir) // the first read may infer the footer schema
      val (df, jobs) = jobsDuring(load(spark, sfDir))
      assert(jobs === 0, s"$t: a repeated read started $jobs job(s)")
      val raw = spark.read.parquet(s"$sfDir/$t.parquet")
      val ref =
        if (t != "events" || raw.schema("ts").dataType == LongType) raw
        else raw.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      assert(df.schema === ref.schema, s"$t: schema")
      assert(normalisedPlan(df) === normalisedPlan(ref), s"$t: optimized plan")
      assert(df.collect().map(_.toString).sorted.toSeq ===
        ref.collect().map(_.toString).sorted.toSeq, s"$t: rows")
    }
  }

  test("the footer schema is keyed on the session's parquet inference confs") {
    val child = Sessions.scoped(spark,
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")
    def orderDate(df: DataFrame) = df.schema("o_orderdate").dataType
    Tables.orders(spark, sfDir) // the parent's schema is cached first
    assert(orderDate(Tables.orders(child, sfDir)) === TimestampType)
    assert(Tables.orders(child, sfDir).schema ===
      child.read.parquet(s"$sfDir/orders.parquet").schema)
    assert(orderDate(Tables.orders(spark, sfDir)) === TimestampNTZType)
  }

  test("Fixtures build once per (dir, name), nest, retry a throw; fresh empties") {
    val tag = s"law${System.nanoTime()}" // names no other suite uses
    var builds = 0
    def built(dir: String, name: String): Int =
      Fixtures.once(spark, dir, s"${tag}_$name") { builds += 1; builds }
    assert(built("/d1", "a") === 1)
    assert(built("/d1", "a") === 1 && builds === 1,
      "same (dir, name) built twice")
    assert(built("/d1", "b") === 2, "another name must build separately")
    assert(built("/d2", "a") === 3, "another dir must build separately")
    // a build may ask for another fixture
    assert(Fixtures.once(spark, "/d1", s"${tag}_outer")(
      built("/d3", "a") * 10) === 40)
    assert(built("/d3", "a") === 4 && builds === 4)
    // a build that throws is retried on the next call, then kept
    var attempts = 0
    def flaky(): Int = Fixtures.once(spark, "/d1", s"${tag}_flaky") {
      attempts += 1
      if (attempts == 1) throw new IllegalStateException("first build fails")
      attempts
    }
    intercept[IllegalStateException](flaky())
    assert(flaky() === 2 && flaky() === 2 && attempts === 2)
    // fresh: nothing at the path, even where the previous caller left files
    val p = TmpDirs.fresh("graft_fixture_law", sfDir, "out")
    val pid = ProcessHandle.current().pid()
    assert(p.startsWith(s"/tmp/graft_fixture_law/$pid/"))
    new java.io.File(p).mkdirs()
    java.nio.file.Files.write(new java.io.File(p, "left").toPath,
      Array[Byte](1))
    assert(TmpDirs.fresh("graft_fixture_law", sfDir, "out") === p)
    assert(!new java.io.File(p).exists())
  }
}
