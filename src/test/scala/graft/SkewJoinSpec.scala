package graft

import graft.operators.SkewJoin
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SkewJoinSpec extends SparkSpec {

  test("salted join returns exactly the plain join's rows") {
    val orders = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, "o_custkey")
      .select("o_orderkey", "c_name").collect().map(_.toSeq).toSet
    val salted = SkewJoin.saltedJoin(orders, customer, "o_custkey", salts = 7)
      .select("o_orderkey", "c_name").collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(plain.nonEmpty)
  }

  test("AQE splits a skewed shuffle-join partition at runtime (skew=true)") {
    // the OTHER half of the skew story next to c13's explicit salting:
    // when skew is runtime-discovered rather than known upfront, AQE's
    // OptimizeSkewedJoin must split the oversized partition into parallel
    // sub-reads. Thresholds are sized for clusters, so the fixture lowers
    // them and builds a genuinely skewed key; the assertion is the
    // skew=true marker on the executed join — i.e. the engine's join
    // shapes stay eligible for the runtime rewrite.
    import spark.implicits._
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB") {
      val hot = spark.range(50000).select(lit(42L).as("k"), $"id".as("payload"))
        .union(spark.range(2000).select(($"id" + 100L).as("k"), $"id"))
      val dim = spark.range(3000).select(($"id" % 2200).as("k"),
        ($"id" * 2).as("v"))
      // no aggregate after the join: a downstream groupBy on the join key
      // would REQUIRE the join's hash partitioning, making a skew split
      // illegal — AQE then correctly refuses to split
      val q = hot.join(dim, "k").select($"payload", $"v")
      q.collect() // AQE materializes the final plan only after execution
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    }
  }

  test("adaptiveSalts sizes from the observed hot-key multiplicity") {
    import spark.implicits._
    // hot key 42 carries 10k rows; everything else is singleton
    val hot = ((1 to 10000).map(_ => 42L) ++ (1L to 500L).map(_ + 100L))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "p")
    // ceil(10000 / 1500) = 7 buckets for the hot key
    assert(SkewJoin.adaptiveSalts(hot, "k", rowsPerSalt = 1500) === 7)
    // clamped by maxSalts when the hot key dwarfs the capacity
    assert(SkewJoin.adaptiveSalts(hot, "k", rowsPerSalt = 10, maxSalts = 64)
      === 64)
    // an unskewed input derives 1 — salting a uniform join only pays
    // replication cost, so "don't salt" is the correct sizing
    val uniform = (1L to 2000L).map(k => (k, k)).toDF("k", "p")
    assert(SkewJoin.adaptiveSalts(uniform, "k", rowsPerSalt = 1500) === 1)
    // EMPTY input: max over no groups is NULL — the coalesce derives the
    // benign 1, it must not NPE (a filtered-to-empty fact table is a
    // routine pre-flight input, e.g. a day-partition with no data yet)
    assert(SkewJoin.adaptiveSalts(uniform.where(lit(false)), "k",
      rowsPerSalt = 1500) === 1)
    // the salted join with a derived count still returns the plain rows
    val dim = Seq((42L, "x"), (101L, "y")).toDF("k", "name")
    val s = SkewJoin.adaptiveSalts(hot, "k", rowsPerSalt = 1500)
    assert(SkewJoin.saltedJoin(hot, dim, "k", s).count() === 10001L)
  }

  test("salt spreads a single hot key across all salt values") {
    import spark.implicits._
    // one key carries 10k rows — the shape AQE cannot split per-key
    val hot = (1 to 10000).map(i => (42L, i.toLong)).toDF("k", "payload")
    val dim = Seq((42L, "x")).toDF("k", "name")
    val joined = SkewJoin.saltedJoin(hot, dim, "k", salts = 8)
    assert(joined.count() === 10000L)
    // group the salted large side and confirm the hot key fans out
    val saltCard = hot.withColumn("_salt",
        pmod(xxhash64(struct(hot.columns.map(col): _*)), lit(8L)))
      .select("_salt").distinct().count()
    assert(saltCard === 8L)
  }
}
