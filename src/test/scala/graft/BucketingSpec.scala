package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Bucketing is the pre-shuffle: both sides of a recurring join written
  * bucketed (and sorted) by the join key hash-partition AT WRITE TIME, so
  * every later join/aggregation on that key runs with zero exchange. At
  * 100 TB this converts the single most expensive operation in the
  * pipeline (the fact⋈fact shuffle) into a one-time write cost.
  */
class BucketingSpec extends SparkSpec {

  test("join of co-bucketed tables plans without a shuffle exchange") {
    val n = 4
    Tables.orders(spark, sfDir).write
      .bucketBy(n, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_bkt")
    Tables.lineitem(spark, sfDir)
      .withColumnRenamed("l_orderkey", "o_orderkey").write
      .bucketBy(n, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("lineitem_bkt")
    // disable auto-broadcast: at this tiny sf the planner would broadcast
    // (and skip bucketed reading); the 100 TB case this test models is the
    // fact⋈fact join where broadcasting is impossible
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("orders_bkt")
        .join(spark.table("lineitem_bkt"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
      // and it returns the same rows as the plain parquet join
      val expect = Tables.orders(spark, sfDir).join(
        Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey")).count()
      assert(joined.count() === expect)
    }
  }

  test("groupBy on the bucket key also avoids the exchange") {
    val agg = spark.table("lineitem_bkt")
      .groupBy("o_orderkey").agg(sum("l_quantity"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed groupBy still shuffles:\n$plan")
  }
}
