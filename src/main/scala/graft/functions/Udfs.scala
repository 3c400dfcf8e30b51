package graft.functions

import graft.GraftExtensions
import graft.QueryDef
import graft.QueryDef.graded
import graft.sources.Tables
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** I: the extensibility surface.
  *
  * Binding rule (SURVEY §2 I): a UDF may appear in a graded query only when
  * its semantics are exactly re-expressible in DuckDB SQL for the oracle.
  * Black-box UDFs block Catalyst pushdown and codegen, so the engine keeps
  * them out of hot paths; at 100 TB a profiled hotspot would graduate to a
  * native Catalyst `Expression` with `doGenCode` instead.
  */
object Udfs {

  /** Identifier normalization — the classic catalog-maintenance cleanup
    * (strip punctuation, uppercase). `Brand#13` → `BRAND13`.
    */
  val normalizeId: String => String =
    s => if (s == null) null else s.toUpperCase.replaceAll("[^A-Z0-9]", "")

  // i1 — scalar UDF demonstrating spark.udf registration, with an exact
  // SQL re-expression as the oracle.
  private val i1 = graded(
    "i1_udf_scalar",
    """SELECT p_partkey, p_brand,
      |  upper(regexp_replace(p_brand, '[^a-zA-Z0-9]', '', 'g')) AS brand_norm
      |FROM part
      |ORDER BY p_partkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val norm = udf(normalizeId)
    spark.udf.register("normalize_id", norm)
    Tables.part(spark, dir)
      .select($"p_partkey", $"p_brand", norm($"p_brand").as("brand_norm"))
      .orderBy("p_partkey")
  }

  /** Mergeable geometric-mean aggregator — the UDAF extension surface
    * (SURVEY §2 I2). The buffer is (Σ ln x, n): associative and
    * commutative, so partial aggregation (map-side combine) applies and the
    * merge tree is shuffle-safe — the property any 100 TB custom aggregate
    * must have.
    */
  case class GeoBuf(logSum: Double, n: Long)
  object GeoMean extends Aggregator[java.lang.Double, GeoBuf, Double] {
    def zero: GeoBuf = GeoBuf(0.0, 0L)
    def reduce(b: GeoBuf, a: java.lang.Double): GeoBuf =
      if (a == null || a <= 0) b else GeoBuf(b.logSum + math.log(a), b.n + 1)
    def merge(x: GeoBuf, y: GeoBuf): GeoBuf = GeoBuf(x.logSum + y.logSum, x.n + y.n)
    def finish(b: GeoBuf): Double = if (b.n == 0) 0.0 else math.exp(b.logSum / b.n)
    def bufferEncoder: Encoder[GeoBuf] = Encoders.product[GeoBuf]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  // i2 — UDAF via the typed Aggregator surface; oracle re-expression is
  // exp(avg(ln x)). The log-sum folds in different orders across engines,
  // but avg damps the error to ~1e-15 relative, far inside round(4).
  private val i2 = graded(
    "i2_udaf_geomean",
    """SELECT l_returnflag,
      |  round(exp(avg(ln(l_extendedprice))), 4) AS geo_price,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val geo = udaf(GeoMean)
    spark.udf.register("geo_mean", geo)
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(round(geo($"l_extendedprice"), 4).as("geo_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  // i4 — the SAME typed Aggregator as a WINDOW function: Spark runs any
  // registered UDAF over a window frame, so one `GeoMean` definition
  // serves both the grouped (i2) and the running/windowed form — the
  // extensibility property a library user actually relies on (write the
  // aggregation logic once, use it in every aggregation context). Runs
  // on orders because o_orderkey makes the frame order TOTAL — lineitem's
  // (l_orderkey, l_linenumber) is not unique in this corpus, and a ROWS
  // frame over tied order keys is engine-divergent by construction (the
  // window-determinism rule, learned again the hard way here). Frame
  // accumulation is prefix-ordered in both engines; avg damps the
  // log-sum fold error to ~1e-15 relative, far inside round(4) (i2's
  // analysis, unchanged by the frame).
  private val i4 = graded(
    "i4_udaf_window",
    """SELECT o_orderkey,
      |  round(exp(avg(ln(o_totalprice)) OVER w), 4) AS run_geo
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |  ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val geo = udaf(GeoMean)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderpriority")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.orders(spark, dir)
      .select($"o_orderkey",
        round(geo($"o_totalprice").over(w), 4).as("run_geo"))
      .orderBy("o_orderkey")
  }

  // i3 — UDTF via a custom Catalyst `Generator`
  // ([[graft.functions.CharShingles]]): per-document character 3-gram
  // fan-out WITHOUT materializing the shingle array (the
  // `transform(sequence(...))`+`explode` formulation builds the full list
  // per row first). Aggregated back down to distinct-shingle counts so the
  // graded output is compact and hash-stable; docs shorter than the
  // shingle width emit no rows in both engines.
  private val i3 = graded(
    "i3_udtf_shingles",
    """SELECT doc_id, count(DISTINCT sh) AS n_shingles, count(*) AS n_pos
      |FROM (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, length(text) - 2),
      |      i -> substring(text, i, 3))) AS sh
      |  FROM documents) t
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.charShingles)
    Tables.documents(spark, dir)
      .select($"doc_id", expr("char_shingles(text, 3)").as("sh"))
      .groupBy($"doc_id")
      .agg(countDistinct($"sh").as("n_shingles"), count(lit(1)).as("n_pos"))
      .orderBy("doc_id")
  }

  // i5 — SQL-DEFINED scalar functions (`CREATE TEMPORARY FUNCTION … RETURN
  // expr`, Spark 4's SQL UDF surface): the extensibility path that stays
  // FULLY inside Catalyst — the body is inlined into the plan at
  // resolution, so unlike i1's black-box JVM closure it keeps codegen,
  // constant folding and pushdown (confirmed: the plan shows the CASE/ln
  // expressions, no ScalaUDF node). Two functions, one CALLING the other,
  // grade the resolution chain. Oracle inlines the same bodies — the
  // function is a naming device, not new semantics. Runs on orders:
  // o_orderkey is unique, so the ORDER BY is total (window-determinism
  // rule; lineitem's key is not unique in this corpus).
  private val i5 = graded(
    "i5_sql_udf",
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice < 50000 THEN 'low'
      |       WHEN o_totalprice < 150000 THEN 'mid'
      |       ELSE 'high' END AS band,
      |  round(ln(o_totalprice), 6) AS log_price,
      |  concat(CASE WHEN o_totalprice < 50000 THEN 'low'
      |              WHEN o_totalprice < 150000 THEN 'mid'
      |              ELSE 'high' END,
      |         ':', o_orderpriority) AS seg
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    // the functions, the view and the query live on the key's own
    // session, not the caller's
    val s = graft.Sessions.scoped(spark)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_band(p DOUBLE)
        |RETURNS STRING
        |RETURN CASE WHEN p < 50000 THEN 'low'
        |            WHEN p < 150000 THEN 'mid' ELSE 'high' END""".stripMargin)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_seg(p DOUBLE, pri STRING)
        |RETURNS STRING
        |RETURN concat(graft_band(p), ':', pri)""".stripMargin)
    Tables.orders(s, dir).createOrReplaceTempView("orders_i5")
    s.sql(
      """SELECT o_orderkey, graft_band(o_totalprice) AS band,
        |  round(ln(o_totalprice), 6) AS log_price,
        |  graft_seg(o_totalprice, o_orderpriority) AS seg
        |FROM orders_i5
        |ORDER BY o_orderkey""".stripMargin)
  }

  val defs: Seq[QueryDef] = Seq(i1, i2, i3, i4, i5)
}
