package graft.operators

import graft.QueryDef
import graft.QueryDef.{benchOnly, graded}
import graft.pipeline.Tokens
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** D: aggregation.
  *
  * Scale notes (100 TB): every groupBy here compiles to partial (map-side)
  * + final HashAggregate around one shuffle on the grouping key — the
  * shuffle moves pre-aggregated groups, not raw rows. Exact
  * count(distinct) expands to a two-phase aggregate; where exactness is
  * not required at scale, the HLL sketch (d9) is the constant-memory
  * mergeable alternative.
  */
object Aggregates {

  // D1 — the flagship pricing-summary aggregate (TPC-H Q1 shape): filtered
  // scan → 2-key hash aggregate. Also wired to SparkEntry.entry.
  // Money sums/means ride DECIMAL (the c2 grading rule: a raw double Σ is
  // summation-order-dependent and cannot be graded at any rounding);
  // l_quantity stays raw double because it is INTEGER-valued in the data
  // (integer-valued doubles sum exactly in any order — no hazard). The
  // means divide the exact decimal sum, cast to double, by the count —
  // one IEEE division on identical operands, deterministic both engines
  // (each engine's own avg() would divide differently: decimal vs double).
  private val d1 = graded(
    "d1_agg_group",
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2)::DOUBLE
      |    AS sum_base,
      |  round(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(30,10))), 2)::DOUBLE AS sum_disc,
      |  round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
      |    AS DECIMAL(30,10))), 2)::DOUBLE AS sum_charge,
      |  round(avg(l_quantity), 6) AS avg_qty,
      |  round(sum(CAST(l_extendedprice AS DECIMAL(30,10)))::DOUBLE
      |    / count(*), 6) AS avg_price,
      |  round(sum(CAST(l_discount AS DECIMAL(30,10)))::DOUBLE
      |    / count(*), 6) AS avg_disc,
      |  count(*) AS cnt
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .where($"l_shipdate" <= to_timestamp_ntz(lit("1998-09-02")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice".cast("decimal(30,10)")), 2)
          .cast("double").as("sum_base"),
        round(sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(30,10)")), 2).cast("double").as("sum_disc"),
        round(sum(($"l_extendedprice" * (lit(1) - $"l_discount")
          * (lit(1) + $"l_tax")).cast("decimal(30,10)")), 2)
          .cast("double").as("sum_charge"),
        round(avg($"l_quantity"), 6).as("avg_qty"),
        round(sum($"l_extendedprice".cast("decimal(30,10)")).cast("double")
          / count(lit(1)), 6).as("avg_price"),
        round(sum($"l_discount".cast("decimal(30,10)")).cast("double")
          / count(lit(1)), 6).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // D2 — exact multi-column distinct counting (expand + 2-phase aggregate).
  private val d2 = graded(
    "d2_agg_distinct",
    """SELECT l_returnflag,
      |  count(DISTINCT l_orderkey) AS d_orders,
      |  count(DISTINCT l_partkey) AS d_parts,
      |  count(DISTINCT l_suppkey) AS d_supps,
      |  count(*) AS cnt
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_orderkey").as("d_orders"),
        countDistinct($"l_partkey").as("d_parts"),
        countDistinct($"l_suppkey").as("d_supps"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")
  }

  // D3 — statistical aggregates.
  private val d3 = graded(
    "d3_agg_stats",
    """SELECT l_returnflag,
      |  round(stddev_samp(l_quantity), 6) AS sd_qty,
      |  round(var_samp(l_quantity), 6) AS var_qty,
      |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
      |  round(covar_samp(l_quantity, l_discount), 6) AS cov_qd
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        round(stddev_samp($"l_quantity"), 6).as("sd_qty"),
        round(var_samp($"l_quantity"), 6).as("var_qty"),
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qp"),
        round(covar_samp($"l_quantity", $"l_discount"), 6).as("cov_qd"))
      .orderBy("l_returnflag")
  }

  // D4 — filtered/conditional aggregation over the events table.
  private val d4 = graded(
    "d4_agg_cond",
    """SELECT event_type,
      |  count(CASE WHEN value > 100 THEN 1 END) AS n_hi,
      |  round(sum(CAST(CASE WHEN value <= 100 THEN value ELSE 0 END
      |    AS DECIMAL(30,10))), 2)::DOUBLE AS sum_lo,
      |  round(sum(CAST(CASE WHEN value > 100 THEN value END
      |    AS DECIMAL(30,10)))::DOUBLE
      |    / count(CASE WHEN value > 100 THEN 1 END), 6) AS avg_hi,
      |  count(*) AS cnt
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.apply(spark, dir, "events")
      .groupBy($"event_type")
      .agg(
        count(when($"value" > 100, 1)).as("n_hi"),
        round(sum(when($"value" <= 100, $"value").otherwise(0)
          .cast("decimal(30,10)")), 2).cast("double").as("sum_lo"),
        round(sum(when($"value" > 100, $"value").cast("decimal(30,10)"))
          .cast("double") / count(when($"value" > 100, 1)), 6).as("avg_hi"),
        count(lit(1)).as("cnt"))
      .orderBy("event_type")
  }

  // D5 — ROLLUP. Grouping-null keys are coalesced to a sentinel so the
  // final ORDER BY is engine-independent (Spark sorts NULLS FIRST, DuckDB
  // NULLS LAST — the sentinel sidesteps the divergence).
  private val d5 = graded(
    "d5_rollup",
    """SELECT coalesce(l_returnflag, '(all)') AS rf,
      |  coalesce(l_linestatus, '(all)') AS ls,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  count(*) AS cnt
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
      .select(
        coalesce($"l_returnflag", lit("(all)")).as("rf"),
        coalesce($"l_linestatus", lit("(all)")).as("ls"),
        $"sum_qty", $"cnt")
      .orderBy("rf", "ls")
  }

  // D6 — CUBE with grouping() markers (cast to int: Spark emits tinyint,
  // DuckDB bigint).
  private val d6 = graded(
    "d6_cube_grouping",
    """SELECT coalesce(l_returnflag, '(all)') AS rf,
      |  coalesce(l_linestatus, '(all)') AS ls,
      |  grouping(l_returnflag)::INT AS g_rf,
      |  grouping(l_linestatus)::INT AS g_ls,
      |  round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2)::DOUBLE
      |    AS sum_price,
      |  count(*) AS cnt
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY g_rf, g_ls, rf, ls""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(
        grouping($"l_returnflag").cast("int").as("g_rf"),
        grouping($"l_linestatus").cast("int").as("g_ls"),
        round(sum($"l_extendedprice".cast("decimal(30,10)")), 2)
          .cast("double").as("sum_price"),
        count(lit(1)).as("cnt"))
      .select(
        coalesce($"l_returnflag", lit("(all)")).as("rf"),
        coalesce($"l_linestatus", lit("(all)")).as("ls"),
        $"g_rf", $"g_ls", $"sum_price", $"cnt")
      .orderBy("g_rf", "g_ls", "rf", "ls")
  }

  // D7 — exact percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`,
  // linear interpolation in both).
  private val d7 = graded(
    "d7_percentile",
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 6) AS med_price,
      |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("med_price"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"))
      .orderBy("l_returnflag")
  }

  // D8 — deterministic array collection: never bare collect_list in graded
  // output (post-shuffle order is nondeterministic); distinct + sort makes
  // the array value a pure function of the input set. The graded output
  // serializes the array to a '|'-joined string: the driver's compare gate
  // sorts result columns with pandas, which cannot hash array cells.
  private val d8 = graded(
    "d8_collect_sorted",
    """SELECT doc_id,
      |  array_to_string(list_sort(list_distinct(string_split(text, ' '))), '|') AS uniq_toks
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        array_join(sort_array(array_distinct(Tokens.words($"text"))), "|").as("uniq_toks"))
      .orderBy("doc_id")
  }

  // D9 — bench-only: HLL++ approximate distinct. No DuckDB twin by design
  // (different sketch algorithm); this is the constant-memory distinct for
  // the 100 TB path, graded exactly via its twin d2.
  private val d9 = benchOnly("d9_approx_distinct") { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_orderkey").as("ad_orders"),
        approx_count_distinct($"l_partkey").as("ad_parts"))
      .orderBy("l_returnflag")
  }

  // D10 — pivot (wide aggregation): explicit pivot values keep the output
  // schema static, which is both the deterministic-contract requirement
  // and the 100 TB requirement (a values-discovery pivot needs an extra
  // distinct scan before planning).
  private val d10 = graded(
    "d10_pivot",
    """SELECT l_returnflag,
      |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
      |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o,
      |  count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
      |  count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum($"l_quantity"), 2).as("qty"), count(lit(1)).as("n"))
      // empty pivot cells: Spark count yields NULL, the oracle's
      // count(CASE ...) yields 0 — coalesce so an unpopulated cell in a
      // future fixture cannot flip parity (sums are NULL on both sides)
      .select($"l_returnflag",
        $"F_qty".as("qty_f"), $"O_qty".as("qty_o"),
        coalesce($"F_n", lit(0L)).as("n_f"),
        coalesce($"O_n", lit(0L)).as("n_o"))
      .orderBy("l_returnflag")
  }

  // D11 — bench-only: approximate percentiles (the mergeable quantile
  // sketch, Greenwald-Khanna in Spark). Like d9's HLL, the 100 TB answer
  // when exactness isn't required: constant memory per group, one pass,
  // partial-aggregation mergeable. No DuckDB twin (different sketch).
  private val d11 = benchOnly("d11_approx_pctl") { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 1000)")
          .as("pctl"))
      .select($"l_returnflag",
        round(element_at($"pctl", 1), 2).as("p50"),
        round(element_at($"pctl", 2), 2).as("p95"),
        round(element_at($"pctl", 3), 2).as("p99"))
      .orderBy("l_returnflag")
  }

  // D12 — unpivot (melt): wide numeric columns → (metric, value) rows.
  // The inverse of d10's pivot; Spark's native `unpivot` compiles to a
  // single Expand (one pass, no join), the oracle states the same thing
  // as UNION ALL.
  private val d12 = graded(
    "d12_unpivot",
    """SELECT p_partkey, metric, round(value, 2) AS value
      |FROM (
      |  SELECT p_partkey, 'p_size' AS metric, p_size::DOUBLE AS value FROM part
      |  UNION ALL
      |  SELECT p_partkey, 'p_retailprice', p_retailprice FROM part) u
      |ORDER BY p_partkey, metric""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.part(spark, dir)
      .select($"p_partkey", $"p_size".cast("double").as("p_size"), $"p_retailprice")
      .unpivot(Array($"p_partkey"), Array($"p_size", $"p_retailprice"),
        "metric", "value")
      .select($"p_partkey", $"metric", round($"value", 2).as("value"))
      .orderBy("p_partkey", "metric")
  }

  // D13 — explicit GROUPING SETS (the general form behind rollup/cube):
  // two one-dimension marginals plus the grand total in one pass.
  private val d13 = graded(
    "d13_grouping_sets",
    """SELECT coalesce(l_returnflag, '(all)') AS rf,
      |  coalesce(l_linestatus, '(all)') AS ls,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  count(*) AS cnt
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY rf, ls""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT coalesce(l_returnflag, '(all)') AS rf,
        |  coalesce(l_linestatus, '(all)') AS ls,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin)
  }

  // D14 — boolean and bitwise aggregates: universal/existential tests and
  // bit-folds per group (all codegen'd built-ins; AND/OR/XOR folds are
  // order-insensitive, so no determinism hazard).
  private val d14 = graded(
    "d14_bool_bit_agg",
    """SELECT l_returnflag,
      |  bool_and(l_quantity > 0) AS all_pos,
      |  bool_or(l_discount > 0.09) AS any_big_disc,
      |  bit_and(l_linenumber) AS band,
      |  bit_or(l_linenumber) AS bor,
      |  bit_xor(l_linenumber) AS bxor
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        every($"l_quantity" > 0).as("all_pos"),
        some($"l_discount" > 0.09).as("any_big_disc"),
        expr("bit_and(l_linenumber)").as("band"),
        expr("bit_or(l_linenumber)").as("bor"),
        expr("bit_xor(l_linenumber)").as("bxor"))
      .orderBy("l_returnflag")
  }

  // D15 — mode (most frequent value) per group, with a deterministic
  // tie-break (smallest value among the tied counts). Built from
  // count + one window instead of an opaque `mode()` aggregate: both
  // engines ship a native mode() but neither defines tie order, and an
  // arbitrary-tie answer cannot be hash-gated. Two shuffles total
  // (group count, then per-group rank) — both on pre-aggregated rows.
  private val d15 = graded(
    "d15_mode",
    """WITH c AS (
      |  SELECT l_returnflag, l_quantity, count(*) AS n
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (
      |  SELECT l_returnflag, l_quantity, n,
      |    row_number() OVER (PARTITION BY l_returnflag
      |                       ORDER BY n DESC, l_quantity) AS rk
      |  FROM c)
      |SELECT l_returnflag, l_quantity AS mode_qty, n AS n_rows
      |FROM r WHERE rk = 1
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_returnflag").orderBy($"n".desc, $"l_quantity")
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_quantity")
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .where($"rk" === 1)
      .select($"l_returnflag", $"l_quantity".as("mode_qty"), $"n".as("n_rows"))
      .orderBy("l_returnflag")
  }

  // D16 — count-min sketch, built as plain aggregates: depth 4 × width 32,
  // the 4 row-hashes taken from disjoint 8-hex chunks of md5(key) so both
  // engines compute identical sketches. The input is pre-aggregated per
  // key FIRST (counts are additive, so sketching the per-key totals is
  // the same sketch as per-row updates — and the realistic plan: the
  // sketch table is 128 rows regardless of input size, built map-side).
  // Emitted per key: true count vs sketch estimate — est ≥ true always
  // (min over 4 one-sided overcounts), equality when a key's 4 buckets
  // are all collision-free. The deterministic, oracle-checkable core of
  // the approximate-counting family next to d9's HLL.
  private val d16 = graded(
    "d16_countmin", {
      val arms = (0 until 4).map(d =>
        s"SELECT event_type, n, $d AS d, (${graft.pipeline.Dedup.duckHex8At("md5(event_type)", 1 + 8 * d)}) % 32 AS b FROM t"
      ).mkString("\n      |  UNION ALL ")
      s"""WITH t AS (
      |  SELECT event_type, count(*) AS n FROM events GROUP BY 1),
      |u AS (
      |  $arms),
      |cms AS (SELECT d, b, sum(n) AS c FROM u GROUP BY d, b)
      |SELECT u.event_type, max(u.n)::BIGINT AS true_n, min(cms.c)::BIGINT AS est_n
      |FROM u JOIN cms USING (d, b)
      |GROUP BY u.event_type
      |ORDER BY u.event_type""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val t = Tables.apply(spark, dir, "events")
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .withColumn("m", md5($"event_type"))
    val u = t.select($"event_type", $"n", posexplode(array(
        (0 until 4).map(d =>
          conv(substring($"m", 1 + 8 * d, 8), 16, 10).cast("bigint") % 32): _*))
        .as(Seq("d", "b")))
    val cms = u.groupBy($"d", $"b").agg(sum($"n").as("c"))
    u.join(cms, Seq("d", "b"))
      .groupBy($"event_type")
      .agg(max($"n").as("true_n"), min($"c").as("est_n"))
      .orderBy("event_type")
  }

  // d17 — equal-width histogram via Spark's native width_bucket (DuckDB
  // has no width_bucket, so the oracle spells out the same arithmetic:
  // floor((v − lo) / ((hi − lo) / n)) + 1 — verified to agree on this
  // data; bounds are fixed constants so the binning is scale-stable and
  // needs no pre-pass over the data). One hash aggregate on a
  // 24-value key — the profiling query that feeds every range-pruning /
  // partitioning decision.
  private val d17 = graded(
    "d17_histogram",
    """SELECT (floor((o_totalprice - 0.0) / ((600000.0 - 0.0) / 24)) + 1)::BIGINT
      |    AS bucket,
      |  count(*)::BIGINT AS n,
      |  round(min(o_totalprice), 2) AS lo,
      |  round(max(o_totalprice), 2) AS hi
      |FROM orders
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy(expr("width_bucket(o_totalprice, 0.0, 600000.0, 24)").as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min($"o_totalprice"), 2).as("lo"),
        round(max($"o_totalprice"), 2).as("hi"))
      .orderBy("bucket")
  }

  // D18 — robust outlier detection per group: median + MAD (median
  // absolute deviation), then count rows beyond 3 robust sigmas
  // (MAD · 1.4826 estimates sigma under normality, so the cut is
  // 3 · 1.4826 = 4.4478 · MAD). The mean/stddev version (d3) is itself
  // dragged by the outliers it should flag; median/MAD is the standard
  // robust replacement for data-quality monitoring over skewed numeric
  // columns. Two exact-percentile passes over a 3-value group key —
  // interpolating `percentile` ≡ DuckDB `quantile_cont` (d7's proven
  // pairing); the deviation join is a broadcast of 3 rows. The cut
  // constant is written ::DOUBLE in the oracle so DuckDB's DECIMAL
  // literal arithmetic never enters (g30's rule).
  private val d18 = graded(
    "d18_mad_outliers",
    """WITH med AS (
      |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
      |  FROM lineitem GROUP BY l_returnflag),
      |dev AS (
      |  SELECT l.l_returnflag, m.med,
      |    abs(l.l_extendedprice - m.med) AS adev
      |  FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag),
      |mad AS (
      |  SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY l_returnflag)
      |SELECT d.l_returnflag,
      |  round(max(d.med), 6) AS med_price,
      |  round(max(a.mad), 6) AS mad_price,
      |  count(*) AS n_rows,
      |  count(CASE WHEN d.adev > 4.4478::DOUBLE * a.mad THEN 1 END)
      |    AS n_outliers
      |FROM dev d JOIN mad a ON d.l_returnflag = a.l_returnflag
      |GROUP BY d.l_returnflag
      |ORDER BY d.l_returnflag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val med = li.groupBy($"l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5)").as("med"))
    val dev = li.join(broadcast(med), "l_returnflag")
      .select($"l_returnflag", $"med",
        abs($"l_extendedprice" - $"med").as("adev"))
    val mad = dev.groupBy($"l_returnflag")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(
        round(max($"med"), 6).as("med_price"),
        round(max($"mad"), 6).as("mad_price"),
        count(lit(1)).as("n_rows"),
        count(when($"adev" > lit(4.4478) * $"mad", 1)).as("n_outliers"))
      .orderBy("l_returnflag")
  }

  // D19 — correlation/covariance per group (the profiling pass behind
  // column-dependence decisions: sort keys, clustering pairs, pruning
  // effectiveness). `corr`/`covar_samp` share the same sample-moment
  // definitions in both engines (d3's stddev precedent at 6dp).
  private val d19 = graded(
    "d19_corr",
    """SELECT l_returnflag,
      |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      |  round(corr(l_discount, l_extendedprice), 6) AS corr_disc_price,
      |  round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_qty_price,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qty_price"),
        round(corr($"l_discount", $"l_extendedprice"), 6).as("corr_disc_price"),
        round(covar_samp($"l_quantity", $"l_extendedprice"), 6)
          .as("covar_qty_price"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  // D20 — MERGEABLE distinct-count sketches (bench-only like d9: no
  // cross-engine twin for approximate state). Mergeability is the entire
  // reason sketches exist at 100 TB: per-partition (here per-returnflag)
  // HLL sketches are built in one pass, and the corpus-wide estimate is
  // a REGISTER-WISE UNION of those sketches — no second scan, which is
  // how a 1000-executor run answers both per-group and global distinct
  // questions from one aggregation tree. Exact counts ride alongside so
  // the error is a visible number; the union≡direct-sketch law is pinned
  // by `PropertySpec` (HLL registers are order-independent maxima, so
  // the merged estimate is deterministic).
  private val d20 = benchOnly("d20_hll_merge") { (spark, dir) =>
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val perFlag = li.groupBy($"l_returnflag")
      .agg(expr("hll_sketch_agg(l_partkey)").as("sk"),
        countDistinct($"l_partkey").as("exact_distinct"))
    val per = perFlag.select($"l_returnflag".as("grp"),
      expr("hll_sketch_estimate(sk)").as("est_distinct"),
      $"exact_distinct")
    val merged = perFlag
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_distinct"))
      .crossJoin(li.agg(countDistinct($"l_partkey").as("exact_distinct")))
      .select(lit("zz_merged").as("grp"), $"est_distinct", $"exact_distinct")
    per.unionByName(merged).orderBy("grp")
  }

  // d46 — SKETCH SET-ALGEBRA: distinct-count INTERSECTION via
  // inclusion–exclusion over HLL sketches (bench-only like d20 — no
  // cross-engine twin for approximate state; `PropertySpec` pins the
  // laws). d20 proves union-mergeability; this is the other half of the
  // algebra a 100 TB audience/overlap dashboard runs on: |A∩B| ≈
  // est(A) + est(B) − est(A∪B), where est(A∪B) is a register-wise
  // union of the SAME one-pass sketches — answering every pairwise
  // overlap question from one aggregation tree, no per-pair re-scan
  // (the exact twin needs a pk-keyed self-join per pair; at 10¹¹ keys
  // that is a shuffle per question, the sketch form is a 3-row
  // broadcast). Exact intersections ride alongside so the compounded
  // error (≈3 sketch errors stacked) is a visible number, and the
  // estimate is floored at 0 — inclusion–exclusion can go slightly
  // negative when the true overlap is near zero.
  private val d46 = benchOnly("d46_hll_intersect") { (spark, dir) =>
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val sk = li.groupBy($"l_returnflag")
      .agg(expr("hll_sketch_agg(l_partkey)").as("sk"))
    val a = sk.select($"l_returnflag".as("flag_a"), $"sk".as("sk_a"))
    val b = sk.select($"l_returnflag".as("flag_b"), $"sk".as("sk_b"))
    // 3-row sketch table self-cross (|flags|² pairs) — constant-size
    val est = a.crossJoin(b).where($"flag_a" < $"flag_b")
      .select($"flag_a", $"flag_b",
        // hll_sketch_estimate returns BIGINT; the algebra below is real-
        // valued (inclusion-exclusion differences), so lift to double
        expr("cast(hll_sketch_estimate(sk_a) as double)").as("est_a"),
        expr("cast(hll_sketch_estimate(sk_b) as double)").as("est_b"),
        expr("cast(hll_sketch_estimate(hll_union(sk_a, sk_b)) as double)")
          .as("est_union"))
      .withColumn("est_intersect",
        greatest(lit(0.0), $"est_a" + $"est_b" - $"est_union"))
    // exact twin: distinct (flag, pk) pairs self-joined on pk — the
    // per-pair shuffle the sketch form exists to avoid
    val p = li.select($"l_returnflag".as("flag"), $"l_partkey".as("pk"))
      .distinct()
    val exact = p.select($"flag".as("flag_a"), $"pk")
      .join(p.select($"flag".as("flag_b"), $"pk"), "pk")
      .where($"flag_a" < $"flag_b")
      .groupBy($"flag_a", $"flag_b")
      .agg(count(lit(1)).cast("bigint").as("exact_intersect"))
    est.join(exact, Seq("flag_a", "flag_b"), "left")
      .select($"flag_a", $"flag_b", round($"est_a", 3).as("est_a"),
        round($"est_b", 3).as("est_b"),
        round($"est_union", 3).as("est_union"),
        round($"est_intersect", 3).as("est_intersect"),
        coalesce($"exact_intersect", lit(0L)).as("exact_intersect"))
      .orderBy("flag_a", "flag_b")
  }

  // d21 — EXACT decimal money aggregation: every other float output in
  // the engine is rounded to paper over summation-order drift; DECIMAL
  // arithmetic is the ANSI answer that makes the drift impossible —
  // sums are exact at ANY row count and partial-agg merge order, which
  // is the property that matters when 100 TB of cents must reconcile to
  // the penny. Prices cast double→DECIMAL(12,2) (values are 2dp by
  // construction, so no tie-rounding divergence), summed exactly, and
  // emitted as integer CENTS (the decimal→int boundary is exact; a
  // decimal→string boundary would hang on formatting). The derived
  // average uses integer floor-division — exact and deterministic, no
  // float in the whole query.
  private val d21 = graded(
    "d21_decimal_exact",
    """SELECT l_returnflag,
      |  count(*)::BIGINT AS n,
      |  (sum(l_extendedprice::DECIMAL(12,2)) * 100)::BIGINT AS sum_cents,
      |  ((sum(l_extendedprice::DECIMAL(12,2)) * 100)::BIGINT // count(*))
      |    AS avg_cents_floor
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        (sum($"l_extendedprice".cast("decimal(12,2)")) * 100)
          .cast("bigint").as("sum_cents"))
      .select($"l_returnflag", $"n", $"sum_cents",
        expr("sum_cents div n").as("avg_cents_floor"))
      .orderBy("l_returnflag")
  }

  // d22 — EQUI-DEPTH histogram (the CBO statistics object next to d17's
  // equi-WIDTH width_bucket and a12's scalar column stats): 8 buckets of
  // equal row count per return flag, each with its exact [lo, hi] value
  // bounds — the selectivity-estimation structure ANALYZE actually
  // builds, because equal-width buckets are useless on skewed value
  // distributions. The oracle states it as e8's tie-broken ntile; the
  // Spark side does NOT run that window — l_returnflag has 3 values, so
  // a flag-partitioned ntile sorts a third of the table in ONE task (an
  // 8× ScaleCheck measured ratio 3.6 on the naive form — a real
  // scale-killer). Instead: the g28 two-pass distributed rank (value
  // bands give range-local row_numbers; per-band counts — ~55 rows per
  // flag — prefix-sum into carry-in offsets), then ntile's bucket
  // boundaries reproduced in closed-form integer arithmetic from
  // (rank, n): the first n%8 buckets get n/8+1 rows, the rest n/8 —
  // identical output, no low-cardinality-partition sort anywhere.
  private val d22 = graded(
    "d22_equidepth_hist",
    """WITH t AS (
      |  SELECT l_returnflag AS flag, l_extendedprice AS v,
      |    ntile(8) OVER (PARTITION BY l_returnflag
      |                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
      |    ) AS bucket
      |  FROM lineitem)
      |SELECT flag, bucket, count(*) AS n,
      |  round(min(v), 2) AS lo, round(max(v), 2) AS hi
      |FROM t GROUP BY flag, bucket
      |ORDER BY flag, bucket""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val base = Tables.lineitem(spark, dir)
      .select($"l_returnflag".as("flag"), $"l_extendedprice".as("v"),
        $"l_orderkey", $"l_linenumber")
      .withColumn("band", ($"v" / 2000.0).cast("int"))
    // pass 1: fine-grained (flag, band) windows — thousands of small
    // partitions, never a per-flag global sort
    val wLocal = Window.partitionBy($"flag", $"band")
      .orderBy($"v", $"l_orderkey", $"l_linenumber")
    // pass 2: per-band counts (tiny) → carry-in offset per band + per-flag n
    val bandCounts = base.groupBy($"flag", $"band")
      .agg(count(lit(1)).as("bc"))
    val wOff = Window.partitionBy($"flag").orderBy($"band")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bandCounts
      .withColumn("off", coalesce(sum($"bc").over(wOff), lit(0L)))
      .withColumn("n", sum($"bc").over(Window.partitionBy($"flag")))
      .select($"flag", $"band", $"off", $"n")
    base
      .withColumn("rn", row_number().over(wLocal))
      .join(broadcast(offsets), Seq("flag", "band"))
      .withColumn("rk", $"off" + $"rn")
      // ntile(8) closed form: q = n div 8, r = n mod 8; ranks up to
      // r·(q+1) land in the first r (q+1)-sized buckets, the rest in
      // q-sized buckets
      .withColumn("bucket", expr(
        """CASE WHEN rk <= (n % 8) * (n div 8 + 1)
          |  THEN cast((rk - 1) div (n div 8 + 1) + 1 as int)
          |  ELSE cast(n % 8
          |    + (rk - (n % 8) * (n div 8 + 1) - 1) div (n div 8) + 1 as int)
          |END""".stripMargin))
      .groupBy($"flag", $"bucket")
      .agg(count(lit(1)).as("n"),
        round(min($"v"), 2).as("lo"), round(max($"v"), 2).as("hi"))
      .orderBy("flag", "bucket")
  }

  // d23 — A/B COMPARISON (Welch's t): the statistical-inference surface
  // (d3 gives the moments; this is the decision statistic built on
  // them) — compare every event type's value distribution against the
  // 'click' control: per-group n/mean/variance plus the Welch t
  // statistic. Determinism rule: the t is computed FROM THE 6dp-ROUNDED
  // moments (d3 proves those hash-stable across engines), so the
  // derived statistic is exact arithmetic over values both engines
  // already agree on — never a fresh ulp-order-sensitive pass. Shape at
  // scale: one partial-agg groupBy on the 5-value type key, control row
  // broadcast; constant-size output.
  private val d23 = graded(
    "d23_ab_ttest",
    """WITH g AS (
      |  SELECT event_type, count(*) AS n,
      |    round(avg(value), 6) AS mean_v,
      |    round(var_samp(value), 6) AS var_v
      |  FROM events GROUP BY event_type),
      |c AS (SELECT n AS n0, mean_v AS m0, var_v AS v0 FROM g
      |      WHERE event_type = 'click')
      |SELECT g.event_type, g.n, g.mean_v, g.var_v,
      |  round((g.mean_v - c.m0) / sqrt(g.var_v / g.n + c.v0 / c.n0), 6)
      |    AS t_vs_click
      |FROM g CROSS JOIN c
      |WHERE g.event_type <> 'click'
      |ORDER BY g.event_type""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val g = Tables.eventsUs(spark, dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        round(avg($"value"), 6).as("mean_v"),
        round(var_samp($"value"), 6).as("var_v"))
    val c = g.where($"event_type" === "click")
      .select($"n".as("n0"), $"mean_v".as("m0"), $"var_v".as("v0"))
    g.where($"event_type" =!= "click")
      .crossJoin(broadcast(c))
      .select($"event_type", $"n", $"mean_v", $"var_v",
        round(($"mean_v" - $"m0")
          / sqrt($"var_v" / $"n" + $"v0" / $"n0"), 6).as("t_vs_click"))
      .orderBy("event_type")
  }

  // d24 — LINEAR REGRESSION aggregates (regr_slope / intercept / r2):
  // the model-fit member of the statistics family (d3 moments, d19
  // correlation, d23 inference) — one distributive pass computes the
  // OLS fit per group; both engines state the same closed-form
  // sums-of-products definition, and d19's corr() precedent covers the
  // rounding rule (6dp on the derived ratios). Shape at scale: a single
  // partial-agg groupBy on the 3-value flag key — the regression state
  // (six running sums) merges associatively like any moment sketch.
  private val d24 = graded(
    "d24_linreg",
    """SELECT l_returnflag AS flag,
      |  regr_count(l_extendedprice, l_quantity)::BIGINT AS n,
      |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
      |  round(regr_intercept(l_extendedprice, l_quantity), 6) AS icept,
      |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag".as("flag"))
      .agg(
        expr("regr_count(l_extendedprice, l_quantity)").cast("bigint")
          .as("n"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 6)
          .as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 6)
          .as("icept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"))
      .orderBy("flag")
  }

  // d25 — WEIGHTED MEDIAN (quantity-weighted price midpoint): neither
  // engine ships it natively, so both state the same first-principles
  // definition — smallest value whose running weight reaches half the
  // group total on the tie-broken (v, orderkey, linenumber) order. The
  // oracle uses the naive flag-partitioned cumsum window; the Spark
  // side reuses d22's two-pass distributed form (band-local weighted
  // cumsum + tiny per-band carry-in offsets), because a cumsum window
  // partitioned on the 3-value flag sorts a third of the table in one
  // task — the exact trap d22's 8× audit caught. Weight sums are exact
  // integer-valued doubles (quantities are whole numbers), so the
  // cw ≥ tw/2 cut is engine-independent.
  private val d25 = graded(
    "d25_weighted_median",
    """WITH w AS (
      |  SELECT l_returnflag AS flag, l_extendedprice AS v,
      |    sum(l_quantity) OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS cw,
      |    sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      |  FROM lineitem)
      |SELECT flag, round(min(v), 2) AS wmedian,
      |  round(min(tw), 1) AS total_weight
      |FROM w WHERE cw >= tw / 2.0
      |GROUP BY flag ORDER BY flag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val base = Tables.lineitem(spark, dir)
      .select($"l_returnflag".as("flag"), $"l_extendedprice".as("v"),
        $"l_quantity".as("wt"), $"l_orderkey", $"l_linenumber")
      .withColumn("band", ($"v" / 2000.0).cast("int"))
    val wLocal = Window.partitionBy($"flag", $"band")
      .orderBy($"v", $"l_orderkey", $"l_linenumber")
    val bandTotals = base.groupBy($"flag", $"band")
      .agg(sum($"wt").as("bw"))
    val wOff = Window.partitionBy($"flag").orderBy($"band")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bandTotals
      .withColumn("off", coalesce(sum($"bw").over(wOff), lit(0.0)))
      .withColumn("tw", sum($"bw").over(Window.partitionBy($"flag")))
      .select($"flag", $"band", $"off", $"tw")
    base
      .withColumn("lcw", sum($"wt").over(wLocal))
      .join(broadcast(offsets), Seq("flag", "band"))
      .withColumn("cw", $"off" + $"lcw")
      .where($"cw" >= $"tw" / 2.0)
      .groupBy($"flag")
      .agg(round(min($"v"), 2).as("wmedian"),
        round(min($"tw"), 1).as("total_weight"))
      .orderBy("flag")
  }

  // d26 — ONE-WAY ANOVA (F statistic across all event types): d23's
  // pairwise comparison generalized to the k-group omnibus test —
  // between-group mean square over within-group mean square, assembled
  // from the SAME 6dp-rounded group moments d3/d23 already hash-prove,
  // so the derived statistic is exact arithmetic over engine-agreed
  // values (the grand mean is itself re-rounded before the squared
  // deviations). Shape at scale: one 5-key partial-agg groupBy; the
  // moment table (5 rows) crosses its own 1-row total — constant work
  // after the scan regardless of corpus size.
  private val d26 = graded(
    "d26_anova",
    """WITH g AS (
      |  SELECT event_type, count(*) AS n,
      |    round(avg(value), 6) AS m, round(var_samp(value), 6) AS v
      |  FROM events GROUP BY event_type),
      |t AS (SELECT count(*) AS k, sum(n) AS nn,
      |      round(sum(n * m) / sum(n), 6) AS gm FROM g)
      |SELECT t.k::BIGINT AS k, t.nn::BIGINT AS n, t.gm,
      |  round(sum(g.n * (g.m - t.gm) * (g.m - t.gm)) / (t.k - 1), 4)
      |    AS msb,
      |  round(sum((g.n - 1) * g.v) / (t.nn - t.k), 4) AS msw,
      |  round((sum(g.n * (g.m - t.gm) * (g.m - t.gm)) / (t.k - 1))
      |    / (sum((g.n - 1) * g.v) / (t.nn - t.k)), 6) AS f
      |FROM g CROSS JOIN t
      |GROUP BY t.k, t.nn, t.gm
      |ORDER BY k""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val g = Tables.eventsUs(spark, dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        round(avg($"value"), 6).as("m"),
        round(var_samp($"value"), 6).as("v"))
    val t = g.agg(count(lit(1)).as("k"), sum($"n").as("nn"),
      round(sum($"n" * $"m") / sum($"n"), 6).as("gm"))
    g.crossJoin(broadcast(t))
      .groupBy($"k", $"nn", $"gm")
      .agg(
        round(sum($"n" * ($"m" - $"gm") * ($"m" - $"gm")) / ($"k" - 1), 4)
          .as("msb"),
        round(sum(($"n" - 1) * $"v") / ($"nn" - $"k"), 4).as("msw"),
        round((sum($"n" * ($"m" - $"gm") * ($"m" - $"gm")) / ($"k" - 1))
          / (sum(($"n" - 1) * $"v") / ($"nn" - $"k")), 6).as("f"))
      .select($"k".cast("bigint"), $"nn".cast("bigint").as("n"), $"gm",
        $"msb", $"msw", $"f")
      .orderBy("k")
  }

  // D27 — chi-square test of independence over a contingency table
  // (returnflag × linestatus): the categorical-association test next to
  // d23's t-test / d26's F-test. All observed counts and marginals are
  // exact integers (order-free sums), so expected counts and per-cell
  // contributions are fixed IEEE expression trees over identical ints —
  // bit-equal cross-engine before any rounding. The statistic is graded
  // CELL-LEVEL (obs/exp/contrib per cell) plus the summed chi2: the
  // cross-cell sum runs over unrounded doubles exactly like d26's msb,
  // with round(4) absorbing partial-aggregation order at this magnitude.
  // 100 TB: one partial+final aggregate on a 6-cell key, then a broadcast
  // of the 1-row marginal table — the shuffle carries 6 rows.
  private val d27 = QueryDef.graded(
    "d27_chisq",
    """WITH cell AS (
      |  SELECT l_returnflag AS rf, l_linestatus AS ls,
      |    count(*)::BIGINT AS obs
      |  FROM lineitem GROUP BY 1, 2),
      |m AS (
      |  SELECT rf, ls, obs,
      |    sum(obs) OVER (PARTITION BY rf)::BIGINT AS rt,
      |    sum(obs) OVER (PARTITION BY ls)::BIGINT AS ct,
      |    sum(obs) OVER ()::BIGINT AS n
      |  FROM cell),
      |c AS (
      |  SELECT rf, ls, obs, rt, ct, n,
      |    (rt::DOUBLE * ct::DOUBLE) / n::DOUBLE AS exp
      |  FROM m),
      |k AS (
      |  SELECT rf, ls, obs, exp,
      |    (obs::DOUBLE - exp) * (obs::DOUBLE - exp) / exp AS contrib
      |  FROM c),
      |t AS (
      |  SELECT round(sum(contrib), 4) AS chi2,
      |    ((count(DISTINCT rf) - 1) * (count(DISTINCT ls) - 1))::BIGINT
      |      AS dof
      |  FROM k)
      |SELECT k.rf AS l_returnflag, k.ls AS l_linestatus, k.obs,
      |  round(k.exp, 4) AS expected, round(k.contrib, 6) AS contrib,
      |  t.chi2, t.dof
      |FROM k CROSS JOIN t
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val cell = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag".as("rf"), $"l_linestatus".as("ls"))
      .agg(count(lit(1)).cast("bigint").as("obs"))
    val m = cell
      .withColumn("rt", sum($"obs").over(Window.partitionBy($"rf")).cast("bigint"))
      .withColumn("ct", sum($"obs").over(Window.partitionBy($"ls")).cast("bigint"))
      .withColumn("n", sum($"obs").over(Window.partitionBy()).cast("bigint"))
    val k = m
      .withColumn("exp",
        ($"rt".cast("double") * $"ct".cast("double")) / $"n".cast("double"))
      .withColumn("contrib",
        ($"obs".cast("double") - $"exp") * ($"obs".cast("double") - $"exp")
          / $"exp")
    val t = k.agg(round(sum($"contrib"), 4).as("chi2"),
      ((countDistinct($"rf") - 1) * (countDistinct($"ls") - 1))
        .cast("bigint").as("dof"))
    k.crossJoin(broadcast(t))
      .select($"rf".as("l_returnflag"), $"ls".as("l_linestatus"), $"obs",
        round($"exp", 4).as("expected"), round($"contrib", 6).as("contrib"),
        $"chi2", $"dof")
      .orderBy("l_returnflag", "l_linestatus")
  }

  // D28 — skewness and excess kurtosis per group from EXACT integer power
  // sums: l_quantity is integral (1..50), so sum(q), sum(q²), sum(q³),
  // sum(q⁴) are exact BIGINTs (order-free, any aggregation plan), and the
  // central-moment formulas are fixed IEEE trees over identical ints —
  // bit-equal cross-engine, like d24/d26. sqrt(m2)*m2 replaces
  // pow(m2, 1.5) because sqrt is correctly rounded while pow is only
  // faithfully rounded (DialectNotes `pow` rule). 100 TB: one map-side
  // partial aggregate — four extra multiply-adds per row, zero extra
  // shuffle versus a plain count.
  private val d28 = QueryDef.graded(
    "d28_skew_kurt",
    """WITH q AS (
      |  SELECT l_returnflag, round(l_quantity)::BIGINT AS qi FROM lineitem),
      |s AS (
      |  SELECT l_returnflag, count(*)::BIGINT AS n,
      |    sum(qi)::BIGINT AS s1,
      |    sum(qi * qi)::BIGINT AS s2,
      |    sum(qi * qi * qi)::BIGINT AS s3,
      |    sum(qi * qi * qi * qi)::BIGINT AS s4
      |  FROM q GROUP BY l_returnflag),
      |f AS (
      |  SELECT l_returnflag, n, s1,
      |    s1::DOUBLE / n::DOUBLE AS mu,
      |    s2::DOUBLE / n::DOUBLE AS p2,
      |    s3::DOUBLE / n::DOUBLE AS p3,
      |    s4::DOUBLE / n::DOUBLE AS p4
      |  FROM s),
      |g AS (
      |  SELECT l_returnflag, n, s1, mu,
      |    p2 - mu * mu AS m2,
      |    p3 - 3 * mu * p2 + 2 * mu * mu * mu AS m3,
      |    p4 - 4 * mu * p3 + 6 * mu * mu * p2 - 3 * mu * mu * mu * mu
      |      AS m4
      |  FROM f)
      |SELECT l_returnflag, n, s1, round(mu, 6) AS mean_qty,
      |  round(m3 / (sqrt(m2) * m2), 6) AS skewness,
      |  round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis
      |FROM g ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // round-then-cast on BOTH sides: a bare bigint cast truncates in Spark
    // but rounds in DuckDB, a silent mismatch the moment the corpus ships
    // fractional quantities. round() is half-away-from-zero in both
    // engines for the positive domain, so the guard is exact.
    val q = round($"l_quantity").cast("bigint")
    val s = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum(q).cast("bigint").as("s1"),
        sum(q * q).cast("bigint").as("s2"),
        sum(q * q * q).cast("bigint").as("s3"),
        sum(q * q * q * q).cast("bigint").as("s4"))
    val f = s.select($"l_returnflag", $"n", $"s1",
      ($"s1".cast("double") / $"n".cast("double")).as("mu"),
      ($"s2".cast("double") / $"n".cast("double")).as("p2"),
      ($"s3".cast("double") / $"n".cast("double")).as("p3"),
      ($"s4".cast("double") / $"n".cast("double")).as("p4"))
    val g = f.select($"l_returnflag", $"n", $"s1", $"mu",
      ($"p2" - $"mu" * $"mu").as("m2"),
      ($"p3" - lit(3) * $"mu" * $"p2" + lit(2) * $"mu" * $"mu" * $"mu")
        .as("m3"),
      ($"p4" - lit(4) * $"mu" * $"p3"
        + lit(6) * $"mu" * $"mu" * $"p2"
        - lit(3) * $"mu" * $"mu" * $"mu" * $"mu").as("m4"))
    g.select($"l_returnflag", $"n", $"s1", round($"mu", 6).as("mean_qty"),
      round($"m3" / (sqrt($"m2") * $"m2"), 6).as("skewness"),
      round($"m4" / ($"m2" * $"m2") - 3.0, 6).as("kurtosis"))
      .orderBy("l_returnflag")
  }

  // d29 — BENFORD'S LAW first-digit audit (the classic fabricated-data /
  // ingest-corruption screen over a money column): observed leading-digit
  // frequencies vs the log₁₀(1 + 1/d) expectation. The digit is extracted
  // ARITHMETICALLY from the exact integer cents (first char of the
  // integer's decimal rendering — integer→string is engine-identical;
  // double→string is not, the d28/b8 lesson), observed shares are exact
  // ppm integers, and the expectation is a fixed IEEE ln tree per digit
  // literal. Shape at scale: map-side digit projection + a 9-cell
  // aggregate + 1-row total broadcast — constant work after the scan.
  private val d29 = graded(
    "d29_benford",
    """WITH c AS (
      |  SELECT substring(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |      AS VARCHAR), 1, 1)::INT AS digit
      |  FROM lineitem),
      |o AS (SELECT digit, count(*)::BIGINT AS n FROM c GROUP BY digit),
      |t AS (SELECT sum(n)::BIGINT AS total FROM o)
      |SELECT o.digit, o.n,
      |  ((o.n * 1000000) // t.total)::BIGINT AS obs_ppm,
      |  CAST(floor(ln(1.0 + 1.0 / o.digit) / ln(10.0) * 1000000) AS BIGINT)
      |    AS exp_ppm,
      |  (((o.n * 1000000) // t.total)
      |    - CAST(floor(ln(1.0 + 1.0 / o.digit) / ln(10.0) * 1000000)
      |      AS BIGINT))::BIGINT AS dev_ppm
      |FROM o CROSS JOIN t
      |ORDER BY digit""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val c = Tables.lineitem(spark, dir)
      .select(substring(round($"l_extendedprice" * 100, 0).cast("bigint")
        .cast("string"), 1, 1).cast("int").as("digit"))
    val o = c.groupBy($"digit").agg(count(lit(1)).cast("bigint").as("n"))
    val t = o.agg(sum($"n").cast("bigint").as("total"))
    o.crossJoin(broadcast(t))
      .select($"digit", $"n",
        expr("(n * 1000000) div total").cast("bigint").as("obs_ppm"),
        floor(log(lit(1.0) + lit(1.0) / $"digit") / log(lit(10.0))
          * 1000000).cast("bigint").as("exp_ppm"))
      .withColumn("dev_ppm", ($"obs_ppm" - $"exp_ppm").cast("bigint"))
      .orderBy("digit")
  }

  // d30 — two-sample KOLMOGOROV–SMIRNOV test (the distribution-drift
  // omnibus next to r10's binned PSI: did the price distribution change
  // between two slices, judged on the FULL CDF, no binning choices?):
  // split by l_orderkey parity, D = max |F₁ − F₂| computed entirely in
  // exact integers — per distinct cent value, |cum₁·N₂ − cum₂·N₁| is an
  // exact BIGINT cross-multiplication and D is ONE double division of
  // its max by N₁·N₂ (bounded by ~(corpus cents)² — switch to DECIMAL
  // if a single slice ever exceeds ~3·10⁹ rows). The critical value is
  // the standard 1.36·√((N₁+N₂)/(N₁·N₂)) fixed IEEE tree; the verdict
  // compares ROUNDED values. Shape at scale: the CDF cumsum runs as
  // d22/d25's two-pass distributed prefix sum (band-local window +
  // tiny per-band carry-in broadcast), never a single-partition global
  // window; the oracle states the same semantics as one naive window.
  private val d30 = graded(
    "d30_ks_test",
    """WITH v AS (
      |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x,
      |    (l_orderkey % 2)::INT AS side
      |  FROM lineitem),
      |g AS (
      |  SELECT x,
      |    sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
      |    sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
      |  FROM v GROUP BY x),
      |t AS (SELECT sum(n0)::BIGINT AS t0, sum(n1)::BIGINT AS t1 FROM g),
      |c AS (
      |  SELECT x,
      |    sum(n0) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS c0,
      |    sum(n1) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS c1
      |  FROM g),
      |d AS (SELECT max(abs(c0 * t.t1 - c1 * t.t0))::BIGINT AS dmax
      |      FROM c CROSS JOIN t)
      |SELECT t.t0 AS n0, t.t1 AS n1,
      |  round(d.dmax::DOUBLE / (t.t0 * t.t1)::DOUBLE, 6) AS d_stat,
      |  round(1.36 * sqrt((t.t0 + t.t1)::DOUBLE / (t.t0 * t.t1)::DOUBLE), 6)
      |    AS d_crit,
      |  (round(d.dmax::DOUBLE / (t.t0 * t.t1)::DOUBLE, 6)
      |    > round(1.36 * sqrt((t.t0 + t.t1)::DOUBLE / (t.t0 * t.t1)::DOUBLE),
      |        6)) AS reject
      |FROM d CROSS JOIN t""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val g = Tables.lineitem(spark, dir)
      .select(round($"l_extendedprice" * 100, 0).cast("bigint").as("x"),
        ($"l_orderkey" % 2).cast("int").as("side"))
      .groupBy($"x")
      .agg(sum(when($"side" === 0, 1).otherwise(0)).cast("bigint").as("n0"),
        sum(when($"side" === 1, 1).otherwise(0)).cast("bigint").as("n1"))
      .withColumn("band", expr("x div 200000").cast("int"))
    val t = g.agg(sum($"n0").cast("bigint").as("t0"),
      sum($"n1").cast("bigint").as("t1"))
    val wLocal = Window.partitionBy($"band").orderBy($"x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bandTotals = g.groupBy($"band")
      .agg(sum($"n0").as("b0"), sum($"n1").as("b1"))
    val wOff = Window.orderBy($"band")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bandTotals
      .withColumn("off0", coalesce(sum($"b0").over(wOff), lit(0L)))
      .withColumn("off1", coalesce(sum($"b1").over(wOff), lit(0L)))
      .select($"band", $"off0", $"off1")
    val d = g
      .withColumn("l0", sum($"n0").over(wLocal))
      .withColumn("l1", sum($"n1").over(wLocal))
      .join(broadcast(offsets), "band")
      .crossJoin(broadcast(t))
      .select(abs(($"off0" + $"l0") * $"t1" - ($"off1" + $"l1") * $"t0")
        .as("dd"))
      .agg(max($"dd").cast("bigint").as("dmax"))
    d.crossJoin(broadcast(t))
      .select($"t0".as("n0"), $"t1".as("n1"),
        round($"dmax".cast("double") / ($"t0" * $"t1").cast("double"), 6)
          .as("d_stat"),
        round(lit(1.36) * sqrt(($"t0" + $"t1").cast("double")
          / ($"t0" * $"t1").cast("double")), 6).as("d_crit"))
      .withColumn("reject", $"d_stat" > $"d_crit")
  }

  // d31 — MANN–WHITNEY U rank-sum test (the nonparametric two-sample
  // location test next to d23's Welch t and d30's KS: does one slice's
  // price distribution sit HIGHER, judged on ranks, no normality
  // assumption?): l_orderkey-parity split over exact price cents. All
  // rank arithmetic is exact integers — for a distinct value with c tied
  // rows and C rows strictly below, the doubled average rank is
  // 2C + c + 1 (an integer even when the average rank is a .5), so the
  // doubled rank sum 2R₁ = Σ n₁·(2C + c + 1) and the doubled statistic
  // 2U₁ = 2R₁ − N₁(N₁+1) are order-free BIGINT sums. The normal
  // approximation uses the tie-corrected variance — σ² =
  // (N₀N₁/12)·((N+1) − Σ(t³−t)/(N(N−1))) with the tie term Σ(c³−c)
  // another exact BIGINT — and z = (2U₁ − N₀N₁)/(2σ) is one fixed IEEE
  // tree over identical ints; verdict on the ROUNDED z (d29/d30 rule).
  // Shape at scale: the strictly-below count C runs as d22/d25/d30's
  // two-pass banded prefix sum (band-local window + tiny carry-in
  // broadcast), never a single-partition global window; after the
  // per-value collapse everything is one partial+final aggregate.
  private val d31 = graded(
    "d31_mann_whitney",
    """WITH v AS (
      |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x,
      |    (l_orderkey % 2)::INT AS side
      |  FROM lineitem),
      |g AS (
      |  SELECT x,
      |    sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
      |    sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
      |  FROM v GROUP BY x),
      |c AS (
      |  SELECT x, n0, n1, (n0 + n1)::BIGINT AS c,
      |    (sum(n0 + n1) OVER (ORDER BY x
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - (n0 + n1))::BIGINT AS cex
      |  FROM g),
      |t AS (
      |  SELECT sum(n0)::BIGINT AS t0, sum(n1)::BIGINT AS t1,
      |    sum(c * c * c - c)::BIGINT AS ties,
      |    sum(n1 * (2 * cex + c + 1))::BIGINT AS r1x2
      |  FROM c),
      |s AS (
      |  SELECT t0, t1, r1x2,
      |    (r1x2 - t1 * (t1 + 1))::BIGINT AS u1x2,
      |    round(
      |      (r1x2 - t1 * (t1 + 1) - t0 * t1)::DOUBLE
      |      / (2.0::DOUBLE * sqrt((t0::DOUBLE * t1::DOUBLE / 12.0::DOUBLE)
      |          * ((t0 + t1 + 1)::DOUBLE
      |            - ties::DOUBLE
      |              / ((t0 + t1)::DOUBLE * (t0 + t1 - 1)::DOUBLE)))),
      |      6) AS z
      |  FROM t)
      |SELECT t0 AS n0, t1 AS n1, r1x2, u1x2, z,
      |  (abs(z) > 1.96::DOUBLE) AS reject
      |FROM s""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val g = Tables.lineitem(spark, dir)
      .select(round($"l_extendedprice" * 100, 0).cast("bigint").as("x"),
        ($"l_orderkey" % 2).cast("int").as("side"))
      .groupBy($"x")
      .agg(sum(when($"side" === 0, 1).otherwise(0)).cast("bigint").as("n0"),
        sum(when($"side" === 1, 1).otherwise(0)).cast("bigint").as("n1"))
      .withColumn("c", ($"n0" + $"n1").cast("bigint"))
      .withColumn("band", expr("x div 200000").cast("int"))
    val wLocal = Window.partitionBy($"band").orderBy($"x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.orderBy($"band")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = g.groupBy($"band").agg(sum($"c").as("b"))
      .withColumn("off", coalesce(sum($"b").over(wOff), lit(0L)))
      .select($"band", $"off")
    val t = g
      .withColumn("lc", sum($"c").over(wLocal))
      .join(broadcast(offsets), "band")
      .withColumn("cex", ($"off" + $"lc" - $"c").cast("bigint"))
      .agg(sum($"n0").cast("bigint").as("t0"),
        sum($"n1").cast("bigint").as("t1"),
        sum($"c" * $"c" * $"c" - $"c").cast("bigint").as("ties"),
        sum($"n1" * (lit(2) * $"cex" + $"c" + 1)).cast("bigint").as("r1x2"))
    t.withColumn("u1x2", ($"r1x2" - $"t1" * ($"t1" + 1)).cast("bigint"))
      .withColumn("z", round(
        ($"r1x2" - $"t1" * ($"t1" + 1) - $"t0" * $"t1").cast("double")
          / (lit(2.0) * sqrt(($"t0".cast("double") * $"t1".cast("double")
              / lit(12.0))
            * (($"t0" + $"t1" + 1).cast("double")
              - $"ties".cast("double")
                / (($"t0" + $"t1").cast("double")
                  * ($"t0" + $"t1" - 1).cast("double"))))), 6))
      .select($"t0".as("n0"), $"t1".as("n1"), $"r1x2", $"u1x2", $"z",
        (abs($"z") > lit(1.96)).as("reject"))
  }

  // d32 — CRAMÉR'S V association strength over a customer-segment ×
  // order-priority contingency (the EFFECT-SIZE companion to d27's
  // chi-square: "is the association big?", not just "is it nonzero?" —
  // at 100 TB row counts, every chi-square rejects, so V is the number
  // an analyst actually reads). The contingency observed counts come off
  // the c2-class fact join (customer dim broadcast at these SFs — at
  // 100 TB it becomes a shuffle join on o_custkey, nothing else
  // changes), then V = sqrt(χ²/(N·(min(r,c)−1))) is derived from the
  // ROUNDED χ² (d27's round(4) absorbs partial-agg order; the sqrt of a
  // rounded operand is deterministic — DialectNotes float-sum rule).
  // Strength classification on the ROUNDED V so the label can't float.
  private val d32 = graded(
    "d32_cramers_v",
    """WITH j AS (
      |  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |cell AS (
      |  SELECT seg, pri, count(*)::BIGINT AS obs FROM j GROUP BY 1, 2),
      |m AS (
      |  SELECT seg, pri, obs,
      |    sum(obs) OVER (PARTITION BY seg)::BIGINT AS rt,
      |    sum(obs) OVER (PARTITION BY pri)::BIGINT AS ct,
      |    sum(obs) OVER ()::BIGINT AS n
      |  FROM cell),
      |k AS (
      |  SELECT n,
      |    (obs::DOUBLE - (rt::DOUBLE * ct::DOUBLE) / n::DOUBLE)
      |      * (obs::DOUBLE - (rt::DOUBLE * ct::DOUBLE) / n::DOUBLE)
      |      / ((rt::DOUBLE * ct::DOUBLE) / n::DOUBLE) AS contrib,
      |    seg, pri
      |  FROM m),
      |t AS (
      |  SELECT max(n)::BIGINT AS n,
      |    count(DISTINCT seg)::BIGINT AS rdim,
      |    count(DISTINCT pri)::BIGINT AS cdim,
      |    round(sum(contrib), 4) AS chi2
      |  FROM k),
      |v AS (
      |  SELECT n, rdim, cdim, chi2,
      |    round(sqrt(chi2 / (n::DOUBLE
      |      * ((CASE WHEN rdim < cdim THEN rdim ELSE cdim END) - 1)::DOUBLE)),
      |      6) AS cramers_v
      |  FROM t)
      |SELECT n, rdim, cdim, chi2, cramers_v,
      |  CASE WHEN cramers_v < 0.1::DOUBLE THEN 'negligible'
      |    WHEN cramers_v < 0.3::DOUBLE THEN 'weak'
      |    WHEN cramers_v < 0.5::DOUBLE THEN 'moderate'
      |    ELSE 'strong' END AS strength
      |FROM v""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val j = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)),
        $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"), $"o_orderpriority".as("pri"))
    val cell = j.groupBy($"seg", $"pri")
      .agg(count(lit(1)).cast("bigint").as("obs"))
    val m = cell
      .withColumn("rt", sum($"obs").over(Window.partitionBy($"seg")).cast("bigint"))
      .withColumn("ct", sum($"obs").over(Window.partitionBy($"pri")).cast("bigint"))
      .withColumn("n", sum($"obs").over(Window.partitionBy()).cast("bigint"))
    val k = m.withColumn("exp",
        ($"rt".cast("double") * $"ct".cast("double")) / $"n".cast("double"))
      .withColumn("contrib",
        ($"obs".cast("double") - $"exp") * ($"obs".cast("double") - $"exp")
          / $"exp")
    val t = k.agg(max($"n").cast("bigint").as("n"),
      countDistinct($"seg").cast("bigint").as("rdim"),
      countDistinct($"pri").cast("bigint").as("cdim"),
      round(sum($"contrib"), 4).as("chi2"))
    t.withColumn("cramers_v",
        round(sqrt($"chi2" / ($"n".cast("double")
          * (when($"rdim" < $"cdim", $"rdim").otherwise($"cdim") - 1)
            .cast("double"))), 6))
      .select($"n", $"rdim", $"cdim", $"chi2", $"cramers_v",
        when($"cramers_v" < 0.1, "negligible")
          .when($"cramers_v" < 0.3, "weak")
          .when($"cramers_v" < 0.5, "moderate")
          .otherwise("strong").as("strength"))
  }

  // d33 — INFORMATION GAIN split audit (the decision-tree/feature-
  // selection companion to d27/d32: how many BITS does knowing the
  // linestatus buy about the returnflag? — the number a feature-ranking
  // pass computes per candidate column): H(rf), the weighted conditional
  // H(rf|ls), IG = difference, and the gain ratio IG/H(ls). Every
  // probability is a ratio of exact BIGINT cell/marginal counts, each
  // entropy a sum of p·ln(p)/ln(2) IEEE trees over identical ints —
  // deterministic cross-engine before the final round (ln on identical
  // doubles is bit-equal, the DialectNotes g23/g35 rule); the per-cell
  // SUM is order-sensitive float, absorbed by round(6) at entropy
  // magnitude (≤ log₂ 6 ≈ 2.6). Marginals are their OWN tiny aggregates
  // off the 6-cell table — a filtered-sum trick over cells would silently
  // drop a marginal whenever a category never co-occurs with the filter
  // value. Shape at scale: d27's — one 6-cell partial+final aggregate,
  // then broadcast-sized reduces, 1-row out.
  private val d33 = graded(
    "d33_infogain",
    """WITH cell AS (
      |  SELECT l_returnflag AS rf, l_linestatus AS ls,
      |    count(*)::BIGINT AS obs
      |  FROM lineitem GROUP BY 1, 2),
      |tot AS (SELECT sum(obs)::BIGINT AS n FROM cell),
      |rmarg AS (SELECT rf, sum(obs)::BIGINT AS rt FROM cell GROUP BY rf),
      |cmarg AS (SELECT ls, sum(obs)::BIGINT AS ct FROM cell GROUP BY ls),
      |hr AS (
      |  SELECT sum(-(rt::DOUBLE / n::DOUBLE)
      |    * ln(rt::DOUBLE / n::DOUBLE) / ln(2.0)) AS h_rf
      |  FROM rmarg CROSS JOIN tot),
      |hc AS (
      |  SELECT sum(-(ct::DOUBLE / n::DOUBLE)
      |    * ln(ct::DOUBLE / n::DOUBLE) / ln(2.0)) AS h_ls
      |  FROM cmarg CROSS JOIN tot),
      |hcond AS (
      |  SELECT sum((ct::DOUBLE / n::DOUBLE)
      |    * (-(obs::DOUBLE / ct::DOUBLE) * ln(obs::DOUBLE / ct::DOUBLE)
      |       / ln(2.0))) AS h_rf_given_ls
      |  FROM cell JOIN cmarg USING (ls) CROSS JOIN tot)
      |SELECT round(h_rf, 6) AS h_rf, round(h_ls, 6) AS h_ls,
      |  round(h_rf_given_ls, 6) AS h_rf_given_ls,
      |  round(h_rf - h_rf_given_ls, 6) AS info_gain,
      |  round((h_rf - h_rf_given_ls) / h_ls, 6) AS gain_ratio
      |FROM hr CROSS JOIN hc CROSS JOIN hcond""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val ln2 = log(lit(2.0))
    val cell = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag".as("rf"), $"l_linestatus".as("ls"))
      .agg(count(lit(1)).cast("bigint").as("obs"))
    val tot = cell.agg(sum($"obs").cast("bigint").as("n"))
    val rmarg = cell.groupBy($"rf").agg(sum($"obs").cast("bigint").as("rt"))
    val cmarg = cell.groupBy($"ls").agg(sum($"obs").cast("bigint").as("ct"))
    val hr = rmarg.crossJoin(broadcast(tot))
      .agg(sum(-($"rt".cast("double") / $"n".cast("double"))
        * log($"rt".cast("double") / $"n".cast("double")) / ln2).as("h_rf"))
    val hc = cmarg.crossJoin(broadcast(tot))
      .agg(sum(-($"ct".cast("double") / $"n".cast("double"))
        * log($"ct".cast("double") / $"n".cast("double")) / ln2).as("h_ls"))
    val hcond = cell.join(broadcast(cmarg), "ls").crossJoin(broadcast(tot))
      .agg(sum(($"ct".cast("double") / $"n".cast("double"))
        * (-($"obs".cast("double") / $"ct".cast("double"))
          * log($"obs".cast("double") / $"ct".cast("double")) / ln2))
        .as("h_rf_given_ls"))
    hr.crossJoin(hc).crossJoin(hcond)
      .select(round($"h_rf", 6).as("h_rf"), round($"h_ls", 6).as("h_ls"),
        round($"h_rf_given_ls", 6).as("h_rf_given_ls"),
        round($"h_rf" - $"h_rf_given_ls", 6).as("info_gain"),
        round(($"h_rf" - $"h_rf_given_ls") / $"h_ls", 6).as("gain_ratio"))
  }

  // d34 — LEVENE'S TEST for variance homogeneity across event_type groups
  // (the PRECONDITION check for d26's ANOVA, whose F statistic assumes
  // equal variances — an analyst runs this first). Determinism is the
  // d31 integer trick end-to-end: values become exact cents, each group's
  // center is the PURE-INTEGER rounded mean (2S+n) div (2n) — no float
  // mean crosses an engine boundary — so the absolute deviations z and
  // all their group sums (Σz, Σz²) are exact BIGINTs; only the final
  // k-row W reduction runs in doubles, rounded to 6 (d29/d30 rule).
  // The raw SSB/SSW sums are deliberately NOT emitted: at ~1e11 their
  // double representation differs in the last ulp between the two
  // engines' 5-term addition orders, and no decimal rounding is immune
  // to that; the scale-free ratio W is (relative error ~1e-15 ≪ 5e-7).
  // Shape at scale: two hash aggregates on event_type plus a broadcast
  // of the k-row center table back onto the fact — one shuffle total;
  // the closing k-row cross of its own 1-row total is the d26 shape.
  private val d34 = graded(
    "d34_levene",
    """WITH v AS (
      |  SELECT event_type AS g, CAST(round(value * 100, 0) AS BIGINT) AS x
      |  FROM events),
      |m AS (SELECT g, count(*)::BIGINT AS n, sum(x)::BIGINT AS s
      |      FROM v GROUP BY g),
      |c AS (SELECT g, (2 * s + n) // (2 * n) AS ctr FROM m),
      |z AS (SELECT v.g, abs(v.x - c.ctr)::BIGINT AS z
      |      FROM v JOIN c USING (g)),
      |gz AS (SELECT g, count(*)::BIGINT AS n, sum(z)::BIGINT AS sz,
      |         sum(z * z)::BIGINT AS ssz FROM z GROUP BY g),
      |t AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn,
      |        sum(sz)::BIGINT AS tz FROM gz),
      |p AS (SELECT
      |    sum(n::DOUBLE * pow(sz::DOUBLE / n::DOUBLE
      |      - tz::DOUBLE / nn::DOUBLE, 2.0)) AS ssb,
      |    sum(ssz::DOUBLE - sz::DOUBLE * sz::DOUBLE / n::DOUBLE) AS ssw
      |  FROM gz CROSS JOIN t)
      |SELECT t.k, t.nn AS n, t.tz,
      |  round(((t.nn - t.k)::DOUBLE / (t.k - 1)::DOUBLE) * p.ssb / p.ssw,
      |    6) AS w
      |FROM p CROSS JOIN t""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val v = Tables.eventsUs(spark, dir)
      .select($"event_type".as("g"),
        round($"value" * 100, 0).cast("bigint").as("x"))
    val m = v.groupBy($"g")
      .agg(count(lit(1)).cast("bigint").as("n"), sum($"x").cast("bigint").as("s"))
    val c = m.select($"g", expr("(2 * s + n) div (2 * n)").as("ctr"))
    val gz = v.join(broadcast(c), "g")
      .select($"g", abs($"x" - $"ctr").cast("bigint").as("z"))
      .groupBy($"g")
      .agg(count(lit(1)).cast("bigint").as("n"), sum($"z").cast("bigint").as("sz"),
        sum($"z" * $"z").cast("bigint").as("ssz"))
    val t = gz.agg(count(lit(1)).cast("bigint").as("k"),
      sum($"n").cast("bigint").as("nn"), sum($"sz").cast("bigint").as("tz"))
    val p = gz.crossJoin(broadcast(t))
      .agg(
        sum($"n".cast("double") * pow($"sz".cast("double") / $"n".cast("double")
          - $"tz".cast("double") / $"nn".cast("double"), 2.0)).as("ssb"),
        sum($"ssz".cast("double")
          - $"sz".cast("double") * $"sz".cast("double") / $"n".cast("double"))
          .as("ssw"))
    p.crossJoin(broadcast(t))
      .select($"k", $"nn".as("n"), $"tz",
        round((($"nn" - $"k").cast("double") / ($"k" - 1).cast("double"))
          * $"ssb" / $"ssw", 6).as("w"))
  }

  // d35 — CALENDAR-LAG AUTOCORRELATION of the daily revenue series
  // (the seasonality probe an analyst runs before h24's profile or
  // h16's EWMA smoothing: "does yesterday predict today?"). Pairs are
  // (day, day−k) for k ∈ {1,2,3}, joined by CALENDAR date — gap days
  // simply produce no pair (n_pairs reported so the reader sees the
  // coverage). Exactness: daily revenue is an exact cents BIGINT; the
  // deviation n·r−S stays integral (scaled by n so no float mean
  // appears), and products/sums run in DECIMAL(38,0)/HUGEINT — both
  // engines exact int128-class arithmetic — so ρ's numerator and
  // denominator are bit-identical before the one final double divide.
  // Shape at scale: the series is one day-grain aggregate (tiny), the
  // lag join is an equi-join on the precomputed shifted date — never a
  // theta join or a single-partition global window.
  private val d35 = graded(
    "d35_autocorr",
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS r
      |  FROM orders GROUP BY 1),
      |t AS (SELECT count(*)::BIGINT AS n, sum(r)::BIGINT AS s FROM daily),
      |dev AS (SELECT d, (t.n * r - t.s)::HUGEINT AS e
      |        FROM daily CROSS JOIN t),
      |den AS (SELECT sum(e * e)::HUGEINT AS den FROM dev),
      |lagged AS (SELECT b.d + l.k AS dk, l.k, b.e AS eb
      |           FROM dev b CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) l),
      |pr AS (SELECT lg.k, count(*)::BIGINT AS n_pairs,
      |         sum(a.e * lg.eb)::HUGEINT AS num
      |       FROM dev a JOIN lagged lg ON a.d = lg.dk
      |       GROUP BY lg.k)
      |SELECT pr.k, pr.n_pairs,
      |  round(pr.num::DOUBLE / den.den::DOUBLE, 6) AS rho
      |FROM pr CROSS JOIN den ORDER BY pr.k""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(sum(round($"o_totalprice" * 100, 0).cast("bigint"))
        .cast("bigint").as("r"))
    val t = daily.agg(count(lit(1)).cast("bigint").as("n"),
      sum($"r").cast("bigint").as("s"))
    val dev = daily.crossJoin(broadcast(t))
      .select($"d", ($"n" * $"r" - $"s").cast("decimal(19,0)").as("e"))
    val den = dev.agg(sum($"e" * $"e").as("den"))
    val lagged = dev.crossJoin(broadcast(Seq(1, 2, 3).toDF("k")))
      .select(date_add($"d", $"k").as("dk"), $"k", $"e".as("eb"))
    val pr = dev.join(lagged, dev("d") === lagged("dk"))
      .groupBy($"k")
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        sum(dev("e") * $"eb").as("num"))
    pr.crossJoin(broadcast(den))
      .select($"k", $"n_pairs",
        round($"num".cast("double") / $"den".cast("double"), 6).as("rho"))
      .orderBy($"k")
  }

  // d36 — WINSORIZED + TRIMMED MEAN per return flag (the robust-location
  // companion to d18's MAD outlier flags: the same heavy tails that make
  // a plain mean lie are clamped at p05/p95 instead of dropped, and both
  // robust means are reported side by side). Determinism: values are
  // exact cents; the p05/p95 bounds are the d7-proven interpolated
  // percentile ROUNDED to 6dp in both engines before any comparison, so
  // the in/below/above partition of rows is engine-identical; the
  // winsorized mean is then reassembled from EXACT pieces —
  // (Σ_in x + n_lo·lo + n_hi·hi)/n — never a 20k-row double sum whose
  // accumulation order could drift past the 6dp verdict.
  // Shape at scale: one percentile aggregate per flag (3 rows) broadcast
  // back onto the fact scan — single shuffle, no sort, no window.
  private val d36 = graded(
    "d36_winsorized",
    """WITH v AS (
      |  SELECT l_returnflag AS f,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x
      |  FROM lineitem),
      |b AS (SELECT f, count(*)::BIGINT AS n,
      |        round(quantile_cont(x, 0.05), 6) AS lo,
      |        round(quantile_cont(x, 0.95), 6) AS hi
      |      FROM v GROUP BY f),
      |s AS (SELECT v.f,
      |        sum(CASE WHEN v.x::DOUBLE >= b.lo AND v.x::DOUBLE <= b.hi
      |              THEN v.x ELSE 0 END)::BIGINT AS s_in,
      |        sum(CASE WHEN v.x::DOUBLE >= b.lo AND v.x::DOUBLE <= b.hi
      |              THEN 1 ELSE 0 END)::BIGINT AS n_in,
      |        sum(CASE WHEN v.x::DOUBLE < b.lo THEN 1 ELSE 0 END)::BIGINT
      |          AS n_lo,
      |        sum(CASE WHEN v.x::DOUBLE > b.hi THEN 1 ELSE 0 END)::BIGINT
      |          AS n_hi
      |      FROM v JOIN b USING (f) GROUP BY v.f)
      |SELECT s.f AS l_returnflag, b.n, b.lo, b.hi, s.n_lo, s.n_hi,
      |  round((s.s_in::DOUBLE + s.n_lo::DOUBLE * b.lo + s.n_hi::DOUBLE * b.hi)
      |    / b.n::DOUBLE, 6) AS win_mean,
      |  round(s.s_in::DOUBLE / s.n_in::DOUBLE, 6) AS trim_mean
      |FROM s JOIN b USING (f) ORDER BY l_returnflag""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val v = Tables.lineitem(spark, dir)
      .select($"l_returnflag".as("f"),
        round($"l_extendedprice" * 100, 0).cast("bigint").as("x"))
    val b = v.groupBy($"f")
      .agg(count(lit(1)).cast("bigint").as("n"),
        round(expr("percentile(x, 0.05)"), 6).as("lo"),
        round(expr("percentile(x, 0.95)"), 6).as("hi"))
    val in = $"x".cast("double") >= $"lo" && $"x".cast("double") <= $"hi"
    val s = v.join(broadcast(b.select($"f", $"lo", $"hi")), "f")
      .groupBy($"f")
      .agg(sum(when(in, $"x").otherwise(0L)).cast("bigint").as("s_in"),
        sum(when(in, 1).otherwise(0)).cast("bigint").as("n_in"),
        sum(when($"x".cast("double") < $"lo", 1).otherwise(0))
          .cast("bigint").as("n_lo"),
        sum(when($"x".cast("double") > $"hi", 1).otherwise(0))
          .cast("bigint").as("n_hi"))
    s.join(broadcast(b), "f")
      .select($"f".as("l_returnflag"), $"n", $"lo", $"hi", $"n_lo", $"n_hi",
        round(($"s_in".cast("double") + $"n_lo".cast("double") * $"lo"
          + $"n_hi".cast("double") * $"hi") / $"n".cast("double"), 6)
          .as("win_mean"),
        round($"s_in".cast("double") / $"n_in".cast("double"), 6)
          .as("trim_mean"))
      .orderBy($"l_returnflag")
  }

  // d37 — MEDIAN-OF-MEANS robust estimator over 32 deterministic shards
  // (the heavy-tail-tolerant mean a 1000-executor job computes with NO
  // driver-side data: each shard reduces to one exact-integer state,
  // the median runs over 32 numbers). Shards are o_orderkey % 32 — a
  // declared, engine-portable partition, NOT an engine hash function
  // (Spark's Murmur3 and DuckDB's hash would never agree). Each shard
  // mean is an exact-cents S/n ratio; the interpolated median over 32
  // identical doubles is engine-stable (d7's proven percentile), and
  // the plain mean rides along for the robustness delta readers want.
  private val d37 = graded(
    "d37_median_of_means",
    """WITH v AS (
      |  SELECT o_orderkey % 32 AS shard,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x
      |  FROM orders),
      |sh AS (SELECT shard, count(*)::BIGINT AS n, sum(x)::BIGINT AS s
      |       FROM v GROUP BY shard),
      |mm AS (SELECT count(*)::BIGINT AS n_shards,
      |         round(quantile_cont(s::DOUBLE / n::DOUBLE, 0.5), 6) AS mom
      |       FROM sh),
      |pm AS (SELECT round(sum(s)::DOUBLE / sum(n)::DOUBLE, 6) AS plain_mean
      |       FROM sh)
      |SELECT mm.n_shards, mm.mom, pm.plain_mean,
      |  round(mm.mom - pm.plain_mean, 6) AS robust_delta
      |FROM mm CROSS JOIN pm""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val sh = Tables.orders(spark, dir)
      .select(($"o_orderkey" % 32).as("shard"),
        round($"o_totalprice" * 100, 0).cast("bigint").as("x"))
      .groupBy($"shard")
      .agg(count(lit(1)).cast("bigint").as("n"), sum($"x").cast("bigint").as("s"))
    val mm = sh.agg(count(lit(1)).cast("bigint").as("n_shards"),
      round(expr("percentile(cast(s as double) / cast(n as double), 0.5)"), 6)
        .as("mom"))
    val pm = sh.agg(
      round(sum($"s").cast("double") / sum($"n").cast("double"), 6)
        .as("plain_mean"))
    mm.crossJoin(pm)
      .select($"n_shards", $"mom", $"plain_mean",
        round($"mom" - $"plain_mean", 6).as("robust_delta"))
  }

  // d38 — Q–Q DECILE TABLE between the two d31 halves (the
  // distribution-shape companion to d30's KS verdict: WHERE do the two
  // samples diverge, not just whether): deciles 10..90 of exact cents
  // per side, long form with per-decile gaps. The percentile arrays are
  // the d7-proven interpolated quantiles rounded to 6dp before the
  // diff; posexplode gives the decile index on the Spark side, and the
  // oracle indexes its quantile array with a generate_series(1, 9) spine
  // (DuckDB 1.0.0 has no unnest WITH ORDINALITY — DialectNotes). One
  // aggregate per side over the sort-free percentile sketch path — no
  // global sort.
  private val d38 = graded(
    "d38_qq_deciles",
    """WITH v AS (
      |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x,
      |    (l_orderkey % 2)::INT AS side
      |  FROM lineitem),
      |ds AS (SELECT unnest(generate_series(1, 9)) AS d),
      |q0 AS (
      |  SELECT ds.d, t.qs[ds.d] AS qv
      |  FROM (SELECT quantile_cont(x,
      |      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      |    FROM v WHERE side = 0) t CROSS JOIN ds),
      |q1 AS (
      |  SELECT ds.d, t.qs[ds.d] AS qv
      |  FROM (SELECT quantile_cont(x,
      |      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      |    FROM v WHERE side = 1) t CROSS JOIN ds)
      |SELECT (q0.d * 10)::INT AS decile,
      |  round(q0.qv, 6) AS q_even, round(q1.qv, 6) AS q_odd,
      |  round(round(q1.qv, 6) - round(q0.qv, 6), 6) AS gap
      |FROM q0 JOIN q1 ON q0.d = q1.d
      |ORDER BY decile""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val v = Tables.lineitem(spark, dir)
      .select(round($"l_extendedprice" * 100, 0).cast("bigint").as("x"),
        ($"l_orderkey" % 2).cast("int").as("side"))
    def qs(side: Int) = v.where($"side" === side)
      .agg(expr(
        "percentile(x, array(0.1d,0.2d,0.3d,0.4d,0.5d,0.6d,0.7d,0.8d,0.9d))")
        .as("qs"))
      .select(posexplode($"qs").as(Seq("i", "qv")))
    val q0 = qs(0).select((($"i" + 1) * 10).cast("int").as("decile"),
      round($"qv", 6).as("q_even"))
    val q1 = qs(1).select((($"i" + 1) * 10).cast("int").as("decile"),
      round($"qv", 6).as("q_odd"))
    q0.join(q1, "decile")
      .select($"decile", $"q_even", $"q_odd",
        round($"q_odd" - $"q_even", 6).as("gap"))
      .orderBy($"decile")
  }

  // d39 — WALD–WOLFOWITZ RUNS TEST on the signs of day-over-day revenue
  // changes (the randomness audit that pairs with d35: autocorrelation
  // asks "how much does yesterday predict today", the runs test asks
  // "is the up/down sequence even random?"). The sign sequence comes
  // from exact cents differences over the calendar-lag-1 equi-join
  // (d35's machinery — no global window over the fact table); a RUN
  // boundary is a sign change between CALENDAR-consecutive change pairs
  // (a.d = b.d + 1), counted exactly, and zero-change days are excluded.
  // NOTE this is a calendar-adjacency VARIANT of the Wald–Wolfowitz
  // test, not the classical formulation: classical runs count breaks
  // between SEQUENCE-consecutive signs (so a gap day does not sever a
  // run), whereas here a missing calendar day drops its pair from the
  // break count. Same z formula over (np, nm, runs); the variant is
  // deliberate — it keeps the break join an equi-join, never a global
  // sequence window. Only the final z is floating point (one fixed IEEE
  // tree over exact integers, d31's rule).
  private val d39 = graded(
    "d39_runs_test",
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS r
      |  FROM orders GROUP BY 1),
      |chg AS (
      |  SELECT a.d, CASE WHEN a.r > b.r THEN 1 ELSE -1 END AS sgn
      |  FROM daily a JOIN daily b ON a.d = b.d + 1
      |  WHERE a.r <> b.r),
      |pairs AS (
      |  SELECT a.sgn AS s1, b.sgn AS s2
      |  FROM chg a JOIN chg b ON a.d = b.d + 1),
      |t AS (
      |  SELECT (SELECT count(*) FROM chg WHERE sgn = 1)::BIGINT AS np,
      |    (SELECT count(*) FROM chg WHERE sgn = -1)::BIGINT AS nm,
      |    (SELECT count(*) FROM pairs WHERE s1 <> s2)::BIGINT AS breaks)
      |SELECT np, nm, (breaks + 1)::BIGINT AS n_runs,
      |  round(1.0 + 2.0 * np * nm / (np + nm), 6) AS expected_runs,
      |  round(((breaks + 1)::DOUBLE
      |      - (1.0 + 2.0 * np * nm / (np + nm)))
      |    / sqrt(2.0 * np * nm * (2.0 * np * nm - np - nm)
      |      / ((np + nm) * (np + nm) * (np + nm - 1))), 6) AS z
      |FROM t""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(sum(round($"o_totalprice" * 100, 0).cast("bigint"))
        .cast("bigint").as("r"))
    val prev = daily.select(date_add($"d", 1).as("d"), $"r".as("rp"))
    val chg = daily.join(prev, "d")
      .where($"r" =!= $"rp")
      .select($"d", when($"r" > $"rp", 1).otherwise(-1).as("sgn"))
    val chgPrev = chg.select(date_add($"d", 1).as("d"), $"sgn".as("sp"))
    val breaks = chg.join(chgPrev, "d")
      .agg(sum(when($"sgn" =!= $"sp", 1).otherwise(0)).cast("bigint")
        .as("breaks"))
    val counts = chg.agg(
      sum(when($"sgn" === 1, 1).otherwise(0)).cast("bigint").as("np"),
      sum(when($"sgn" === -1, 1).otherwise(0)).cast("bigint").as("nm"))
    counts.crossJoin(broadcast(breaks))
      .select($"np", $"nm", ($"breaks" + 1).cast("bigint").as("n_runs"),
        round(lit(1.0) + lit(2.0) * $"np" * $"nm" / ($"np" + $"nm"), 6)
          .as("expected_runs"),
        round((($"breaks" + 1).cast("double")
            - (lit(1.0) + lit(2.0) * $"np" * $"nm" / ($"np" + $"nm")))
          / sqrt(lit(2.0) * $"np" * $"nm"
              * (lit(2.0) * $"np" * $"nm" - $"np" - $"nm")
            / (($"np" + $"nm") * ($"np" + $"nm") * ($"np" + $"nm" - 1))), 6)
          .as("z"))
  }

  // d40 — THEIL INDEX + MEAN LOG DEVIATION of per-customer spend within
  // each market segment (the DECOMPOSABLE inequality measures g65's Gini
  // is not: Theil T splits exactly into within/between-group terms, so a
  // 100 TB mix report can attribute inequality to segments). Spend is
  // the exact-cents per-customer sum; the only floats are the ≤|segment|
  // log terms (x/μ from exact ints), summed and rounded 6 (d33's
  // discipline). Customers with zero spend are excluded (ln 0): stated
  // in both engines identically. Two shuffles: custkey agg, then
  // segment agg with the 1-row-per-segment mean broadcast back.
  private val d40 = graded(
    "d40_theil_inequality",
    """WITH spend AS (
      |  SELECT c.c_mktsegment AS seg, o.o_custkey,
      |    sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))::BIGINT AS x
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |m AS (SELECT seg, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx
      |      FROM spend WHERE x > 0 GROUP BY seg)
      |SELECT m.seg, m.n,
      |  round(sum((s.x::DOUBLE / m.sx::DOUBLE)
      |    * ln(s.x::DOUBLE * m.n::DOUBLE / m.sx::DOUBLE)), 6) AS theil_t,
      |  round(sum(ln(m.sx::DOUBLE / (s.x::DOUBLE * m.n::DOUBLE)))
      |    / m.n::DOUBLE, 6) AS mld
      |FROM spend s JOIN m ON s.seg = m.seg
      |WHERE s.x > 0
      |GROUP BY m.seg, m.n, m.sx
      |ORDER BY m.seg""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val spend = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment")), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("seg"), $"o_custkey")
      .agg(sum(round($"o_totalprice" * 100, 0).cast("bigint"))
        .cast("bigint").as("x"))
      .where($"x" > 0)
    val m = spend.groupBy($"seg")
      .agg(count(lit(1)).cast("bigint").as("n"), sum($"x").cast("bigint").as("sx"))
    spend.join(broadcast(m), "seg")
      .groupBy($"seg", $"n", $"sx")
      .agg(
        round(sum(($"x".cast("double") / $"sx".cast("double"))
          * log($"x".cast("double") * $"n".cast("double")
            / $"sx".cast("double"))), 6).as("theil_t"),
        round(sum(log($"sx".cast("double")
            / ($"x".cast("double") * $"n".cast("double"))))
          / $"n".cast("double"), 6).as("mld"))
      .select($"seg", $"n", $"theil_t", $"mld")
      .orderBy($"seg")
  }

  // d41 — HERFINDAHL–HIRSCHMAN CONCENTRATION per nation: is a nation's
  // order revenue spread across many customers or captured by a few?
  // (the market-structure companion to d40's inequality indices: HHI is
  // the regulator's number — Σ share², 1/HHI ≈ effective competitor
  // count.) Shares come from exact cents; the Σ share² sum is ≤
  // customers-per-nation doubles of magnitude ≤1 (d33's rounding
  // discipline), and the effective-n reciprocal is one extra divide.
  // Two shuffles: custkey spend agg, nation rollup with the per-nation
  // total broadcast back.
  private val d41 = graded(
    "d41_hhi_concentration",
    """WITH spend AS (
      |  SELECT c.c_nationkey AS nk, o.o_custkey,
      |    sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))::BIGINT AS x
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |t AS (SELECT nk, count(*)::BIGINT AS n_cust, sum(x)::BIGINT AS sx
      |      FROM spend GROUP BY nk)
      |SELECT n.n_name, t.n_cust,
      |  round(sum(pow(s.x::DOUBLE / t.sx::DOUBLE, 2.0)), 6) AS hhi,
      |  round(1.0 / sum(pow(s.x::DOUBLE / t.sx::DOUBLE, 2.0)), 6)
      |    AS effective_n
      |FROM spend s JOIN t ON s.nk = t.nk
      |JOIN nation n ON n.n_nationkey = s.nk
      |GROUP BY n.n_name, t.n_cust
      |ORDER BY n.n_name""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val spend = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey".as("nk"), $"o_custkey")
      .agg(sum(round($"o_totalprice" * 100, 0).cast("bigint"))
        .cast("bigint").as("x"))
    val t = spend.groupBy($"nk")
      .agg(count(lit(1)).cast("bigint").as("n_cust"),
        sum($"x").cast("bigint").as("sx"))
    spend.join(broadcast(t), "nk")
      .join(broadcast(Tables.nation(spark, dir)), $"n_nationkey" === $"nk")
      .groupBy($"n_name", $"n_cust")
      .agg(
        round(sum(pow($"x".cast("double") / $"sx".cast("double"), 2.0)), 6)
          .as("hhi"),
        round(lit(1.0)
          / sum(pow($"x".cast("double") / $"sx".cast("double"), 2.0)), 6)
          .as("effective_n"))
      .select($"n_name", $"n_cust", $"hhi", $"effective_n")
      .orderBy($"n_name")
  }

  // d42 — QUANTITY-WEIGHTED CORRELATION between unit price and discount
  // per return flag (d19's corr treats a 1-unit and a 50-unit line item
  // as equal evidence; procurement questions weight by volume). The
  // five weighted sums (Σw, Σwx, Σwy, Σwx², Σwy², Σwxy) accumulate in
  // HUGEINT/DECIMAL(38,0) — wx² exceeds int64 at corpus scale, and
  // Spark's non-ANSI bigint arithmetic would wrap silently — then the
  // exact sums convert to doubles (same value both engines: each is a
  // single exact integer) and r is one fixed IEEE tree, rounded 6.
  private val d42 = graded(
    "d42_weighted_corr",
    """WITH v AS (
      |  SELECT l_returnflag AS f, l_quantity::HUGEINT AS w,
      |    CAST(round(l_extendedprice * 100, 0) AS HUGEINT) AS x,
      |    CAST(round(l_discount * 100, 0) AS HUGEINT) AS y
      |  FROM lineitem),
      |s AS (SELECT f, sum(w) AS sw, sum(w * x) AS swx, sum(w * y) AS swy,
      |        sum(w * x * x) AS swx2, sum(w * y * y) AS swy2,
      |        sum(w * x * y) AS swxy
      |      FROM v GROUP BY f)
      |SELECT f AS l_returnflag, sw::DOUBLE AS total_qty,
      |  round((sw::DOUBLE * swxy::DOUBLE - swx::DOUBLE * swy::DOUBLE)
      |    / sqrt((sw::DOUBLE * swx2::DOUBLE - swx::DOUBLE * swx::DOUBLE)
      |      * (sw::DOUBLE * swy2::DOUBLE - swy::DOUBLE * swy::DOUBLE)),
      |    6) AS wcorr
      |FROM s ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val dec19 = "decimal(19,0)"
    val v = Tables.lineitem(spark, dir)
      .select($"l_returnflag".as("f"),
        $"l_quantity".cast(dec19).as("w"),
        round($"l_extendedprice" * 100, 0).cast(dec19).as("x"),
        round($"l_discount" * 100, 0).cast(dec19).as("y"))
    v.groupBy($"f")
      .agg(sum($"w").as("sw"), sum($"w" * $"x").as("swx"),
        sum($"w" * $"y").as("swy"),
        sum($"w" * $"x" * $"x").as("swx2"),
        sum($"w" * $"y" * $"y").as("swy2"),
        sum($"w" * $"x" * $"y").as("swxy"))
      .select($"f".as("l_returnflag"), $"sw".cast("double").as("total_qty"),
        round(($"sw".cast("double") * $"swxy".cast("double")
            - $"swx".cast("double") * $"swy".cast("double"))
          / sqrt(($"sw".cast("double") * $"swx2".cast("double")
              - $"swx".cast("double") * $"swx".cast("double"))
            * ($"sw".cast("double") * $"swy2".cast("double")
              - $"swy".cast("double") * $"swy".cast("double"))), 6)
          .as("wcorr"))
      .orderBy($"l_returnflag")
  }

  /** Misra–Gries summary over one partition's stream: the ≤ k keys whose
    * residual counters survive the decrement-all discipline. The classic
    * guarantee, proved in `PropertySpec`: any item with partition
    * frequency > n_p/(k+1) is ALWAYS among the survivors (each
    * decrement-all event consumes k+1 occurrence credits — the arriving
    * untracked item plus one from each tracked key — so fewer than
    * n_p/(k+1) such events can happen, and an item must be decremented
    * more times than its own count to vanish). Amortized O(n_p): the
    * O(k) decrement sweep runs at most n_p/(k+1) times. d43's map-side
    * kernel, factored for direct property testing.
    */
  private[graft] def misraGriesKeys(it: Iterator[String],
      k: Int): Iterator[String] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { w =>
      m.get(w) match {
        case Some(c) => m.update(w, c + 1)
        case None if m.size < k => m.update(w, 1L)
        case None =>
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          m.foreachEntry((kk, c) =>
            if (c == 1L) { dead += kk } else m.update(kk, c - 1))
          dead.foreach(m.remove)
      }
    }
    m.keysIterator
  }

  // d43 — HEAVY HITTERS, the sketch-narrowed exact top report (the thing
  // a 100 TB skew monitor pages on — r12's sketch-backed sibling, and the
  // d16 count-min family's TOP-K face): all tokens with corpus frequency
  // > N/200, found WITHOUT a full-vocabulary shuffle. Two stages:
  // (1) map-side Misra–Gries (k=200) per partition — if an item's global
  // count exceeds N/200 then by pigeonhole some partition has it above
  // n_p/200 > n_p/201, so the per-partition summaries jointly have NO
  // FALSE NEGATIVES (PropertySpec pins the law on the factored kernel);
  // (2) exact counts for the ≤ 200×partitions candidates only — the
  // candidate set broadcasts, so the only token-volume shuffle is the
  // partial-agg'd candidate count. The final exact HAVING makes the
  // output EXACTLY the true heavy-hitter set (sketch for candidates,
  // exact arithmetic for the answer — which is why this key is graded,
  // not bench-only). Scale: candidate list ≤ k × partitions rows (a few
  // KB), total-count is one map-side agg; nothing driver-side but the
  // two one-row/bounded broadcasts.
  private val d43 = graded(
    "d43_heavy_hitters",
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |n AS (SELECT count(*)::BIGINT AS n_tok FROM tok)
      |SELECT token, count(*)::BIGINT AS cnt
      |FROM tok, n
      |GROUP BY token, n.n_tok
      |HAVING count(*) * 200 > n.n_tok
      |ORDER BY cnt DESC, token""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val k = 200
    val toks = Tokens.docWords(Tables.documentsDist(spark, dir), "token", Nil)
    // the total token count rides the SAME pass as the sketch (a wrapped
    // counting iterator + one (null, n_p) row per partition), so the
    // corpus is scanned exactly TWICE — once for the sketch, once for
    // the exact candidate counts — never a third time for the total.
    // The summary table is ≤ k×partitions + partitions rows: persisting
    // it costs KB and lets candidates and total derive without rerunning
    // the sketch pass.
    val mg = toks.as[String]
      .mapPartitions { it =>
        var n = 0L
        val counted = it.map { w => n += 1; w }
        val keys = misraGriesKeys(counted, k).toArray
        Iterator((null: String, n)) ++ keys.iterator.map(t => (t, -1L))
      }
      .toDF("token", "c").persist()
    val cands = mg.where($"c" === -1L).select($"token").distinct()
    val total = mg.where($"c" >= 0L)
      .agg(sum($"c").cast("bigint").as("n_tok"))
    toks.join(broadcast(cands), "token")
      .groupBy($"token")
      .agg(count(lit(1)).cast("bigint").as("cnt"))
      .crossJoin(broadcast(total))
      .where($"cnt" * k > $"n_tok")
      .select($"token", $"cnt")
      .orderBy($"cnt".desc, $"token")
  }

  // d45 — DETERMINISTIC POISSON-BOOTSTRAP CI for the mean: the
  // resampling scheme that actually runs at 100 TB. Classical bootstrap
  // draws n rows WITH replacement per resample — a global operation no
  // map-side pass can do — but for large n the multiplicity of any row
  // in a resample is Poisson(1), so per (row, b) an independent
  // Poisson(1) weight reproduces the bootstrap distribution map-side
  // (the standard large-scale substitution, e.g. Chamandy et al.,
  // "Estimating uncertainty for massive data streams"). The RNG is the
  // g25/g78 hash rule: u = first-8-md5-hex(o_orderkey:b)/2³², identical
  // in both engines, so every weight — and therefore the whole CI — is
  // bit-reproducible cross-engine (a bootstrap that cannot be rerun
  // identically is an un-auditable error bar). Weights map u through the
  // Poisson(1) CDF steps (capped at 5, CDF 0.9994); sums are exact
  // integer cents (h1's rule) so per-resample means are bit-identical
  // doubles. The CI uses ORDER STATISTICS (5th/196th of 200 sorted
  // means — rank-based, no interpolation hazard), tie-broken by b.
  // Scale shape: the ×200 explode never leaves the scan stage — partial
  // aggregation collapses it to 200×partitions rows before the one
  // shuffle; the 200-row mean table then sorts on a single partition.
  private val d45 = graded(
    "d45_bootstrap_ci", {
      val u = graft.pipeline.Dedup.duckHex8At(
        "md5(o_orderkey::VARCHAR || ':' || b.b::VARCHAR)", 1)
      s"""WITH b AS (SELECT unnest(generate_series(0, 199)) AS b),
      |w AS (
      |  SELECT b.b,
      |    CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents,
      |    CASE WHEN ($u) / 4294967296.0 < 0.36787944117144233 THEN 0
      |         WHEN ($u) / 4294967296.0 < 0.7357588823428847 THEN 1
      |         WHEN ($u) / 4294967296.0 < 0.9196986029286058 THEN 2
      |         WHEN ($u) / 4294967296.0 < 0.9810118431238462 THEN 3
      |         WHEN ($u) / 4294967296.0 < 0.9963401531726563 THEN 4
      |         ELSE 5 END AS w
      |  FROM orders o CROSS JOIN b),
      |m AS (
      |  SELECT b, round(sum(w * cents)::DOUBLE / sum(w)::DOUBLE, 6)
      |    AS mean_cents
      |  FROM w GROUP BY b),
      |r AS (
      |  SELECT b, mean_cents,
      |    row_number() OVER (ORDER BY mean_cents, b) AS rk
      |  FROM m),
      |pt AS (
      |  SELECT round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::DOUBLE
      |      / count(*)::DOUBLE, 6) AS mean_cents
      |  FROM orders)
      |SELECT 200::BIGINT AS n_resamples, pt.mean_cents,
      |  (SELECT mean_cents FROM r WHERE rk = 5) AS ci_lo_cents,
      |  (SELECT mean_cents FROM r WHERE rk = 196) AS ci_hi_cents
      |FROM pt""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val cents = round($"o_totalprice" * 100, 0).cast("bigint")
    // single-file corpus fixup (Tables.documentsDist's rationale): the
    // one-row-group orders scan would serialize the ×200 explode and its
    // 200·n md5 evaluations onto one core — measured 29.8 s at sf0.1 vs
    // 9.2 s on the SAME query over a multi-file 8× corpus. A ~MB
    // repartition buys full-core parallelism for the resample pipeline.
    val raw = Tables.apply(spark, dir, "orders")
    val orders = raw
      .repartition(spark.sparkContext.defaultParallelism, raw("o_orderkey"))
      .select($"o_orderkey", cents.as("cents"))
    val u = conv(substring(md5(concat($"o_orderkey".cast("string"),
      lit(":"), $"b".cast("string"))), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val w = when(u < 0.36787944117144233, 0)
      .when(u < 0.7357588823428847, 1)
      .when(u < 0.9196986029286058, 2)
      .when(u < 0.9810118431238462, 3)
      .when(u < 0.9963401531726563, 4)
      .otherwise(5)
    val m = orders
      .withColumn("b", explode(sequence(lit(0), lit(199))))
      .withColumn("w", w)
      .groupBy($"b")
      .agg(round(sum($"w" * $"cents").cast("double")
        / sum($"w").cast("double"), 6).as("mean_cents"))
    val r = m.withColumn("rk", row_number().over(
      Window.orderBy($"mean_cents", $"b")))
    val ci = r.where($"rk" === 5 || $"rk" === 196)
      .agg(min(when($"rk" === 5, $"mean_cents")).as("ci_lo_cents"),
        min(when($"rk" === 196, $"mean_cents")).as("ci_hi_cents"))
    val pt = orders.agg(
      round(sum($"cents").cast("double") / count(lit(1)).cast("double"), 6)
        .as("mean_cents"))
    pt.crossJoin(broadcast(ci))
      .select(lit(200L).as("n_resamples"), $"mean_cents",
        $"ci_lo_cents", $"ci_hi_cents")
  }

  // d44 — MERGEABLE QUANTILE SKETCH (bench-only): d20's two-level HLL
  // union-merge pattern applied to quantiles — the 100 TB dashboard
  // shape where per-shard/per-group sketches are built ONCE and any
  // rollup (group, region, corpus) is a cheap merge of summaries, never
  // a re-scan. Sketch = Spark's own Greenwald–Khanna summary
  // (catalyst QuantileSummaries, the approx_percentile machinery) built
  // per partition per group in one pass, merged per group (level 1),
  // then the ≤33-row group sketches merged corpus-wide (level 2). The
  // GK merge preserves the ε rank bound, so the merged corpus quantiles
  // are within ε·N ranks of exact — the law PropertySpec asserts against
  // d7's exact percentiles; no DuckDB oracle because insertion order
  // perturbs which ±ε·N-valid sample the sketch returns (the d9/d11
  // precedent). Output: one row per group + one MERGED corpus row.
  private val d44 = benchOnly("d44_quantile_merge") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.catalyst.util.QuantileSummaries
    val eps = 0.01
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    implicit val enc: org.apache.spark.sql.Encoder[(Long, QuantileSummaries)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.kryo[QuantileSummaries])
    def freshQs() =
      new QuantileSummaries(QuantileSummaries.defaultCompressThreshold, eps)
    // level 1: one sketch per group, each group co-located by an explicit
    // repartition and built over a DETERMINISTIC within-partition order —
    // a GK summary's retained samples depend on insertion/merge order
    // (any order is ε-valid, but the golden regression net pins exact
    // bytes, so the build must be reproducible). A production
    // TypedImperativeAggregate would instead merge per-partition partial
    // sketches in arrival order — same bound, unpinnable bytes.
    val perGroup: Array[(Long, QuantileSummaries)] = Tables.lineitem(spark, dir)
      .select(($"l_partkey" % 32).as("g"), $"l_extendedprice".as("v"))
      .repartition(32, $"g")
      .sortWithinPartitions($"g", $"v")
      .as[(Long, Double)]
      .mapPartitions { it =>
        val m = scala.collection.mutable.LinkedHashMap
          .empty[Long, QuantileSummaries]
        it.foreach { case (g, v) =>
          m.update(g, m.getOrElse(g, freshQs()).insert(v))
        }
        m.iterator.map { case (g, s) => (g, s.compress()) }
      }
      .collect().sortBy(_._1) // ≤ 32 sketches, a few KB each
    // level 2: corpus-wide union-merge of the group sketches (ascending
    // group order — deterministic)
    val merged = perGroup.map(_._2.compress())
      .reduce((a, b) => a.merge(b))
    val rows = perGroup.sortBy(_._1).map { case (g, s) =>
      val v = qs.map(q => s.query(q).getOrElse(Double.NaN))
      (g.toString, s.count, v(0), v(1), v(2), v(3))
    } :+ {
      val v = qs.map(q => merged.query(q).getOrElse(Double.NaN))
      ("MERGED", merged.count, v(0), v(1), v(2), v(3))
    }
    spark.createDataFrame(rows.toSeq)
      .toDF("scope", "n", "p25", "p50", "p75", "p95")
      .orderBy($"scope")
  }

  // d47 — GK SKETCHES INSIDE THE AGGREGATE TREE (bench-only): d44's
  // driver-side merge made production-shaped via the custom
  // TypedImperativeAggregate pair [[graft.functions.GkSketch]] —
  // per-group builds plan as ONE two-phase ObjectHashAggregate (partial
  // buffers per partition, merge in final; no collect anywhere), and the
  // corpus rollup is a SECOND aggregate consuming the group sketches'
  // binaries (`gk_merge`), i.e. rollups compose in SQL at any nesting
  // (group → region → corpus) without re-scanning data. Same output
  // shape and ε law as d44 (PropertySpec asserts the ±ε·N rank bound for
  // BOTH); bench-only for d44's reason — retained samples are
  // insertion-order-dependent, so no DuckDB twin exists. Golden-pinned
  // bytes come from the same determinism discipline: group key
  // repartition + within-partition sort fixes partial order, and the
  // rollup merges the ≤32 group sketches in a single sorted partition.
  private val d47 = benchOnly("d47_gk_sketch_agg") { (spark, dir) =>
    import spark.implicits._
    graft.functions.GkSketch.register(spark)
    val qcols = Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75",
      0.95 -> "p95")
    val li = Tables.lineitem(spark, dir)
      .select(($"l_partkey" % 32).as("g"), $"l_extendedprice".as("v"))
      .repartition(32, $"g")
      .sortWithinPartitions($"g", $"v")
    val perGroup = li.groupBy($"g")
      .agg(expr("gk_sketch(v)").as("sk"),
        count(lit(1)).cast("bigint").as("n"))
    val groups = perGroup.select(
      ($"g".cast("string").as("scope") +: $"n" +:
        qcols.map { case (q, c) => expr(s"gk_quantile(sk, ${q}d)").as(c) }): _*)
    // the rollup: merge the ≤32 group sketch binaries — never the data.
    // Single sorted partition = deterministic merge order (d44's rule).
    val merged = perGroup.repartition(1).sortWithinPartitions($"g")
      .agg(expr("gk_merge(sk)").as("sk"), sum($"n").cast("bigint").as("n"))
      .select((lit("MERGED").as("scope") +: $"n" +:
        qcols.map { case (q, c) => expr(s"gk_quantile(sk, ${q}d)").as(c) }): _*)
    groups.unionByName(merged).orderBy($"scope")
  }

  // d48 — EXACT DISTINCT VIA MERGEABLE BITMAPS (Spark 4's bitmap
  // function family): count(DISTINCT) is exact but its state — the
  // value set itself — is unmergeable and must shuffle every distinct
  // value; HLL (d9/d20) is mergeable but approximate. Bitmaps are the
  // third point of the triangle: EXACT and MERGEABLE — each key maps to
  // (bucket = key div 32768, bit = key mod 32768), per-bucket bitmaps
  // OR-merge map-side in constant 4 KB state, and NDV = Σ bitmap_count.
  // This is the incremental-NDV catalog pattern at 100 TB: an a19-style
  // maintained table keeps one bitmap row per bucket, each ingest ORs
  // its delta bitmaps in (no re-scan of history — the merge d2's plain
  // countDistinct fundamentally cannot do), and the dashboard sums
  // popcounts. Dense-id domains (FKs, dictionary codes) fit exactly;
  // sparse/wide domains take a dictionary pass first or fall back to
  // HLL. Oracle: plain COUNT(DISTINCT) — the bitmap path must agree
  // EXACTLY, which is the whole claim.
  private val d48 = QueryDef.graded(
    "d48_bitmap_distinct",
    """SELECT count(DISTINCT o_custkey)::BIGINT AS n_distinct
      |FROM orders""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(expr("bitmap_bucket_number(o_custkey)").as("bkt"),
        expr("bitmap_bit_position(o_custkey)").as("pos"))
      .groupBy($"bkt")
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))
      .agg(sum(expr("bitmap_count(bm)")).cast("bigint").as("n_distinct"))
  }

  // d49 — INCREMENTAL NDV MAINTENANCE over the d48 bitmaps, made real
  // (the composition d48's comment promises, built the way a24 built
  // a19's consumption half): the per-bucket bitmap state table is
  // materialized from the nightly base, the delta batch's bitmaps are
  // OR-merged INTO it — |buckets| rows touched, history NEVER
  // re-scanned — and the exact corpus-lifetime distinct-buyer count is
  // answered FROM THE STATE TABLE as Σ popcount. The property that
  // makes this work where a19's additive merge could not: bitmap OR is
  // IDEMPOTENT, so a customer appearing in both base and delta (or in a
  // replayed batch) counts once — exactly-once NDV without dedup
  // machinery. Oracle recomputes COUNT(DISTINCT) over the whole fact
  // table, so a lost bucket, a double-count, or a merge dropping bits
  // all mismatch; PlanQualitySpec pins that the ANSWER scans the state
  // parquet and never the fact table. At 100 TB this is how a catalog
  // keeps exact NDV per column under continuous ingest: 4 KB per 32k-id
  // bucket of state, O(|delta buckets|) per refresh, O(|buckets|) per
  // read.
  private val d49 = QueryDef.graded(
    "d49_bitmap_ndv_maintain",
    """SELECT count(DISTINCT o_custkey)::BIGINT AS n_distinct
      |FROM orders""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.sources.TxLog
    val table = graft.sources.TmpDirs.fresh("graft_ndv", dir, "bitmaps")
    val split = "1998-01-01"
    def bitmaps(df: org.apache.spark.sql.DataFrame) = df
      .select(expr("bitmap_bucket_number(o_custkey)").as("bkt"),
        expr("bitmap_bit_position(o_custkey)").as("pos"))
      .groupBy($"bkt")
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))
    val orders = Tables.orders(spark, dir)
    // nightly base: the bitmap state table, COMMITTED through the
    // transaction log (r11 verdict item #6: bare v1/v2 parquet dirs had
    // no protocol — now the state table gets a23's commit point, so a
    // REPLAYED refresh is rejected-or-idempotent by protocol, h43's
    // discipline applied to maintained aggregate state; TxLogSpec's
    // replay law pins it)
    val v1 = TxLog.commit(table,
      TxLog.stage(bitmaps(orders.where($"o_orderdate" < lit(split))), table),
      0)
    // ingest: OR the delta's bitmaps into the LOGGED state — the
    // idempotent merge plain countDistinct has no mergeable state for.
    // The refresh REPLACES bucket rows, so it lands as a rewrite commit
    // (a25's compaction shape, not an append).
    val merged = TxLog.read(spark, table, v1)
      .unionByName(bitmaps(orders.where($"o_orderdate" >= lit(split))))
      .groupBy($"bkt")
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
    val v2 = TxLog.commitRewrite(table, TxLog.stage(merged, table), v1)
    // the ANSWER: exact NDV from maintained state, fact table unread
    TxLog.read(spark, table, v2)
      .agg(sum(expr("bitmap_count(bm)")).cast("bigint").as("n_distinct"))
  }

  val defs: Seq[QueryDef] = Seq(d1, d2, d3, d4, d5, d6, d7, d8, d9, d10,
    d11, d12, d13, d14, d15, d16, d17, d18, d19, d20, d21, d22, d23, d24,
    d25, d26, d27, d28, d29, d30, d31, d32, d33, d34, d35, d36, d37, d38,
    d39, d40, d41, d42, d43, d44, d45, d46, d47, d48, d49)
}
