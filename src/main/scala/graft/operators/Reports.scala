package graft.operators

import graft.QueryDef
import graft.QueryDef.graded
import graft.pipeline.Tokens
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** R: composite report queries — the end-to-end shapes a maintenance/
  * analytics user actually schedules (TPC-H-style plans over this corpus's
  * columns: multi-table joins + filtered aggregation + top-k).
  *
  * These exist to grade operator COMPOSITION: scan pruning feeding
  * broadcast dims feeding a fact-fact sort-merge join feeding a hash
  * aggregate feeding TakeOrderedAndProject — each verified individually in
  * categories A–F, here verified end-to-end against the oracle.
  *
  * Scale notes (100 TB): dims (region/nation/customer/supplier) broadcast
  * (auto below the 10 MB threshold, hinted where the planner lacks stats);
  * orders⋈lineitem is the only real shuffle and AQE handles its skew. The
  * date filters push to the parquet scans (PlanQualitySpec pins pushdown
  * on the same scan nodes).
  */
object Reports {

  // R1 — "shipping priority" (TPC-H Q3 shape): segment-filtered customers'
  // unshipped orders, top 10 by accrued revenue. Ordering is on the
  // ROUNDED revenue + unique l_orderkey so the cutoff row is
  // engine-independent.
  private val r1 = graded(
    "r1_report_top_orders",
    """SELECT l_orderkey,
      |  round(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(30,10))), 2)::DOUBLE AS revenue,
      |  o_orderdate, o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-01'
      |  AND l_shipdate > TIMESTAMP '1998-06-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val cut = to_timestamp_ntz(lit("1998-06-01"))
    Tables.customer(spark, dir).where($"c_mktsegment" === "BUILDING")
      .join(Tables.orders(spark, dir).where($"o_orderdate" < cut),
        $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(spark, dir).where($"l_shipdate" > cut),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(round(sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(30,10)")), 2).cast("double").as("revenue"))
      .select($"l_orderkey", $"revenue", $"o_orderdate", $"o_orderpriority")
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  // R2 — "local supplier volume" (TPC-H Q5 shape): revenue by nation for
  // one region-year, where the supplier must sit in the customer's nation
  // (the second equi-condition that makes this a 6-table star-with-a-twist).
  private val r2 = graded(
    "r2_report_region_volume",
    """SELECT n_name,
      |  round(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(30,10))), 2)::DOUBLE AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
          .where($"o_orderdate" >= to_timestamp_ntz(lit("1997-01-01")) &&
            $"o_orderdate" < to_timestamp_ntz(lit("1998-01-01"))),
        $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.supplier(spark, dir)),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(Tables.nation(spark, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir).where($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(round(sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(30,10)")), 2).cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  // R3 — "returned items" (TPC-H Q10 shape): customers who returned goods
  // in a half-year window, top 20 by lost revenue.
  private val r3 = graded(
    "r3_report_returns",
    """SELECT c_custkey, c_name, n_name,
      |  round(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(30,10))), 2)::DOUBLE AS revenue,
      |  round(max(c_acctbal), 2) AS acctbal
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1999-01-01'
      |  AND o_orderdate < TIMESTAMP '1999-07-01'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
          .where($"o_orderdate" >= to_timestamp_ntz(lit("1999-01-01")) &&
            $"o_orderdate" < to_timestamp_ntz(lit("1999-07-01"))),
        $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(spark, dir).where($"l_returnflag" === "R"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name")
      .agg(
        round(sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(30,10)")), 2).cast("double").as("revenue"),
        round(max($"c_acctbal"), 2).as("acctbal"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
  }

  // R4 — "price-quartile revenue mix": which slice of the order book earns
  // the money, per priority class. Composes the round-4 surface end to
  // end: e8's tie-broken ntile quartiles → orders⋈lineitem revenue join →
  // grouped aggregate → e4-style share-of-total window. Every window and
  // shuffle partitions on o_orderpriority (5 classes × quartile = 20-row
  // output at any scale); no global-order operator anywhere.
  private val r4 = graded(
    "r4_report_quartile_revenue",
    """WITH q AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    ntile(4) OVER (PARTITION BY o_orderpriority
      |                   ORDER BY o_totalprice, o_orderkey) AS pq
      |  FROM orders),
      |r AS (
      |  SELECT q.o_orderpriority, q.pq,
      |    count(DISTINCT q.o_orderkey)::BIGINT AS n_orders,
      |    round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
      |      AS DECIMAL(30,10))), 2)::DOUBLE AS revenue
      |  FROM q JOIN lineitem l ON l.l_orderkey = q.o_orderkey
      |  GROUP BY q.o_orderpriority, q.pq)
      |SELECT o_orderpriority, pq, n_orders, revenue,
      |  round(revenue / sum(revenue) OVER (PARTITION BY o_orderpriority), 6)
      |    AS rev_share
      |FROM r
      |ORDER BY o_orderpriority, pq""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val wQ = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    val q = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderpriority",
        ntile(4).over(wQ).as("pq"))
    val wShare = Window.partitionBy($"o_orderpriority")
    q.join(Tables.lineitem(spark, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority", $"pq")
      .agg(countDistinct($"o_orderkey").as("n_orders"),
        round(sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(30,10)")), 2).cast("double")
          .as("revenue"))
      .withColumn("rev_share",
        round($"revenue" / sum($"revenue").over(wShare), 6))
      .orderBy("o_orderpriority", "pq")
  }

  // R5 — year-over-year growth by nation: the time-series trend report
  // (join 4 tables → nation×year revenue → lag window for YoY delta).
  // The growth ratio divides the ROUNDED revenues — two engines summing
  // doubles in different partial-aggregation orders agree at 2dp (the
  // proven d1/r1 convention) but not necessarily in the last ulp, so
  // deriving the 6dp ratio from the rounded operands keeps it
  // deterministic. Window partitions on nation (25 keys × 7 years);
  // dims broadcast; the only big shuffle is the orders⋈lineitem key.
  private val r5 = graded(
    "r5_report_growth",
    """WITH rev AS (
      |  SELECT n.n_name, year(o.o_orderdate) AS yr,
      |    round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
      |      AS DECIMAL(30,10))), 2)::DOUBLE AS revenue
      |  FROM customer c
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN orders o ON o.o_custkey = c.c_custkey
      |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  GROUP BY n.n_name, year(o.o_orderdate))
      |SELECT n_name, yr, revenue,
      |  round((revenue - lag(revenue) OVER w) / lag(revenue) OVER w, 6)
      |    AS yoy_growth
      |FROM rev
      |WINDOW w AS (PARTITION BY n_name ORDER BY yr)
      |ORDER BY n_name, yr""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val rev = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .join(Tables.orders(spark, dir), $"o_custkey" === $"c_custkey")
      .join(Tables.lineitem(spark, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"n_name", year($"o_orderdate").as("yr"))
      .agg(round(sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(30,10)")), 2).cast("double")
        .as("revenue"))
    val w = Window.partitionBy($"n_name").orderBy($"yr")
    rev
      .withColumn("yoy_growth",
        round(($"revenue" - lag($"revenue", 1).over(w))
          / lag($"revenue", 1).over(w), 6))
      .orderBy("n_name", "yr")
  }

  // R6 — corpus-health dashboard per language: doc counts, exact-dup
  // counts, and token/char moments in one pass — the triage report a
  // curation run opens with (g39 is its per-source sibling). Dup
  // detection travels as the 16-byte md5 digest (m4's trick — the text
  // never rides the count-distinct shuffle), and the means are formed as
  // integer-sum quotients (deterministic at any parallelism, the g31
  // rule). One map-side projection + one lang groupBy.
  private val r6 = graded(
    "r6_report_corpus_health",
    """WITH d AS (
      |  SELECT lang, md5(text) AS fp,
      |    len(string_split(text, ' '))::BIGINT AS nt,
      |    length(text)::BIGINT AS nc
      |  FROM documents)
      |SELECT lang, count(*) AS n_docs,
      |  (count(*) - count(DISTINCT fp))::BIGINT AS n_dup_docs,
      |  round(sum(nt)::DOUBLE / count(*), 6) AS mean_tokens,
      |  round(sum(nc)::DOUBLE / count(*), 6) AS mean_chars,
      |  min(nt) AS min_tokens, max(nt) AS max_tokens
      |FROM d GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documentsDist(spark, dir)
      .select($"lang", md5($"text").as("fp"),
        size(Tokens.words($"text")).cast("bigint").as("nt"),
        length($"text").cast("bigint").as("nc"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) - countDistinct($"fp")).as("n_dup_docs"),
        round(sum($"nt").cast("double") / count(lit(1)), 6).as("mean_tokens"),
        round(sum($"nc").cast("double") / count(lit(1)), 6).as("mean_chars"),
        min($"nt").as("min_tokens"), max($"nt").as("max_tokens"))
      .orderBy("lang")
  }

  // r7 — REFERENTIAL INTEGRITY AUDIT: the schema-health maintenance
  // report (orphaned children per foreign-key relationship). The corpus
  // is TPC-H-consistent, so the real arm's orphan counts are an asserted
  // ZERO (a real finding — the audit proves the corpus, not just the
  // detector); a declared derived band (every 50th child key gets its fk
  // shifted out of range — a12's synthesize-the-arm precedent) proves
  // the detector detects, with a closed-form expected count. Shape at
  // scale: each relationship is one LEFT ANTI join — parent sides that
  // are dims broadcast; the lineitem→orders anti join shuffles on the
  // fk, the same key the fact tables would be bucketed on.
  private val r7 = graded(
    "r7_integrity_audit", {
      def arm(rel: String, child: String, fk: String, band: String,
          parent: String, pk: String) =
        s"""SELECT '$rel' AS rel, count(*) AS n_child,
           |  sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END)::BIGINT
           |    AS n_orphans_real,
           |  sum(CASE WHEN p2.$pk IS NULL THEN 1 ELSE 0 END)::BIGINT
           |    AS n_orphans_banded,
           |  sum(CASE WHEN c.$band % 50 = 0 THEN 1 ELSE 0 END)::BIGINT
           |    AS n_band
           |FROM $child c
           |LEFT JOIN $parent p ON c.$fk = p.$pk
           |LEFT JOIN $parent p2 ON (CASE WHEN c.$band % 50 = 0
           |  THEN c.$fk + 1000000000 ELSE c.$fk END) = p2.$pk""".stripMargin
      Seq(
        arm("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "l_orderkey", "orders", "o_orderkey"),
        arm("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "l_orderkey", "part", "p_partkey"),
        arm("orders.o_custkey->customer", "orders", "o_custkey",
          "o_orderkey", "customer", "c_custkey"),
        arm("customer.c_nationkey->nation", "customer", "c_nationkey",
          "c_custkey", "nation", "n_nationkey"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY rel")
    }) { (spark, dir) =>
    import spark.implicits._
    def arm(rel: String, child: org.apache.spark.sql.DataFrame,
        fk: String, band: String,
        parent: org.apache.spark.sql.DataFrame, pk: String) = {
      // two detections per relationship: the fk as stored (real arm —
      // the corpus is consistent, so a nonzero here is a data bug), and
      // the fk with every-50th child shifted out of the key space
      // (banded arm — proves the anti-join detector fires, with the
      // closed-form expected count n_band)
      val p1 = parent.select(col(pk).as("pk1"))
      val p2 = parent.select(col(pk).as("pk2"))
      child
        .withColumn("fk2", when(col(band) % 50 === 0,
          col(fk) + 1000000000L).otherwise(col(fk)))
        .join(p1, col(fk) === col("pk1"), "left")
        .join(p2, col("fk2") === col("pk2"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("pk1").isNull, 1).otherwise(0)).cast("bigint")
            .as("n_orphans_real"),
          sum(when(col("pk2").isNull, 1).otherwise(0)).cast("bigint")
            .as("n_orphans_banded"),
          sum(when(col(band) % 50 === 0, 1).otherwise(0)).cast("bigint")
            .as("n_band"))
        .select(lit(rel).as("rel"), $"n_child", $"n_orphans_real",
          $"n_orphans_banded", $"n_band")
    }
    val li = Tables.lineitem(spark, dir)
    arm("lineitem.l_orderkey->orders", li, "l_orderkey", "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey")
      .unionAll(arm("lineitem.l_partkey->part", li, "l_partkey",
        "l_orderkey", Tables.part(spark, dir), "p_partkey"))
      .unionAll(arm("orders.o_custkey->customer", Tables.orders(spark, dir),
        "o_custkey", "o_orderkey", Tables.customer(spark, dir), "c_custkey"))
      .unionAll(arm("customer.c_nationkey->nation",
        Tables.customer(spark, dir), "c_nationkey", "c_custkey",
        Tables.apply(spark, dir, "nation"), "n_nationkey"))
      .orderBy("rel")
  }

  // r8 — CURATION FUNNEL: the yield report every training-data pipeline
  // prints — per language, how many documents survive each gate in
  // sequence: raw → exact-text dedup (g1's rule) → normalized-text dedup
  // (lowercase, strip non-alphanumerics, collapse spaces — the trivial-
  // variant catcher between exact and SimHash) → quality gate (g10's
  // exact formula, keep q ≥ 0.5) → langid consistency (g9's stopword
  // rule; keep docs whose predicted class agrees with the label). Each
  // stage is nested in the previous, so the columns are monotone
  // non-increasing — the shape that makes attrition attributable to ONE
  // gate. All-integer output. Shape at scale: dedup windows partition on
  // the (high-cardinality) content digests, scoring is per-row map-side,
  // per-lang counts are 5-key aggregates — nothing global anywhere.
  private val r8 = graded(
    "r8_report_curation_funnel", {
      val stopIn = Tokens.stopSqlIn
      val stopList = Tokens.stopSqlList
      s"""WITH base AS (
         |  SELECT doc_id, lang, text FROM documents),
         |ex AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text,
         |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id
         |      ) AS rn
         |    FROM base) WHERE rn = 1),
         |nrm AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text,
         |      row_number() OVER (
         |        PARTITION BY md5(trim(regexp_replace(regexp_replace(
         |          lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
         |        ORDER BY doc_id) AS rn
         |    FROM ex) WHERE rn = 1),
         |qual AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text,
         |      0.4 * least(len(string_split(text, ' '))::DOUBLE / 50.0, 1.0)
         |      + 0.3 * least(10.0 * len(list_filter(string_split(text, ' '),
         |          t -> t IN $stopIn))::DOUBLE
         |          / len(string_split(text, ' '))::DOUBLE, 1.0)
         |      + 0.3 * (len(list_distinct(string_split(text, ' ')))::DOUBLE
         |          / len(string_split(text, ' '))::DOUBLE) AS q
         |    FROM nrm) WHERE q >= 0.5),
         |lid AS (
         |  SELECT doc_id, lang FROM (
         |    SELECT doc_id, lang,
         |      CASE WHEN len(list_intersect(
         |          list_distinct(string_split(text, ' ')), $stopList))::DOUBLE
         |        / len(list_distinct(string_split(text, ' ')))::DOUBLE >= 0.05
         |      THEN 'en' ELSE 'other' END AS pred
         |    FROM qual)
         |  WHERE (lang = 'en') = (pred = 'en'))
         |SELECT b.lang,
         |  count(*) AS n_raw,
         |  count(e.doc_id) AS n_exact,
         |  count(n.doc_id) AS n_norm,
         |  count(q.doc_id) AS n_quality,
         |  count(l.doc_id) AS n_lang
         |FROM base b
         |LEFT JOIN (SELECT doc_id FROM ex) e ON b.doc_id = e.doc_id
         |LEFT JOIN (SELECT doc_id FROM nrm) n ON b.doc_id = n.doc_id
         |LEFT JOIN (SELECT doc_id FROM qual) q ON b.doc_id = q.doc_id
         |LEFT JOIN (SELECT doc_id FROM lid) l ON b.doc_id = l.doc_id
         |GROUP BY b.lang
         |ORDER BY b.lang""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val base = Tables.documentsDist(spark, dir)
      .select($"doc_id", $"lang", $"text")
    val wExact = Window.partitionBy(md5($"text")).orderBy($"doc_id")
    val exact = base.withColumn("rn", row_number().over(wExact))
      .where($"rn" === 1).drop("rn")
    val normKey = md5(trim(regexp_replace(
      regexp_replace(lower($"text"), "[^a-z0-9 ]", ""), " +", " ")))
    val wNorm = Window.partitionBy(normKey).orderBy($"doc_id")
    val norm = exact.withColumn("rn", row_number().over(wNorm))
      .where($"rn" === 1).drop("rn")
    val qual = Tokens.withQuality(norm).where($"q" >= 0.5)
    val lid = qual
      .withColumn("tk", array_distinct(Tokens.words($"text")))
      .withColumn("sc", Tokens.langScore($"tk"))
      .withColumn("pred", when($"sc" >= 0.05, "en").otherwise("other"))
      .where(($"lang" === "en") === ($"pred" === "en"))
    def cnt(df: org.apache.spark.sql.DataFrame, name: String) =
      df.groupBy($"lang").agg(count(lit(1)).as(name))
    cnt(base, "n_raw")
      .join(cnt(exact, "n_exact"), Seq("lang"), "left")
      .join(cnt(norm, "n_norm"), Seq("lang"), "left")
      .join(cnt(qual, "n_quality"), Seq("lang"), "left")
      .join(cnt(lid, "n_lang"), Seq("lang"), "left")
      .select($"lang", $"n_raw",
        coalesce($"n_exact", lit(0L)).as("n_exact"),
        coalesce($"n_norm", lit(0L)).as("n_norm"),
        coalesce($"n_quality", lit(0L)).as("n_quality"),
        coalesce($"n_lang", lit(0L)).as("n_lang"))
      .orderBy("lang")
  }

  // r9 — CHECK-CONSTRAINT VALIDATION (the data-quality rulebook next to
  // r7's referential audit): per rule, row count + violations of a
  // range check, an enum-membership check, and a bounded-quantity check.
  // The corpus is constraint-clean, so every real arm asserts ZERO (the
  // audit proves the data); a declared banded arm per rule (r7's
  // pattern — every 41st/53rd/67th key gets a corrupted value) proves
  // each detector fires. Shape at scale: one map-side conditional-sum
  // pass per table — the rulebook adds columns, never scans; constant
  // 3-row output.
  private val r9 = graded(
    "r9_check_constraints",
    """SELECT 'lineitem.qty_range' AS rule, count(*) AS n_rows,
      |  sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
      |      THEN 1 ELSE 0 END)::BIGINT AS n_viol_real,
      |  sum(CASE WHEN (CASE WHEN l_orderkey % 67 = 0 AND l_linenumber = 1
      |       THEN 99.0 ELSE l_quantity END) < 1
      |       OR (CASE WHEN l_orderkey % 67 = 0 AND l_linenumber = 1
      |       THEN 99.0 ELSE l_quantity END) > 50
      |      THEN 1 ELSE 0 END)::BIGINT AS n_viol_banded
      |FROM lineitem
      |UNION ALL
      |SELECT 'orders.status_enum', count(*),
      |  sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
      |      THEN 1 ELSE 0 END)::BIGINT,
      |  sum(CASE WHEN (CASE WHEN o_orderkey % 53 = 0 THEN 'X'
      |       ELSE o_orderstatus END) NOT IN ('F','O','P')
      |      THEN 1 ELSE 0 END)::BIGINT
      |FROM orders
      |UNION ALL
      |SELECT 'orders.totalprice_positive', count(*),
      |  sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)::BIGINT,
      |  sum(CASE WHEN (CASE WHEN o_orderkey % 41 = 0 THEN -o_totalprice
      |       ELSE o_totalprice END) <= 0 THEN 1 ELSE 0 END)::BIGINT
      |FROM orders
      |ORDER BY rule""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val qtyB = when($"l_orderkey" % 67 === 0 && $"l_linenumber" === 1,
      lit(99.0)).otherwise($"l_quantity")
    val stB = when($"o_orderkey" % 53 === 0, "X").otherwise($"o_orderstatus")
    val tpB = when($"o_orderkey" % 41 === 0, -$"o_totalprice")
      .otherwise($"o_totalprice")
    val liRule = li.agg(count(lit(1)).as("n_rows"),
      sum(when($"l_quantity" < 1 || $"l_quantity" > 50, 1).otherwise(0))
        .cast("bigint").as("n_viol_real"),
      sum(when(qtyB < 1 || qtyB > 50, 1).otherwise(0))
        .cast("bigint").as("n_viol_banded"))
      .select(lit("lineitem.qty_range").as("rule"), $"n_rows",
        $"n_viol_real", $"n_viol_banded")
    val stRule = o.agg(count(lit(1)).as("n_rows"),
      sum(when(!$"o_orderstatus".isin("F", "O", "P"), 1).otherwise(0))
        .cast("bigint").as("n_viol_real"),
      sum(when(!stB.isin("F", "O", "P"), 1).otherwise(0))
        .cast("bigint").as("n_viol_banded"))
      .select(lit("orders.status_enum").as("rule"), $"n_rows",
        $"n_viol_real", $"n_viol_banded")
    val tpRule = o.agg(count(lit(1)).as("n_rows"),
      sum(when($"o_totalprice" <= 0, 1).otherwise(0))
        .cast("bigint").as("n_viol_real"),
      sum(when(tpB <= 0, 1).otherwise(0))
        .cast("bigint").as("n_viol_banded"))
      .select(lit("orders.totalprice_positive").as("rule"), $"n_rows",
        $"n_viol_real", $"n_viol_banded")
    liRule.unionAll(stRule).unionAll(tpRule).orderBy("rule")
  }

  // R10 — POPULATION STABILITY INDEX drift report: the crawl-over-crawl
  // distribution monitor a data-pipeline team schedules between corpus
  // snapshots. Reference vs current = the doc_id halves (in production,
  // the previous and new ingest batch); the monitored statistic is the
  // g61 quality score bucketed into 10 FIXED-width bins (fixed
  // boundaries, not quantiles — quantile edges would make bucket
  // membership distribution-dependent and the report non-comparable
  // across runs, which is the whole point of PSI). Add-1 smoothing makes
  // every bucket's share strictly positive, so ln is always defined and
  // the report needs no bucket-dropping rule. PSI ≥ 0.2 is the standard
  // "investigate" threshold. All counts are exact integers; shares and
  // the ln/multiply tree are fixed IEEE, rounded 6dp. Shape at 100 TB:
  // one map-side bucket projection + a 20-cell aggregate + a 2-row
  // broadcast of per-half totals — dimension-sized forever.
  private val r10 = graded(
    "r10_psi_drift",
    """WITH q AS (
      |  SELECT doc_id,
      |    0.5 * least(len(string_split(text, ' '))::DOUBLE / 50.0, 1.0)
      |    + 0.5 * (len(list_distinct(string_split(text, ' ')))::DOUBLE
      |             / len(string_split(text, ' '))::DOUBLE) AS q,
      |    (doc_id % 2 = 0) AS is_ref
      |  FROM documents),
      |b AS (
      |  SELECT least(CAST(floor(q * 10) AS BIGINT), 9) AS bucket, is_ref
      |  FROM q),
      |c AS (
      |  SELECT bucket,
      |    sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::BIGINT AS n_ref,
      |    sum(CASE WHEN is_ref THEN 0 ELSE 1 END)::BIGINT AS n_cur
      |  FROM b GROUP BY bucket),
      |t AS (
      |  SELECT sum(n_ref)::BIGINT AS t_ref, sum(n_cur)::BIGINT AS t_cur
      |  FROM c),
      |p AS (
      |  SELECT bucket, n_ref, n_cur,
      |    (n_ref + 1)::DOUBLE / (t_ref + 10)::DOUBLE AS pr,
      |    (n_cur + 1)::DOUBLE / (t_cur + 10)::DOUBLE AS pc
      |  FROM c CROSS JOIN t)
      |SELECT bucket, n_ref, n_cur,
      |  round(pr, 6) AS ref_share, round(pc, 6) AS cur_share,
      |  round((pc - pr) * ln(pc / pr), 6) AS psi_term
      |FROM p
      |ORDER BY bucket""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val q = Tables.documents(spark, dir)
      .select($"doc_id", Tokens.qualityLenUniq(Tokens.nWords, Tokens.nUniq).as("q"),
        ($"doc_id" % 2 === 0).as("is_ref"))
    val c = q
      .select(least(floor($"q" * 10).cast("bigint"), lit(9L)).as("bucket"),
        $"is_ref")
      .groupBy($"bucket")
      .agg(sum(when($"is_ref", 1).otherwise(0)).cast("bigint").as("n_ref"),
        sum(when($"is_ref", 0).otherwise(1)).cast("bigint").as("n_cur"))
    val t = c.agg(sum($"n_ref").cast("bigint").as("t_ref"),
      sum($"n_cur").cast("bigint").as("t_cur"))
    c.crossJoin(broadcast(t))
      .withColumn("pr", ($"n_ref" + 1).cast("double") / ($"t_ref" + 10).cast("double"))
      .withColumn("pc", ($"n_cur" + 1).cast("double") / ($"t_cur" + 10).cast("double"))
      .select($"bucket", $"n_ref", $"n_cur",
        round($"pr", 6).as("ref_share"), round($"pc", 6).as("cur_share"),
        round(($"pc" - $"pr") * log($"pc" / $"pr"), 6).as("psi_term"))
      .orderBy("bucket")
  }

  // R11 — the TRAINING-MIX dashboard: one per-language row joining the
  // corpus-balance numbers a data-mix owner reads side by side before
  // cutting a training run — document/token mass and its exact ppm share,
  // exact-duplicate pressure (md5 text digests shared by >1 doc — only
  // 16-byte digests ride the dedup shuffle, g8/m4's trick), and the
  // length-Gini inequality number (g65's exact rank formula — the one
  // non-integer output, a single fixed IEEE division). Composition-grade:
  // a digest groupBy, a per-lang length window, and two lang-grain
  // rollups joined on the 5-row lang dimension. Every shuffle after the
  // scans is digest- or lang-keyed; at 100 TB the join itself is 5 rows.
  private val r11 = graded(
    "r11_mix_report",
    """WITH tok AS (
      |  SELECT lang, doc_id, md5(text) AS h,
      |    len(string_split(text, ' '))::BIGINT AS n_tok
      |  FROM documents),
      |dup AS (SELECT h, count(*)::BIGINT AS nh FROM tok GROUP BY h),
      |base AS (
      |  SELECT t.lang, count(*)::BIGINT AS n_docs,
      |    sum(t.n_tok)::BIGINT AS total_tokens,
      |    sum(CASE WHEN d.nh > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs
      |  FROM tok t JOIN dup d USING (h) GROUP BY t.lang),
      |tot AS (SELECT sum(total_tokens)::BIGINT AS tt FROM base),
      |rk AS (
      |  SELECT lang, n_tok,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY n_tok, doc_id)::BIGINT AS i
      |  FROM tok),
      |gini AS (
      |  SELECT lang,
      |    round((2 * sum(i * n_tok) - (count(*) + 1) * sum(n_tok))::DOUBLE
      |          / (count(*) * sum(n_tok))::DOUBLE, 6) AS len_gini
      |  FROM rk GROUP BY lang)
      |SELECT b.lang, b.n_docs, b.total_tokens,
      |  ((b.total_tokens * 1000000) // t.tt)::BIGINT AS token_share_ppm,
      |  b.n_dup_docs,
      |  ((b.n_dup_docs * 1000000) // b.n_docs)::BIGINT AS dup_ppm,
      |  g.len_gini
      |FROM base b CROSS JOIN tot t JOIN gini g USING (lang)
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"lang", $"doc_id", md5($"text").as("h"),
        size(Tokens.words($"text")).cast("bigint").as("n_tok"))
    val dup = tok.groupBy($"h").agg(count(lit(1)).cast("bigint").as("nh"))
    val base = tok.join(dup, "h")
      .groupBy($"lang")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum($"n_tok").cast("bigint").as("total_tokens"),
        sum(when($"nh" > 1, 1).otherwise(0)).cast("bigint").as("n_dup_docs"))
    val tot = base.agg(sum($"total_tokens").cast("bigint").as("tt"))
    val gini = tok
      .withColumn("i", row_number().over(
        Window.partitionBy($"lang").orderBy($"n_tok", $"doc_id"))
        .cast("bigint"))
      .groupBy($"lang")
      .agg(round((lit(2) * sum($"i" * $"n_tok")
        - (count(lit(1)) + 1) * sum($"n_tok")).cast("double")
        / (count(lit(1)) * sum($"n_tok")).cast("double"), 6).as("len_gini"))
    base.crossJoin(broadcast(tot))
      .join(gini, "lang")
      .select($"lang", $"n_docs", $"total_tokens",
        expr("(total_tokens * 1000000) div tt").cast("bigint")
          .as("token_share_ppm"),
        $"n_dup_docs",
        expr("(n_dup_docs * 1000000) div n_docs").cast("bigint")
          .as("dup_ppm"),
        $"len_gini")
      .orderBy("lang")
  }

  // R12 — JOIN-KEY SKEW ADVISORY (the pre-flight report a 100 TB engine
  // runs before choosing shuffle strategies: which candidate join/shuffle
  // keys are skewed enough to need AQE skew splitting or a c13-style
  // salt?). Per candidate key column: row count, distinct keys, heaviest
  // key's row count, its corpus share in ppm, and the max/mean ratio
  // ×1000 — all exact integer quotients (floor div both engines), so the
  // skew verdict (max > 10× mean) cannot float. Shape at scale: each
  // column is one partial+final count aggregate on the key, then a 1-row
  // reduce — the report's cost is one pass per audited column, and the
  // per-key counts it surfaces are exactly the histogram AQE's skew
  // handling consumes.
  private val r12 = graded(
    "r12_skew_report",
    """WITH k AS (
      |  SELECT 'lineitem.l_orderkey' AS key_name, l_orderkey AS k
      |    FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.l_partkey', l_partkey FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.l_suppkey', l_suppkey FROM lineitem
      |  UNION ALL
      |  SELECT 'orders.o_custkey', o_custkey FROM orders
      |  UNION ALL
      |  SELECT 'events.user_id', user_id FROM events),
      |c AS (
      |  SELECT key_name, k, count(*)::BIGINT AS n
      |  FROM k GROUP BY key_name, k),
      |s AS (
      |  SELECT key_name,
      |    sum(n)::BIGINT AS n_rows,
      |    count(*)::BIGINT AS n_keys,
      |    max(n)::BIGINT AS max_key_n
      |  FROM c GROUP BY key_name)
      |SELECT key_name, n_rows, n_keys, max_key_n,
      |  ((max_key_n * 1000000) // n_rows)::BIGINT AS top1_ppm,
      |  ((max_key_n * n_keys * 1000) // n_rows)::BIGINT AS skew_x1000,
      |  ((max_key_n * n_keys * 1000) // n_rows > 10000) AS skewed
      |FROM s
      |ORDER BY key_name""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val cols: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "lineitem.l_orderkey" -> Tables.lineitem(spark, dir)
        .select($"l_orderkey".as("k")),
      "lineitem.l_partkey" -> Tables.lineitem(spark, dir)
        .select($"l_partkey".as("k")),
      "lineitem.l_suppkey" -> Tables.lineitem(spark, dir)
        .select($"l_suppkey".as("k")),
      "orders.o_custkey" -> Tables.orders(spark, dir)
        .select($"o_custkey".as("k")),
      "events.user_id" -> Tables(spark, dir, "events")
        .select($"user_id".as("k")))
    cols.map { case (name, df) =>
      df.groupBy($"k").agg(count(lit(1)).cast("bigint").as("n"))
        .agg(sum($"n").cast("bigint").as("n_rows"),
          count(lit(1)).cast("bigint").as("n_keys"),
          max($"n").cast("bigint").as("max_key_n"))
        .select(lit(name).as("key_name"), $"n_rows", $"n_keys", $"max_key_n")
    }.reduce(_ unionAll _)
      .select($"key_name", $"n_rows", $"n_keys", $"max_key_n",
        expr("(max_key_n * 1000000) div n_rows").cast("bigint").as("top1_ppm"),
        expr("(max_key_n * n_keys * 1000) div n_rows").cast("bigint")
          .as("skew_x1000"))
      .withColumn("skewed", $"skew_x1000" > 10000L)
      .orderBy("key_name")
  }

  // R13 — DATA FRESHNESS audit (the ops dashboard next to r12's skew
  // advisory: when did each time-bearing table last move, and how much
  // of it is recent? — the first thing checked when a pipeline looks
  // stale): per table, row count, the max event time (µs-normalized —
  // the a2 recipe keeps both events vintages identical to the oracle),
  // rows inside the trailing 7 days of that table's OWN max (each table
  // has its own clock; comparing against a global now would alias
  // staleness across tables), and the tail share in exact ppm. Shape at
  // scale: per table one partial+final (max, count) pass plus one
  // filtered recount against the broadcast 1-row max — no sort, no wide
  // shuffle; the unions carry 3 rows.
  private val r13 = QueryDef.graded(
    "r13_freshness_report",
    """WITH o AS (
      |  SELECT 'orders' AS table_name, count(*)::BIGINT AS n_rows,
      |    max(o_orderdate) AS max_ts,
      |    sum(CASE WHEN o_orderdate > (SELECT max(o_orderdate) FROM orders)
      |      - INTERVAL 7 DAY THEN 1 ELSE 0 END)::BIGINT AS n_recent
      |  FROM orders),
      |l AS (
      |  SELECT 'lineitem', count(*)::BIGINT,
      |    max(l_shipdate),
      |    sum(CASE WHEN l_shipdate > (SELECT max(l_shipdate) FROM lineitem)
      |      - INTERVAL 7 DAY THEN 1 ELSE 0 END)::BIGINT
      |  FROM lineitem),
      |e AS (
      |  SELECT 'events', count(*)::BIGINT,
      |    max(ts),
      |    sum(CASE WHEN ts > (SELECT max(ts) FROM events)
      |      - INTERVAL 7 DAY THEN 1 ELSE 0 END)::BIGINT
      |  FROM events),
      |u AS (
      |  SELECT * FROM o UNION ALL SELECT * FROM l UNION ALL SELECT * FROM e)
      |SELECT table_name, n_rows, max_ts, n_recent,
      |  ((n_recent * 1000000) // n_rows)::BIGINT AS recent_ppm
      |FROM u
      |ORDER BY table_name""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    def audit(name: String, df: org.apache.spark.sql.DataFrame,
        tsCol: org.apache.spark.sql.Column) = {
      val withTs = df.select(tsCol.as("t"))
      val mx = withTs.agg(max($"t").as("mx"))
      withTs.crossJoin(broadcast(mx))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          max($"t").as("max_ts"),
          sum(when($"t" > $"mx" - expr("INTERVAL 7 DAYS"), 1).otherwise(0))
            .cast("bigint").as("n_recent"))
        .select(lit(name).as("table_name"), $"n_rows", $"max_ts", $"n_recent")
    }
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val events = Tables.eventsUs(spark, dir)
    audit("orders", orders, $"o_orderdate")
      .unionAll(audit("lineitem", lineitem, $"l_shipdate"))
      .unionAll(audit("events", events, $"ts_us"))
      .select($"table_name", $"n_rows", $"max_ts", $"n_recent",
        expr("(n_recent * 1000000) div n_rows").cast("bigint")
          .as("recent_ppm"))
      .orderBy("table_name")
  }

  // r14 — COLUMN PROFILE report (the first query anyone runs against an
  // unfamiliar table: null counts, distinct cardinality, and the modal
  // value per column). Five columns of `orders` profiled — the double
  // column is deliberately excluded because double→string rendering is
  // not engine-portable (DialectNotes), and a profile row is a string.
  // Mode ties break (count DESC, value ASC) so uniform columns (every
  // orderkey count=1) still produce one deterministic row. Dates render
  // through the h8-proven explicit format. Shape at scale: one
  // aggregate + one mode top-1 per column — each column's pass is an
  // independent shuffle on bounded-cardinality keys; the per-column
  // 1-row combines are broadcast crosses (allowlisted).
  private val r14 = graded(
    "r14_column_profile", {
      def prof(c: String, v: String) =
        s"""SELECT '$c' AS col,
           |  (count(*) - count($c))::BIGINT AS n_nulls,
           |  count(DISTINCT $c)::BIGINT AS n_distinct,
           |  m.v AS top_value, m.c AS top_count
           |FROM orders CROSS JOIN (
           |  SELECT $v AS v, count(*)::BIGINT AS c FROM orders
           |  GROUP BY 1 ORDER BY c DESC, v LIMIT 1) m
           |GROUP BY m.v, m.c""".stripMargin
      Seq(
        prof("o_orderkey", "o_orderkey::VARCHAR"),
        prof("o_custkey", "o_custkey::VARCHAR"),
        prof("o_orderstatus", "o_orderstatus"),
        prof("o_orderdate", "strftime(o_orderdate, '%Y-%m-%d')"),
        prof("o_orderpriority", "o_orderpriority"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col")
    }) { (spark, dir) =>
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    def prof(c: String, v: org.apache.spark.sql.Column) = {
      val stats = orders.agg(
        (count(lit(1)) - count(col(c))).cast("bigint").as("n_nulls"),
        countDistinct(col(c)).cast("bigint").as("n_distinct"))
      val mode = orders.select(v.as("v"))
        .groupBy($"v").agg(count(lit(1)).cast("bigint").as("c"))
        .orderBy($"c".desc, $"v").limit(1)
      stats.crossJoin(broadcast(mode))
        .select(lit(c).as("col"), $"n_nulls", $"n_distinct",
          $"v".as("top_value"), $"c".as("top_count"))
    }
    prof("o_orderkey", $"o_orderkey".cast("string"))
      .unionByName(prof("o_custkey", $"o_custkey".cast("string")))
      .unionByName(prof("o_orderstatus", $"o_orderstatus"))
      .unionByName(prof("o_orderdate",
        date_format($"o_orderdate", "yyyy-MM-dd")))
      .unionByName(prof("o_orderpriority", $"o_orderpriority"))
      .orderBy($"col")
  }

  // r15 — KPI SNAPSHOT: the one-row executive header every dashboard
  // opens with, drawn from FOUR tables in one query (orders revenue +
  // order/customer counts, corpus size + exact-duplicate ppm, event
  // volume). Each table reduces independently to a 1-row aggregate —
  // exact cents / exact counts — and the snapshots cross-join
  // (allowlisted 1-row BNLJs). At 100 TB each reduce is one partial+
  // final aggregate over its own table; nothing joins at row grain.
  private val r15 = graded(
    "r15_kpi_snapshot",
    """WITH o AS (
      |  SELECT sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT
      |      AS revenue_cents,
      |    count(*)::BIGINT AS n_orders,
      |    count(DISTINCT o_custkey)::BIGINT AS n_buyers
      |  FROM orders),
      |d AS (
      |  SELECT count(*)::BIGINT AS n_docs,
      |    (count(*) - count(DISTINCT md5(text)))::BIGINT AS n_dup_docs
      |  FROM documents),
      |e AS (SELECT count(*)::BIGINT AS n_events,
      |        count(DISTINCT user_id)::BIGINT AS n_users FROM events)
      |SELECT o.revenue_cents, o.n_orders, o.n_buyers,
      |  d.n_docs, d.n_dup_docs,
      |  (d.n_dup_docs * 1000000 // d.n_docs)::BIGINT AS dup_ppm,
      |  e.n_events, e.n_users
      |FROM o CROSS JOIN d CROSS JOIN e""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .agg(sum(round($"o_totalprice" * 100, 0).cast("bigint"))
          .cast("bigint").as("revenue_cents"),
        count(lit(1)).cast("bigint").as("n_orders"),
        countDistinct($"o_custkey").cast("bigint").as("n_buyers"))
    val d = Tables.documents(spark, dir)
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        (count(lit(1)) - countDistinct(md5($"text"))).cast("bigint")
          .as("n_dup_docs"))
    val e = Tables.eventsUs(spark, dir)
      .agg(count(lit(1)).cast("bigint").as("n_events"),
        countDistinct($"user_id").cast("bigint").as("n_users"))
    o.crossJoin(d).crossJoin(e)
      .select($"revenue_cents", $"n_orders", $"n_buyers", $"n_docs",
        $"n_dup_docs",
        expr("(n_dup_docs * 1000000) div n_docs").cast("bigint")
          .as("dup_ppm"),
        $"n_events", $"n_users")
  }

  // r16 — JOIN CARDINALITY ESTIMATE vs ACTUAL (the System-R textbook
  // formula |A ⋈ B| ≈ |A|·|B| / max(ndv_A, ndv_B) audited against the
  // true join count for three fact-dimension joins — the number a
  // cost-based optimizer bets on, and r12's skew report explains when
  // it lies). All counts exact; the estimate uses integer division and
  // the q-error is the standard max/min ratio in exact ppm. At 100 TB
  // the stats side IS what ANALYZE computes (one pass per table); the
  // actual side is the audit — run on samples in production, the
  // formula's inputs don't change shape.
  private val r16 = graded(
    "r16_join_cardinality", {
      def one(name: String, lt: String, lk: String, rt: String, rk: String) =
        s"""SELECT '$name' AS join_name,
           |  ls.n AS n_left, rs.n AS n_right,
           |  ls.d AS ndv_left, rs.d AS ndv_right,
           |  (ls.n * rs.n // (CASE WHEN ls.d > rs.d THEN ls.d ELSE rs.d
           |    END))::BIGINT AS est_rows,
           |  (SELECT count(*) FROM $lt JOIN $rt ON $lk = $rk)::BIGINT
           |    AS actual_rows
           |FROM (SELECT count(*)::BIGINT AS n,
           |    count(DISTINCT $lk)::BIGINT AS d FROM $lt) ls
           |CROSS JOIN (SELECT count(*)::BIGINT AS n,
           |    count(DISTINCT $rk)::BIGINT AS d FROM $rt) rs""".stripMargin
      s"""WITH base AS (
         |${Seq(
          one("lineitem_orders", "lineitem", "l_orderkey", "orders",
            "o_orderkey"),
          one("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
          one("lineitem_supplier", "lineitem", "l_suppkey", "supplier",
            "s_suppkey")).mkString("", "\nUNION ALL\n", ")")}
         |SELECT join_name, n_left, n_right, ndv_left, ndv_right, est_rows,
         |  actual_rows,
         |  ((CASE WHEN est_rows > actual_rows THEN est_rows
         |     ELSE actual_rows END) * 1000000
         |   // (CASE WHEN est_rows < actual_rows THEN est_rows
         |     ELSE actual_rows END))::BIGINT AS q_error_ppm
         |FROM base ORDER BY join_name""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    def one(name: String, lt: org.apache.spark.sql.DataFrame, lk: String,
        rt: org.apache.spark.sql.DataFrame, rk: String) = {
      val ls = lt.agg(count(lit(1)).cast("bigint").as("n_left"),
        countDistinct(col(lk)).cast("bigint").as("ndv_left"))
      val rs = rt.agg(count(lit(1)).cast("bigint").as("n_right"),
        countDistinct(col(rk)).cast("bigint").as("ndv_right"))
      val act = lt.join(rt, col(lk) === col(rk))
        .agg(count(lit(1)).cast("bigint").as("actual_rows"))
      ls.crossJoin(broadcast(rs)).crossJoin(broadcast(act))
        .select(lit(name).as("join_name"), $"n_left", $"n_right",
          $"ndv_left", $"ndv_right",
          expr("(n_left * n_right) div greatest(ndv_left, ndv_right)")
            .cast("bigint").as("est_rows"),
          $"actual_rows")
    }
    val li = Tables.lineitem(spark, dir)
    val base = one("lineitem_orders", li, "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey")
      .unionByName(one("lineitem_part", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey"))
      .unionByName(one("lineitem_supplier", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"))
    base.select($"join_name", $"n_left", $"n_right", $"ndv_left",
        $"ndv_right", $"est_rows", $"actual_rows",
        expr("(greatest(est_rows, actual_rows) * 1000000) div least(est_rows, actual_rows)")
          .cast("bigint").as("q_error_ppm"))
      .orderBy($"join_name")
  }

  // r17 — K-ANONYMITY AUDIT over quasi-identifiers (the governance
  // question b7's masked view and g27's redaction exist to answer: after
  // masking direct identifiers, can a row still be singled out by the
  // ATTRIBUTE COMBINATION it carries?): equivalence classes over the
  // quasi-identifier tuple (lang, source, 500-char length band), then for
  // each candidate k the number of classes and rows whose class is
  // smaller than k, with the at-risk corpus share in exact integer ppm.
  // A release gate reads one row ("at k=5, 1.2% of rows are re-
  // identifiable") instead of eyeballing the class histogram. All-integer
  // output — nothing float rides the grade. Shape at scale: one partial-
  // agg groupBy on the QI tuple (class count ≤ |langs|×|sources|×bands,
  // corpus-independent), then a 4-row broadcast cross over the class
  // table and a 1-row total cross — the r10/r12 report shape.
  private val r17 = graded(
    "r17_k_anonymity",
    """WITH cls AS (
      |  SELECT lang, source, n_chars // 500 AS len_band,
      |    count(*)::BIGINT AS class_size
      |  FROM documents GROUP BY lang, source, n_chars // 500),
      |t AS (SELECT count(*)::BIGINT AS total FROM documents),
      |ks(k) AS (VALUES (2), (5), (10), (20))
      |SELECT ks.k,
      |  coalesce(sum(CASE WHEN cls.class_size < ks.k THEN 1 END), 0)::BIGINT
      |    AS classes_at_risk,
      |  coalesce(sum(CASE WHEN cls.class_size < ks.k
      |    THEN cls.class_size END), 0)::BIGINT AS rows_at_risk,
      |  (coalesce(sum(CASE WHEN cls.class_size < ks.k
      |    THEN cls.class_size END), 0) * 1000000 // t.total)::BIGINT
      |    AS risk_ppm
      |FROM ks CROSS JOIN cls CROSS JOIN t
      |GROUP BY ks.k, t.total
      |ORDER BY ks.k""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val cls = Tables.documents(spark, dir)
      .groupBy($"lang", $"source", expr("n_chars div 500").as("len_band"))
      .agg(count(lit(1)).cast("bigint").as("class_size"))
    val t = Tables.documents(spark, dir)
      .agg(count(lit(1)).cast("bigint").as("total"))
    val ks = Seq(2, 5, 10, 20).toDF("k")
    broadcast(ks).crossJoin(cls).crossJoin(broadcast(t))
      .groupBy($"k", $"total")
      .agg(
        coalesce(sum(when($"class_size" < $"k", 1L)), lit(0L)).cast("bigint")
          .as("classes_at_risk"),
        coalesce(sum(when($"class_size" < $"k", $"class_size")), lit(0L))
          .cast("bigint").as("rows_at_risk"))
      .select($"k",
        $"classes_at_risk",
        $"rows_at_risk",
        expr("(rows_at_risk * 1000000) div total").cast("bigint")
          .as("risk_ppm"))
      .orderBy($"k")
  }

  // ---- r18 machinery: deterministic truncated DISCRETE Laplace -------
  // The geometric mechanism (Ghosh et al., "Universally utility-
  // maximizing privacy mechanisms" — the standard DP mechanism for
  // integer counts): P(Z = z) ∝ α^|z| with α = e^(-ε). Sampled by
  // inverse CDF over the d45 hash-uniform, with the CDF cut points
  // PRECOMPUTED OFFLINE and embedded as identical decimal literals on
  // both engines — no ln()/exp() at query time, whose last ulp differs
  // across engines (the g89 no-pow rule applied to DP). Truncation to
  // |z| ≤ 8 (tail mass 0.9%, renormalized) keeps the CASE finite; the
  // released mechanism is declared as truncated-discrete-Laplace(ε=0.5,
  // K=8) — truncation slightly tightens, never loosens, the noise.
  private val dlapCuts: Seq[(String, Int)] = Seq(
    "0.004548750068250854" -> -8, "0.012048371060874695" -> -7,
    "0.024413155713602832" -> -6, "0.04479923917818221" -> -5,
    "0.07841020861250239" -> -4, "0.13382532884771792" -> -3,
    "0.22518941629792286" -> -2, "0.37582333065518236" -> -1,
    "0.6241766693448175" -> 0, "0.774810583702077" -> 1,
    "0.866174671152282" -> 2, "0.9215897913874975" -> 3,
    "0.9552007608218177" -> 4, "0.9755868442863971" -> 5,
    "0.9879516289391252" -> 6, "0.995451249931749" -> 7)

  /** Inverse-CDF discrete-Laplace noise from a uniform in [0, 1). */
  private[graft] def dlapNoise(u: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    dlapCuts.foldRight(lit(8): org.apache.spark.sql.Column) {
      case ((cut, z), rest) => when(u < lit(cut.toDouble), z).otherwise(rest)
    }

  /** The identical mapping as a DuckDB CASE over a uniform SQL term. */
  private def dlapSqlCase(u: String): String =
    dlapCuts.map { case (c, z) => s"WHEN ($u) < $c THEN ($z)" }
      .mkString("CASE ", " ", " ELSE 8 END")

  /** The d45 hash-uniform for a group key, Spark side. */
  private[graft] def dlapUniform(key: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    conv(substring(md5(key), 1, 8), 16, 10).cast("double") /
      lit(4294967296.0)

  // r18 — DETERMINISTIC DP EXPORT: the privacy ladder's release step
  // (b7 masks direct identifiers, g27 redacts free text, r17 measures
  // quasi-identifier re-identifiability; this row RELEASES a noised
  // aggregate): per-(lang, source) document counts, k-anonymity
  // pre-filter composed in (classes with n < 5 are suppressed — r17's
  // gate applied, not just reported), then truncated-discrete-Laplace
  // noise at declared ε = 0.5 added per class and floored at 0. The
  // noise is keyed by the class identity through the d45 hash-RNG, so
  // the release is BIT-REPRODUCIBLE cross-engine and auditable — the
  // same export can be re-derived and checked, which is what makes a
  // DP pipeline operable (an unreproducible noise draw cannot be
  // distinguished from a data bug). PropertySpec pins the mechanism
  // laws (zero mean, symmetry, correct mass at 0) over a wide synthetic
  // key domain. Scale: one partial-agg groupBy on the class tuple
  // (class count ≤ |langs|×|sources|, corpus-independent); noise is a
  // per-class scalar expression.
  private val r18 = graded(
    "r18_dp_export", {
      val u = "(" + graft.pipeline.Dedup.duckHex8At(
        "md5(lang || ':' || source || ':dlap')", 1) + ") / 4294967296.0"
      s"""WITH g AS (
      |  SELECT lang, source, count(*)::BIGINT AS n
      |  FROM documents GROUP BY lang, source),
      |k AS (SELECT * FROM g WHERE n >= 5),
      |z AS (
      |  SELECT lang, source, n, ${dlapSqlCase(u)} AS z FROM k)
      |SELECT lang, source,
      |  greatest(n + z, 0)::BIGINT AS n_noised,
      |  0.5::DOUBLE AS eps
      |FROM z ORDER BY lang, source""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val u = dlapUniform(concat($"lang", lit(":"), $"source", lit(":dlap")))
    Tables.documents(spark, dir)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).cast("bigint").as("n"))
      .where($"n" >= 5)
      .withColumn("z", dlapNoise(u))
      .select($"lang", $"source",
        greatest($"n" + $"z", lit(0L)).cast("bigint").as("n_noised"),
        lit(0.5).as("eps"))
      .orderBy($"lang", $"source")
  }

  val defs: Seq[QueryDef] = Seq(r1, r2, r3, r4, r5, r6, r7, r8, r9, r10, r11,
    r12, r13, r14, r15, r16, r17, r18)
}
