package graft.pipeline

import graft.QueryDef
import graft.QueryDef.{benchOnly, graded}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** G (curation family): the dataset-assembly operators a training-data
  * pipeline runs AFTER dedup/quality — splitting, decontamination,
  * redaction, packing, sampling.
  *
  * Scale notes (100 TB):
  *  - g25 split and g27 redaction are pure map-side projections (hash /
  *    regex per row, zero shuffle) — they scale like the scan.
  *  - g26 decontamination shuffles on the n-gram key with the benchmark
  *    side BROADCAST: eval sets are tiny (thousands of docs) next to the
  *    training corpus, so the candidate side never shuffles at all.
  *  - g28 packing needs a global prefix sum, which is the canonical
  *    "looks sequential" trap: a single global-order window collapses to
  *    one partition. The implementation is the standard two-pass
  *    distributed prefix sum (range-local cumsum + tiny per-range totals
  *    joined back), identical in result to the oracle's global window.
  *  - g29 stratified sampling is one window per stratum — shuffles on the
  *    stratum key only, and the content-hash sort order makes the sample
  *    stable under file re-sharding (a random() sample is not even
  *    re-runnable).
  */
object Curation {

  // g25 — deterministic train/val/test split by CONTENT hash (stable under
  // re-sharding, re-ingestion, and id reassignment — splitting on doc_id
  // breaks the moment ids are reassigned upstream). 80/10/10 by the first
  // 32 bits of md5(text) mod 100; md5-derived so both engines agree
  // bit-for-bit (g13's token-hash machinery, reused on whole documents).
  private val g25 = graded(
    "g25_split_hash", {
      val h = Dedup.duckHex8("md5(text)")
      s"""SELECT doc_id, ($h % 100)::BIGINT AS h,
      |  CASE WHEN $h % 100 < 80 THEN 'train'
      |       WHEN $h % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents
      |ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("h",
        conv(substring(md5($"text"), 1, 8), 16, 10).cast("bigint") % 100)
      .select($"doc_id", $"h",
        when($"h" < 80, "train").when($"h" < 90, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  // g26 — benchmark decontamination: flag training candidates sharing any
  // 13-token n-gram with the eval set (the GPT-3-style overlap rule; 13
  // grams make coincidental overlap implausible while catching embedded
  // excerpts). Benchmark here = doc_id < 50 as the eval-set stand-in.
  // The benchmark gram set is broadcast — at 100 TB the candidate side
  // stays un-shuffled and the check is a map-side hash probe.
  private val g26 = graded(
    "g26_decontaminate",
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(t) - 12),
      |      i -> array_to_string(list_slice(t, i, i + 12), ' '))) AS gr
      |  FROM tk),
      |bench AS (SELECT DISTINCT gr FROM g WHERE doc_id < 50),
      |hits AS (
      |  SELECT g.doc_id, count(DISTINCT g.gr)::BIGINT AS n_shared
      |  FROM g JOIN bench USING (gr)
      |  WHERE g.doc_id >= 50
      |  GROUP BY g.doc_id)
      |SELECT d.doc_id, coalesce(h.n_shared, 0)::BIGINT AS n_shared,
      |  coalesce(h.n_shared, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |WHERE d.doc_id >= 50
      |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val grams = Tables.documentsDist(spark, dir)
      .select($"doc_id", Tokens.words($"text").as("t"))
      .select($"doc_id", explode(Tokens.window13("t")).as("gr"))
    val bench = grams.where($"doc_id" < 50).select($"gr").distinct()
    val hits = grams.where($"doc_id" >= 50)
      .join(broadcast(bench), "gr")
      .groupBy($"doc_id")
      .agg(countDistinct($"gr").as("n_shared"))
    Tables.documents(spark, dir).where($"doc_id" >= 50).select($"doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n_shared", lit(0L)).as("n_shared"),
        (coalesce($"n_shared", lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  // g27 — PII redaction: scrub emails and phone-shaped digit runs, count
  // what was scrubbed. The corpus has no organic PII, so the raw column is
  // synthesized identically in both engines (declared fixture synthesis);
  // the graded machinery is the regex pass itself. Patterns stay in the
  // RE2-compatible subset (no lookaround/backrefs) so Java regex and
  // DuckDB's RE2 agree. Output carries lengths + digest of the redacted
  // text, not the text — compact at any scale. Map-side only: zero
  // shuffle before the final presentation sort.
  private val g27 = graded(
    "g27_pii_redact",
    """WITH raw AS (
      |  SELECT doc_id,
      |    text || ' contact user' || doc_id || '@example.com phone 555-'
      |      || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS r
      |  FROM documents),
      |red AS (
      |  SELECT doc_id, r,
      |    len(regexp_extract_all(r, '[a-z0-9]+@[a-z0-9.]+'))::BIGINT AS n_emails,
      |    len(regexp_extract_all(r, '555-[0-9]{4}'))::BIGINT AS n_phones,
      |    regexp_replace(
      |      regexp_replace(r, '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
      |      '555-[0-9]{4}', '<PHONE>', 'g') AS clean
      |  FROM raw)
      |SELECT doc_id, n_emails, n_phones,
      |  length(r)::BIGINT AS len_before, length(clean)::BIGINT AS len_after,
      |  md5(clean) AS fp
      |FROM red
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val raw = Tables.documents(spark, dir)
      .withColumn("r", concat($"text", lit(" contact user"), $"doc_id",
        lit("@example.com phone 555-"),
        lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
    raw
      .withColumn("n_emails",
        regexp_count($"r", lit("[a-z0-9]+@[a-z0-9.]+")).cast("bigint"))
      .withColumn("n_phones",
        regexp_count($"r", lit("555-[0-9]{4}")).cast("bigint"))
      .withColumn("clean", regexp_replace(
        regexp_replace($"r", "[a-z0-9]+@[a-z0-9.]+", "<EMAIL>"),
        "555-[0-9]{4}", "<PHONE>"))
      .select($"doc_id", $"n_emails", $"n_phones",
        length($"r").cast("bigint").as("len_before"),
        length($"clean").cast("bigint").as("len_after"),
        md5($"clean").as("fp"))
      .orderBy("doc_id")
  }

  // g95 — PACKING-EFFICIENCY REPORT, the sizing read that decides g28's
  // window-length knob BEFORE the packing job runs: for each candidate
  // context length W ∈ {128, 512, 2048}, the cost of document-level
  // packing (each doc padded up to its own ⌈n_tok/W⌉ windows — the
  // no-cross-doc-contamination regime many pretraining recipes mandate)
  // stated as total windows, padded-token mass, and waste ppm. Entirely
  // exact integer arithmetic ((n+W−1) div W windows, windows·W − n
  // padding, integer-ppm quotient), so the report is bit-stable at any
  // scale. Shape at scale: one scan computes every W's terms in the
  // same projection (the W list is a 3-row literal dimension crossed
  // in), one 3-group partial aggregate — map-side combine does all the
  // work, nothing wide shuffles.
  private val g95 = graded(
    "g95_pack_efficiency",
    """WITH tok AS (
      |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n
      |  FROM documents),
      |ws AS (SELECT unnest([128, 512, 2048])::BIGINT AS w),
      |per AS (
      |  SELECT w, (n + w - 1) // w AS wins, ((n + w - 1) // w) * w - n
      |    AS pad, n
      |  FROM tok, ws)
      |SELECT w, sum(wins)::BIGINT AS n_windows,
      |  sum(pad)::BIGINT AS padded_tokens,
      |  ((sum(pad) * 1000000) // (sum(wins) * w))::BIGINT AS waste_ppm
      |FROM per GROUP BY w
      |ORDER BY w""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val tok = Tables.documentsDist(spark, dir)
      .select(size(Tokens.words($"text")).cast("bigint").as("n"))
    val ws = Seq(128L, 512L, 2048L).toDF("w")
    tok.crossJoin(broadcast(ws))
      .withColumn("wins", expr("(n + w - 1) div w"))
      .withColumn("pad", $"wins" * $"w" - $"n")
      .groupBy($"w")
      .agg(sum($"wins").cast("bigint").as("n_windows"),
        sum($"pad").cast("bigint").as("padded_tokens"))
      .select($"w", $"n_windows", $"padded_tokens",
        expr("(padded_tokens * 1000000) div (n_windows * w)")
          .cast("bigint").as("waste_ppm"))
      .orderBy("w")
  }

  // g28 — context-window packing by offset binning: lay documents end to
  // end in doc_id order and cut fixed 512-token windows; a doc's bin is
  // its start offset div 512 (the fixed-stride chunking a distributed
  // packer actually uses — exact greedy bin-closing is inherently
  // sequential). The oracle states it as ONE global cumsum window; the
  // Spark side computes the identical result with the two-pass
  // distributed prefix sum: (1) range-local cumsum per 1000-id range,
  // (2) per-range totals (tiny — one row per range) prefix-summed and
  // broadcast back. No single-partition window anywhere; both passes
  // shuffle on the range key only.
  private val g28 = graded(
    "g28_pack_chunks",
    """WITH t AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |cs AS (
      |  SELECT doc_id, n_tok,
      |    sum(n_tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS off
      |  FROM t)
      |SELECT doc_id, n_tok::BIGINT AS n_tok, off::BIGINT AS off,
      |  (off // 512)::BIGINT AS bin
      |FROM cs
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val t = Tables.documents(spark, dir)
      .select($"doc_id", size(Tokens.words($"text")).cast("bigint").as("n_tok"),
        expr("doc_id div 1000").as("rng"))
    // pass 1: cumsum WITHIN each id range (parallel across ranges)
    val wLocal = Window.partitionBy($"rng").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = t.withColumn("lcs", sum($"n_tok").over(wLocal))
    // pass 2: per-range totals — one row per range — prefix-summed with a
    // window over the TINY totals table, then joined back (broadcast)
    val wRange = Window.orderBy($"rng")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixes = t.groupBy($"rng").agg(sum($"n_tok").as("rtot"))
      .withColumn("rprefix", sum($"rtot").over(wRange) - $"rtot")
      .select($"rng", $"rprefix")
    local.join(broadcast(prefixes), "rng")
      .withColumn("off", $"rprefix" + $"lcs" - $"n_tok")
      .select($"doc_id", $"n_tok", $"off",
        expr("off div 512").as("bin"))
      .orderBy("doc_id")
  }

  // g29 — deterministic stratified sample: 10% per language stratum,
  // chosen by content-hash order (md5(text)) so the sample is identical
  // across engines, runs, and file layouts — `TABLESAMPLE`/random() is
  // neither. ceil() keeps every stratum represented.
  private val g29 = graded(
    "g29_stratified_sample",
    """WITH r AS (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(text), doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |SELECT doc_id, lang, rn::BIGINT AS rn
      |FROM r
      |WHERE rn <= ceil(n * 0.1)
      |ORDER BY lang, rn""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"lang").orderBy(md5($"text"), $"doc_id")
    val wc = Window.partitionBy($"lang")
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .withColumn("n", count(lit(1)).over(wc))
      .where($"rn" <= ceil($"n" * 0.1))
      .select($"doc_id", $"lang", $"rn")
      .orderBy("lang", "rn")
  }

  // g36 — INCREMENTAL dedup: dedup today's ingest batch against the
  // already-curated corpus without re-touching the corpus (production
  // pipelines never re-dedup 100 TB per daily batch — they join the
  // batch against the fingerprint catalog). Batch membership is modeled
  // as doc_id % 5 = 4 (an sf-independent 20% slice). Verdict per batch
  // doc: 'dup_of_corpus' (fingerprint already catalogued), else
  // 'dup_in_batch' (an earlier batch doc — smaller doc_id — carries the
  // same fingerprint), else 'keep'. Shape at scale: the batch is tiny
  // next to the catalog, so the catalog join shuffles ONLY the batch
  // side (or bloom-prefilters it); the within-batch window partitions on
  // the fingerprint — both keyed on the digest, never on content.
  private val g36 = graded(
    "g36_incremental_dedup",
    """WITH batch AS (
      |  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 = 4),
      |corpus AS (
      |  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 5 <> 4),
      |r AS (
      |  SELECT b.doc_id, b.fp,
      |    row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn,
      |    c.fp IS NOT NULL AS in_corpus
      |  FROM batch b LEFT JOIN corpus c ON b.fp = c.fp)
      |SELECT doc_id, fp,
      |  CASE WHEN in_corpus THEN 'dup_of_corpus'
      |       WHEN rn > 1 THEN 'dup_in_batch'
      |       ELSE 'keep' END AS verdict
      |FROM r
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val batch = docs.where($"doc_id" % 5 === 4)
      .select($"doc_id", md5($"text").as("fp"))
    val corpus = docs.where($"doc_id" % 5 =!= 4)
      .select(md5($"text").as("fp")).distinct()
      .withColumn("in_corpus", lit(true))
    batch.join(corpus, Seq("fp"), "left")
      .withColumn("rn",
        row_number().over(Window.partitionBy($"fp").orderBy($"doc_id")))
      .select($"doc_id", $"fp",
        when($"in_corpus", "dup_of_corpus")
          .when($"rn" > 1, "dup_in_batch")
          .otherwise("keep").as("verdict"))
      .orderBy("doc_id")
  }

  // g39 — per-SOURCE curation report (the "which crawl sources are junk"
  // deliverable every corpus triage starts with): composes g8's
  // fingerprint duplication and g10's quality score, aggregated over the
  // source dimension — docs, corpus-wide-dup docs, mean quality, keep
  // rate, mean length per source. Shape at scale: one digest shuffle for
  // the duplicate counts (16-byte fps, g1's budget), one 20-key source
  // aggregate; the quality signals are per-row projections.
  private val g39 = graded(
    "g39_source_report", {
      val inList = Tokens.stopSqlIn
      s"""WITH f AS (
      |  SELECT doc_id, source, md5(text) AS fp,
      |    len(string_split(text, ' '))::DOUBLE AS n_words,
      |    len(list_filter(string_split(text, ' '),
      |        t -> t IN $inList))::DOUBLE AS n_stop,
      |    len(list_distinct(string_split(text, ' ')))::DOUBLE AS n_uniq
      |  FROM documents),
      |d AS (SELECT fp, count(*) AS n_same FROM f GROUP BY fp),
      |q AS (
      |  SELECT f.source,
      |    0.4 * least(n_words / 50.0, 1.0)
      |    + 0.3 * least(10.0 * n_stop / n_words, 1.0)
      |    + 0.3 * (n_uniq / n_words) AS q,
      |    f.n_words, d.n_same
      |  FROM f JOIN d USING (fp))
      |SELECT source, count(*) AS n_docs,
      |  count(CASE WHEN n_same > 1 THEN 1 END) AS n_dup_docs,
      |  round(avg(q), 6) AS avg_quality,
      |  count(CASE WHEN q >= 0.5 THEN 1 END) AS n_keep,
      |  round(avg(n_words), 6) AS avg_words
      |FROM q GROUP BY source
      |ORDER BY source""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val f = Tables.documentsDist(spark, dir)
      .select($"doc_id", $"source", md5($"text").as("fp"),
        Tokens.nWords.as("n_words"),
        Tokens.stopHits.cast("double").as("n_stop"),
        Tokens.nUniq.as("n_uniq"))
    val d = f.groupBy($"fp").agg(count(lit(1)).as("n_same"))
    f.join(d, "fp")
      .withColumn("q", Tokens.quality)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"n_same" > 1, 1)).as("n_dup_docs"),
        round(avg($"q"), 6).as("avg_quality"),
        count(when($"q" >= 0.5, 1)).as("n_keep"),
        round(avg($"n_words"), 6).as("avg_words"))
      .orderBy("source")
  }

  // g45 — cross-SPLIT leakage audit: g25's content-hash split composed
  // with g26's 13-gram overlap rule — how many TRAIN docs share a
  // 13-token n-gram with each held-out split. Exact duplicates can never
  // cross a content-hash split (same text → same hash → same split, the
  // property g25 exists for), so the leakage that remains is NEAR-dup
  // overlap — exactly what this catches, and exactly the eval-integrity
  // number a training run must report. The held-out gram set is
  // broadcast (eval splits are 20% of the corpus; grams dedup'd first),
  // the train side never shuffles.
  private val g45 = graded(
    "g45_split_leakage", {
      val h = Dedup.duckHex8("md5(text)")
      s"""WITH s AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |    CASE WHEN $h % 100 < 80 THEN 'train'
        |         WHEN $h % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, split,
        |    unnest(list_transform(generate_series(1, len(t) - 12),
        |      i -> array_to_string(list_slice(t, i, i + 12), ' '))) AS gr
        |  FROM s),
        |ev AS (
        |  SELECT DISTINCT split AS eval_split, gr FROM g
        |  WHERE split <> 'train'),
        |tr AS (
        |  SELECT DISTINCT g.doc_id, ev.eval_split
        |  FROM g JOIN ev USING (gr) WHERE g.split = 'train'),
        |cnt AS (SELECT split, count(*) AS n_docs FROM s GROUP BY split),
        |lk AS (
        |  SELECT eval_split, count(DISTINCT doc_id)::BIGINT
        |    AS n_train_contaminated
        |  FROM tr GROUP BY eval_split)
        |SELECT c.split AS eval_split, c.n_docs AS n_eval_docs,
        |  coalesce(lk.n_train_contaminated, 0)::BIGINT AS n_train_contaminated
        |FROM cnt c LEFT JOIN lk ON lk.eval_split = c.split
        |WHERE c.split <> 'train'
        |ORDER BY eval_split""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val s = Tables.documentsDist(spark, dir)
      .withColumn("h",
        conv(substring(md5($"text"), 1, 8), 16, 10).cast("bigint") % 100)
      .select($"doc_id", Tokens.words($"text").as("t"),
        when($"h" < 80, "train").when($"h" < 90, "val")
          .otherwise("test").as("split"))
    val g = s.select($"doc_id", $"split", explode(Tokens.window13("t")).as("gr"))
    val ev = g.where($"split" =!= "train")
      .select($"split".as("eval_split"), $"gr").distinct()
    val tr = g.where($"split" === "train")
      .join(broadcast(ev), "gr")
      .select($"doc_id", $"eval_split").distinct()
    val cnt = s.groupBy($"split").agg(count(lit(1)).as("n_eval_docs"))
      .where($"split" =!= "train")
    val lk = tr.groupBy($"eval_split")
      .agg(countDistinct($"doc_id").as("n_train_contaminated"))
    cnt.join(lk, cnt("split") === lk("eval_split"), "left")
      .select(cnt("split").as("eval_split"), $"n_eval_docs",
        coalesce($"n_train_contaminated", lit(0L)).as("n_train_contaminated"))
      .orderBy("eval_split")
  }

  // g48 — OVERLAPPING sliding-window chunking (size 32 tokens, stride 24,
  // overlap 8): the context-window preparation g28's end-to-end packing
  // does NOT cover — training pipelines chunk long documents with overlap
  // so no span is ever split across example boundaries without a
  // continuation copy. Chunk count per doc is closed-form integer
  // arithmetic (1 + ceil((n-32)/24) via the (n-9) div 24 identity), so
  // both engines enumerate identical chunk spines with no float in sight;
  // chunk content rides as its md5 digest (m4's compact-output trick).
  // Shape at scale: pure per-doc projection + fan-out — no shuffle at all
  // before the presentation sort; chunks-per-doc is bounded by doc length,
  // never corpus size.
  private val g48 = graded(
    "g48_chunk_overlap",
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS t,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents),
      |x AS (
      |  SELECT doc_id, n, t,
      |    unnest(generate_series(0,
      |      CASE WHEN n > 32 THEN (n - 9) // 24 ELSE 0 END)) AS i
      |  FROM tk)
      |SELECT doc_id, i::BIGINT AS chunk_i, (1 + 24 * i)::BIGINT AS start_tok,
      |  least(32, n - 24 * i)::BIGINT AS n_tok,
      |  md5(array_to_string(list_slice(t, 1 + 24 * i, 24 * i + 32), ' ')) AS fp
      |FROM x
      |ORDER BY doc_id, chunk_i""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documentsDist(spark, dir)
      .select($"doc_id", Tokens.words($"text").as("t"))
      .withColumn("n", size($"t"))
      // `div` yields BIGINT — both sequence bounds must agree on the type
      .withColumn("i", explode(expr(
        "sequence(bigint(0), CASE WHEN n > 32 THEN (n - 9) div 24 ELSE bigint(0) END)")))
      .select($"doc_id", $"i".cast("bigint").as("chunk_i"),
        (lit(1) + lit(24) * $"i").cast("bigint").as("start_tok"),
        least(lit(32), $"n" - lit(24) * $"i").cast("bigint").as("n_tok"),
        md5(array_join(expr("slice(t, 1 + 24 * i, least(32, n - 24 * i))"),
          " ")).as("fp"))
      .orderBy("doc_id", "chunk_i")
  }

  // g50 — BLOOM-FILTER MEMBERSHIP CATALOG: the constant-space answer to
  // g36's question ("is this ingest batch's content already in the
  // corpus?"). g36's exact fingerprint join is the audit path; at 100 TB
  // the every-batch path is a Bloom filter built ONCE over the corpus
  // catalog (one distributive pass — partial buffers OR-merge, so build
  // cost is one scan at any partition count) and shipped to executors as
  // a scalar (the probe side never shuffles, the corpus is never
  // re-scanned per batch). Spark carries exactly this machinery inside
  // runtime-filter injection but leaves it SQL-unregistered;
  // `GraftExtensions` exposes it as `bloom_agg`/`bloom_might_contain`.
  // Emitted: the probe confusion counts against exact membership. The
  // zero-false-negative law (fn = 0 ALWAYS, any data, any sizing) and
  // the false-positive-rate bound are pinned in PropertySpec; bench-only
  // because the filter's bit layout has no DuckDB twin (d9/d20's rule).
  private val g50 = benchOnly("g50_bloom_membership") { (spark, dir) =>
    for (f <- Seq(graft.GraftExtensions.bloomAgg,
        graft.GraftExtensions.bloomMightContain)) {
      val (name, info, builder) = f
      spark.sessionState.functionRegistry.registerFunction(name, info, builder)
    }
    Tables.documents(spark, dir).createOrReplaceTempView("graft_g50_docs")
    // 1M-item / 8M-bit sizing: ~1 MB filter, FPR ≈ 2% at capacity and
    // far below it under capacity — generous headroom for the sf sweep
    // while staying broadcast-sized; at 100 TB the same two literals are
    // the only thing that changes (nItems = corpus cardinality estimate,
    // bits ≈ 8–10 per item for ~2% FPR).
    spark.sql(
      """WITH corpus AS (
        |  SELECT DISTINCT xxhash64(md5(text)) AS h
        |  FROM graft_g50_docs WHERE doc_id % 5 <> 4),
        |batch AS (
        |  SELECT doc_id, xxhash64(md5(text)) AS h
        |  FROM graft_g50_docs WHERE doc_id % 5 = 4),
        |exact AS (
        |  SELECT b.doc_id, b.h, c.h IS NOT NULL AS is_member
        |  FROM batch b LEFT JOIN corpus c ON b.h = c.h),
        |probed AS (
        |  SELECT doc_id, is_member,
        |    bloom_might_contain(
        |      (SELECT bloom_agg(h, 1000000L, 8000000L) FROM corpus),
        |      h) AS bloom_hit
        |  FROM exact)
        |SELECT
        |  count(*) AS n_probes,
        |  sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS n_members,
        |  sum(CASE WHEN is_member AND bloom_hit THEN 1 ELSE 0 END) AS tp,
        |  sum(CASE WHEN is_member AND NOT bloom_hit THEN 1 ELSE 0 END) AS fn,
        |  sum(CASE WHEN NOT is_member AND bloom_hit THEN 1 ELSE 0 END) AS fp,
        |  sum(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS n_nonmembers
        |FROM probed""".stripMargin)
  }

  // g51 — PAGERANK over the nation trade graph (customer nation →
  // supplier nation via orders⋈lineitem): iterative rank propagation,
  // the domain-quality signal web-scale curation runs over the URL host
  // graph (rank feeds the g10/g39 quality gates). Beyond Components
  // (g40), this is the OTHER fixed-point graph algorithm class — value
  // propagation rather than label collapse. Determinism: ranks live in
  // integer parts-per-million (r₀ = 1,000,000; damping 0.85 applied as
  // ×85 div 100; per-edge contribution r div outdeg) so every engine
  // sums exact BIGINTs — float PageRank would be order-sensitive and
  // hash-unstable. Three unrolled iterations (the oracle states each as
  // a CTE; a driver-side convergence loop would hide the fixed point
  // from Catalyst). Dangling-node mass is dropped, not redistributed —
  // both engines state the same simplification. Shape at scale: the
  // edge derivation is the c2-class fact join (dims broadcast, one
  // shuffle on the fact keys) collapsing to ≤ |nations|² distinct
  // edges via partial aggregation; each iteration is then a
  // broadcast-sized join — rank state never exceeds the node count.
  private val g51 = graded(
    "g51_pagerank", {
      def iter(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT n.n_nationkey AS node,
           |    (150000 + (85 * coalesce(sum(p.r // dg.d), 0)) // 100)::BIGINT
           |      AS r
           |  FROM nation n
           |  LEFT JOIN edges e ON e.dst = n.n_nationkey
           |  LEFT JOIN $prev p ON p.node = e.src
           |  LEFT JOIN dg ON dg.src = e.src
           |  GROUP BY n.n_nationkey)""".stripMargin
      s"""WITH edges AS (
         |  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
         |  FROM orders o
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  WHERE c.c_nationkey <> s.s_nationkey),
         |dg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         |r0 AS (SELECT n_nationkey AS node, 1000000::BIGINT AS r FROM nation),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT n.n_nationkey, n.n_name, r3.r AS rank_ppm
         |FROM r3 JOIN nation n ON n.n_nationkey = r3.node
         |ORDER BY rank_ppm DESC, n_nationkey""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val nation = Tables.nation(spark, dir)
    val edges = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(Tables.lineitem(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.supplier(spark, dir)),
        $"l_suppkey" === $"s_suppkey")
      .select($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
      .where($"src" =!= $"dst")
      .distinct()
    // materialize the ≤|nations|² edge set ONCE: each of the 3 unrolled
    // iterations references it, and without a checkpoint Spark re-executes
    // the whole fact join per reference (measured: 6 lineitem scans in the
    // plan) — at 100 TB that is 5 wasted passes over the biggest table
    val edgesM = {
      val cp = edges.localCheckpoint()
      spark.createDataFrame(cp.rdd, cp.schema)
    }
    val withDeg = edgesM.join(
      edgesM.groupBy($"src").agg(count(lit(1)).as("d")), "src")
    val nodes = nation.select($"n_nationkey".as("node"))
    def iter(prev: DataFrame): DataFrame = {
      val contrib = withDeg
        .join(prev.select($"node".as("pnode"), $"r".as("pr")),
          $"pnode" === $"src")
        .groupBy($"dst").agg(sum(expr("pr div d")).as("s"))
      nodes.join(contrib, $"dst" === $"node", "left")
        .selectExpr("node",
          "cast(150000 + (85 * coalesce(s, 0L)) div 100 as bigint) AS r")
    }
    val r3 = iter(iter(iter(
      nodes.select($"node", lit(1000000L).as("r")))))
    r3.join(nation, $"n_nationkey" === $"node")
      .select($"n_nationkey", $"n_name", $"r".as("rank_ppm"))
      .orderBy($"rank_ppm".desc, $"n_nationkey")
  }

  // g58 — SPAN CORRUPTION (the T5/UL2 denoising-objective prep): mask
  // fixed 2-token spans on a deterministic stride (every position
  // p ≡ 1 mod 10 starts a span; one sentinel replaces the pair) and
  // emit the corrupted sequence's digest + span accounting — the
  // objective-specific corpus transformation that runs between
  // curation and batching. A seeded-random mask would not be
  // re-runnable across engines or re-shards (g29's determinism
  // argument), so the stride IS the declared mask distribution.
  // Corrupted text rides as its md5 (m4's compact-output rule). Pure
  // map-side per-row array arithmetic — zero shuffle before the
  // presentation sort; scales like the scan.
  private val g58 = graded(
    "g58_span_corruption",
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |c AS (
      |  SELECT doc_id, len(t) AS n_tok,
      |    list_filter(
      |      list_transform(generate_series(1, len(t)),
      |        p -> CASE WHEN p % 10 = 1 THEN '<X>'
      |                  WHEN p % 10 = 2 THEN NULL
      |                  ELSE t[p] END),
      |      x -> x IS NOT NULL) AS corrupted
      |  FROM tk)
      |SELECT doc_id, n_tok::BIGINT AS n_tok,
      |  ((n_tok + 9) // 10)::BIGINT AS n_spans,
      |  len(corrupted)::BIGINT AS n_out,
      |  md5(array_to_string(corrupted, ' ')) AS fp
      |FROM c ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documentsDist(spark, dir)
      .select($"doc_id", Tokens.words($"text").as("t"))
      .withColumn("n_tok", size($"t").cast("bigint"))
      .withColumn("corrupted", expr(
        """filter(
          |  transform(sequence(1, size(t)),
          |    p -> CASE WHEN p % 10 = 1 THEN '<X>'
          |              WHEN p % 10 = 2 THEN NULL
          |              ELSE element_at(t, p) END),
          |  x -> x IS NOT NULL)""".stripMargin))
      .select($"doc_id", $"n_tok",
        expr("(n_tok + 9) div 10").cast("bigint").as("n_spans"),
        size($"corrupted").cast("bigint").as("n_out"),
        md5(array_join($"corrupted", " ")).as("fp"))
      .orderBy("doc_id")
  }

  // G59 — temperature-sampled mixture plan: the allocation step that
  // turns per-language corpus sizes into training sampling weights
  // w_i ∝ n_i^(1/2) (τ=2 temperature sampling, the multilingual-LM
  // standard for up-weighting low-resource slices). The only float op is
  // one correctly-rounded sqrt, immediately floored to an integer weight,
  // so the whole plan — weights, ppm shares, token allocations against a
  // 1M-token budget, clamped per-doc sampling rates — is exact integer
  // arithmetic with zero cross-engine float surface. 100 TB: one
  // aggregate on lang (5 groups) + a broadcast 1-row total; the plan
  // table is dimension-sized however big the corpus.
  // g59's two 1,000,000s are DIFFERENT quantities that happen to share a
  // value: PpmScale is the parts-per-million fixed-point scale; TokenBudget
  // is the training-mix token budget being allocated. Named so a future
  // budget change cannot silently also rescale the ppm shares.
  private val PpmScale = 1000000L
  private val TokenBudget = 1000000L

  private val g59 = graded(
    "g59_mix_plan",
    s"""WITH l AS (
      |  SELECT lang, count(*)::BIGINT AS n_docs,
      |    sum(len(string_split(text, ' ')))::BIGINT AS n_tok
      |  FROM documents GROUP BY lang),
      |w AS (
      |  SELECT lang, n_docs, n_tok,
      |    CAST(floor(sqrt(n_tok::DOUBLE)) AS BIGINT) AS wt
      |  FROM l),
      |t AS (SELECT sum(wt)::BIGINT AS wt_sum FROM w)
      |SELECT w.lang, w.n_docs, w.n_tok, w.wt,
      |  ((w.wt * $PpmScale) // t.wt_sum)::BIGINT AS share_ppm,
      |  (($TokenBudget * w.wt) // t.wt_sum)::BIGINT AS alloc_tok,
      |  least($PpmScale,
      |    ((($TokenBudget * w.wt) // t.wt_sum) * $PpmScale) // w.n_tok)::BIGINT
      |    AS rate_ppm
      |FROM w CROSS JOIN t
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val l = Tables.documents(spark, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(size(Tokens.words($"text"))).cast("bigint").as("n_tok"))
    val w = l.withColumn("wt",
      floor(sqrt($"n_tok".cast("double"))).cast("bigint"))
    val t = w.agg(sum($"wt").cast("bigint").as("wt_sum"))
    w.crossJoin(broadcast(t))
      .select($"lang", $"n_docs", $"n_tok", $"wt",
        expr(s"(wt * $PpmScale) div wt_sum").cast("bigint").as("share_ppm"),
        expr(s"($TokenBudget * wt) div wt_sum").cast("bigint").as("alloc_tok"),
        least(lit(PpmScale),
          expr(s"((($TokenBudget * wt) div wt_sum) * $PpmScale) div n_tok"))
          .cast("bigint").as("rate_ppm"))
      .orderBy("lang")
  }

  // g61 — per-source document cap: keep the top-15 docs per source by a
  // deterministic quality score. The standard crawl-curation guard (a C4/
  // RefinedWeb-style per-domain cap) against any single domain dominating
  // the mix: rank within source by (quality DESC, doc_id) and keep rank
  // ≤ 15. The quality score is a fixed IEEE tree over integer word
  // counts (g10's shape), so ranking order is identical in both engines;
  // doc_id breaks exact ties. Plan: one window partitioned by source —
  // Spark plans a WindowGroupLimit (g37's rank-limit pruning), so each
  // shuffle partition retains only its top 15 BEFORE the full sort; at
  // 100 TB the shuffle carries per-source top-k candidates, not the
  // corpus.
  private val CapPerSource = 15

  private val g61 = graded(
    "g61_domain_cap",
    s"""WITH m AS (
      |  SELECT doc_id, source,
      |    len(string_split(text, ' '))::DOUBLE AS n_words,
      |    len(list_distinct(string_split(text, ' ')))::DOUBLE AS n_uniq
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, source,
      |    0.5 * least(n_words / 50.0, 1.0) + 0.5 * (n_uniq / n_words) AS q
      |  FROM m),
      |r AS (
      |  SELECT doc_id, source, q,
      |    row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id)
      |      AS rk
      |  FROM q)
      |SELECT doc_id, source, rk::BIGINT AS rk, round(q, 6) AS quality
      |FROM r WHERE rk <= $CapPerSource
      |ORDER BY source, rk""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val m = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        Tokens.nWords.as("n_words"), Tokens.nUniq.as("n_uniq"))
    val q = m.withColumn("q", Tokens.qualityLenUniq($"n_words", $"n_uniq"))
    q.withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"q".desc, $"doc_id")))
      .where($"rk" <= CapPerSource)
      .select($"doc_id", $"source", $"rk".cast("bigint").as("rk"),
        round($"q", 6).as("quality"))
      .orderBy("source", "rk")
  }

  // g78 — DETERMINISTIC WEIGHTED SAMPLE (Efraimidis–Spirakis A-ES with a
  // hash in place of the RNG — the g25 rule: a sampling step that cannot
  // be rerun bit-identically is a provenance hole). Each doc draws
  // u ∈ (0,1] from the first 8 md5 hex chars of its doc_id and scores
  // key = ln(u)/w with w = n_chars; the top-k by key are EXACTLY a
  // weighted-without-replacement sample (longer docs proportionally
  // likelier), reproducible from the doc_id alone on any engine. The
  // ln() runs once per doc on hash-separated inputs — engine libm ulp
  // differences are ~1e-17 against key gaps of ~1e-8, so ordering and
  // the 6dp verdict are stable. Shape at scale: pure map + TakeOrdered
  // top-k — no shuffle except the k-row result; this is how you draw a
  // 10M-doc training subset from 100 TB without an RNG seed fight.
  private val g78 = graded(
    "g78_weighted_sample", {
      val h = Dedup.duckHex8("md5(doc_id::VARCHAR)")
      s"""SELECT doc_id, source, n_chars,
      |  round(1000000.0 * ln(($h + 1.0) / 4294967296.0) / n_chars, 6)
      |    AS key_ppm
      |FROM documents
      |ORDER BY key_ppm DESC, doc_id
      |LIMIT 20""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"n_chars",
        round(lit(1000000.0)
          * log((conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
              .cast("double") + 1.0) / 4294967296.0)
          / $"n_chars", 6).as("key_ppm"))
      .orderBy($"key_ppm".desc, $"doc_id")
      .limit(20)
  }

  // g82 — QUALITY × NEAR-DUP CROSSTAB: the curation question the two
  // pipelines exist to answer together — "are the near-duplicates the
  // low-quality mass, or are we about to dedup away good data?" Joins
  // g10's quality score (bucketed low/mid/high at 0.4/0.6) against
  // membership in g2's ≥0.9-Jaccard near-dup pair set; counts + exact
  // corpus-share ppm per cell. The oracle restates BOTH pipelines in
  // SQL, so the composition itself is graded, not just the parts.
  // Shape at scale: g2's banded pair join + one map-side quality pass +
  // a 6-cell aggregate; the 1-row corpus total crosses (allowlisted).
  private val g82 = graded(
    "g82_quality_dup_matrix", {
      val inList = Tokens.stopSqlIn
      s"""WITH q AS (
      |  SELECT doc_id,
      |    0.4 * least(len(string_split(text, ' ')) / 50.0, 1.0)
      |    + 0.3 * least(10.0 * len(list_filter(string_split(text, ' '),
      |        t -> t IN $inList)) / len(string_split(text, ' ')), 1.0)
      |    + 0.3 * (len(list_distinct(string_split(text, ' ')))::DOUBLE
      |        / len(string_split(text, ' '))) AS qv
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
      |  FROM documents),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |      len(list_intersect(a.tk, b.tk))::DOUBLE /
      |      len(list_distinct(list_concat(a.tk, b.tk)))::DOUBLE AS jac
      |    FROM toks a JOIN toks b
      |      ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 150) p
      |  WHERE jac >= 0.9),
      |dup AS (SELECT DISTINCT doc_id FROM (
      |  SELECT doc_a AS doc_id FROM pairs
      |  UNION ALL SELECT doc_b FROM pairs) u),
      |cells AS (
      |  SELECT CASE WHEN q.qv < 0.4 THEN 'low'
      |           WHEN q.qv < 0.6 THEN 'mid' ELSE 'high' END AS bucket,
      |    (dup.doc_id IS NOT NULL) AS is_neardup,
      |    count(*)::BIGINT AS n_docs
      |  FROM q LEFT JOIN dup ON q.doc_id = dup.doc_id
      |  GROUP BY 1, 2),
      |t AS (SELECT count(*)::BIGINT AS total FROM documents)
      |SELECT cells.bucket, cells.is_neardup, cells.n_docs,
      |  (cells.n_docs * 1000000 // t.total)::BIGINT AS share_ppm
      |FROM cells CROSS JOIN t
      |ORDER BY bucket, is_neardup""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val q = Tokens.withQuality(Tables.documentsDist(spark, dir))
      .select($"doc_id", $"q".as("qv"))
    // the shared ≥0.9-Jaccard pair table (snapshot-served after a21,
    // g2's banded kernel inline otherwise)
    val pairs = Dedup.jaccPairs(spark, dir)
    val dup = pairs.select($"doc_a".as("doc_id"))
      .unionByName(pairs.select($"doc_b".as("doc_id"))).distinct()
      .withColumn("isdup", lit(true))
    val cells = q.join(dup, Seq("doc_id"), "left")
      .select(
        when($"qv" < 0.4, "low").when($"qv" < 0.6, "mid").otherwise("high")
          .as("bucket"),
        coalesce($"isdup", lit(false)).as("is_neardup"))
      .groupBy($"bucket", $"is_neardup")
      .agg(count(lit(1)).cast("bigint").as("n_docs"))
    val t = Tables.documents(spark, dir)
      .agg(count(lit(1)).cast("bigint").as("total"))
    cells.crossJoin(broadcast(t))
      .select($"bucket", $"is_neardup", $"n_docs",
        expr("(n_docs * 1000000) div total").cast("bigint").as("share_ppm"))
      .orderBy($"bucket", $"is_neardup")
  }

  val defs: Seq[QueryDef] =
    Seq(g25, g26, g27, g28, g29, g36, g39, g45, g48, g50, g51, g58, g59,
      g61, g78, g82, g95)
}
