package graft.pipeline

import graft.GraftExtensions
import graft.QueryDef
import graft.QueryDef.graded
import graft.pipeline.Tokens.{stopSqlIn, stopSqlList}
import graft.sources.{Fixtures, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** G (text-analysis family): corpus statistics, TF-IDF, language-ID
  * heuristics, quality scoring, token counting — the per-document scoring
  * passes a training-data pipeline runs before filtering.
  *
  * Scale notes (100 TB): everything here is per-row scoring (no shuffle)
  * followed by at most one aggregate shuffle on a low-cardinality key.
  * TF-IDF shuffles (doc, word) pairs once for TF and reuses the same
  * exploded relation for DF; the document-count side is a 1-row broadcast.
  */
object TextAnalysis {

  // g6 — TF-IDF scoring, pure relational pipeline (no MLlib needed):
  // explode → TF per (doc, word), DF per word, idf = ln(N/df).
  private val g6 = graded(
    "g6_tfidf",
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
      |df AS (SELECT word, count(*) AS df
      |       FROM (SELECT DISTINCT doc_id, word FROM w) dw GROUP BY word),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT tf.doc_id, tf.word, tf.tf,
      |  round(tf.tf * ln(n.n::DOUBLE / df.df::DOUBLE), 6) AS tfidf
      |FROM tf JOIN df USING (word) CROSS JOIN n
      |ORDER BY doc_id, word""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val words = Tokens.docWords(Tables.documents(spark, dir))
    val tf = words.groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
    val dfreq = words.distinct().groupBy($"word").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
    tf.join(dfreq, "word")
      .crossJoin(broadcast(n))
      .select($"doc_id", $"word", $"tf",
        round($"tf" * log($"n".cast("double") / $"df".cast("double")), 6).as("tfidf"))
      .orderBy("doc_id", "word")
  }

  // g7 — corpus stats per language.
  private val g7 = graded(
    "g7_text_stats",
    """SELECT lang, count(*) AS n_docs,
      |  round(avg(n_chars), 6) AS avg_chars,
      |  round(avg(len(string_split(text, ' '))), 6) AS avg_words,
      |  sum(n_chars)::BIGINT AS total_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"n_chars"), 6).as("avg_chars"),
        round(avg(size(Tokens.words($"text"))), 6).as("avg_words"),
        sum($"n_chars").as("total_chars"))
      .orderBy("lang")
  }

  // g9 — language-ID heuristic: stopword-hit ratio over distinct tokens
  // (an n-gram/wordlist classifier reduced to set arithmetic; the corpus
  // vocabulary is synthetic, so the score, not the label accuracy, is the
  // graded behavior).
  private val g9 = graded(
    "g9_langid",
    s"""SELECT doc_id,
      |  round(sc, 6) AS en_score,
      |  CASE WHEN sc >= 0.05 THEN 'en' ELSE 'other' END AS pred_lang,
      |  lang
      |FROM (
      |  SELECT doc_id, lang,
      |    len(list_intersect(tk, $stopSqlList))::DOUBLE / len(tk)::DOUBLE AS sc
      |  FROM (SELECT doc_id, lang,
      |          list_distinct(string_split(text, ' ')) AS tk FROM documents) t0) t
      |ORDER BY doc_id""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("tk", array_distinct(Tokens.words($"text")))
      .withColumn("en_score0", Tokens.langScore($"tk"))
      .select($"doc_id",
        round($"en_score0", 6).as("en_score"),
        when($"en_score0" >= 0.05, "en").otherwise("other").as("pred_lang"),
        $"lang")
      .orderBy("doc_id")
  }

  // g10 — document quality scoring: length, stopword-density, and
  // uniqueness signals combined into one bounded score; `keep` is the
  // pipeline's filter decision. Identical expression trees both engines.
  private val g10 = graded(
    "g10_quality_score",
    s"""SELECT doc_id,
      |  n_words,
      |  round(q, 6) AS quality,
      |  CASE WHEN q >= 0.5 THEN true ELSE false END AS keep
      |FROM (
      |  SELECT doc_id, n_words,
      |    0.4 * least(n_words / 50.0, 1.0)
      |    + 0.3 * least(10.0 * n_stop / n_words, 1.0)
      |    + 0.3 * (n_uniq / n_words) AS q
      |  FROM (
      |    SELECT doc_id,
      |      len(string_split(text, ' '))::DOUBLE AS n_words,
      |      len(list_filter(string_split(text, ' '),
      |          t -> t IN $stopSqlIn))::DOUBLE AS n_stop,
      |      len(list_distinct(string_split(text, ' ')))::DOUBLE AS n_uniq
      |    FROM documents) m) s
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tokens.withQuality(Tables.documents(spark, dir))
      .select($"doc_id", $"n_words",
        round($"q", 6).as("quality"),
        ($"q" >= 0.5).as("keep"))
      .orderBy("doc_id")
  }

  // g11 — token counting: whitespace tokens vs. a BPE-ish regex token
  // stream (alpha runs / digit runs), plus a chars-per-token ratio.
  private val g11 = graded(
    "g11_token_count",
    """SELECT doc_id,
      |  len(string_split(text, ' '))::INT AS n_ws,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+'))::INT AS n_re,
      |  length(text)::INT AS n_chars_m,
      |  round(length(text)::DOUBLE / len(string_split(text, ' '))::DOUBLE, 6)
      |    AS chars_per_tok
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        size(Tokens.words($"text")).as("n_ws"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).as("n_re"),
        length($"text").as("n_chars_m"),
        round(length($"text").cast("double")
          / size(Tokens.words($"text")).cast("double"), 6).as("chars_per_tok"))
      .orderBy("doc_id")
  }

  // g23 — token-distribution entropy per document: H = −Σ p ln p over the
  // token frequency distribution (low entropy ⇒ repetitive/boilerplate
  // text — a standard pre-training quality gate next to g10's
  // length/ratio score). One (doc, token) count shuffle + one per-doc
  // aggregate; the ln/division arithmetic is double-exact in both
  // engines, output rounded to 6dp.
  private val g23 = graded(
    "g23_doc_entropy",
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |tf AS (
      |  SELECT doc_id, word, count(*)::DOUBLE AS n FROM w GROUP BY doc_id, word),
      |tot AS (SELECT doc_id, sum(n) AS total FROM tf GROUP BY doc_id)
      |SELECT tf.doc_id,
      |  round(sum(-(n / total) * ln(n / total)), 6) AS entropy,
      |  count(*) AS n_distinct
      |FROM tf JOIN tot ON tf.doc_id = tot.doc_id
      |GROUP BY tf.doc_id
      |ORDER BY tf.doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val tf = Tokens.docWords(Tables.documents(spark, dir))
      .groupBy($"doc_id", $"word")
      .agg(count(lit(1)).cast("double").as("n"))
    val tot = tf.groupBy($"doc_id").agg(sum($"n").as("total"))
    tf.join(tot, "doc_id")
      .groupBy($"doc_id")
      .agg(
        round(sum(-($"n" / $"total") * log($"n" / $"total")), 6).as("entropy"),
        count(lit(1)).as("n_distinct"))
      .orderBy("doc_id")
  }

  // g30 — bigram collocation strength (the phrase-mining pass a tokenizer
  // vocabulary build runs): lift(a,b) = P(ab) / (P(a)·P(b)). Both engines
  // compute the products in DOUBLE with the same left-to-right operation
  // order — IEEE multiplication is deterministic, so scores stay
  // bit-identical, and unlike int64 products the doubles cannot overflow
  // at large corpus sizes (n_bi·n_a·n_b passes 2^63 around 3e7 tokens;
  // DuckDB would silently survive in HUGEINT while Spark wrapped — the
  // double formulation keeps the engines in lockstep instead). PMI's
  // ln() is avoided on purpose: it is libm-dependent in its last ulp;
  // the ratio ranks identically without the hazard. Adjacent-pair
  // extraction is a per-row projection; the only shuffles are the two
  // count aggregations; corpus totals ride a 1-row broadcast. Top-50 by
  // count keeps the output constant-size at any corpus scale.
  private val g30 = graded(
    "g30_bigram_lift",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |bg AS (
      |  SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
      |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram,
      |    unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i])) AS w1,
      |    unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i + 1])) AS w2
      |  FROM t),
      |bc AS (SELECT bigram, w1, w2, count(*) AS n_ab FROM bg GROUP BY 1, 2, 3),
      |uni AS (
      |  SELECT word, count(*) AS n FROM
      |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents) u
      |  GROUP BY word),
      |tot AS (
      |  SELECT (SELECT sum(n) FROM uni) AS n_uni,
      |         (SELECT sum(n_ab) FROM bc) AS n_bi)
      |SELECT bigram, n_ab::BIGINT AS n_ab,
      |  round((n_ab::DOUBLE * n_uni::DOUBLE * n_uni::DOUBLE)
      |        / (n_bi::DOUBLE * ua.n::DOUBLE * ub.n::DOUBLE), 6) AS lift
      |FROM bc
      |JOIN uni ua ON bc.w1 = ua.word
      |JOIN uni ub ON bc.w2 = ub.word
      |CROSS JOIN tot
      |ORDER BY n_ab DESC, bigram
      |LIMIT 50""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documentsDist(spark, dir)
    // counted on the bigram alone; tokens hold no space, so its two words
    // split back out exactly, once per distinct bigram
    val bc = docs.select(Tokens.words($"text").as("tk"))
      .select(explode(Tokens.ngrams("tk", 2)).as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("n_ab"))
      .withColumn("w1", split_part($"bigram", lit(" "), lit(1)))
      .withColumn("w2", split_part($"bigram", lit(" "), lit(2)))
    val uni = docs.select(explode(Tokens.words($"text")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("n"))
    val tot = uni.agg(sum($"n").as("n_uni"))
      .crossJoin(bc.agg(sum($"n_ab").as("n_bi")))
    bc
      .join(uni.select($"word".as("w1"), $"n".as("n_a")), "w1")
      .join(uni.select($"word".as("w2"), $"n".as("n_b")), "w2")
      .crossJoin(broadcast(tot))
      .select($"bigram", $"n_ab",
        round(($"n_ab".cast("double") * $"n_uni".cast("double") * $"n_uni".cast("double"))
          / ($"n_bi".cast("double") * $"n_a".cast("double") * $"n_b".cast("double")), 6).as("lift"))
      .orderBy($"n_ab".desc, $"bigram")
      .limit(50)
  }

  // g31 — repetition signals (the Gopher/MassiveText repetition filters):
  // per-doc duplicate-token fraction and top-bigram fraction. High values
  // flag boilerplate/degenerate text that per-token perplexity filters
  // miss. Fractions are formed as integer-difference-over-integer in BOTH
  // engines ((n−d)/n, never 1.0−d/n) so the arithmetic is identical and
  // DuckDB's DECIMAL literal semantics never enter. Only the max bigram
  // COUNT is emitted — the arg-max bigram itself is tie-ambiguous.
  // Scale: one (doc, bigram) count shuffle + a per-doc max — the same
  // shape as g23's entropy; nothing global.
  private val g31 = graded(
    "g31_repetition",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |b AS (
      |  SELECT doc_id, len(tk)::BIGINT AS n_tokens,
      |    len(list_distinct(tk))::BIGINT AS n_distinct
      |  FROM t),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(tk) - 1),
      |      i -> tk[i] || ' ' || tk[i + 1])) AS bg
      |  FROM t WHERE len(tk) >= 2),
      |top AS (
      |  SELECT doc_id, max(c) AS top_n FROM (
      |    SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg)
      |  GROUP BY doc_id)
      |SELECT b.doc_id, b.n_tokens, b.n_distinct,
      |  round((b.n_tokens - b.n_distinct)::DOUBLE / b.n_tokens, 6)
      |    AS dup_token_frac,
      |  coalesce(top.top_n, 0)::BIGINT AS top_bigram_n,
      |  round(coalesce(top.top_n, 0)::DOUBLE / (b.n_tokens - 1), 6)
      |    AS top_bigram_frac
      |FROM b LEFT JOIN top ON b.doc_id = top.doc_id
      |ORDER BY b.doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val toks = Tables.documentsDist(spark, dir)
      .select($"doc_id", Tokens.words($"text").as("tk"))
    val base = toks.select($"doc_id",
      size($"tk").cast("bigint").as("n_tokens"),
      size(array_distinct($"tk")).cast("bigint").as("n_distinct"))
    val top = toks.select($"doc_id", explode(Tokens.ngrams("tk", 2)).as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_n"))
    base.join(top, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens", $"n_distinct",
        round(($"n_tokens" - $"n_distinct").cast("double") / $"n_tokens", 6)
          .as("dup_token_frac"),
        coalesce($"top_n", lit(0L)).as("top_bigram_n"),
        round(coalesce($"top_n", lit(0L)).cast("double") / ($"n_tokens" - 1), 6)
          .as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  // g35 — corpus-LM document score (perplexity-lite quality gate): mean
  // per-token log-probability under the corpus UNIGRAM distribution —
  // the cheap, deterministic stand-in for the neural-LM perplexity
  // filters every pre-training pipeline runs; anomalously low scorers
  // are boilerplate/junk relative to the corpus. Shape: corpus unigram
  // counts (a tiny vocab-sized table) joined onto the (doc, token)
  // explode — the token side shuffles ONCE on the token key; the
  // vocab side broadcasts at any corpus size. Per-doc mean is a second
  // shuffle on doc_id. ln() is IEEE-identical in both engines (g23's
  // proven rule); per-doc sums add in engine order → round(6) after the
  // mean, same as g23.
  private val g35 = graded(
    "g35_unigram_logprob",
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |uni AS (SELECT word, count(*)::DOUBLE AS n FROM w GROUP BY word),
      |tot AS (SELECT sum(n) AS total FROM uni)
      |SELECT doc_id,
      |  count(*)::BIGINT AS n_tokens,
      |  round(sum(ln(n / total)) / count(*), 6) AS mean_logprob
      |FROM w JOIN uni USING (word) CROSS JOIN tot
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Tokens.docWords(Tables.documentsDist(spark, dir))
    val uni = w.groupBy($"word").agg(count(lit(1)).cast("double").as("n"))
    val tot = uni.agg(sum($"n").as("total"))
    w.join(broadcast(uni), "word")
      .crossJoin(broadcast(tot))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(log($"n" / $"total")) / count(lit(1)), 6).as("mean_logprob"))
      .orderBy("doc_id")
  }

  // g37 — keyword extraction: top-3 TF-IDF terms per document, the
  // downstream consumer of g6's scores (tagging / clustering features /
  // index terms). Ranking happens on the UNROUNDED score — both engines
  // compute tf · ln(N/df) from identical integers with IEEE ops, so the
  // doubles are bit-equal and the (score DESC, word) order is identical;
  // the word tie-break pins equal-score rows. One extra window over the
  // g6 relation, partitioned per doc — the per-group-top-k shape (e5)
  // which WindowGroupLimit prunes to a streaming top-3 per partition,
  // never a full sort of the corpus.
  private val g37 = graded(
    "g37_keywords",
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
      |df AS (SELECT word, count(*) AS df
      |       FROM (SELECT DISTINCT doc_id, word FROM w) dw GROUP BY word),
      |n AS (SELECT count(*) AS n FROM documents),
      |sc AS (
      |  SELECT tf.doc_id, tf.word,
      |    tf.tf * ln(n.n::DOUBLE / df.df::DOUBLE) AS s
      |  FROM tf JOIN df USING (word) CROSS JOIN n),
      |r AS (
      |  SELECT doc_id, word, s,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, word) AS rank
      |  FROM sc)
      |SELECT doc_id, rank, word, round(s, 6) AS tfidf
      |FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val words = Tokens.docWords(Tables.documentsDist(spark, dir))
    val tf = words.groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
    val dfreq = words.distinct().groupBy($"word").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
    val sc = tf.join(broadcast(dfreq), "word")
      .crossJoin(broadcast(n))
      .select($"doc_id", $"word",
        ($"tf" * log($"n".cast("double") / $"df".cast("double"))).as("s"))
    sc.withColumn("rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"doc_id").orderBy($"s".desc, $"word")))
      .where($"rank" <= 3)
      .select($"doc_id", $"rank", $"word", round($"s", 6).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  // g38 — Zipf-law fit over the corpus unigram distribution: OLS slope
  // of ln(freq) on ln(rank) (natural text ≈ −1; a strongly deviating
  // corpus is synthetic, truncated, or boilerplate-dominated — the
  // corpus-level health gate next to the per-doc ones). The regression
  // runs over the VOCAB-sized table (tiny at any corpus scale — the
  // heavy work is the unigram count, one token shuffle with map-side
  // partial agg); the rank window orders by (count DESC, word) so ties
  // rank identically in both engines. `regr_slope`/`regr_intercept` are
  // the same covar_pop/var_pop definition in Spark and DuckDB.
  private val g38 = graded(
    "g38_zipf_fit",
    """WITH uni AS (
      |  SELECT word, count(*)::DOUBLE AS n FROM
      |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
      |  GROUP BY word),
      |r AS (
      |  SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rnk FROM uni)
      |SELECT count(*)::BIGINT AS vocab,
      |  round(regr_slope(ln(n), ln(rnk::DOUBLE)), 6) AS zipf_slope,
      |  round(regr_intercept(ln(n), ln(rnk::DOUBLE)), 6) AS zipf_intercept
      |FROM r
      |ORDER BY vocab""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val uni = Tokens.docWords(Tables.documentsDist(spark, dir), keys = Nil)
      .groupBy($"word").agg(count(lit(1)).cast("double").as("n"))
    val ranked = uni.withColumn("rnk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy($"n".desc, $"word")))
    ranked.agg(
      count(lit(1)).as("vocab"),
      round(expr("regr_slope(ln(n), ln(cast(rnk as double)))"), 6)
        .as("zipf_slope"),
      round(expr("regr_intercept(ln(n), ln(cast(rnk as double)))"), 6)
        .as("zipf_intercept"))
      .orderBy("vocab") // 1-row output; satisfies the global-order lint
  }

  // g41 — bigram CONDITIONAL logprob per document: mean ln(P(w2|w1)) with
  // P estimated from the corpus's own bigram/first-token counts — the
  // bigram upgrade of g35's unigram gate (a Markov perplexity-lite that
  // penalizes improbable word TRANSITIONS, which unigram frequency can't
  // see). No smoothing needed: scored on the training corpus, every doc
  // bigram has count ≥ 1. Bigrams travel as one 'w1 w2' string (g31's
  // trick) so both engines group on identical keys. The count tables are
  // vocabulary-sized (orders smaller than the corpus — Heaps' law), so
  // they broadcast; the (doc, bigram) stream shuffles once on doc_id.
  // ln() is IEEE-identical in both engines (g23's rule); round(6) after
  // the mean absorbs sum-order residue (g35's rule).
  private val g41 = graded(
    "g41_bigram_logprob",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |p AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(tk) - 1),
      |      i -> tk[i] || ' ' || tk[i + 1])) AS b
      |  FROM t WHERE len(tk) >= 2),
      |c2 AS (SELECT b, count(*)::DOUBLE AS n2 FROM p GROUP BY b),
      |c1 AS (
      |  SELECT split_part(b, ' ', 1) AS w1, count(*)::DOUBLE AS n1
      |  FROM p GROUP BY 1)
      |SELECT doc_id,
      |  count(*)::BIGINT AS n_bigrams,
      |  round(sum(ln(n2 / n1)) / count(*), 6) AS mean_logprob
      |FROM p JOIN c2 USING (b)
      |  JOIN c1 ON split_part(p.b, ' ', 1) = c1.w1
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val p = Tables.documentsDist(spark, dir)
      .select($"doc_id", Tokens.words($"text").as("tk"))
      .select($"doc_id", explode(Tokens.ngrams("tk", 2)).as("b"))
      .withColumn("w1", split_part($"b", lit(" "), lit(1)))
    val c2 = p.groupBy($"b").agg(count(lit(1)).cast("double").as("n2"))
    val c1 = p.groupBy($"w1").agg(count(lit(1)).cast("double").as("n1"))
    p.join(broadcast(c2), "b")
      .join(broadcast(c1), "w1")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(log($"n2" / $"n1")) / count(lit(1)), 6).as("mean_logprob"))
      .orderBy("doc_id")
  }

  // g42 — one BPE merge step (tokenizer-vocab training): corpus-wide
  // counts of adjacent CHARACTER pairs within words; the top pair is
  // exactly what byte-pair encoding would merge next, and the top-20
  // list is the merge-candidate table. Token occurrences collapse to
  // DISTINCT words first (Zipf: the vocabulary is orders smaller than
  // the corpus), so the pair fan-out — i3's custom `char_shingles`
  // Generator, streaming through GenerateExec — runs over vocab-sized
  // input and each pair count is the occurrence-weighted sum. The final
  // aggregate's key space is bounded by the alphabet², not the corpus.
  // Count ties break on the pair string so the top-20 cut is
  // total-ordered in both engines (oracle states the unweighted form —
  // same result, the weighting is a plan rewrite).
  private val g42 = graded(
    "g42_bpe_step",
    """WITH w AS (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      |p AS (
      |  SELECT unnest(list_transform(generate_series(1, length(word) - 1),
      |    i -> substring(word, i::INT, 2))) AS pair
      |  FROM w WHERE length(word) >= 2)
      |SELECT pair, count(*)::BIGINT AS n
      |FROM p GROUP BY pair
      |ORDER BY n DESC, pair
      |LIMIT 20""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    GraftExtensions.register(spark, GraftExtensions.charShingles)
    Tokens.docWords(Tables.documentsDist(spark, dir), keys = Nil)
      .where(length($"word") >= 2)
      .groupBy($"word").agg(count(lit(1)).as("wn"))
      .select($"wn", expr("char_shingles(word, 2)").as("pair"))
      .groupBy($"pair")
      .agg(sum($"wn").as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(20)
  }

  // g43 — classifier EVALUATION: the confusion matrix of g9's language
  // heuristic against the corpus's ground-truth lang labels, plus the
  // derived precision/recall for the 'en' class as integer-quotient
  // fractions (g31's determinism rule). Every curation filter is a
  // classifier; shipping one without its confusion matrix is the
  // unfalsifiable-claim trap the ANN recall spec already closes for
  // approximate search. One vocabulary-bounded projection + a ≤10-key
  // aggregate.
  private val g43 = graded(
    "g43_langid_eval",
    s"""WITH p AS (
      |  SELECT lang,
      |    CASE WHEN len(list_intersect(
      |        list_distinct(string_split(text, ' ')), $stopSqlList))::DOUBLE
      |      / len(list_distinct(string_split(text, ' ')))::DOUBLE >= 0.05
      |    THEN 'en' ELSE 'other' END AS pred_lang
      |  FROM documents)
      |SELECT lang, pred_lang, count(*) AS n_docs,
      |  round(count(*)::DOUBLE
      |    / (SELECT count(*) FROM p p2 WHERE p2.lang = p.lang), 6)
      |    AS frac_of_lang
      |FROM p
      |GROUP BY lang, pred_lang
      |ORDER BY lang, pred_lang""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val p = Tables.documentsDist(spark, dir)
      .withColumn("tk", array_distinct(Tokens.words($"text")))
      .select($"lang",
        when(Tokens.langScore($"tk") >= 0.05, "en").otherwise("other")
          .as("pred_lang"))
    val perLang = p.groupBy($"lang").agg(count(lit(1)).as("lang_total"))
    p.groupBy($"lang", $"pred_lang").agg(count(lit(1)).as("n_docs"))
      .join(broadcast(perLang), "lang")
      .select($"lang", $"pred_lang", $"n_docs",
        round($"n_docs".cast("double") / $"lang_total", 6).as("frac_of_lang"))
      .orderBy("lang", "pred_lang")
  }

  // g52 — VOCABULARY COVERAGE / OOV RATE: per-document out-of-vocabulary
  // token share against the corpus's own top-25 word vocabulary — the
  // tokenizer-fit metric a curation pass computes before committing to a
  // vocab (high OOV ⇒ the tokenizer will shred this document into
  // bytes). Vocabulary selection is fully deterministic: frequency with
  // the word itself as tiebreak, taken with a TakeOrdered top-k (a
  // total-order sort+limit, NOT a single-partition window). OOV share is
  // reported in integer basis points (10000·oov div tokens) — g31's
  // integer-quotient determinism rule. Shape at scale: one token-key
  // shuffle for frequencies, a broadcast of the tiny vocab, then a
  // per-doc colocated count; nothing global but the 25-row vocab.
  private val g52 = graded(
    "g52_oov_rate",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
      |vocab AS (
      |  SELECT w FROM (
      |    SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rk FROM freq)
      |  WHERE rk <= 25),
      |per AS (
      |  SELECT t.doc_id, count(*) AS n_tok,
      |    sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
      |  FROM tok t LEFT JOIN vocab v ON t.w = v.w
      |  GROUP BY t.doc_id)
      |SELECT doc_id, n_tok, n_oov, (10000 * n_oov) // n_tok AS oov_bp
      |FROM per ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val tok = Tokens.docWords(Tables.documentsDist(spark, dir), "w")
    val vocab = tok.groupBy($"w").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"w").limit(25)
      .select($"w".as("vw"))
    tok.join(broadcast(vocab), $"w" === $"vw", "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when($"vw".isNull, 1).otherwise(0)).cast("bigint").as("n_oov"))
      .selectExpr("doc_id", "n_tok", "n_oov",
        "(10000 * n_oov) div n_tok AS oov_bp")
      .orderBy("doc_id")
  }

  // g53 — PERPLEXITY BUCKETING (the CCNet stage: split each language's
  // corpus into head / middle / tail by LM score, keep head+middle,
  // audit tail): g35's unigram mean-logprob feeds a per-lang ntile(3).
  // The tertile orders by the ROUNDED score with doc_id tiebreak — the
  // unrounded per-doc sum adds in engine order (g35's documented ulp
  // hazard), so ranking on it would make bucket membership
  // engine-dependent; ranking on the 6dp value both engines already
  // agree on (g35 is hash-graded) makes the cut deterministic. Shape at
  // scale: g35's token shuffle + broadcast vocab, then one per-lang
  // window — the ntile partitions on lang, never a global sort.
  private val g53 = graded(
    "g53_perplexity_bucket",
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |uni AS (SELECT word, count(*)::DOUBLE AS n FROM w GROUP BY word),
      |tot AS (SELECT sum(n) AS total FROM uni),
      |lp AS (
      |  SELECT doc_id, round(sum(ln(n / total)) / count(*), 6) AS mlp
      |  FROM w JOIN uni USING (word) CROSS JOIN tot
      |  GROUP BY doc_id),
      |b AS (
      |  SELECT d.doc_id, d.lang, lp.mlp,
      |    ntile(3) OVER (PARTITION BY d.lang ORDER BY lp.mlp DESC, d.doc_id
      |    ) AS t
      |  FROM documents d JOIN lp ON d.doc_id = lp.doc_id)
      |SELECT doc_id, lang, mlp AS mean_logprob,
      |  CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
      |    AS bucket
      |FROM b ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Tokens.docWords(Tables.documentsDist(spark, dir))
    val uni = w.groupBy($"word").agg(count(lit(1)).cast("double").as("n"))
    val tot = uni.agg(sum($"n").as("total"))
    val lp = w.join(broadcast(uni), "word")
      .crossJoin(broadcast(tot))
      .groupBy($"doc_id")
      .agg(round(sum(log($"n" / $"total")) / count(lit(1)), 6).as("mlp"))
    val nt = Window.partitionBy($"lang").orderBy($"mlp".desc, $"doc_id")
    Tables.documents(spark, dir).select($"doc_id", $"lang")
      .join(lp, "doc_id")
      .withColumn("t", ntile(3).over(nt))
      .select($"doc_id", $"lang", $"mlp".as("mean_logprob"),
        when($"t" === 1, "head").when($"t" === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  // g55 — CROSS-DOCUMENT n-gram repetition (the Lee et al. exact-
  // substring dedup signal, distributed form): per document, the share
  // of its distinct 13-grams that also appear in at least one OTHER
  // document — distinct from g31 (repetition WITHIN a doc) and g26
  // (overlap with a fixed benchmark set); this is the corpus-wide
  // repeated-span profile an exact-substring dedup policy thresholds
  // on. Share in integer basis points (g31's quotient rule). Shape at
  // scale: two shuffles on the gram key (distinct + doc-count), then a
  // per-doc colocated count — the g26 machinery pointed at the corpus
  // itself; gram doc-counts partial-aggregate, so the hot 'the same
  // boilerplate everywhere' grams never concentrate on one task.
  private val g55 = graded(
    "g55_repeated_ngram_frac",
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(t) >= 13 THEN
      |      list_transform(generate_series(1, len(t) - 12),
      |        i -> array_to_string(list_slice(t, i, i + 12), ' '))
      |      ELSE [] END) AS gr
      |  FROM tk),
      |dg AS (SELECT DISTINCT doc_id, gr FROM g),
      |cnt AS (SELECT gr, count(*) AS nd FROM dg GROUP BY gr),
      |per AS (
      |  SELECT dg.doc_id, count(*) AS n_grams,
      |    sum(CASE WHEN cnt.nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared
      |  FROM dg JOIN cnt USING (gr) GROUP BY dg.doc_id)
      |SELECT d.doc_id, coalesce(p.n_grams, 0)::BIGINT AS n_grams,
      |  coalesce(p.n_shared, 0)::BIGINT AS n_shared,
      |  (CASE WHEN coalesce(p.n_grams, 0) > 0
      |    THEN (10000 * p.n_shared) // p.n_grams ELSE 0 END)::BIGINT
      |    AS shared_bp
      |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val grams = Tables.documentsDist(spark, dir)
      .select($"doc_id", Tokens.words($"text").as("t"))
      .select($"doc_id", explode(Tokens.window13("t")).as("gr"))
    val dg = grams.distinct()
    val cnt = dg.groupBy($"gr").agg(count(lit(1)).as("nd"))
    val per = dg.join(cnt, "gr")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"nd" >= 2, 1).otherwise(0)).cast("bigint").as("n_shared"))
    Tables.documents(spark, dir).select($"doc_id")
      .join(per, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_shared", lit(0L)).as("n_shared"),
        expr("""CASE WHEN coalesce(n_grams, 0L) > 0
          |  THEN (10000 * n_shared) div n_grams ELSE 0L END""".stripMargin)
          .cast("bigint").as("shared_bp"))
      .orderBy("doc_id")
  }

  // g62 — tokenizer fertility by language: BPE-ish regex tokens per
  // whitespace word, aggregated per lang. THE number a tokenizer team
  // reads per language slice — fertility ≫ 1 means the tokenizer
  // fragments that language and its documents cost disproportionate
  // sequence length at training time. Reuses g11's cross-engine-safe
  // regex ('[a-z]+|[0-9]+' — identical semantics in Spark and DuckDB's
  // RE2-style engines, proven by g11's parity); counts are exact
  // integers, the two ratios fixed IEEE trees rounded at 6dp. Shape at
  // scale: pure map-side token counting folded into the scan + a 5-group
  // aggregate — zero wide shuffles, scales like the scan itself.
  private val g62 = graded(
    "g62_fertility",
    """WITH m AS (
      |  SELECT lang,
      |    len(string_split(text, ' '))::BIGINT AS n_ws,
      |    len(regexp_extract_all(text, '[a-z]+|[0-9]+'))::BIGINT AS n_re,
      |    length(text)::BIGINT AS n_ch
      |  FROM documents)
      |SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(n_ws)::BIGINT AS ws_tokens,
      |  sum(n_re)::BIGINT AS re_tokens,
      |  round(sum(n_re)::DOUBLE / sum(n_ws)::DOUBLE, 6) AS fertility,
      |  round(sum(n_ch)::DOUBLE / sum(n_re)::DOUBLE, 6) AS chars_per_tok
      |FROM m GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"lang",
        size(Tokens.words($"text")).cast("bigint").as("n_ws"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)"))
          .cast("bigint").as("n_re"),
        length($"text").cast("bigint").as("n_ch"))
      .groupBy($"lang")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum($"n_ws").cast("bigint").as("ws_tokens"),
        sum($"n_re").cast("bigint").as("re_tokens"),
        round(sum($"n_re").cast("double") / sum($"n_ws").cast("double"), 6)
          .as("fertility"),
        round(sum($"n_ch").cast("double") / sum($"n_re").cast("double"), 6)
          .as("chars_per_tok"))
      .orderBy("lang")
  }

  // g65 — GINI COEFFICIENT of document lengths per language: the corpus-
  // balance inequality number (G → 0: uniform doc sizes; G → 1: a few
  // giant docs carry the language's token mass — which skews both
  // training-mix math like g59 and packing like g28). Exact rank formula
  // G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) over lengths sorted
  // ascending with doc_id tiebreak — every sum is an exact BIGINT, the
  // single division is one fixed IEEE op rounded 6dp. Shape at scale:
  // one window per lang (shuffles on the lang key only) + a 5-group
  // aggregate; the standard distributed-rank formulation, never a global
  // sort.
  private val g65 = graded(
    "g65_length_gini",
    """WITH x AS (
      |  SELECT lang, doc_id,
      |    len(string_split(text, ' '))::BIGINT AS x,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY len(string_split(text, ' ')), doc_id) AS i
      |  FROM documents)
      |SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(x)::BIGINT AS total_tokens,
      |  round((2 * sum(i * x) - (count(*) + 1) * sum(x))::DOUBLE
      |        / (count(*) * sum(x))::DOUBLE, 6) AS gini
      |FROM x GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val x = Tables.documents(spark, dir)
      .select($"lang", $"doc_id",
        size(Tokens.words($"text")).cast("bigint").as("x"))
      .withColumn("i", row_number().over(
        Window.partitionBy($"lang").orderBy($"x", $"doc_id")).cast("bigint"))
    x.groupBy($"lang")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum($"x").cast("bigint").as("total_tokens"),
        round((lit(2) * sum($"i" * $"x")
          - (count(lit(1)) + 1) * sum($"x")).cast("double")
          / (count(lit(1)) * sum($"x")).cast("double"), 6).as("gini"))
      .orderBy("lang")
  }

  // g67 — BM25 retrieval scoring (the ranking function every lexical
  // retrieval/dedup-candidate stage runs; Okapi k1 = 1.2, b = 0.75,
  // Lucene's ln(1 + ·) idf so scores stay positive): scored for the 10
  // highest-df terms (df DESC, term — deterministic, data-derived: a
  // literal term list would not survive a corpus regen), top-20 docs per
  // term. Every score input is an exact integer (tf, df, N, doclen)
  // except avgdl — ONE double division of two exact BIGINTs — so the
  // score tree is a fixed IEEE tree written identically in both engines;
  // ranking is on the ROUNDED score with doc_id tiebreak (g4's
  // engine-independent-cutoff rule). Shape at scale: the (doc, term)
  // explode shuffles once on the token key; terms (10 rows) and the
  // N/avgdl totals (1 row) broadcast; the per-term top-20 is the e5
  // window shape WindowGroupLimit prunes to a streaming top-k — the
  // corpus never globally sorts.
  private val g67 = graded(
    "g67_bm25",
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf
      |       FROM w GROUP BY doc_id, word),
      |df AS (SELECT word, count(*)::BIGINT AS df
      |       FROM (SELECT DISTINCT doc_id, word FROM w) dw GROUP BY word),
      |dl AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl
      |       FROM documents),
      |n AS (SELECT count(*)::BIGINT AS n,
      |        (SELECT sum(dl)::DOUBLE FROM dl) / count(*)::DOUBLE AS avgdl
      |      FROM documents),
      |terms AS (SELECT word, df FROM df ORDER BY df DESC, word LIMIT 10),
      |s AS (
      |  SELECT t.word, tf.doc_id, tf.tf,
      |    round(ln(1.0 + (n.n::DOUBLE - t.df::DOUBLE + 0.5)
      |                   / (t.df::DOUBLE + 0.5))
      |      * ((tf.tf::DOUBLE * 2.2)
      |         / (tf.tf::DOUBLE
      |            + 1.2 * (0.25 + 0.75 * (dl.dl::DOUBLE / n.avgdl)))), 6)
      |      AS bm25
      |  FROM tf JOIN terms t USING (word) JOIN dl USING (doc_id)
      |    CROSS JOIN n),
      |r AS (
      |  SELECT word, doc_id, tf, bm25,
      |    row_number() OVER (PARTITION BY word ORDER BY bm25 DESC, doc_id)
      |      AS rnk
      |  FROM s)
      |SELECT word, doc_id, tf, bm25, rnk FROM r WHERE rnk <= 20
      |ORDER BY word, rnk""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documentsDist(spark, dir)
    val words = Tokens.docWords(docs)
    val tf = words.groupBy($"doc_id", $"word")
      .agg(count(lit(1)).cast("bigint").as("tf"))
    val dfreq = words.distinct().groupBy($"word")
      .agg(count(lit(1)).cast("bigint").as("df"))
    val dl = docs.select($"doc_id",
      size(Tokens.words($"text")).cast("bigint").as("dl"))
    val n = docs.agg(count(lit(1)).cast("bigint").as("n"),
      (sum(size(Tokens.words($"text")).cast("bigint")).cast("double")
        / count(lit(1)).cast("double")).as("avgdl"))
    val terms = dfreq.orderBy($"df".desc, $"word").limit(10)
    val w = Window.partitionBy($"word").orderBy($"bm25".desc, $"doc_id")
    tf.join(broadcast(terms), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(n))
      .select($"word", $"doc_id", $"tf",
        round(log(lit(1.0) + ($"n".cast("double") - $"df".cast("double")
            + 0.5) / ($"df".cast("double") + 0.5))
          * (($"tf".cast("double") * 2.2)
            / ($"tf".cast("double")
              + lit(1.2) * (lit(0.25)
                + lit(0.75) * ($"dl".cast("double") / $"avgdl")))), 6)
          .as("bm25"))
      .withColumn("rnk", row_number().over(w))
      .where($"rnk" <= 20)
      .select($"word", $"doc_id", $"tf", $"bm25", $"rnk")
      .orderBy("word", "rnk")
  }

  // g94 — RECIPROCAL-RANK FUSION over two retrieval lenses (the hybrid-
  // retrieval primitive every RAG/eval pipeline runs: no score
  // calibration across heterogeneous retrievers — fuse on RANKS, the
  // only commensurate quantity): for each query document, candidates
  // are ranked by (A) distinct shared WORDS (token-level lens) and (B)
  // distinct shared char TRIGRAMS (subword lens robust to tokenization),
  // each list cut to top-20, then fused as rrf = Σ 1/(60+rank) over the
  // lists the doc appears in (Cormack et al.'s k=60), top-5 per query
  // emitted. Every score is an integer overlap count and every fused
  // term 1/(60+int) — IEEE-identical across engines, no calibration
  // constants to drift. Shape at scale: both retrievals are equi-joins
  // of the query token/gram sets against the corpus postings (shuffle
  // keyed on the token — candidates ∝ postings of the query's terms,
  // never all pairs), per-query top-20 is WindowGroupLimit-pruned
  // (plan-pinned), and the fusion is a ≤40-row-per-query outer join.
  private val g94 = graded(
    "g94_rrf_fusion",
    """WITH q AS (SELECT doc_id AS qid, text FROM documents WHERE doc_id < 5),
      |dw AS (SELECT DISTINCT doc_id, w FROM (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)),
      |qw AS (SELECT DISTINCT qid, w FROM (
      |  SELECT qid, unnest(string_split(text, ' ')) AS w FROM q)),
      |aw AS (SELECT qid, doc_id, count(*)::BIGINT AS ov
      |  FROM qw JOIN dw USING (w) WHERE doc_id <> qid GROUP BY qid, doc_id),
      |ta AS (SELECT qid, doc_id, r FROM (
      |  SELECT qid, doc_id,
      |    row_number() OVER (PARTITION BY qid ORDER BY ov DESC, doc_id) AS r
      |  FROM aw) t WHERE r <= 20),
      |dg AS (SELECT DISTINCT doc_id, g FROM (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, length(text) - 2),
      |    i -> substring(text, i, 3))) AS g
      |  FROM documents WHERE length(text) >= 3)),
      |qg AS (SELECT DISTINCT qid, g FROM (
      |  SELECT qid, unnest(list_transform(
      |    generate_series(1, length(text) - 2),
      |    i -> substring(text, i, 3))) AS g
      |  FROM q WHERE length(text) >= 3)),
      |ag AS (SELECT qid, doc_id, count(*)::BIGINT AS ov
      |  FROM qg JOIN dg USING (g) WHERE doc_id <> qid GROUP BY qid, doc_id),
      |tb AS (SELECT qid, doc_id, r FROM (
      |  SELECT qid, doc_id,
      |    row_number() OVER (PARTITION BY qid ORDER BY ov DESC, doc_id) AS r
      |  FROM ag) t WHERE r <= 20),
      |f AS (SELECT coalesce(ta.qid, tb.qid) AS qid,
      |        coalesce(ta.doc_id, tb.doc_id) AS doc_id,
      |        coalesce(1.0 / (60 + ta.r), 0.0)
      |          + coalesce(1.0 / (60 + tb.r), 0.0) AS rrf
      |      FROM ta FULL JOIN tb
      |        ON ta.qid = tb.qid AND ta.doc_id = tb.doc_id)
      |SELECT qid, rk, doc_id AS retrieved, round(rrf, 6) AS rrf
      |FROM (SELECT qid, doc_id, rrf,
      |        row_number() OVER (PARTITION BY qid
      |          ORDER BY rrf DESC, doc_id) AS rk
      |      FROM f) z
      |WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documentsDist(spark, dir)
    val q = docs.where($"doc_id" < 5).select($"doc_id".as("qid"), $"text")
    def grams(df: org.apache.spark.sql.DataFrame, id: String) =
      df.where(length($"text") >= 3)
        .select(col(id), explode(expr(
          "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
          .as("g")).distinct()
    def ranked(qSet: org.apache.spark.sql.DataFrame,
        dSet: org.apache.spark.sql.DataFrame, key: String) = {
      val w = Window.partitionBy($"qid").orderBy($"ov".desc, $"doc_id")
      qSet.join(dSet, key).where($"doc_id" =!= $"qid")
        .groupBy($"qid", $"doc_id")
        .agg(count(lit(1)).cast("bigint").as("ov"))
        .withColumn("r", row_number().over(w))
        .where($"r" <= 20)
        .select($"qid", $"doc_id", $"r")
    }
    val ta = ranked(Tokens.docWords(q, "w", Seq("qid")).distinct(),
      Tokens.docWords(docs, "w").distinct(), "w")
    val tb = ranked(grams(q, "qid"), grams(docs, "doc_id"), "g")
    val fused = ta.withColumnRenamed("r", "ra")
      .join(tb.withColumnRenamed("r", "rb"), Seq("qid", "doc_id"), "full")
      .select($"qid", $"doc_id",
        (coalesce(lit(1.0) / (lit(60) + $"ra"), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + $"rb"), lit(0.0))).as("rrf"))
    val wf = Window.partitionBy($"qid").orderBy($"rrf".desc, $"doc_id")
    fused.withColumn("rk", row_number().over(wf))
      .where($"rk" <= 5)
      .select($"qid", $"rk", $"doc_id".as("retrieved"),
        round($"rrf", 6).as("rrf"))
      .orderBy("qid", "rk")
  }

  // g68 — DSIR-style importance weights (Xie et al. 2023's data-selection
  // recipe, the hashed-unigram form): each document scored by its mean
  // per-token log-likelihood ratio between a TARGET unigram LM (the
  // `lang = 'en'` slice — the "domain we want more of") and the
  // BACKGROUND LM (the whole corpus), both add-1 smoothed over the
  // corpus vocabulary so every ratio is defined. Positive = looks more
  // target-like than average; the downstream sampler keeps documents
  // proportionally. ln() over exact-integer rationals is IEEE-identical
  // in both engines (g23/g35's proven rule); per-doc token sums add in
  // engine order → round(6) after the mean, exactly g35's precedent.
  // Shape at scale: two vocab-sized LM tables (Heaps' law — broadcast at
  // any corpus size) joined onto the token explode, which shuffles ONCE
  // on the token key; the per-doc mean is one doc_id shuffle.
  private val g68 = graded(
    "g68_dsir_weights",
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |v AS (SELECT count(DISTINCT word)::DOUBLE AS v FROM w),
      |tgt AS (
      |  SELECT word, count(*)::DOUBLE AS nt FROM w
      |  JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY word),
      |tt AS (SELECT sum(nt) AS t_total FROM tgt),
      |bg AS (SELECT word, count(*)::DOUBLE AS nb FROM w GROUP BY word),
      |bt AS (SELECT sum(nb) AS b_total FROM bg)
      |SELECT w.doc_id, count(*)::BIGINT AS n_tokens,
      |  round(sum(ln(((coalesce(tgt.nt, 0.0) + 1.0) / (tt.t_total + v.v))
      |               / ((bg.nb + 1.0) / (bt.b_total + v.v))))
      |        / count(*), 6) AS dsir_logratio
      |FROM w JOIN bg USING (word) LEFT JOIN tgt USING (word)
      |  CROSS JOIN tt CROSS JOIN bt CROSS JOIN v
      |GROUP BY w.doc_id
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documentsDist(spark, dir)
    val w = docs.select($"doc_id", $"lang",
      explode(Tokens.words($"text")).as("word"))
    val v = w.agg(countDistinct($"word").cast("double").as("v"))
    val tgt = w.where($"lang" === "en").groupBy($"word")
      .agg(count(lit(1)).cast("double").as("nt"))
    val tt = tgt.agg(sum($"nt").as("t_total"))
    val bg = w.groupBy($"word").agg(count(lit(1)).cast("double").as("nb"))
    val bt = bg.agg(sum($"nb").as("b_total"))
    w.join(broadcast(bg), "word")
      .join(broadcast(tgt), Seq("word"), "left")
      .crossJoin(broadcast(tt))
      .crossJoin(broadcast(bt))
      .crossJoin(broadcast(v))
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_tokens"),
        round(sum(log(((coalesce($"nt", lit(0.0)) + 1.0) / ($"t_total" + $"v"))
            / (($"nb" + 1.0) / ($"b_total" + $"v"))))
          / count(lit(1)), 6).as("dsir_logratio"))
      .orderBy("doc_id")
  }

  // g69 — sentence-level duplicate audit (the C4 "repeated three-sentence
  // span" rule's distributed form): split every document into '. '
  // sentences, keep substantial ones (≥ 20 chars — boilerplate fragments
  // excluded by declaration), and flag sentences whose 16-byte md5 digest
  // appears in MORE THAN ONE distinct document. Per doc: sentence count,
  // cross-doc-duplicated count, the ppm fraction (exact integer — no
  // float anywhere), and the C4 drop verdict at > 500000 ppm. Shape at
  // scale: only digests ride the two shuffles (digest groupBy for the
  // cross-doc count, doc_id groupBy for the rollup) — sentence TEXT
  // never leaves the map side, m4/g8's trick.
  private val g69 = graded(
    "g69_sentence_dedup",
    """WITH s AS (
      |  SELECT doc_id, md5(s) AS h
      |  FROM (SELECT doc_id, unnest(string_split(text, '. ')) AS s
      |        FROM documents)
      |  WHERE len(s) >= 20),
      |d AS (SELECT h, count(DISTINCT doc_id)::BIGINT AS nd FROM s GROUP BY h)
      |SELECT s.doc_id, count(*)::BIGINT AS n_sents,
      |  sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_sents,
      |  ((sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) * 1000000)
      |    // count(*))::BIGINT AS dup_ppm,
      |  (((sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) * 1000000)
      |    // count(*)) > 500000) AS would_drop
      |FROM s JOIN d USING (h)
      |GROUP BY s.doc_id
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val s = Tables.documentsDist(spark, dir)
      .select($"doc_id", explode(split($"text", "\\. ")).as("s"))
      .where(length($"s") >= 20)
      .select($"doc_id", md5($"s").as("h"))
    val d = s.groupBy($"h")
      .agg(countDistinct($"doc_id").cast("bigint").as("nd"))
    s.join(d, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_sents"),
        sum(when($"nd" > 1, 1).otherwise(0)).cast("bigint").as("n_dup_sents"))
      .select($"doc_id", $"n_sents", $"n_dup_sents",
        expr("(n_dup_sents * 1000000) div n_sents").cast("bigint")
          .as("dup_ppm"),
        (expr("(n_dup_sents * 1000000) div n_sents") > 500000)
          .as("would_drop"))
      .orderBy("doc_id")
  }

  // g70 — vocabulary COVERAGE CURVE (the vocab-sizing question g52's OOV
  // rate answers for ONE cutoff, answered for the curve): what fraction
  // of corpus token mass does a top-N frequency vocabulary cover, for
  // N ∈ {100, 1000, 10000}? The tokenizer team reads this before fixing
  // a vocab budget. Ranking is (count DESC, word) — total and
  // regen-stable; coverage is an exact ppm integer. Shape at scale: the
  // ranked-vocab window is GLOBAL but over the VOCAB relation, which
  // Heaps' law bounds far below the corpus (same rationale as
  // broadcasting LM tables); the cutoff join is a 3-row broadcast.
  private val g70 = graded(
    "g70_vocab_coverage",
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |c AS (SELECT word, count(*)::BIGINT AS n FROM w GROUP BY word),
      |t AS (SELECT sum(n)::BIGINT AS total FROM c),
      |r AS (
      |  SELECT n, row_number() OVER (ORDER BY n DESC, word)::BIGINT AS rk
      |  FROM c)
      |SELECT co.cutoff, count(*)::BIGINT AS vocab_used,
      |  sum(r.n)::BIGINT AS covered_tokens,
      |  ((sum(r.n) * 1000000) // t.total)::BIGINT AS coverage_ppm
      |FROM r JOIN (VALUES (100), (1000), (10000)) co(cutoff)
      |  ON r.rk <= co.cutoff
      |CROSS JOIN t
      |GROUP BY co.cutoff, t.total
      |ORDER BY cutoff""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val w = Tokens.docWords(Tables.documentsDist(spark, dir), keys = Nil)
    val c = w.groupBy($"word").agg(count(lit(1)).cast("bigint").as("n"))
    val t = c.agg(sum($"n").cast("bigint").as("total"))
    val r = c.withColumn("rk",
      row_number().over(Window.orderBy($"n".desc, $"word")).cast("bigint"))
    val cutoffs = Seq(100, 1000, 10000).toDF("cutoff")
    r.join(broadcast(cutoffs), $"rk" <= $"cutoff")
      .crossJoin(broadcast(t))
      .groupBy($"cutoff", $"total")
      .agg(count(lit(1)).cast("bigint").as("vocab_used"),
        sum($"n").cast("bigint").as("covered_tokens"))
      .select($"cutoff", $"vocab_used", $"covered_tokens",
        expr("(covered_tokens * 1000000) div total").cast("bigint")
          .as("coverage_ppm"))
      .orderBy("cutoff")
  }

  // g71 — n-gram NOVELTY by crawl order (the memorization/staleness
  // monitor: how much of each new document's content is genuinely new
  // vs already seen earlier in the corpus, doc_id as ingest order): per
  // doc, its DISTINCT word trigrams, the count whose global FIRST
  // occurrence (min doc_id over the corpus) is this very document, and
  // the exact novelty ppm. A feed whose novelty trend collapses is
  // re-crawling itself. Shape at scale: grams become 16-byte md5
  // digests at the map side — only digests ride the min-aggregation
  // shuffle and the join back (m4/g8's trick); both shuffles are
  // digest-keyed.
  private val g71 = graded(
    "g71_ngram_novelty",
    """WITH g AS (
      |  SELECT DISTINCT doc_id, md5(gr) AS h
      |  FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(
      |        generate_series(1, len(string_split(text, ' ')) - 2),
      |        i -> string_split(text, ' ')[i] || ' ' ||
      |             string_split(text, ' ')[i + 1] || ' ' ||
      |             string_split(text, ' ')[i + 2])) AS gr
      |    FROM documents)),
      |f AS (SELECT h, min(doc_id) AS first_doc FROM g GROUP BY h)
      |SELECT g.doc_id, count(*)::BIGINT AS n_grams,
      |  sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)::BIGINT
      |    AS n_novel,
      |  ((sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) * 1000000)
      |    // count(*))::BIGINT AS novelty_ppm
      |FROM g JOIN f USING (h)
      |GROUP BY g.doc_id
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val g = Tables.documentsDist(spark, dir)
      .select($"doc_id", Tokens.words($"text").as("w"))
      .select($"doc_id", explode(Tokens.ngrams("w", 3)).as("gr"))
      .select($"doc_id", md5($"gr").as("h"))
      .distinct()
    val f = g.groupBy($"h").agg(min($"doc_id").as("first_doc"))
    g.join(f, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_grams"),
        sum(when($"first_doc" === $"doc_id", 1).otherwise(0)).cast("bigint")
          .as("n_novel"))
      .select($"doc_id", $"n_grams", $"n_novel",
        expr("(n_novel * 1000000) div n_grams").cast("bigint")
          .as("novelty_ppm"))
      .orderBy("doc_id")
  }

  // g72 — GOPHER-STYLE RULE FILTER (Rae et al. 2021 §A1.1's quality
  // rulebook as individual auditable flags — the complement of g10's
  // single weighted score: a curation owner needs to know WHICH rule
  // killed a document, not just that the composite dipped): word-count
  // band [50, 100k], mean word length in [3, 10], ≥80% words containing
  // an alphabetic char, ≥2 English stopword hits, type-token ratio
  // ≥ 0.3. Every rule is an EXACT integer cross-multiplication — no
  // division, no float, no rounding anywhere. Character mass is the
  // DERIVED quantity length(text) − (n_words − 1) (the rule is declared
  // over it, so both engines agree regardless of spacing pathologies).
  // The zh slice failing the alpha/stopword rules and short docs
  // failing the length band is the measured, expected discrimination.
  // Shape at scale: pure map-side projection — scales like the scan.
  private val g72 = graded(
    "g72_gopher_rules",
    s"""WITH m AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' '))::BIGINT AS n_words,
      |    (length(text) - len(string_split(text, ' ')) + 1)::BIGINT
      |      AS char_mass,
      |    len(list_filter(string_split(text, ' '),
      |        w -> regexp_matches(w, '[a-zA-Z]')))::BIGINT AS n_alpha,
      |    len(list_filter(string_split(text, ' '),
      |        w -> w IN $stopSqlIn))::BIGINT AS n_stop,
      |    len(list_distinct(string_split(text, ' ')))::BIGINT AS n_uniq
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_words,
      |    (n_words >= 50 AND n_words <= 100000) AS r_len,
      |    (char_mass >= 3 * n_words AND char_mass <= 10 * n_words)
      |      AS r_wordlen,
      |    (5 * n_alpha >= 4 * n_words) AS r_alpha,
      |    (n_stop >= 2) AS r_stop,
      |    (10 * n_uniq >= 3 * n_words) AS r_rep
      |  FROM m)
      |SELECT doc_id, n_words, r_len, r_wordlen, r_alpha, r_stop, r_rep,
      |  (r_len::INT + r_wordlen::INT + r_alpha::INT + r_stop::INT
      |    + r_rep::INT)::INT AS n_passed,
      |  (r_len AND r_wordlen AND r_alpha AND r_stop AND r_rep) AS keep
      |FROM r ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val m = Tables.documents(spark, dir)
      .select($"doc_id", Tokens.words($"text").as("w"), length($"text").as("lc"))
      .select($"doc_id",
        size($"w").cast("bigint").as("n_words"),
        ($"lc" - size($"w") + 1).cast("bigint").as("char_mass"),
        size(expr("filter(w, x -> x rlike '[a-zA-Z]')")).cast("bigint")
          .as("n_alpha"),
        size(expr(s"filter(w, x -> x IN $stopSqlIn)")).cast("bigint")
          .as("n_stop"),
        size(array_distinct($"w")).cast("bigint").as("n_uniq"))
    m.select($"doc_id", $"n_words",
        ($"n_words" >= 50 && $"n_words" <= 100000L).as("r_len"),
        ($"char_mass" >= lit(3) * $"n_words"
          && $"char_mass" <= lit(10) * $"n_words").as("r_wordlen"),
        (lit(5) * $"n_alpha" >= lit(4) * $"n_words").as("r_alpha"),
        ($"n_stop" >= 2).as("r_stop"),
        (lit(10) * $"n_uniq" >= lit(3) * $"n_words").as("r_rep"))
      .withColumn("n_passed",
        ($"r_len".cast("int") + $"r_wordlen".cast("int")
          + $"r_alpha".cast("int") + $"r_stop".cast("int")
          + $"r_rep".cast("int")).cast("int"))
      .withColumn("keep",
        $"r_len" && $"r_wordlen" && $"r_alpha" && $"r_stop" && $"r_rep")
      .orderBy("doc_id")
  }

  // g73 — CORPUS-WIDE DUPLICATED-NGRAM COVERAGE (the WIMBD-style audit:
  // which 5-grams repeat most ACROSS the corpus, and what fraction of
  // all 5-gram mass do the top offenders account for? — the corpus-level
  // complement to g55's within-doc fraction and g71's crawl-order
  // novelty; in web corpora the answer is boilerplate, and this report
  // is where a curation run decides its g69-style removal thresholds):
  // top-20 grams by occurrence count with doc counts and exact-ppm mass
  // share. Determinism: ties on the count break on the gram TEXT
  // (byte-wise ASCII order, identical both engines). Shape at scale: the gram
  // explosion collapses by partial aggregation on the digest before the
  // shuffle (Zipf: distinct grams ≪ occurrences); the top-20 is a
  // TakeOrdered over the collapsed table, and the grand total is a
  // 1-row broadcast — nothing wide ever sorts globally.
  private val g73 = graded(
    "g73_dup_ngram_coverage",
    """WITH g AS (
      |  SELECT doc_id, gr
      |  FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(
      |        generate_series(1, len(string_split(text, ' ')) - 4),
      |        i -> string_split(text, ' ')[i] || ' ' ||
      |             string_split(text, ' ')[i + 1] || ' ' ||
      |             string_split(text, ' ')[i + 2] || ' ' ||
      |             string_split(text, ' ')[i + 3] || ' ' ||
      |             string_split(text, ' ')[i + 4]) ) AS gr
      |    FROM documents)),
      |c AS (
      |  SELECT gr, count(*)::BIGINT AS n_occ,
      |    count(DISTINCT doc_id)::BIGINT AS n_docs
      |  FROM g GROUP BY gr),
      |t AS (SELECT sum(n_occ)::BIGINT AS total FROM c)
      |SELECT c.gr AS gram, c.n_occ, c.n_docs,
      |  ((c.n_occ * 1000000) // t.total)::BIGINT AS occ_ppm
      |FROM c CROSS JOIN t
      |ORDER BY n_occ DESC, gram
      |LIMIT 20""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val g = Tables.documentsDist(spark, dir)
      .select($"doc_id", Tokens.words($"text").as("w"))
      .select($"doc_id", explode(Tokens.ngrams("w", 5)).as("gr"))
    val c = g.groupBy($"gr")
      .agg(count(lit(1)).cast("bigint").as("n_occ"),
        countDistinct($"doc_id").cast("bigint").as("n_docs"))
    val t = c.agg(sum($"n_occ").cast("bigint").as("total"))
    c.crossJoin(broadcast(t))
      .select($"gr".as("gram"), $"n_occ", $"n_docs",
        expr("(n_occ * 1000000) div total").cast("bigint").as("occ_ppm"))
      .orderBy($"n_occ".desc, $"gram")
      .limit(20)
  }

  // g74 — KNESER–NEY SMOOTHED BIGRAM LM (the production n-gram
  // smoothing, one rung above g41's raw MLE: mass is absolutely
  // discounted from seen bigrams and backed off to the CONTINUATION
  // unigram — "how many contexts does w2 follow?" — the insight that
  // made KN the default for count-based LMs): interpolated form,
  // P(w2|w1) = (max(c12−D,0) + D·R(w1)·Pcont(w2)) / c1(w1) with D=0.75,
  // R(w1) = distinct right neighbors, Pcont(w2) = N1+(·w2)/|bigram
  // types|. Every count is an exact BIGINT (bigram counts, left totals,
  // both continuation tallies); the probability is one fixed IEEE tree
  // per row over identical ints — deterministic before round(6). Top-30
  // bigrams by count, text tiebreaks. Shape at scale: g42's rule —
  // counting runs on OCCURRENCES but the model table is VOCAB²-bounded
  // (Zipf: far smaller); the continuation tallies are partial-agg'd
  // distinct counts on the collapsed bigram table, and the top-30 is a
  // TakeOrdered — no global sort of the full model.
  private val g74 = graded(
    "g74_kn_smoothing",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |p AS (
      |  SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
      |      i -> tk[i] || ' ' || tk[i + 1])) AS b
      |  FROM t WHERE len(tk) >= 2),
      |c2 AS (
      |  SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
      |    count(*)::BIGINT AS c12
      |  FROM p GROUP BY 1, 2),
      |c1 AS (SELECT w1, sum(c12)::BIGINT AS c1,
      |    count(*)::BIGINT AS r1 FROM c2 GROUP BY w1),
      |cont AS (SELECT w2, count(*)::BIGINT AS nc FROM c2 GROUP BY w2),
      |bt AS (SELECT count(*)::BIGINT AS btypes FROM c2)
      |SELECT c2.w1, c2.w2, c2.c12, c1.c1, c1.r1 AS distinct_right,
      |  cont.nc AS cont_count,
      |  round(
      |    (CASE WHEN c2.c12::DOUBLE - 0.75::DOUBLE > 0.0::DOUBLE
      |       THEN c2.c12::DOUBLE - 0.75::DOUBLE ELSE 0.0::DOUBLE END
      |     + 0.75::DOUBLE * c1.r1::DOUBLE
      |       * (cont.nc::DOUBLE / bt.btypes::DOUBLE))
      |    / c1.c1::DOUBLE, 6) AS pkn
      |FROM c2 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN bt
      |ORDER BY c12 DESC, w1, w2
      |LIMIT 30""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // (w1, w2) element refs, not Tokens.ngrams: no string per occurrence
    val p = Tables.documentsDist(spark, dir)
      .select(Tokens.words($"text").as("tk"))
      .where(size($"tk") >= 2) // short-doc guard: see Tokens.ngrams
      .select(explode(expr(
        """transform(sequence(1, size(tk) - 1),
          |  i -> struct(element_at(tk, i) AS w1,
          |              element_at(tk, i + 1) AS w2))""".stripMargin)).as("bg"))
      .select($"bg.w1", $"bg.w2")
    val c2 = p.groupBy($"w1", $"w2").agg(count(lit(1)).cast("bigint").as("c12"))
    val c1 = c2.groupBy($"w1").agg(sum($"c12").cast("bigint").as("c1"),
      count(lit(1)).cast("bigint").as("r1"))
    val cont = c2.groupBy($"w2").agg(count(lit(1)).cast("bigint").as("nc"))
    val bt = c2.agg(count(lit(1)).cast("bigint").as("btypes"))
    c2.join(broadcast(c1), "w1").join(broadcast(cont), "w2")
      .crossJoin(broadcast(bt))
      .select($"w1", $"w2", $"c12", $"c1", $"r1".as("distinct_right"),
        $"nc".as("cont_count"),
        round(
          (when($"c12".cast("double") - lit(0.75) > 0.0,
            $"c12".cast("double") - lit(0.75)).otherwise(0.0)
            + lit(0.75) * $"r1".cast("double")
              * ($"nc".cast("double") / $"btypes".cast("double")))
          / $"c1".cast("double"), 6).as("pkn"))
      .orderBy($"c12".desc, $"w1", $"w2")
      .limit(30)
  }

  // g76 — PAIRWISE JENSEN–SHANNON DIVERGENCE between per-source unigram
  // distributions (the mixture-design question g59's plan allocates
  // against: which sources are near-duplicates of each other's token
  // distribution, and which add diversity?). JS is computed from the
  // SHARED-word inner join plus closed-form mass corrections — a word in
  // p but not q contributes p·ln2 exactly, so the two (1−shared_mass)
  // terms recover the full divergence without a full-outer join over the
  // union support. Counts are exact BIGINTs; the ≤|vocab| log terms sum
  // in doubles rounded to 6 (d33's entropy discipline). Bits via /ln2;
  // identical distributions ⇒ 0, disjoint ⇒ 1. Shape at scale: token
  // counts shuffle on (source, word) with map-side partial agg; the pair
  // join shuffles on the word key (Heaps-bounded) — never on documents.
  private val g76 = graded(
    "g76_js_divergence",
    """WITH wc AS (
      |  SELECT source, w, count(*)::BIGINT AS c FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS w
      |    FROM documents)
      |  GROUP BY 1, 2),
      |tot AS (SELECT source, sum(c)::BIGINT AS n FROM wc GROUP BY source),
      |pq AS (SELECT a.source AS sa, b.source AS sb,
      |         a.c::DOUBLE / ta.n::DOUBLE AS p,
      |         b.c::DOUBLE / tb.n::DOUBLE AS q
      |       FROM wc a JOIN wc b ON a.w = b.w AND a.source < b.source
      |       JOIN tot ta ON ta.source = a.source
      |       JOIN tot tb ON tb.source = b.source),
      |sh AS (SELECT sa, sb, count(*)::BIGINT AS n_shared,
      |         sum(p) AS shp, sum(q) AS shq,
      |         sum(p * ln(2.0 * p / (p + q))
      |           + q * ln(2.0 * q / (p + q))) AS core
      |       FROM pq GROUP BY sa, sb)
      |SELECT sa AS source_a, sb AS source_b, n_shared,
      |  round(0.5 * (core + (1.0 - shp) * ln(2.0) + (1.0 - shq) * ln(2.0))
      |    / ln(2.0), 6) AS js_bits
      |FROM sh ORDER BY js_bits DESC, source_a, source_b""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val ln2 = log(lit(2.0))
    val wc = Tokens.docWords(Tables.documentsDist(spark, dir), "w", Seq("source"))
      .groupBy($"source", $"w")
      .agg(count(lit(1)).cast("bigint").as("c"))
    val tot = wc.groupBy($"source").agg(sum($"c").cast("bigint").as("n"))
    val a = wc.join(broadcast(tot), "source")
      .select($"source".as("sa"), $"w", ($"c".cast("double") / $"n".cast("double")).as("p"))
    val b = wc.join(broadcast(tot), "source")
      .select($"source".as("sb"), $"w".as("wb"),
        ($"c".cast("double") / $"n".cast("double")).as("q"))
    a.join(b, $"w" === $"wb" && $"sa" < $"sb")
      .groupBy($"sa", $"sb")
      .agg(count(lit(1)).cast("bigint").as("n_shared"),
        sum($"p").as("shp"), sum($"q").as("shq"),
        sum($"p" * log(lit(2.0) * $"p" / ($"p" + $"q"))
          + $"q" * log(lit(2.0) * $"q" / ($"p" + $"q"))).as("core"))
      .select($"sa".as("source_a"), $"sb".as("source_b"), $"n_shared",
        round(lit(0.5) * ($"core" + (lit(1.0) - $"shp") * ln2
          + (lit(1.0) - $"shq") * ln2) / ln2, 6).as("js_bits"))
      .orderBy($"js_bits".desc, $"source_a", $"source_b")
  }

  // g77 — STOPWORD DISCOVERY by document frequency (the corpus-driven
  // way to build the stopword list g7's ratios and g37's keyword
  // filtering consume — a word in >80% of documents carries no signal
  // for retrieval or keyword extraction, whatever language it is).
  // df counts DISTINCT docs per word (not occurrences — that's g70's
  // axis); the ppm quotient is exact integer arithmetic against the
  // 1-row corpus size. Shape at scale: the distinct (doc, word)
  // collapse partial-aggs inside the scan stage before the word-key
  // shuffle; the 1-row doc count broadcasts (allowlisted BNLJ).
  private val g77 = graded(
    "g77_stopword_discovery",
    """WITH d AS (SELECT count(*)::BIGINT AS n FROM documents),
      |df AS (
      |  SELECT w, count(*)::BIGINT AS df FROM (
      |    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      |    FROM documents)
      |  GROUP BY w)
      |SELECT df.w AS word, df.df,
      |  (df.df * 1000000 // d.n)::BIGINT AS df_ppm,
      |  (df.df * 1000000 // d.n > 800000) AS is_stopword
      |FROM df CROSS JOIN d
      |ORDER BY df.df DESC, word LIMIT 50""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documentsDist(spark, dir)
    val d = docs.agg(count(lit(1)).cast("bigint").as("n"))
    val df = Tokens.docWords(docs, "w")
      .distinct()
      .groupBy($"w")
      .agg(count(lit(1)).cast("bigint").as("df"))
    df.crossJoin(broadcast(d))
      .select($"w".as("word"), $"df",
        expr("(df * 1000000) div n").cast("bigint").as("df_ppm"),
        (expr("(df * 1000000) div n") > 800000).as("is_stopword"))
      .orderBy($"df".desc, $"word")
      .limit(50)
  }

  /** The greedy left-to-right BPE merge applied to a token array: every
    * non-overlapping adjacent (l, r) becomes the merged symbol, one
    * linear fold per word — expressed as a Catalyst `aggregate` lambda
    * (codegen-adjacent, no UDF) carrying (emitted-prefix, pending
    * symbol) state. */
  private def bpeMerge(toks: org.apache.spark.sql.Column,
      l: String, r: String): org.apache.spark.sql.Column = {
    val init = struct(
      array().cast("array<string>").as("out"),
      lit(null).cast("string").as("pend"))
    aggregate(toks, init,
      (st, x) =>
        when(st.getField("pend").isNull,
          struct(st.getField("out").as("out"), x.as("pend")))
          .when(st.getField("pend") === lit(l) && x === lit(r),
            struct(concat(st.getField("out"), array(lit(l + r))).as("out"),
              lit(null).cast("string").as("pend")))
          .otherwise(
            struct(concat(st.getField("out"), array(st.getField("pend")))
              .as("out"), x.as("pend"))),
      st =>
        when(st.getField("pend").isNull, st.getField("out"))
          .otherwise(concat(st.getField("out"), array(st.getField("pend")))))
  }

  // g99 — bench-only: BPE TOKENIZER TRAINING, the full loop (g42 graded
  // ONE pair-count step; this key runs the trainer a pipeline actually
  // ships — Sennrich et al.'s word-histogram BPE): train on the word
  // HISTOGRAM, not the corpus — one shuffle builds (word, count) and
  // everything after runs on |vocab| rows REGARDLESS of corpus size,
  // which is precisely why BPE training scales to 100 TB (the histogram
  // is the sufficient statistic). Each of 10 rounds: explode adjacent
  // symbol pairs weighted by word count (overlapping occurrences count,
  // the BPE standard), take the (n DESC, l ASC, r ASC) argmax as a
  // 1-row driver fetch (iterative control flow, the g40/c16
  // discipline), then fold the greedy non-overlapping merge through
  // every word's token array ([[bpeMerge]] — a Catalyst aggregate
  // lambda, no UDF), localCheckpoint-ing per round so 10 rounds of
  // nested lambdas never stack into one plan. Output = the learned
  // merge table (rank, merged, n) — the artifact a tokenizer ships.
  // PropertySpec holds the cross-gate laws: the first merge IS g42's
  // graded top pair, and max pair frequency is non-increasing across
  // rounds (a new symbol's pairs inherit at most the merged pair's
  // count; existing pairs only lose occurrences).
  /** BPE training rounds — fixed, shared by the trainer (g99), the
    * encoder (g100) and their oracles/laws. */
  private[graft] val bpeRounds = 10

  /** Word-histogram BPE trainer (Sennrich et al.): one shuffle builds
    * (word, count), then every round runs on |vocab| rows regardless of
    * corpus size. Returns the FINAL vocab tokenization (word, toks, wn)
    * — the encoder's lookup table — and the learned merge list
    * (rank, l, r, n). A fixture: g99/g100/g101 share one run, the vocab
    * as a localCheckpointed frame, the merges as driver rows. */
  private[graft] def bpeTrain(spark: org.apache.spark.sql.SparkSession,
      dir: String)
      : (org.apache.spark.sql.DataFrame, Seq[(Int, String, String, Long)]) =
    Fixtures.once(spark, dir, "bpe_vocab") {
      import spark.implicits._
      var words = Tables.documentsDist(spark, dir)
        .select(explode(Tokens.words($"text")).as("word"))
        .where(length($"word") >= 1)
        .groupBy($"word").agg(count(lit(1)).as("wn"))
        .select($"word", expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
          .as("toks"), $"wn")
        .localCheckpoint(true)
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      for (rank <- 1 to bpeRounds) {
        val best = words
          .select($"wn", explode(expr(
            // sequence(1, 0) DESCENDS in Spark — a 1-symbol word must
            // yield no pairs, not an out-of-bounds probe
            """case when size(toks) < 2 then array()
              |else transform(sequence(1, size(toks) - 1), i ->
              |  struct(element_at(toks, i) as l,
              |         element_at(toks, i + 1) as r)) end""".stripMargin))
            .as("p"))
          .groupBy($"p.l".as("l"), $"p.r".as("r"))
          .agg(sum($"wn").as("n"))
          .orderBy($"n".desc, $"l", $"r")
          .limit(1).collect()
        if (best.nonEmpty) {
          val (l, r, n) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((rank, l, r, n))
          words = words
            .select($"word", bpeMerge($"toks", l, r).as("toks"), $"wn")
            .localCheckpoint(true)
        }
      }
      (words, merges.result())
    }

  private val g99 = QueryDef.benchOnly("g99_bpe_train") { (spark, dir) =>
    import spark.implicits._
    bpeTrain(spark, dir)._2.toDF("rank", "l", "r", "n")
      .select($"rank", concat($"l", $"r").as("merged"), $"n")
      .orderBy("rank")
  }

  /** g100's oracle: [[bpeOracle]]'s replayed trainer + the per-doc
    * encode rollup; final token count per word = its `<0x01>` count. */
  private def g100Oracle: String = bpeOracle(
    """,
      |v AS (
      |  SELECT word,
      |    length(s) - length(replace(s, <S>, '')) AS n_toks
      |  FROM <tN>)
      |SELECT w.doc_id, count(*)::BIGINT AS n_words,
      |  sum(v.n_toks)::BIGINT AS n_tokens
      |FROM w JOIN v ON w.word = v.word
      |WHERE length(w.word) >= 1
      |GROUP BY w.doc_id
      |ORDER BY w.doc_id""".stripMargin)

  /** The shared WITH-prefix of the g100/g101 oracles: the ENTIRE
    * 10-round trainer replayed in SQL. Each word's tokenization is a
    * string of wrapped tokens `<0x01>tok<0x02>…` — the control-char
    * brackets make a merge pattern match ONLY at token boundaries, so
    * one `replace()` per round IS the greedy left-to-right
    * non-overlapping merge fold (leftmost-match-continue-after
    * semantics, verified equal to [[bpeMerge]]'s fold); the per-round
    * argmax is the trainer's (n DESC, l, r) weighted pair count. The
    * char wrap runs under RE2's `(?s)` dotall flag — a bare `.` skips
    * newlines, and a word containing one would silently mis-wrap
    * (review finding, r13). ONE generator feeds both oracles so the
    * replayed trainer can never fork between them. `finalSelect` runs
    * with `w` (doc words) and `t<bpeRounds>` (final vocab strings) in
    * scope. */
  private def bpeOracle(finalSelect: String): String = {
    val S = "chr(1)"
    val E = "chr(2)"
    val rounds = (1 to bpeRounds).map { i =>
      s"""p$i AS (
         |  SELECT pr[1] AS l, pr[2] AS r, sum(wn)::BIGINT AS n FROM (
         |    SELECT wn, unnest(list_zip(tk, tk[2:])) AS pr FROM (
         |      SELECT wn, string_split(s[2:-2], $E||$S) AS tk
         |      FROM t${i - 1}) z) u
         |  WHERE pr[2] IS NOT NULL
         |  GROUP BY 1, 2),
         |b$i AS (SELECT l, r FROM p$i ORDER BY n DESC, l, r LIMIT 1),
         |t$i AS (
         |  SELECT word, wn,
         |    replace(s, $S||b.l||$E||$S||b.r||$E, $S||b.l||b.r||$E) AS s
         |  FROM t${i - 1}, b$i b)""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |t0 AS (
       |  SELECT word, count(*)::BIGINT AS wn,
       |    regexp_replace(word, '(?s)(.)', $S||'\\1'||$E, 'g') AS s
       |  FROM w WHERE length(word) >= 1 GROUP BY word),
       |$rounds
       |$finalSelect""".stripMargin
      .replace("<S>", S).replace("<E>", E)
      .replace("<tN>", s"t$bpeRounds")
  }

  // g101 — BPE VOCABULARY TABLE, graded (the other half of the apply
  // path next to g100's counts: a tokenizer ships token IDS, assigned
  // by corpus frequency — the artifact every downstream embedding/
  // training job keys on). The trained vocab's tokenization explodes to
  // (word, token) pairs — |vocab|-sized — and corpus token frequency is
  // one join of the exploded corpus words against it (the g100 shape);
  // ids are the dense frequency rank (n DESC, token — total order in
  // both engines). Graded row = the top-50 vocabulary with ids and
  // occurrence counts; the oracle replays the trainer (g100's chained
  // CTEs, shared generator) and ranks the same way. Scale: everything
  // after the histogram shuffle is vocab-sized; the rank is a ≤|vocab|-
  // row window, never a corpus sort.
  private val g101 = QueryDef.graded("g101_bpe_vocab", bpeOracle(
    """,
      |tok AS (
      |  SELECT word, unnest(string_split(s[2:-2], <E>||<S>)) AS token
      |  FROM <tN>),
      |freq AS (
      |  SELECT t.token, count(*)::BIGINT AS n
      |  FROM w JOIN tok t ON w.word = t.word
      |  WHERE length(w.word) >= 1
      |  GROUP BY t.token)
      |SELECT token,
      |  (row_number() OVER (ORDER BY n DESC, token) - 1)::BIGINT
      |    AS token_id,
      |  n
      |FROM freq
      |ORDER BY token_id
      |LIMIT 50""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    val (vocab, _) = bpeTrain(spark, dir)
    val tok = vocab.select($"word", explode($"toks").as("token"))
    val freq = Tokens.docWords(Tables.documentsDist(spark, dir))
      .where(length($"word") >= 1)
      .join(broadcast(tok), Seq("word"))
      .groupBy($"token")
      .agg(count(lit(1)).cast("bigint").as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"n".desc, $"token")
    freq.select($"token",
        (row_number().over(w) - 1).cast("bigint").as("token_id"), $"n")
      .orderBy("token_id")
      .limit(50)
  }

  // g100 — BPE ENCODE, graded (the r12 verdict's #3: g99 ships the
  // trainer; this is the consumer a training-data pipeline runs DAILY —
  // tokenize every document with the learned merge table and emit
  // per-doc token counts). The encode path is vocab-sized end to end:
  // the trainer's final (word → toks) tokenization IS the encoder's
  // lookup table (applying merges per word twice would be redundant
  // work — the vocab is the closure of the merges over every distinct
  // word), and the corpus pass is explode(words) ⋈ vocab → per-doc sum,
  // one shuffle on the word column with a map-side-combined count. The
  // oracle replays THE WHOLE TRAINING LOOP in SQL (10 chained argmax +
  // boundary-safe string-replace rounds — see [[g100Oracle]]), so a
  // drifted merge choice, a mis-folded token array, or a lost word all
  // hash-mismatch. PropertySpec holds the round-trip law
  // (concat(toks) = word for the whole vocab — encoding never loses
  // characters) and the compression law (1 ≤ n_toks ≤ length(word)).
  // Scale: training + vocab encode are corpus-size-INDEPENDENT after
  // the histogram shuffle (the g99 property); the per-doc pass is one
  // join of the exploded corpus against a |vocab|-row table — broadcast
  // at any realistic vocab, the exact shape of production tokenizer
  // counting jobs.
  private val g100 = QueryDef.graded("g100_bpe_encode", g100Oracle) {
    (spark, dir) =>
      import spark.implicits._
      val (vocab, _) = bpeTrain(spark, dir)
      val enc = vocab.select($"word",
        size($"toks").cast("bigint").as("n_toks"))
      Tokens.docWords(Tables.documentsDist(spark, dir))
        .where(length($"word") >= 1)
        .join(broadcast(enc), Seq("word"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).cast("bigint").as("n_words"),
          sum($"n_toks").cast("bigint").as("n_tokens"))
        .orderBy("doc_id")
  }

  // g102 — PER-DOC TOKEN-ID SEQUENCES, graded (the r13 verdict's #4 and
  // the missing shippable artifact: g100 grades COUNTS and g101 the ID
  // TABLE, but what a training shard actually carries is each document
  // as an ORDERED sequence of token ids — g101's ids composed over
  // g100's per-word tokenizations, order preserved end to end). The
  // assembly is vocab-sized until the last join: (word, tp, token)
  // explodes from the trained vocab, ids join by token (g101's dense
  // frequency rank), per-WORD id strings assemble in token order
  // (|vocab| rows); the corpus pass is one posexplode ⋈ broadcast(word →
  // ids_str) and a per-doc ordered fold on the word position. Output =
  // (doc_id, n_tokens, token_ids) with the sequence serialized via
  // array_join (the parity.py array rule). The oracle replays the
  // ENTIRE trainer (bpeOracle — the shared generator, so the replayed
  // trainer can never fork from g100/g101's) and reassembles with
  // index-aware list_transform + ORDER BY-qualified string_agg; a
  // drifted id, a swapped token, or a lost word anywhere in the
  // sequence hash-mismatches. PropertySpec holds the cross-key law:
  // the sequence length IS g100's n_tokens for every doc. Scale: the
  // only corpus-sized work is the posexplode + broadcast join + one
  // per-doc sort-free (partial_agg-able) collect; everything upstream
  // is |vocab|-sized — the exact shape of a production tokenize job.
  private val g102 = QueryDef.graded("g102_bpe_ids", bpeOracle(
    """,
      |tok AS (
      |  SELECT word, u.t AS token, u.p AS tp FROM (
      |    SELECT word, unnest(list_transform(
      |      string_split(s[2:-2], <E>||<S>),
      |      (x, i) -> struct_pack(t := x, p := i))) AS u
      |    FROM <tN>) z),
      |freq AS (
      |  SELECT t.token, count(*)::BIGINT AS n
      |  FROM w JOIN tok t ON w.word = t.word
      |  WHERE length(w.word) >= 1
      |  GROUP BY t.token),
      |ids AS (
      |  SELECT token,
      |    (row_number() OVER (ORDER BY n DESC, token) - 1)::BIGINT
      |      AS token_id
      |  FROM freq),
      |wid AS (
      |  SELECT t.word,
      |    string_agg(i.token_id::VARCHAR, ' ' ORDER BY t.tp) AS ids_str,
      |    count(*)::BIGINT AS n_toks
      |  FROM tok t JOIN ids i ON t.token = i.token
      |  GROUP BY t.word),
      |dw AS (
      |  SELECT doc_id, u.w AS word, u.p AS wp FROM (
      |    SELECT doc_id, unnest(list_transform(string_split(text, ' '),
      |      (x, i) -> struct_pack(w := x, p := i))) AS u
      |    FROM documents) z)
      |SELECT d.doc_id, sum(v.n_toks)::BIGINT AS n_tokens,
      |  string_agg(v.ids_str, ' ' ORDER BY d.wp) AS token_ids
      |FROM dw d JOIN wid v ON d.word = v.word
      |WHERE length(d.word) >= 1
      |GROUP BY d.doc_id
      |ORDER BY d.doc_id""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    docTokenIds(spark, dir)
      .select($"doc_id", $"n".as("n_tokens"),
        array_join(transform($"ids", x => x.cast("string")), " ")
          .as("token_ids"))
      .orderBy("doc_id")
  }

  /** DISTRIBUTED dense frequency rank over a (token, n) table, ordered
    * (n DESC, token ASC) — the g28 two-pass idiom applied to the token
    * rank (r14 verdict "what's wrong" #4: the one-pass form was a global
    * UNPARTITIONED window, a single-partition sort of the whole id table
    * at a production 100k–1M vocab). Pass 1 ranks WITHIN order-aligned
    * buckets (bucket = floor(log2(n)) — every row of bucket b
    * outranks every row of bucket b−1, ties on n share a bucket, so the
    * bucketed sort is exactly the global sort split at bucket
    * boundaries); pass 2 prefix-sums the tiny ≤64-row bucket histogram
    * and broadcasts the offsets back. Returns (token, token_id, n) with
    * token_id identical to `row_number() over (order by n desc, token)
    * − 1` — proven by the unchanged g101/g102/g103 oracle hashes. */
  private[graft] def rankTokens(freq: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = freq.withColumn("bkt", expr("cast(log2(n) as int)"))
    val wLocal = Window.partitionBy(col("bkt"))
      .orderBy(col("n").desc, col("token"))
    val wBkt = Window.orderBy(col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = b.groupBy(col("bkt")).agg(count(lit(1)).as("bn"))
      .withColumn("off", sum(col("bn")).over(wBkt) - col("bn"))
      .select(col("bkt"), col("off"))
    b.join(broadcast(offsets), "bkt")
      .select(col("token"),
        (col("off") + row_number().over(wLocal) - 1).cast("bigint")
          .as("token_id"),
        col("n"))
  }

  /** Per-doc ORDERED token-id arrays — the tokenize-apply assembly
    * shared by g102 (serialized sequences) and g103 (the packer):
    * (doc_id, ids array<bigint>, n bigint). Vocab-sized until the last
    * join: (word, tp, token) explodes from the trained vocab, ids join
    * by token (g101's dense frequency rank via [[rankTokens]] — two
    * bucket-partitioned ≤|vocab|-row passes, never a corpus sort and
    * never a single-partition window), per-WORD id arrays assemble in
    * token order (|vocab| rows); the corpus pass is one posexplode ⋈
    * broadcast(word → ids) + a per-doc ordered fold. */
  private def docTokenIds(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val (vocab, _) = bpeTrain(spark, dir)
    val tok = vocab.select($"word",
      posexplode($"toks").as(Seq("tp", "token")))
    val freq = Tokens.docWords(Tables.documentsDist(spark, dir), keys = Nil)
      .where(length($"word") >= 1)
      .join(broadcast(tok.select($"word", $"token")), Seq("word"))
      .groupBy($"token").agg(count(lit(1)).as("n"))
    val ids = rankTokens(freq).select($"token", $"token_id")
    val wid = tok.join(ids, Seq("token"))
      .groupBy($"word")
      .agg(
        transform(array_sort(collect_list(struct($"tp", $"token_id"))),
          x => x.getField("token_id")).as("ids"),
        count(lit(1)).cast("bigint").as("n_toks"))
    Tables.documentsDist(spark, dir)
      .select($"doc_id", posexplode(Tokens.words($"text")).as(Seq("wp", "word")))
      .where(length($"word") >= 1)
      .join(broadcast(wid), Seq("word"))
      .groupBy($"doc_id")
      .agg(
        flatten(transform(array_sort(collect_list(struct($"wp", $"ids"))),
          x => x.getField("ids"))).as("ids"),
        sum($"n_toks").cast("bigint").as("n"))
  }

  // g103 — PACKED TRAINING WINDOWS over the token-id stream (the shard
  // writer: after g102's per-doc sequences, a pretraining pipeline lays
  // documents end to end in a deterministic order and cuts fixed
  // C-token context windows — docs SPAN windows, the concat-and-chunk
  // discipline real LLM packers use; g28 bins by start offset, g95
  // audits padding waste, but neither certifies the actual WINDOW
  // CONTENTS). Each window row carries its token count, the documents
  // it touches, and a CHECKSUM of exactly the token ids inside it
  // (per-doc slice sums folded with functions.aggregate) — so one id
  // out of place anywhere in the packed stream hash-mismatches without
  // the output having to ship megabytes of ids. Offsets come from the
  // g28 two-pass DISTRIBUTED prefix sum (range-local cumsum + broadcast
  // per-range prefixes — no corpus-sized window anywhere); the window
  // expansion is explode(sequence(first_win, last_win)) = O(docs +
  // windows) rows. The oracle replays the ENTIRE trainer (shared
  // bpeOracle generator), reassembles per-doc id LISTS with ORDER
  // BY-qualified list aggregates, and recomputes the same global
  // cumsum / window slices with 1-based inclusive list slicing.
  // Scale: the packer is one linear pass over per-doc summaries plus
  // per-(doc, window) array slices — the exact shape of a 100 TB shard
  // writer, and every shuffle is on the range key or the window id.
  private val g103 = QueryDef.graded("g103_pack_ids", bpeOracle(
    """,
      |tok AS (
      |  SELECT word, u.t AS token, u.p AS tp FROM (
      |    SELECT word, unnest(list_transform(
      |      string_split(s[2:-2], <E>||<S>),
      |      (x, i) -> struct_pack(t := x, p := i))) AS u
      |    FROM <tN>) z),
      |freq AS (
      |  SELECT t.token, count(*)::BIGINT AS n
      |  FROM w JOIN tok t ON w.word = t.word
      |  WHERE length(w.word) >= 1
      |  GROUP BY t.token),
      |idt AS (
      |  SELECT token,
      |    (row_number() OVER (ORDER BY n DESC, token) - 1)::BIGINT
      |      AS token_id
      |  FROM freq),
      |wid AS (
      |  SELECT t.word, list(i.token_id ORDER BY t.tp) AS ids,
      |    count(*)::BIGINT AS n_toks
      |  FROM tok t JOIN idt i ON t.token = i.token
      |  GROUP BY t.word),
      |dw AS (
      |  SELECT doc_id, u.w AS word, u.p AS wp FROM (
      |    SELECT doc_id, unnest(list_transform(string_split(text, ' '),
      |      (x, i) -> struct_pack(w := x, p := i))) AS u
      |    FROM documents) z),
      |docids AS (
      |  SELECT d.doc_id, flatten(list(v.ids ORDER BY d.wp)) AS ids,
      |    sum(v.n_toks)::BIGINT AS n
      |  FROM dw d JOIN wid v ON d.word = v.word
      |  WHERE length(d.word) >= 1
      |  GROUP BY d.doc_id),
      |cs AS (
      |  SELECT doc_id, ids, n,
      |    (sum(n) OVER (ORDER BY doc_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)::BIGINT
      |      AS off
      |  FROM docids),
      |ew AS (
      |  SELECT doc_id, ids, n, off,
      |    unnest(generate_series(off // 256, (off + n - 1) // 256)) AS win
      |  FROM cs),
      |per AS (
      |  SELECT win, doc_id,
      |    least(off + n, (win + 1) * 256) - greatest(off, win * 256) AS cnt,
      |    list_sum(ids[(greatest(off, win * 256) - off + 1)
      |      :(least(off + n, (win + 1) * 256) - off)]) AS ssum
      |  FROM ew)
      |SELECT win::BIGINT AS window_id, sum(cnt)::BIGINT AS n_tokens,
      |  count(*)::BIGINT AS n_docs, min(doc_id) AS first_doc,
      |  max(doc_id) AS last_doc, sum(ssum)::BIGINT AS ids_sum
      |FROM per GROUP BY win
      |ORDER BY window_id""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    val C = 256L
    // distributed prefix sum over (doc_id, n): the g28 two-pass
    // discipline — range-local cumsum, then the TINY per-range totals
    // prefix-summed and broadcast back; no corpus-sized window
    val t = docTokenIds(spark, dir).withColumn("rng", expr("doc_id div 1000"))
    val wLocal = Window.partitionBy($"rng").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = t.withColumn("lcs", sum($"n").over(wLocal))
    val wRange = Window.orderBy($"rng")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixes = t.groupBy($"rng").agg(sum($"n").as("rtot"))
      .withColumn("rprefix", sum($"rtot").over(wRange) - $"rtot")
      .select($"rng", $"rprefix")
    val off = local.join(broadcast(prefixes), "rng")
      .withColumn("off", $"rprefix" + $"lcs" - $"n")
    // window expansion: a doc touches windows off/C .. (off+n-1)/C;
    // its slice inside each is [lo, hi) in global token coordinates
    val ew = off
      .withColumn("win",
        explode(sequence(expr(s"off div $C"), expr(s"(off + n - 1) div $C"))))
      .withColumn("lo", greatest($"off", $"win" * C))
      .withColumn("hi", least($"off" + $"n", ($"win" + lit(1L)) * C))
    ew.select($"win", $"doc_id", ($"hi" - $"lo").as("cnt"),
        aggregate(
          slice($"ids", ($"lo" - $"off" + 1).cast("int"),
            ($"hi" - $"lo").cast("int")),
          lit(0L), (acc, x) => acc + x).as("ssum"))
      .groupBy($"win")
      .agg(sum($"cnt").cast("bigint").as("n_tokens"),
        count(lit(1)).cast("bigint").as("n_docs"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"),
        sum($"ssum").cast("bigint").as("ids_sum"))
      .select($"win".cast("bigint").as("window_id"), $"n_tokens",
        $"n_docs", $"first_doc", $"last_doc", $"ids_sum")
      .orderBy("window_id")
  }

  val defs: Seq[QueryDef] = Seq(g6, g7, g9, g10, g11, g23, g30, g31, g35,
    g37, g38, g41, g42, g43, g52, g53, g55, g62, g65, g67, g68, g69,
    g70, g71, g72, g73, g74, g76, g77, g94, g99, g100, g101, g102, g103)
}
