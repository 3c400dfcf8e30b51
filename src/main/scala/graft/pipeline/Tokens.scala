package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one text front end: the tokenization decision and the per-document
  * text features built on it, shared by every Spark-side text key
  * (TextAnalysis, Curation, Dedup, Reports and the text keys of
  * Aggregates, SortSetScalar and Multimodal).
  *
  * The tokenizer is a split on ONE space. It keeps empty tokens between
  * repeated spaces ("a  b" → ["a", "", "b"]) exactly as the DuckDB
  * oracles' `string_split(text, ' ')` does; a `\s+` regex would drop them
  * and break parity. The oracle SQL states its own tokenizer and is not
  * routed through here: it is the check, not the program.
  *
  * Features that need a SQL lambda are built from fixed `expr` strings
  * rather than the Column-lambda API, which names its variables from a
  * JVM-global counter; the strings keep each key's plan text stable.
  */
object Tokens {

  /** Space-separated tokens of a text column: `split(text, " ")`. */
  def words(text: Column): Column = split(text, " ")

  /** The `(keys…, word)` relation: one row per token occurrence of the
    * frame's `text` column, next to the given key columns. */
  def docWords(docs: DataFrame, word: String = "word",
      keys: Seq[String] = Seq("doc_id")): DataFrame =
    docs.select(keys.map(col) :+ explode(words(col("text"))).as(word): _*)

  /** Space-joined word n-grams of the array column named `words`, in
    * order; an empty array when the document has fewer than `n` words.
    *
    * The guard is needed because Spark's `sequence(1, k)` counts DOWN
    * when k < 1, where the oracles' `generate_series` is simply empty
    * (the g18 lesson). Build the words array in its own projection
    * before calling this: splitting `text` inside the lambda
    * re-tokenizes the document once per `element_at` (g71 measured
    * 5.5 s → 1.3 s at sf0.1). */
  def ngrams(words: String, n: Int): Column = {
    val parts = (0 until n)
      .map(k => if (k == 0) s"element_at($words, i)" else s"element_at($words, i + $k)")
      .mkString(", ' ', ")
    expr(
      s"""CASE WHEN size($words) >= $n THEN
         |  transform(sequence(1, size($words) - ${n - 1}), i -> concat($parts))
         |ELSE cast(array() as array<string>) END""".stripMargin)
  }

  /** The 13-word window of the GPT-3 decontamination rule over the array
    * column named `words` (g26, g45, g55): each window joined with single
    * spaces, empty for documents under 13 words ([[ngrams]]' guard). */
  def window13(words: String): Column = expr(
    s"""CASE WHEN size($words) >= 13 THEN
       |  transform(sequence(1, size($words) - 12),
       |    i -> array_join(slice($words, i, 13), ' '))
       |ELSE cast(array() as array<string>) END""".stripMargin)

  /** The sorted, distinct `xxhash64` set of the `text` column's tokens:
    * the input of the two-pointer `sorted_intersect_size` pair kernel
    * (Jaccard over an injectively hashed set equals Jaccard over the
    * strings). */
  def hashedSet: Column = sort_array(array_distinct(
    expr("transform(split(text, ' '), w -> xxhash64(w))")))

  /** The English stop list behind the stop-hit count and the language
    * score. */
  val stopList: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is")

  /** [[stopList]] as a SQL `IN` list, `('the', 'a', …)`. */
  val stopSqlIn: String = stopList.map(w => s"'$w'").mkString("(", ", ", ")")

  /** [[stopList]] as a DuckDB list literal, `['the', 'a', …]`. */
  val stopSqlList: String = stopList.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Occurrences of stop words among the `text` column's tokens (int). */
  def stopHits: Column =
    expr(s"size(filter(split(text, ' '), t -> t IN $stopSqlIn))")

  /** Stop-word language score (g9, g43, r8): the share of the distinct
    * token array `tk` that is a stop word; a document is 'en' at ≥ 0.05. */
  def langScore(tk: Column): Column =
    size(array_intersect(tk, array(stopList.map(lit): _*))).cast("double") /
      size(tk).cast("double")

  /** Word count of the `text` column, as a double (quality signal). */
  def nWords: Column = size(words(col("text"))).cast("double")

  /** Distinct-word count of the `text` column, as a double. */
  def nUniq: Column = size(array_distinct(words(col("text")))).cast("double")

  /** The g10 document quality score over the columns `n_words`, `n_stop`
    * and `n_uniq` (doubles): length, stop-word density and uniqueness,
    * weighted 0.4/0.3/0.3, each bounded to [0, 1]. */
  def quality: Column =
    lit(0.4) * least(col("n_words") / 50.0, lit(1.0)) +
      lit(0.3) * least(lit(10.0) * col("n_stop") / col("n_words"), lit(1.0)) +
      lit(0.3) * (col("n_uniq") / col("n_words"))

  /** `df` with the three g10 signals of its `text` column and their
    * [[quality]] score `q`. */
  def withQuality(df: DataFrame): DataFrame = df
    .withColumn("n_words", nWords)
    .withColumn("n_stop", stopHits.cast("double"))
    .withColumn("n_uniq", nUniq)
    .withColumn("q", quality)

  /** The length/uniqueness-only quality score (g61, r10) over a word
    * count and a distinct-word count (doubles), weighted 0.5/0.5. */
  def qualityLenUniq(nWords: Column, nUniq: Column): Column =
    lit(0.5) * least(nWords / 50.0, lit(1.0)) + lit(0.5) * (nUniq / nWords)
}
