package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Empirical scale audit: materialize a k×-scaled copy of the corpus
  * (union of k id-shifted copies, written as multi-file parquet) and
  * compare per-query wall-clock against the base — a query whose cost is
  * linear shows ratio ≈ k; anything super-linear is a bug the
  * 100 TB deployment would hit.
  *
  * Id shifts are large (1e7) so banded self-joins do not pair across
  * copies: the true output grows k×, not k². Dimension tables (region,
  * nation, customer, supplier, part) are copied as-is.
  *
  * Usage: tools/run.sh graft.ScaleCheck [k] [baseSfDir] [keys...]
  */
object ScaleCheck {
  private val shift = 10000000L

  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 8
    // the per-copy embedding rotation cycles after 64 (the vector dim):
    // copy 64 would be an UNROTATED twin of copy 0, reintroducing the
    // cosine-1.0 LSH-band artifact the rotation exists to prevent
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    val base = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val keys = if (args.length > 2) args.drop(2).toSeq else Seq(
      "d1_agg_group", "c2_join_sortmerge", "e1_win_rank", "h3_sessionize",
      "g1_dedup_exact", "g2_neardup_jaccard", "g3_minhash_lsh",
      "g14_ngram_jaccard", "g15_simhash", "g5_simjoin_threshold",
      "g6_tfidf", "g18_winnow_fp", "g16_simhash_dedup",
      "g19_dedup_pipeline", "g20_embed_centroid", "g21_knn_join",
      "m4_media_dedup", "h5_gap_fill", "r1_report_top_orders",
      "r2_report_region_volume", "r3_report_returns", "i3_udtf_shingles",
      "g23_doc_entropy", "g24_containment", "c12_join_asof_fwd", "h6_locf",
      "a6_compact", "g12_ann_lsh", "g25_split_hash", "g26_decontaminate",
      "g27_pii_redact", "g28_pack_chunks", "g29_stratified_sample",
      "g31_repetition", "g32_cluster_assign", "g33_vec_quantize",
      "h9_seq_pattern", "m6_frame_decode", "g34_edit_distance",
      "g35_unigram_logprob", "h10_max_concurrency", "a7_sort_cluster",
      "d17_histogram", "e8_ntile", "m5_image_decode", "c13_join_salted",
      "d18_mad_outliers", "h11_streaks", "h12_interval_union",
      "g36_incremental_dedup", "g37_keywords", "r5_report_growth",
      "m7_audio_decode", "f14_format_funcs", "g38_zipf_fit",
      "a8_schema_evolve", "d19_corr", "e9_moving_median", "h13_lateness",
      "g39_source_report", "g40_components_label", "h14_rolling_zscore",
      "h15_attribution", "f15_url_funcs", "g41_bigram_logprob",
      "a9_orc_roundtrip", "a10_csv_roundtrip", "e10_win_distinct",
      "h16_ewma", "r6_report_corpus_health", "g42_bpe_step",
      "c14_join_null_anti", "g43_langid_eval", "g44_semantic_dedup",
      "g45_split_leakage", "m8_pixel_stats", "a11_partitioned_roundtrip", "g46_survivorship", "h17_multitouch", "i4_udaf_window", "b5_null_safe_eq", "c15_join_null_safe",
      "a12_table_stats", "g47_minhash_est", "g48_chunk_overlap",
      "g49_dedup_eval", "f16_regexp_funcs", "b6_partition_prune",
      "e11_win_cond", "c16_recursive_cte", "d21_decimal_exact",
      "g50_bloom_membership", "a13_zorder", "a14_snapshot_diff",
      "r7_integrity_audit", "g51_pagerank", "a15_scd2",
      "d22_equidepth_hist", "e12_win_nav", "g52_oov_rate",
      "g53_perplexity_bucket", "r8_report_curation_funnel",
      "g54_url_dedup", "d23_ab_ttest", "g55_repeated_ngram_frac", "d24_linreg", "f17_null_ordering", "g56_hard_negatives", "a16_pit_lookup", "h18_rolling_dau", "r9_check_constraints", "d25_weighted_median", "g57_knn_eval", "g58_span_corruption", "c17_join_asof_tolerance", "d26_anova", "h19_time_to_convert", "b7_masked_view",
      "d27_chisq", "d28_skew_kurt", "h20_markov", "g59_mix_plan",
      "r17_k_anonymity", "g86_embedding_drift", "g87_substring_dup_spans",
      "d43_heavy_hitters", "d44_quantile_merge", "g88_catalog_update",
      "h40_cep_pattern", "h39_stream_sink_parity",
      // a21 stays LAST: it writes the dedup-verdict snapshots, and any
      // audit key running after it in the same JVM measures the
      // snapshot-READ path instead of its inline plan — last position
      // keeps every other key's ratio meaning unchanged.
      "h34_stream_tumbling_parity", "h35_stream_session_parity",
      "h36_stream_join_parity", "h37_stream_state_parity",
      "h38_stream_dedup_parity", "g85_dup_transitivity",
      "a21_verdict_snapshot")
    val out = s"/tmp/graft_scale_${k}x"

    val spark = Sessions.local(Sessions.cpus())

    // ids are shifted per copy; text is SALTED per copy (one appended
    // token) so content-hash pipelines (minhash/simhash/fingerprints) do
    // not see k−1 verbatim twins of every document — cross-copy duplicate
    // structure would otherwise be an artifact of this harness, inflating
    // LSH bucket sizes ~k× beyond what genuine scale-up produces.
    // Embeddings get the same treatment via a per-copy dimension ROTATION
    // (copy i rotates the vector by i positions): a coordinate
    // permutation preserves every within-copy cosine and norm exactly
    // (per-copy edge structure stays identical to base) while cross-copy
    // sign patterns decorrelate — without it, every vector would have
    // k−1 cosine-1.0 twins sharing ALL its g44 LSH bands, a quadratic
    // candidate artifact no genuine 8× corpus produces.
    def scaled(df: DataFrame, idCols: Seq[String]): DataFrame =
      (0 until k).map { i =>
        val shifted = idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * shift)))
        val salted =
          if (df.columns.contains("text"))
            shifted.withColumn("text", concat(col("text"), lit(s" copysalt$i")))
          else shifted
        if (df.columns.contains("embedding") && i > 0)
          salted.withColumn("embedding", expr(
            s"concat(slice(embedding, ${i % 64} + 1, 64 - ${i % 64}), " +
              s"slice(embedding, 1, ${i % 64}))"))
        else salted
      }.reduce(_ union _)

    // materialize the scaled corpus (repartition → several parquet files,
    // the multi-file layout a real table would have)
    val specs: Seq[(String, Seq[String])] = Seq(
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      "lineitem" -> Seq("l_orderkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "events" -> Seq("event_id", "user_id"),
      "region" -> Nil, "nation" -> Nil, "customer" -> Nil,
      "supplier" -> Nil, "part" -> Nil)
    for ((t, idCols) <- specs) {
      val df0 = graft.sources.Tables(spark, base, t)
      val df = if (idCols.isEmpty) df0 else scaled(df0, idCols).repartition(32)
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    }
    println(s"[scale] wrote ${k}x corpus to $out")

    Bench.warmUp(spark)
    println(f"${"key"}%-22s ${"base_s"}%8s ${"scaled_s"}%9s ${"ratio"}%6s  (k=$k)")
    for (key <- keys) {
      val (b, tb) = Bench.timeKey(spark, key, base)
      val (s, ts) = Bench.timeKey(spark, key, out)
      val err = Seq(b, s).collectFirst { case Left(e) => e }
      println(err.fold(f"$key%-22s $tb%8.2f $ts%9.2f ${ts / tb}%6.1f")(e => s"$key FAILED $e"))
    }
    spark.stop()
  }
}
