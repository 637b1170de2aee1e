package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Dumps `explain("formatted")` for the key plans into EXPLAIN.md — the
  * plan-shape review artifact (shuffle count, broadcast choices, pushdown,
  * codegen spans). With trailing query names (any [[Bench.allQueries]]
  * entry), writes each named query's plan to `<out>/<query>.txt` instead —
  * the before/after plan evidence of an optimization.
  * Usage: `graft.Explain [sfDir] [out] [query ...]`. */
object Explain {
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "EXPLAIN.md"
    val names = args.drop(2)
    val spark = Sessions.local(Sessions.defaultCpus)
    if (names.nonEmpty) {
      Files.createDirectories(Paths.get(out))
      names.foreach { name =>
        Files.writeString(Paths.get(out, s"$name.txt"),
          formatted(Bench.allQueries(name)(spark, sfDir)))
        println(s"wrote $out/$name.txt")
      }
    } else {
      val sb = new StringBuilder
      sb.append("# EXPLAIN — formatted physical plans (generated by graft.Explain)\n\n")
      sb.append("Review criteria: shuffles only where semantically required " +
        "(one per window/groupBy key), broadcast for small sides, filters and " +
        "column pruning pushed to the parquet scan, per-token kernels inside " +
        "a single projection (no explode of raw tokens).\n")
      for ((name, df) <- keyPlans(spark, sfDir)) {
        sb.append(s"\n## $name\n\n```\n")
        sb.append(formatted(df))
        sb.append("```\n")
      }
      Files.writeString(Paths.get(out), sb.toString)
      println(s"wrote $out")
    }
    spark.stop()
  }

  private def keyPlans(spark: SparkSession, sfDir: String): Seq[(String, DataFrame)] =
    Seq(
      "features_ll (headline pipeline)" ->
        graft.features.Pipeline.featuresLlFromDir(spark, sfDir),
      "fv_full (1920-dim classification vector, fused kernel)" ->
        graft.features.FeatureVector.fvFull(
          graft.sources.Seqs.fromDocuments(spark, sfDir)),
      "band_features (sub-band battery)" ->
        SparkEntry.queries("band_features")(spark, sfDir),
      "rhythm_metrics (canny + peak picking)" ->
        SparkEntry.queries("rhythm_metrics")(spark, sfDir),
      "pit_asof (as-of join)" ->
        SparkEntry.queries("pit_asof")(spark, sfDir),
      "events_sessionize" ->
        SparkEntry.queries("events_sessionize")(spark, sfDir),
      "dedup_lsh_pairs" ->
        SparkEntry.queries("dedup_lsh_pairs")(spark, sfDir),
      "embed_topk" ->
        SparkEntry.queries("embed_topk")(spark, sfDir),
      "q3_join" ->
        SparkEntry.queries("q3_join")(spark, sfDir),
      "asof_salted (skew-safe as-of on the coarse source key)" ->
        SparkEntry.queries("asof_salted")(spark, sfDir),
      "dedup_embed (banded sign-LSH candidates, ids-only shuffle)" ->
        SparkEntry.queries("dedup_embed")(spark, sfDir),
      "gbdt_score_large (broadcast node-table walk, 500 trees)" ->
        SparkEntry.queries("gbdt_score_large")(spark, sfDir),
      "video_frames (AVI decode + frame sample)" ->
        SparkEntry.queries("video_frames")(spark, sfDir),
      "hash_split (deterministic train/val/test)" ->
        SparkEntry.queries("hash_split")(spark, sfDir),
      "decontaminate (native gram-hash kernel, broadcast eval-gram set, no train-side pre-agg shuffle)" ->
        SparkEntry.queries("decontaminate")(spark, sfDir),
      "repetition_stats (zero-shuffle quality projection)" ->
        SparkEntry.queries("repetition_stats")(spark, sfDir),
      "training_set (as-of state + trailing history + forward label, one plan)" ->
        SparkEntry.queries("training_set")(spark, sfDir),
      "events_trailing_multi (3 horizons, one Window operator)" ->
        SparkEntry.queries("events_trailing_multi")(spark, sfDir),
      "quality_linear (hashing-trick explode + broadcast weight join)" ->
        SparkEntry.queries("quality_linear")(spark, sfDir),
      "redact_pii (per-rule codegen'd projections, zero shuffle)" ->
        SparkEntry.queries("redact_pii")(spark, sfDir),
      "length_batches (per-(bucket,shard) windows, no global rank)" ->
        SparkEntry.queries("length_batches")(spark, sfDir),
      "span_dedup (strided window hashes, ids-only doc-frequency join)" ->
        SparkEntry.queries("span_dedup")(spark, sfDir),
      "nb_classify (counting-trained NB: literal model arrays, shuffle-free fused scoring)" ->
        SparkEntry.queries("nb_classify")(spark, sfDir),
      "seq_split (window starts exploded + codegen'd slice, zero shuffle)" ->
        SparkEntry.queries("seq_split")(spark, sfDir),
      "pmi_top (one bigram exchange, broadcast unigram table x2, take-ordered)" ->
        SparkEntry.queries("pmi_top")(spark, sfDir),
      "sketch_kmv (fused token-array KMV: ONE corpus pass — zero explode/distinct, bounded in-heap-dedup kmin; the displayed plan is only the model-sized tail because the __all__ row is the driver-side fold of the collected per-source partials)" ->
        SparkEntry.queries("sketch_kmv")(spark, sfDir),
      "skipgram_top (native pair codes, one count exchange, take-ordered top-k)" ->
        SparkEntry.queries("skipgram_top")(spark, sfDir),
      "bloom_prune (broadcast set-bit table, narrow probe — big side never shuffles)" ->
        SparkEntry.queries("bloom_prune")(spark, sfDir),
      "source_overlap (native gram-hash kernel, vocabulary-bounded distinct table materialized once, gram-keyed self-join, broadcast sizes)" ->
        SparkEntry.queries("source_overlap")(spark, sfDir),
      "length_outliers (per-source rank windows, medians broadcast back)" ->
        SparkEntry.queries("length_outliers")(spark, sfDir),
      "group_sample (one group-keyed window, exact k per group)" ->
        SparkEntry.queries("group_sample")(spark, sfDir),
      "source_drift (one corpus count, vocab-bounded JSD grid)" ->
        SparkEntry.queries("source_drift")(spark, sfDir),
      "skew_report (count exchange + TakeOrdered, broadcast totals)" ->
        SparkEntry.queries("skew_report")(spark, sfDir),
      "feature_corr (single-pass moment agg, zero shuffle)" ->
        SparkEntry.queries("feature_corr")(spark, sfDir),
      "chi2_select (one corpus doc-frequency exchange, vocab-grid chi2, model-sized top-k)" ->
        SparkEntry.queries("chi2_select")(spark, sfDir),
      "calibration (narrow milli-quantize projection, bins-row aggregation)" ->
        SparkEntry.queries("calibration")(spark, sfDir),
      "events_interval_join (bucketed range join: bounded explode, one (key,bucket) exchange)" ->
        SparkEntry.queries("events_interval_join")(spark, sfDir),
      "mi_select (shared chi2 contingency grid, micro-nat integer ranking)" ->
        SparkEntry.queries("mi_select")(spark, sfDir),
      "ann_ndcg (bucket equi-join candidates, micro-unit DCG aggregation)" ->
        SparkEntry.queries("ann_ndcg")(spark, sfDir),
      "embed_quant (one narrow SQ8 projection, zero shuffle)" ->
        SparkEntry.queries("embed_quant")(spark, sfDir),
      "sketch_hll (one gram pass, GROUPING SETS registers + max-merge union, no diamond)" ->
        SparkEntry.queries("sketch_hll")(spark, sfDir),
      "impute_median (rank window over present rows, strata medians broadcast back)" ->
        SparkEntry.queries("impute_median")(spark, sfDir),
      "feature_cross (vocab-sized distinct-cross agg, then bucket re-agg)" ->
        SparkEntry.queries("feature_cross")(spark, sfDir),
      "isotonic (corpus bin pass only; model-sized minimax lattice)" ->
        SparkEntry.queries("isotonic")(spark, sfDir),
      "dedup_incremental (broadcast batch bands probe the frozen index — corpus side never shuffles)" ->
        SparkEntry.queries("dedup_incremental")(spark, sfDir),
      "hard_negatives (broadcast anchors, one anchor-keyed exchange for both windows)" ->
        SparkEntry.queries("hard_negatives")(spark, sfDir),
      "semdedup (broadcast centroids, ids-only in-cell pair join, vector re-fetch verify)" ->
        SparkEntry.queries("semdedup")(spark, sfDir),
      "kn_bigram_nll (one model-collect job, driver-side count families, fused dense-table scoring kernel — zero corpus shuffle, zero scoring join)" ->
        SparkEntry.queries("kn_bigram_nll")(spark, sfDir),
      "unigram_diversity (per-doc histogram kernel, ≤4096-row corpus histogram broadcast back — no corpus windows)" ->
        SparkEntry.queries("unigram_diversity")(spark, sfDir),
      "zipf_fit (per-source rank window, grouped integer moments, closed-form solve)" ->
        SparkEntry.queries("zipf_fit")(spark, sfDir),
      "length_influence (moment agg + 15-scalar broadcast, one narrow diagnostic projection)" ->
        SparkEntry.queries("length_influence")(spark, sfDir),
      "dedup_editdist (ids + clipped prefixes through the pair joins, one DP kernel projection)" ->
        SparkEntry.queries("dedup_editdist")(spark, sfDir),
      "bm25_top (broadcast query grams + idf into the postings join — corpus side never shuffles for scoring)" ->
        SparkEntry.queries("bm25_top")(spark, sfDir),
      "conformal (train-split moment fit broadcast, one calibration-split rank sort, test-split agg)" ->
        SparkEntry.queries("conformal")(spark, sfDir),
      "mlm_mask (zero-shuffle corruption-plan kernel projection)" ->
        SparkEntry.queries("mlm_mask")(spark, sfDir),
      "dedup_sorted_screen (one distributed sort + adjacency window, no candidate generation)" ->
        SparkEntry.queries("dedup_sorted_screen")(spark, sfDir),
      "value_cusum (one (type, day) exchange, model-sized series kernel)" ->
        SparkEntry.queries("value_cusum")(spark, sfDir),
      "hard_negatives_lsh (full-corpus mining: ids-only band join, vector re-fetch, one anchor exchange)" ->
        SparkEntry.queries("hard_negatives_lsh")(spark, sfDir),
      "knn_agree_lsh (same candidate graph through the label-agreement screen)" ->
        SparkEntry.queries("knn_agree_lsh")(spark, sfDir),
      "coreset_cells (broadcast centroid assignment, one cell exchange, per-cell greedy kernel)" ->
        SparkEntry.queries("coreset_cells")(spark, sfDir),
      "pq_codes (fused literal-codebook assignment kernel — one narrow projection; Lloyd rounds collect only (sub,code,pos) aggregates)" ->
        SparkEntry.queries("pq_codes")(spark, sfDir),
      "ivfpq_recall (fused cell+code assignment kernels, coarse-cell candidates joined to codes, broadcast ADC table, one (query,vec) grouped sum)" ->
        SparkEntry.queries("ivfpq_recall")(spark, sfDir),
      "sketch_quantile (one (source,bin) count exchange, windows over the bounded bin grid)" ->
        SparkEntry.queries("sketch_quantile")(spark, sfDir),
      "unigram_train (driver-literal piece model into the Viterbi kernel projection, one piece-census exchange)" ->
        SparkEntry.queries("unigram_train")(spark, sfDir),
      "hybrid_rrf (two k-row-per-query arms, one outer fusion join — nothing corpus-sized)" ->
        SparkEntry.queries("hybrid_rrf")(spark, sfDir),
      "matryoshka_recall (per-width broadcast-queries corpus passes, unioned)" ->
        SparkEntry.queries("matryoshka_recall")(spark, sfDir))
}
