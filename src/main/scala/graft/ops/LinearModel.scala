package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hashed-n-gram linear text classifier — the fastText-style quality
  * filter of a training-data pipeline: each document's unigrams and word
  * bigrams are hashed into `dim` buckets (the hashing trick), bucket
  * weights are averaged, and a bias completes the logit; `keep` is the
  * sign. This is the third model-inference surface next to the GBDT
  * walk ([[TreeEnsemble]]) and the bigram LM score — the shape used for
  * cheap corpus-wide quality gating before expensive downstream stages.
  *
  * Determinism contract: weights live on an exact 1/1024 grid as INTEGER
  * milli-units, so the per-doc reduction is an integer sum (associative —
  * partitioning-free), and the only float op is one final IEEE divide;
  * the logit is therefore bitwise identical across engines and runs. A
  * float-weight average (fastText's native form) would depend on Spark's
  * aggregation order; the quantized table is the same model as shipped
  * by a production filter after weight quantization.
  *
  * Scale (100 TB): features are a narrow explode of the scan (no text in
  * any shuffle), the weight table is `dim` rows (1e5–1e6 — always
  * broadcast-able), and the doc reduction is ONE partial-agg groupBy on
  * doc_id. Unseen buckets score 0 via the left join, so sparse trained
  * tables work unchanged.
  *
  * Reference analog: the classification models gate low-level descriptors
  * into categories via trained weights over engineered features
  * (`Source/Crawler/Classification/Source/Models/GBDT.cpp:50-117`); the
  * hashed linear form is the text-corpus counterpart.
  */
object LinearModel {

  /** Hash a feature string into [0, dim) — the corpus-wide
    * [[Sampling.md5Slot]] convention. */
  def hashBucket(feat: Column, dim: Int): Column =
    Sampling.md5Slot(feat, dim)

  /** (doc_id, feat) rows: unigrams plus space-joined word bigrams, WITH
    * duplicates — counts weight the average exactly as repeated words
    * weight a fastText sentence vector. Docs with zero words vanish
    * (no features → no logit), mirrored in the oracle. */
  def features(documents: DataFrame): DataFrame =
    documents
      .withColumn("words", expr(TextAnalysis.wordsExpr))
      .select(col("doc_id"), explode(expr(
        s"""concat(words,
           |  CASE WHEN size(words) >= 2 THEN
           |    transform(sequence(0, size(words) - 2),
           |      i -> array_join(slice(words, i + 1, 2), ' '))
           |  ELSE array() END)""".stripMargin)).as("feat"))

  /** Deterministic synthetic weight table (bucket, w_milli) with
    * w_milli uniform in [-2048, 2047] — 1/1024-grid weights in [-2, 2);
    * stands in for a trained table with the same schema. */
  def synthWeights(spark: SparkSession, dim: Int): DataFrame =
    spark.range(dim).select(col("id").as("bucket"),
      (conv(substring(md5(concat(lit("w:"), col("id").cast("string"))),
        1, 8), 16, 10).cast("long") % 4096 - 2048).as("w_milli"))

  /** Score every document: logit = bias + mean bucket weight (in units;
    * weights are milli-units on the 1/1024 grid). Output:
    * (doc_id, n_feat, sum_milli, logit, keep). */
  def score(documents: DataFrame, weights: DataFrame, dim: Int,
            biasMilli: Long = 0L): DataFrame =
    features(documents)
      .select(col("doc_id"), hashBucket(col("feat"), dim).as("bucket"))
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feat"),
        sum(coalesce(col("w_milli"), lit(0L))).as("sum_milli"))
      .withColumn("logit",
        (lit(biasMilli) * col("n_feat") + col("sum_milli")).cast("double")
          / (lit(1024.0) * col("n_feat").cast("double")))
      .withColumn("keep", col("logit") > 0.0)

  /** Densify a (bucket, w_milli) weight table into a single-row
    * `array<bigint>` of length `dim` (absent buckets 0) — the broadcast
    * model payload of [[scoreKernel]]. One tiny aggregation; the
    * transform lambda runs once over `dim` elements of one row. */
  def denseWeights(weights: DataFrame, dim: Int): DataFrame =
    weights
      .groupBy()
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("bucket"), col("w_milli"))))).as("m"))
      .select(expr(
        s"transform(sequence(0, ${dim - 1}), b -> " +
          "coalesce(m[CAST(b AS BIGINT)], CAST(0 AS BIGINT)))").as("w_arr"))

  /** Shuffle-free A/B of [[score]]: the dense weight array broadcast as
    * a 1-row dimension, the whole scorer one narrow kernel projection per
    * document ([[graft.functions.expressions.LinearScoreKernel]]) — no
    * explode, no join, no aggregation exchange; numerically identical
    * (OpsSpec).
    *
    * MEASURED SLOWER than [[score]] (round 4, sf0.1 local[32], min of 5,
    * BENCH.md: relational 1.15 s vs kernel 2.43 s): the
    * relational form's md5/explode/join/agg all run inside whole-stage
    * codegen and its doc_id exchange is tiny after map-side partials,
    * while a CodegenFallback expression interprets per row. The kernel
    * shape only wins when per-feature work is NOT expressible as
    * codegen'd builtins (cf. the fused fv kernels); [[score]] is the
    * production entry point. */
  def scoreKernel(documents: DataFrame, weights: DataFrame, dim: Int,
                  biasMilli: Long = 0L): DataFrame = {
    graft.functions.expressions.register(documents.sparkSession)
    documents
      .withColumn("words", expr(TextAnalysis.wordsExpr))
      .filter(size(col("words")) >= 1)
      .crossJoin(broadcast(denseWeights(weights, dim)))
      .withColumn("r", expr("graft_linear_score(words, w_arr)"))
      .select(col("doc_id"), col("r.n_feat").as("n_feat"),
        col("r.sum_milli").as("sum_milli"))
      .withColumn("logit",
        (lit(biasMilli) * col("n_feat") + col("sum_milli")).cast("double")
          / (lit(1024.0) * col("n_feat").cast("double")))
      .withColumn("keep", col("logit") > 0.0)
  }

  /** DuckDB mirror of [[score]]([[synthWeights]]) over the documents
    * table. */
  def duckSql(dim: Int, biasMilli: Long = 0L): String =
    s"""WITH wt AS (
       |  SELECT CAST(i AS BIGINT) AS bucket,
       |    CAST(('0x' || substr(md5('w:' || CAST(i AS VARCHAR)), 1, 8))
       |           ::BIGINT % 4096 - 2048 AS BIGINT) AS w_milli
       |  FROM range($dim) t(i)),
       |wd AS (
       |  SELECT doc_id, ${TextAnalysis.duckWordsExpr} AS words
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, unnest(
       |    words || CASE WHEN len(words) >= 2 THEN
       |      list_transform(range(CAST(len(words) - 1 AS BIGINT)),
       |        i -> array_to_string(words[i + 1:i + 2], ' '))
       |    ELSE [] END) AS feat
       |  FROM wd),
       |b AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(feat), 1, 8))::BIGINT % $dim AS bucket
       |  FROM f)
       |SELECT b.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_feat,
       |  CAST(sum(coalesce(wt.w_milli, 0)) AS BIGINT) AS sum_milli,
       |  CAST($biasMilli * count(*) + sum(coalesce(wt.w_milli, 0))
       |       AS DOUBLE)
       |    / (CAST(1024 AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS logit,
       |  (CAST($biasMilli * count(*) + sum(coalesce(wt.w_milli, 0))
       |        AS DOUBLE)
       |    / (CAST(1024 AS DOUBLE) * CAST(count(*) AS DOUBLE))
       |    > CAST(0 AS DOUBLE)) AS keep
       |FROM b LEFT JOIN wt ON wt.bucket = b.bucket
       |GROUP BY b.doc_id""".stripMargin
}
