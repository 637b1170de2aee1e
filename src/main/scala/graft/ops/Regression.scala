package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** In-engine ordinary-least-squares model fitting via EXACT distributed
  * normal equations — the "train a (small) model inside the data engine"
  * capability (reference analog: the crawler trains its classification
  * models from pooled descriptors rather than exporting to a separate
  * system; here the regression IS a distributed aggregation).
  *
  * Two phases, both engine-native:
  *
  *  1. '''Moments''' (distributed, one pass): the 10 integer moments of
  *     X = (1, x1, x2) and y — n, Σx1, Σx2, Σx1², Σx1x2, Σx2², Σy, Σx1y,
  *     Σx2y, Σy² — as int64 sums of int64 products. Integer sums are
  *     exact and commutative, so the fit is bitwise identical under ANY
  *     partitioning / shuffle order (the float-sum-order hazard of a
  *     naive Σxᵢyᵢ in doubles). Map-side partial aggregation applies; the
  *     exchange carries ten longs. At 10^12-row scale the squared moments
  *     outgrow int64 (~1.6e19 for 4k-char docs) — the production variant
  *     sums into DECIMAL(38,0); the solve below is unchanged.
  *  2. '''Solve''' (driver-free, closed form): β = (XᵀX)⁻¹Xᵀy by Cramer's
  *     rule on the 3×3 system, evaluated as a FIXED double expression
  *     tree over the (cast-once) moments — the same IEEE multiply/add
  *     sequence in Spark and DuckDB, so β, R² and RMSE are bitwise
  *     cross-engine. SSE uses the algebraic identity
  *     SSE = Σy² − β₀Σy − β₁Σx1y − β₂Σx2y (no second data pass).
  *
  * The [[solveLevels]] pipeline is authored ONCE as dialect-neutral SQL
  * and executed by both engines, so the solver can never desynchronize
  * from its oracle. */
object Regression {

  /** The ONE set of double-cast / determinant formula fragments, shared
    * by [[solveLevels]] and the influence-diagnostics levels so the two
    * pipelines can never desynchronize. */
  private val CastsLevel: Seq[String] = Seq("n",
    "CAST(n AS DOUBLE) AS dn", "CAST(s1 AS DOUBLE) AS ds1",
    "CAST(s2 AS DOUBLE) AS ds2", "CAST(s11 AS DOUBLE) AS ds11",
    "CAST(s12 AS DOUBLE) AS ds12", "CAST(s22 AS DOUBLE) AS ds22",
    "CAST(sy AS DOUBLE) AS dsy", "CAST(s1y AS DOUBLE) AS ds1y",
    "CAST(s2y AS DOUBLE) AS ds2y", "CAST(syy AS DOUBLE) AS dsyy")
  private val DetA =
    "dn*(ds11*ds22 - ds12*ds12) - ds1*(ds1*ds22 - ds12*ds2)" +
      " + ds2*(ds1*ds12 - ds11*ds2)"
  private val Det0 =
    "dsy*(ds11*ds22 - ds12*ds12) - ds1*(ds1y*ds22 - ds12*ds2y)" +
      " + ds2*(ds1y*ds12 - ds11*ds2y)"
  private val Det1 =
    "dn*(ds1y*ds22 - ds12*ds2y) - dsy*(ds1*ds22 - ds12*ds2)" +
      " + ds2*(ds1*ds2y - ds1y*ds2)"
  private val Det2 =
    "dn*(ds11*ds2y - ds1y*ds12) - ds1*(ds1*ds2y - ds1y*ds2)" +
      " + dsy*(ds1*ds12 - ds11*ds2)"

  /** The shared closed-form solve, as successive projection levels (each
    * level may reference the previous level's aliases). Input relation
    * must carry BIGINT columns (n, s1, s2, s11, s12, s22, sy, s1y, s2y,
    * syy). Output: (n, b0, b1, b2, r2, rmse). */
  val solveLevels: Seq[Seq[String]] = Seq(
    // cast the integer moments to doubles exactly once
    CastsLevel,
    // Cramer determinants: det(A), then A with column i replaced by b
    Seq("n", "dn", "dsy", "ds1y", "ds2y", "dsyy",
      s"$DetA AS det", s"$Det0 AS det0", s"$Det1 AS det1",
      s"$Det2 AS det2"),
    // degenerate groups (singular XᵀX, or zero variance in y) yield NULL
    // coefficients / r2 instead of an ANSI divide-by-zero abort — the
    // same NULL in both engines
    Seq("n", "dn", "dsy", "ds1y", "ds2y", "dsyy",
      "CASE WHEN det = CAST(0 AS DOUBLE) THEN CAST(NULL AS DOUBLE)" +
        " ELSE det0 / det END AS b0",
      "CASE WHEN det = CAST(0 AS DOUBLE) THEN CAST(NULL AS DOUBLE)" +
        " ELSE det1 / det END AS b1",
      "CASE WHEN det = CAST(0 AS DOUBLE) THEN CAST(NULL AS DOUBLE)" +
        " ELSE det2 / det END AS b2"),
    Seq("n", "dn", "dsy", "dsyy", "b0", "b1", "b2",
      "dsyy - b0*dsy - b1*ds1y - b2*ds2y AS sse"),
    Seq("n", "b0", "b1", "b2",
      "CASE WHEN sse IS NULL OR dsyy - dsy*dsy/dn = CAST(0 AS DOUBLE)" +
        " THEN CAST(NULL AS DOUBLE)" +
        " ELSE CAST(1 AS DOUBLE) - sse / (dsyy - dsy*dsy/dn) END AS r2",
      "CASE WHEN sse IS NULL THEN CAST(NULL AS DOUBLE)" +
        " ELSE sqrt(greatest(sse, CAST(0 AS DOUBLE)) / dn) END AS rmse"))

  /** Fit y ~ b0 + b1·x1 + b2·x2 over a relation already carrying BIGINT
    * columns (y, x1, x2). One moment pass + the closed-form solve. */
  def fit(xy: DataFrame): DataFrame = {
    val moments = xy.agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("y")).as("sy"),
      sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"),
      sum(col("y") * col("y")).as("syy"))
    solveLevels.foldLeft(moments)((df, lvl) => df.selectExpr(lvl: _*))
  }

  /** Scalar-table levels for [[influence]]: moments → (n, dn, b0, b1, b2,
    * sse, det, c00..c22) with the adjugate entries of the symmetric XᵀX
    * (so (XᵀX)⁻¹ = C/det without ever materializing a matrix). Shares
    * [[CastsLevel]] and the determinant fragments with [[solveLevels]]. */
  private val influenceScalarLevels: Seq[Seq[String]] = Seq(
    CastsLevel,
    Seq("n", "dn", "ds1", "ds2", "ds11", "ds12", "ds22",
      "dsy", "ds1y", "ds2y", "dsyy",
      s"$DetA AS det", s"$Det0 AS det0", s"$Det1 AS det1",
      s"$Det2 AS det2",
      "ds11*ds22 - ds12*ds12 AS c00",
      "-(ds1*ds22 - ds12*ds2) AS c01",
      "ds1*ds12 - ds11*ds2 AS c02",
      "dn*ds22 - ds2*ds2 AS c11",
      "-(dn*ds12 - ds1*ds2) AS c12",
      "dn*ds11 - ds1*ds1 AS c22"),
    Seq("n", "dn", "dsy", "ds1y", "ds2y", "dsyy", "det",
      "c00", "c01", "c02", "c11", "c12", "c22",
      "CASE WHEN det = CAST(0 AS DOUBLE) THEN CAST(NULL AS DOUBLE)" +
        " ELSE det0 / det END AS b0",
      "CASE WHEN det = CAST(0 AS DOUBLE) THEN CAST(NULL AS DOUBLE)" +
        " ELSE det1 / det END AS b1",
      "CASE WHEN det = CAST(0 AS DOUBLE) THEN CAST(NULL AS DOUBLE)" +
        " ELSE det2 / det END AS b2"),
    Seq("n", "dn", "det", "c00", "c01", "c02", "c11", "c12", "c22",
      "b0", "b1", "b2",
      "dsyy - b0*dsy - b1*ds1y - b2*ds2y AS sse"))

  /** Per-row levels for [[influence]] (the row table cross-joined with
    * the one-row scalar table): fitted value, residual, leverage
    * h = xᵀ(XᵀX)⁻¹x via the adjugate quadratic form, and Cook's distance
    * with p = 3 parameters. Degenerate fits (det 0, h = 1 exactly, or a
    * non-positive error variance) yield NULL instead of an ANSI abort. */
  private val influenceRowLevels: Seq[Seq[String]] = Seq(
    Seq("__id", "CAST(y AS DOUBLE) AS dy", "CAST(x1 AS DOUBLE) AS dx1",
      "CAST(x2 AS DOUBLE) AS dx2",
      "dn", "det", "c00", "c01", "c02", "c11", "c12", "c22",
      "b0", "b1", "b2", "sse"),
    Seq("__id", "dy", "dn", "sse",
      "b0 + b1*dx1 + b2*dx2 AS yhat",
      "CASE WHEN det = CAST(0 AS DOUBLE) THEN CAST(NULL AS DOUBLE)" +
        " ELSE (c00 + 2*c01*dx1 + 2*c02*dx2 + c11*dx1*dx1" +
        " + 2*c12*dx1*dx2 + c22*dx2*dx2) / det END AS leverage"),
    Seq("__id", "yhat", "dy - yhat AS resid", "leverage",
      "CASE WHEN dn <= CAST(3 AS DOUBLE) THEN CAST(NULL AS DOUBLE)" +
        " ELSE sse / (dn - CAST(3 AS DOUBLE)) END AS s2"),
    Seq("__id", "yhat", "resid", "leverage",
      "CASE WHEN s2 IS NULL OR leverage IS NULL OR s2 <= CAST(0 AS DOUBLE)" +
        " OR leverage = CAST(1 AS DOUBLE) THEN CAST(NULL AS DOUBLE)" +
        " ELSE resid*resid*leverage / (CAST(3 AS DOUBLE) * s2" +
        " * (CAST(1 AS DOUBLE) - leverage)" +
        " * (CAST(1 AS DOUBLE) - leverage)) END AS cooks_d"))

  /** OLS influence diagnostics — per-row leverage and Cook's distance
    * over the [[fit]] model, the classical data-valuation / outlier
    * screen (a training row with high Cook's distance single-handedly
    * drags the fitted quality model: mislabeled, anomalous, or
    * template-pathological — exactly what a curation pass should eyeball
    * first). Leverage comes from the adjugate quadratic form
    * h = xᵀ(XᵀX)⁻¹x = (Σ cᵢⱼ xᵢxⱼ)/det — the 3×3 inverse never
    * materializes and the whole diagnosis costs ONE extra narrow
    * projection over the data (moment pass + a broadcast of ~15 scalars;
    * no second shuffle). Same bitwise determinism as [[fit]]: exact
    * integer moments, then fixed double trees shared with the oracle. */
  def influence(xyId: DataFrame, idCol: String): DataFrame = {
    val rows = xyId.select(col(idCol).as("__id"), col("y"),
      col("x1"), col("x2"))
    val scalars = influenceScalarLevels.foldLeft(
      rows.agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("y")).as("sy"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"),
        sum(col("y") * col("y")).as("syy")))(
      (df, lvl) => df.selectExpr(lvl: _*))
    influenceRowLevels.foldLeft(rows.crossJoin(broadcast(scalars)))(
        (df, lvl) => df.selectExpr(lvl: _*))
      .withColumnRenamed("__id", idCol)
  }

  /** Influence diagnostics for the [[fitLengthModel]] features. */
  def lengthInfluence(docs: DataFrame): DataFrame =
    influence(docs.selectExpr("doc_id",
      "CAST(n_chars AS BIGINT) AS y",
      "CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS x1",
      "CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS x2"),
      "doc_id")

  /** DuckDB mirror of [[lengthInfluence]]. */
  def duckLengthInfluenceSql(src: String = "documents"): String = {
    val rows =
      s"""SELECT doc_id AS __id, CAST(n_chars AS BIGINT) AS y,
         |  CAST(length(text) - length(replace(text, 'e', ''))
         |    AS BIGINT) AS x1,
         |  CAST(length(text) - length(replace(text, ' ', ''))
         |    AS BIGINT) AS x2
         |FROM $src""".stripMargin
    val moments =
      s"""SELECT count(*) AS n,
         |  CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         |  CAST(sum(x1*x1) AS BIGINT) AS s11,
         |  CAST(sum(x1*x2) AS BIGINT) AS s12,
         |  CAST(sum(x2*x2) AS BIGINT) AS s22,
         |  CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x1*y) AS BIGINT) AS s1y,
         |  CAST(sum(x2*y) AS BIGINT) AS s2y,
         |  CAST(sum(y*y) AS BIGINT) AS syy
         |FROM ($rows)""".stripMargin
    val scalars = influenceScalarLevels.foldLeft(moments)((inner, lvl) =>
      s"SELECT ${lvl.mkString(", ")} FROM (\n$inner)")
    val joined = s"SELECT * FROM ($rows) CROSS JOIN (\n$scalars)"
    val full = influenceRowLevels.foldLeft(joined)((inner, lvl) =>
      s"SELECT ${lvl.mkString(", ")} FROM (\n$inner)")
    s"SELECT __id AS doc_id, yhat, resid, leverage, cooks_d FROM (\n$full)"
  }

  /** Grouped variant of [[fit]]: one fitted model PER value of `key`
    * (still one moment pass — the groupBy carries ten longs per group). */
  def fitBy(xy: DataFrame, key: String): DataFrame = {
    val moments = xy.groupBy(col(key)).agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("y")).as("sy"),
      sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"),
      sum(col("y") * col("y")).as("syy"))
    solveLevels.foldLeft(moments)((df, lvl) =>
      df.selectExpr((key +: lvl): _*))
  }

  /** SQL twin of [[fitBy]] (`xySql` = a full SELECT yielding
    * (key, y, x1, x2) as BIGINTs). */
  def duckFitBySql(xySql: String, key: String): String = {
    val moments =
      s"""SELECT $key, count(*) AS n,
         |  CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         |  CAST(sum(x1*x1) AS BIGINT) AS s11,
         |  CAST(sum(x1*x2) AS BIGINT) AS s12,
         |  CAST(sum(x2*x2) AS BIGINT) AS s22,
         |  CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x1*y) AS BIGINT) AS s1y,
         |  CAST(sum(x2*y) AS BIGINT) AS s2y,
         |  CAST(sum(y*y) AS BIGINT) AS syy
         |FROM ($xySql) GROUP BY $key""".stripMargin
    solveLevels.foldLeft(moments)((inner, lvl) =>
      s"SELECT $key, ${lvl.mkString(", ")} FROM (\n$inner)")
  }

  /** Per-source Zipf-law fit: regress micro-ln(token frequency) on
    * micro-ln(rank) and a curvature term — `b1` IS the Zipf exponent
    * (micro/micro, unitless; ≈ −1 for natural text), `b2` the log-log
    * curvature that separates pure power law (b2 ≈ 0) from
    * lognormal-bending tails, `rmse` the residual in micro-nats. A
    * corpus-diagnostics complement to the Heaps'-law vocabulary-growth
    * report: sources whose token distribution bends away from Zipf are
    * template/boilerplate suspects.
    *
    * Determinism: ranks are exact (count DESC, token ASC tie-break), both
    * regressors are micro-quantized ln values (int64), and the curvature
    * term is integer arithmetic `(x1·x1) div 10⁹` (milli-ln², keeping
    * Σx2² inside int64 at 4096-token vocabularies) — so the moment pass
    * feeds [[fitBy]]'s bitwise solve. */
  def zipfFit(seqs: DataFrame): DataFrame = {
    graft.functions.expressions.register(seqs.sparkSession)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("c").desc, col("gram").asc)
    val xy = seqs
      .select(col("source"),
        explode(expr("graft_pack_ngrams(tokens, 1)")).as("gram"))
      .groupBy(col("source"), col("gram")).agg(count(lit(1)).as("c"))
      .withColumn("r", row_number().over(w))
      .select(col("source"),
        expr("CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("y"),
        expr("CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("x1"))
      .withColumn("x2", expr("(x1 * x1) div 1000000000"))
    fitBy(xy, "source")
  }

  /** DuckDB mirror of [[zipfFit]]. */
  def duckZipfSql(seqsSql: String): String =
    duckFitBySql(
      s"""SELECT source,
         |  CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y,
         |  CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x1,
         |  (CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT)
         |   * CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT))
         |  // 1000000000 AS x2
         |FROM (
         |  SELECT source, c, row_number() OVER (PARTITION BY source
         |    ORDER BY c DESC, gram ASC) AS r
         |  FROM (SELECT source, (t + 2048)::BIGINT AS gram,
         |          count(*) AS c
         |        FROM (SELECT source, unnest(tokens) AS t
         |              FROM ($seqsSql))
         |        GROUP BY 1, 2))""".stripMargin, "source")

  /** Document length model: y = n_chars, x1 = occurrences of 'e',
    * x2 = occurrences of ' ' — integer character-class counts available
    * identically in both engines (length-difference trick, no regex). */
  def fitLengthModel(docs: DataFrame): DataFrame =
    fit(docs.selectExpr(
      "CAST(n_chars AS BIGINT) AS y",
      "CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS x1",
      "CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS x2"))

  /** DuckDB mirror of [[fitLengthModel]] — same moments (sums cast back
    * to BIGINT; DuckDB widens sum(BIGINT) to HUGEINT), same shared solve
    * levels nested inside-out. */
  def duckLengthModelSql(src: String = "documents"): String = {
    val moments =
      s"""SELECT count(*) AS n,
         |  CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         |  CAST(sum(x1*x1) AS BIGINT) AS s11,
         |  CAST(sum(x1*x2) AS BIGINT) AS s12,
         |  CAST(sum(x2*x2) AS BIGINT) AS s22,
         |  CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x1*y) AS BIGINT) AS s1y,
         |  CAST(sum(x2*y) AS BIGINT) AS s2y,
         |  CAST(sum(y*y) AS BIGINT) AS syy
         |FROM (SELECT CAST(n_chars AS BIGINT) AS y,
         |        CAST(length(text) - length(replace(text, 'e', ''))
         |          AS BIGINT) AS x1,
         |        CAST(length(text) - length(replace(text, ' ', ''))
         |          AS BIGINT) AS x2
         |      FROM $src)""".stripMargin
    solveLevels.foldLeft(moments)((inner, lvl) =>
      s"SELECT ${lvl.mkString(", ")} FROM (\n$inner)")
  }

  /** The ONE residual tree shared by [[conformalLength]] and its Duck
    * mirror — `|y − (b0 + b1·x1 + b2·x2)|` with the cast/association
    * order pinned, so the nonconformity scores are bitwise-identical
    * doubles in both engines. */
  private val ResidExpr: String =
    "abs(CAST(y AS DOUBLE) - (b0 + b1 * CAST(x1 AS DOUBLE)" +
      " + b2 * CAST(x2 AS DOUBLE)))"

  /** Split conformal prediction over the [[fitLengthModel]] regression
    * (Vovk's split/inductive conformal, the distribution-free interval
    * recipe): fit on the `train` hash split, take the nonconformity
    * scores `|y − ŷ|` on the held-out calibration split (`val`), and the
    * `⌈(1−α)(n_cal+1)⌉`-th smallest score is the half-width `qhat` whose
    * interval `ŷ ± qhat` covers a fresh point with probability ≥ 1−α —
    * verified here empirically on the disjoint `test` split. α is fixed
    * at 10 % so the rank index `k = ⌈9(n_cal+1)/10⌉` stays pure integer
    * arithmetic. One row out: (n_cal, k, qhat, n_test, covered,
    * coverage).
    *
    * Determinism: the three-way split is the standard corpus hash split
    * ([[Sampling.assignSplit]] buckets); the model is the exact
    * integer-moment fit; the residual tree is [[ResidExpr]] in BOTH
    * engines, so `qhat` is an exact copy of one computed double and the
    * coverage comparisons `resid ≤ qhat` can never disagree. Degenerate
    * calibration sets (k > n_cal, possible only below 9 points) yield
    * NULL qhat/coverage, the [[solveLevels]] NULL-on-degenerate
    * convention.
    *
    * Scale: the only non-narrow steps are the 10-long moment exchange and
    * ONE rank sort of the CALIBRATION split. Conformal validity needs
    * only a bounded calibration sample (a few thousand points pins the
    * α-resolution), so production shrinks that split to a fixed-size
    * slice or swaps the exact rank for a Greenwald–Khanna quantile (the
    * [[graft.ops.TextAnalysis.lengthReportApprox]] pattern); this exact
    * rank form is that path's correctness oracle. */
  def conformalLength(docs: DataFrame,
      spec: Sampling.SplitSpec = Sampling.SplitSpec()): DataFrame = {
    val rows = docs.selectExpr("doc_id",
        "CAST(n_chars AS BIGINT) AS y",
        "CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS x1",
        "CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS x2")
      .withColumn("bucket", Sampling.milleSlot(col("doc_id")))
    val model = fit(rows.filter(col("bucket") < spec.train)
      .select("y", "x1", "x2"))
    // one materialized residual table: referenced by the calibration
    // rank, its count, and the test aggregation (12 bytes/row — eval
    // corpora are bounded; without it each reference re-runs the scan +
    // fit, the sketch_hll diamond)
    val pred = rows.crossJoin(broadcast(model.select("b0", "b1", "b2")))
      .selectExpr("doc_id", "bucket", s"$ResidExpr AS resid")
      .localCheckpoint(true)
    val cal = pred.filter(col("bucket") >= spec.train &&
      col("bucket") < spec.train + spec.valid)
    val calN = cal.agg(count(lit(1)).as("n_cal"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("resid"), col("doc_id"))
    val qhat = cal.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(calN))
      .filter(expr("rn = least((9 * (n_cal + 1) + 9) DIV 10, n_cal)"))
      .selectExpr("n_cal", "(9 * (n_cal + 1) + 9) DIV 10 AS k",
        """CASE WHEN (9 * (n_cal + 1) + 9) DIV 10 > n_cal
          |     THEN CAST(NULL AS DOUBLE) ELSE resid END AS qhat"""
          .stripMargin)
    pred.filter(col("bucket") >= spec.train + spec.valid)
      .crossJoin(broadcast(qhat))
      .groupBy(col("n_cal"), col("k"), col("qhat"))
      .agg(count(lit(1)).as("n_test"),
        sum(expr("IF(resid <= qhat, 1L, 0L)")).as("covered"))
      .selectExpr("n_cal", "k", "qhat", "n_test", "covered",
        """CASE WHEN qhat IS NULL THEN CAST(NULL AS DOUBLE)
          |     ELSE CAST(covered AS DOUBLE) / n_test END AS coverage"""
          .stripMargin)
  }

  /** Poisson-bootstrap CDF thresholds in micro-units: `⌊10⁶·P(X ≤ k)⌋`
    * for X ~ Poisson(1), k = 0..8 — computed ONCE here and embedded as
    * the same literals in both dialects' CASE, so the resample weights
    * cannot diverge. */
  private val PoissonCdfMicro: Seq[Long] = {
    var cdf = 0.0; var term = math.exp(-1.0)
    (0 to 8).map { k =>
      cdf += term; term /= (k + 1); math.floor(cdf * 1e6).toLong
    }
  }

  /** Bootstrap-weight CASE over a micro-uniform draw expression. */
  private def poissonCase(u: String): String =
    PoissonCdfMicro.zipWithIndex
      .map { case (t, k) => s"WHEN $u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 9 END")

  /** The ONE per-doc paired-error-difference tree (baseline squared error
    * minus model squared error, in micro-units) shared with the Duck
    * mirror. Positive = the full model beats the mean-only baseline on
    * this document. */
  private val DMicroExpr: String = {
    val p = "(b0 + b1 * CAST(x1 AS DOUBLE) + b2 * CAST(x2 AS DOUBLE))"
    "CAST(round(((CAST(y AS DOUBLE) - mu) * (CAST(y AS DOUBLE) - mu)" +
      s" - (CAST(y AS DOUBLE) - $p) * (CAST(y AS DOUBLE) - $p))" +
      " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
  }

  /** Paired bootstrap significance test (the NLP system-comparison
    * standard, in its DISTRIBUTED Poisson form): does the full length
    * model beat the mean-only baseline by more than resampling noise?
    * Per document, the paired error difference `d = e_base − e_model` is
    * micro-quantized once ([[DMicroExpr]] — identical bits both
    * engines); each of `bReps` replicates reweights every document by an
    * independent Poisson(1) draw (the Poisson bootstrap — no global n in
    * the resampling step, so it runs as a narrow map at any corpus
    * size, unlike multinomial resampling) derived from the md5-slot
    * convention, and the replicate sums `Σ w·d_micro` are exact int64.
    * Output one row: replicate count, corpus n, mean difference,
    * `p_boot` = share of replicates with Σ ≤ 0 (the bootstrap p-value
    * against "the model is no better"), and the exact-rank 2.5 % / 97.5 %
    * replicate-sum percentiles (copies of computed integers — bitwise).
    *
    * Scale: the only corpus exchanges are the 10-long moment pass (the
    * fit) and the bReps-row replicate aggregation with map-side partials;
    * the explode is corpus×bReps but purely narrow before it. The B-row
    * rank sort is model-sized. */
  def bootstrapLengthModel(docs: DataFrame, bReps: Int): DataFrame = {
    val rows = docs.selectExpr("doc_id",
      "CAST(n_chars AS BIGINT) AS y",
      "CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS x1",
      "CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS x2")
    val model = fit(rows.select("y", "x1", "x2")).select("b0", "b1", "b2")
    val mu = rows.agg(count(lit(1)).as("__n"), sum(col("y")).as("__sy"))
      .selectExpr("__n", "CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE) AS mu")
    // materialized once: the replicate explode and the base aggregation
    // both read it (eval slices are bounded — 16 bytes/row)
    val scored = rows.crossJoin(broadcast(model)).crossJoin(broadcast(mu))
      .selectExpr("doc_id", "__n", s"$DMicroExpr AS d_micro")
      .localCheckpoint(true)
    val base = scored.groupBy(col("__n").as("n"))
      .agg(sum(col("d_micro")).as("d_sum_micro"))
    val rep = scored
      .select(col("doc_id"), col("d_micro"),
        explode(expr(s"sequence(1, $bReps)")).as("b"))
      .withColumn("u", Sampling.md5Slot(
        expr("concat(doc_id, ':', CAST(b AS STRING))"), 1000000))
      .withColumn("w", expr(poissonCase("u")))
      .groupBy(col("b")).agg(sum(expr("w * d_micro")).as("s"))
    val loRank = math.ceil(0.025 * bReps).toInt
    val hiRank = math.ceil(0.975 * bReps).toInt
    val wOrd = org.apache.spark.sql.expressions.Window
      .orderBy(col("s"), col("b"))
    val ranked = rep.withColumn("rn", row_number().over(wOrd))
    val pRow = rep.agg(
      sum(expr("IF(s <= 0, 1L, 0L)")).as("n_nonpos"))
    base.crossJoin(broadcast(pRow))
      .crossJoin(broadcast(ranked.filter(col("rn") === loRank)
        .select(col("s").as("ci_lo_micro"))))
      .crossJoin(broadcast(ranked.filter(col("rn") === hiRank)
        .select(col("s").as("ci_hi_micro"))))
      .selectExpr(s"$bReps AS b_reps", "n", "d_sum_micro",
        "CAST(d_sum_micro AS DOUBLE) / CAST(n AS DOUBLE) AS d_mean_micro",
        s"CAST(n_nonpos AS DOUBLE) / CAST($bReps AS DOUBLE) AS p_boot",
        "ci_lo_micro", "ci_hi_micro")
  }

  /** DuckDB mirror of [[bootstrapLengthModel]] — same fit, same shared
    * difference tree, same Poisson thresholds, same rank rule. */
  def duckBootstrapSql(bReps: Int, src: String = "documents"): String = {
    val loRank = math.ceil(0.025 * bReps).toInt
    val hiRank = math.ceil(0.975 * bReps).toInt
    val u = Sampling.duckMd5Slot("doc_id || ':' || b", 1000000)
    s"""WITH rows_ AS (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS y,
       |    CAST(length(text) - length(replace(text, 'e', ''))
       |      AS BIGINT) AS x1,
       |    CAST(length(text) - length(replace(text, ' ', ''))
       |      AS BIGINT) AS x2
       |  FROM $src),
       |model AS (SELECT b0, b1, b2 FROM (${duckLengthModelSql(src)})),
       |muq AS (SELECT count(*) AS n,
       |          CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu
       |        FROM rows_),
       |scored AS MATERIALIZED (
       |  SELECT doc_id, $DMicroExpr AS d_micro
       |  FROM rows_ CROSS JOIN model CROSS JOIN muq),
       |rep AS MATERIALIZED (
       |  SELECT b, CAST(sum(w * d_micro) AS BIGINT) AS s
       |  FROM (
       |    SELECT s.d_micro, t.b, ${poissonCase(u)} AS w
       |    FROM scored s, unnest(range(1, $bReps + 1)) t(b))
       |  GROUP BY 1),
       |ranked AS (SELECT s, row_number() OVER (ORDER BY s, b) AS rn
       |           FROM rep),
       |p AS (SELECT CAST(sum(CASE WHEN s <= 0 THEN 1 ELSE 0 END)
       |        AS BIGINT) AS n_nonpos FROM rep),
       |base AS (SELECT muq.n, CAST(sum(sc.d_micro) AS BIGINT)
       |           AS d_sum_micro
       |         FROM scored sc CROSS JOIN muq GROUP BY 1)
       |SELECT $bReps AS b_reps, base.n, base.d_sum_micro,
       |  CAST(base.d_sum_micro AS DOUBLE) / CAST(base.n AS DOUBLE)
       |    AS d_mean_micro,
       |  CAST(p.n_nonpos AS DOUBLE) / CAST($bReps AS DOUBLE) AS p_boot,
       |  lo.s AS ci_lo_micro, hi.s AS ci_hi_micro
       |FROM base CROSS JOIN p
       |CROSS JOIN (SELECT s FROM ranked WHERE rn = $loRank) lo
       |CROSS JOIN (SELECT s FROM ranked WHERE rn = $hiRank) hi""".stripMargin
  }

  /** DuckDB mirror of [[conformalLength]] — same hash buckets, the
    * [[duckLengthModelSql]] fit restricted to the train split, the shared
    * [[ResidExpr]] residual tree, same integer rank rule. */
  def duckConformalSql(spec: Sampling.SplitSpec = Sampling.SplitSpec(),
      src: String = "documents"): String = {
    val bucket = Sampling.duckMilleSlot("doc_id")
    val trainSrc =
      s"(SELECT * FROM $src WHERE $bucket < ${spec.train})"
    s"""WITH rows_ AS (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS y,
       |    CAST(length(text) - length(replace(text, 'e', ''))
       |      AS BIGINT) AS x1,
       |    CAST(length(text) - length(replace(text, ' ', ''))
       |      AS BIGINT) AS x2,
       |    $bucket AS bucket
       |  FROM $src),
       |model AS (SELECT b0, b1, b2 FROM (${duckLengthModelSql(trainSrc)})),
       |pred AS (
       |  SELECT doc_id, bucket, $ResidExpr AS resid
       |  FROM rows_ CROSS JOIN model),
       |cal AS (SELECT * FROM pred
       |        WHERE bucket >= ${spec.train}
       |          AND bucket < ${spec.train + spec.valid}),
       |caln AS (SELECT count(*) AS n_cal FROM cal),
       |ranked AS (SELECT resid,
       |    row_number() OVER (ORDER BY resid, doc_id) AS rn FROM cal),
       |q AS (
       |  SELECT c.n_cal, (9 * (c.n_cal + 1) + 9) // 10 AS k,
       |    CASE WHEN (9 * (c.n_cal + 1) + 9) // 10 > c.n_cal
       |         THEN CAST(NULL AS DOUBLE) ELSE r.resid END AS qhat
       |  FROM caln c JOIN ranked r
       |    ON r.rn = least((9 * (c.n_cal + 1) + 9) // 10, c.n_cal))
       |SELECT q.n_cal, q.k, q.qhat,
       |  count(*) AS n_test,
       |  CAST(sum(CASE WHEN t.resid <= q.qhat THEN 1 ELSE 0 END)
       |    AS BIGINT) AS covered,
       |  CASE WHEN q.qhat IS NULL THEN CAST(NULL AS DOUBLE)
       |       ELSE CAST(sum(CASE WHEN t.resid <= q.qhat THEN 1 ELSE 0 END)
       |              AS DOUBLE) / count(*) END AS coverage
       |FROM pred t CROSS JOIN q
       |WHERE t.bucket >= ${spec.train + spec.valid}
       |GROUP BY q.n_cal, q.k, q.qhat""".stripMargin
  }
}
