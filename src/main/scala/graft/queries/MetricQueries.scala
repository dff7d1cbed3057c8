package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cv.CrossVal
import graft.metrics.Metrics
import graft.ml.ThresholdClassifier

/** Metric-registry queries (SURVEY §2.4 metric aggregations / §2.11 scoring):
  * per-fold scores of deterministic predictors over `events`, one row per
  * (fold, metric), oracled in SQL.
  *
  * Regression: prediction = per-fold train mean (MeanRegressor).
  * Classification: label = event_id % 2, prediction/probability from the
  * deterministic ThresholdClassifier (value > train mean of value).
  */
object MetricQueries extends QueryPack {

  import PanelQueries.{events, panelSplit, prelude}

  private def regressionPreds(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
    val ps = panelSplit(df)
    val (preds, _) = CrossVal.crossValFitPredict(
      new graft.ml.MeanRegressor().setLabelCol("value"), df, ps, labelCol = "value")
    preds
  }

  private val regMetrics = Seq(
    "mean_squared_error", "root_mean_squared_error", "mean_absolute_error",
    "mean_absolute_percentage_error", "median_absolute_error", "r2",
    "explained_variance", "max_error")

  private def regressionScores(spark: SparkSession, dir: String): DataFrame = {
    val preds = regressionPreds(spark, dir).cache()
    regMetrics.map { m =>
      Metrics.perFoldScores(preds, m, "value", "prediction")
        .select(col("fold"), lit(m).as("metric"), round(col("score"), 6).as("score"))
    }.reduce(_ unionByName _)
  }

  private val clfMetrics = Seq(
    "accuracy", "balanced_accuracy", "precision", "recall", "f1", "jaccard",
    "matthews_corrcoef", "cohen_kappa",
    "positive_likelihood_ratio", "negative_likelihood_ratio")

  private def classificationScores(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
      .withColumn("label", (col("event_id") % 2).cast("double"))
      .cache()
    val ps = panelSplit(df)
    val est = new ThresholdClassifier().setFeatureCol("value").setLabelCol("label")
    val (preds, _) = CrossVal.crossValFitPredict(est, df, ps, labelCol = "label")
    val cached = preds.cache()
    clfMetrics.map { m =>
      Metrics.perFoldScores(cached, m, "label", "prediction")
        .select(col("fold"), lit(m).as("metric"), round(col("score"), 6).as("score"))
    }.reduce(_ unionByName _)
  }

  /** Multiclass/weighted Cohen's κ over an ordinal 4-class pair with
    * planted distance-1 disagreements and a 3→0 wrap (distance 3) — the
    * wrap is what separates linear from quadratic weighting.
    */
  private def kappaMulticlass(spark: SparkSession, dir: String): DataFrame = {
    val d = events(spark, dir).select(
      (col("event_id") % 4).as("y"),
      ((col("event_id") % 4 +
        when(col("event_id") % 7 === 0, 1L).otherwise(0L)) % 4).as("p"))
    Seq("none", "linear", "quadratic")
      .map(w => Metrics.cohenKappaMulticlass(d, "y", "p", w))
      .reduce(_ unionByName _)
  }

  /** Per-fold reliability bins of the ThresholdClassifier's logistic
    * probability response (10 uniform bins).
    */
  private def clfProbPreds(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
      .withColumn("label", (col("event_id") % 2).cast("double"))
    val ps = panelSplit(df)
    val est = new ThresholdClassifier().setFeatureCol("value").setLabelCol("label")
    CrossVal.crossValFitPredict(est, df, ps, labelCol = "label")._1
  }

  private def calibrationBinsQ(spark: SparkSession, dir: String): DataFrame =
    graft.metrics.Calibration.calibrationBins(
      clfProbPreds(spark, dir), "label", "probability", Seq("fold"), bins = 10)
      .orderBy(col("fold"), col("bin"))

  private def eceQ(spark: SparkSession, dir: String): DataFrame =
    graft.metrics.Calibration.ece(
      clfProbPreds(spark, dir), "label", "probability", Seq("fold"), bins = 10)
      .orderBy(col("fold"))

  /** ROC-AUC of a deterministic score (value, scaled) against label =
    * event_id % 2, per fold over test rows — exercises the rank-statistic
    * window path.
    */
  private def aucScores(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
      .withColumn("label", (col("event_id") % 2).cast("double"))
    // fold membership for test rows only, tagged
    val folds = panelSplit(df).foldRows(df)
    Metrics.rocAuc(folds, "label", "value")
      .select(col("fold"), round(col("score"), 6).as("score"))
  }

  /** D² family: d2_absolute_error on the regression preds (two-pass fold
    * median), d2_brier / d2_log_loss on the probability response — the
    * reference's D² scorers (`metrics.py:588-591`).
    */
  private def d2Scores(spark: SparkSession, dir: String): DataFrame = {
    val regPreds = regressionPreds(spark, dir)
    val d2abs = Metrics.d2AbsoluteError(regPreds, "value", "prediction")
      .select(col("fold"), lit("d2_absolute_error_score").as("metric"),
        round(col("score"), 6).as("score"))
    val df = events(spark, dir)
      .withColumn("label", (col("event_id") % 2).cast("double"))
    val ps = panelSplit(df)
    val est = new ThresholdClassifier().setFeatureCol("value").setLabelCol("label")
    val (preds, _) = CrossVal.crossValFitPredict(est, df, ps, labelCol = "label")
    val cached = preds.cache()
    val prob = Seq("d2_brier_score", "d2_log_loss_score").map { m =>
      Metrics.perFoldScores(cached, m, "label", "probability")
        .select(col("fold"), lit(m).as("metric"), round(col("score"), 6).as("score"))
    }.reduce(_ unionByName _)
    d2abs.unionByName(prob)
  }

  /** Multiclass rank metrics over a deterministic 3-class score array
    * (s_c = 1/(1+|value/30 − c|)): ROC-AUC one-vs-rest and one-vs-one
    * (macro + weighted) and top-k accuracy at k=1,2 — the reference's
    * `roc_auc_ovr/ovo(_weighted)` and `top_k_accuracy` scorers
    * (`metrics.py:616-648`).
    */
  private def multiclassAuc(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
      .withColumn("label", pmod(col("event_id"), lit(3)))
      .withColumn("scores", array((0 until 3).map(c =>
        lit(1.0) / (lit(1.0) + abs(col("value") / 30.0 - c))): _*))
    val folds = panelSplit(df).foldRows(df).cache()
    val parts = Seq(
      ("roc_auc_ovr", Metrics.rocAucOvr(folds, "label", "scores", weighted = false)),
      ("roc_auc_ovr_weighted", Metrics.rocAucOvr(folds, "label", "scores", weighted = true)),
      ("roc_auc_ovo", Metrics.rocAucOvo(folds, "label", "scores", weighted = false)),
      ("roc_auc_ovo_weighted", Metrics.rocAucOvo(folds, "label", "scores", weighted = true)),
      ("top_k_accuracy_1", Metrics.topKAccuracy(folds, "label", "scores", 1)),
      ("top_k_accuracy_2", Metrics.topKAccuracy(folds, "label", "scores", 2)))
    parts.map { case (m, d) =>
      d.select(col("fold"), lit(m).as("metric"), round(col("score"), 6).as("score"))
    }.reduce(_ unionByName _)
  }

  /** Sample-weighted metrics (w = event_id%5 + 1): weighted regression
    * means over the mean-regressor preds and the weighted confusion-matrix
    * family over the threshold-classifier preds — the reference scorers'
    * `sample_weight` path.
    */
  private def weightedScores(spark: SparkSession, dir: String): DataFrame = {
    val regPreds = regressionPreds(spark, dir)
      .withColumn("w", (col("event_id") % 5 + 1).cast("double")).cache()
    val reg = Seq("mean_squared_error", "mean_absolute_error").map { m =>
      Metrics.perFoldScoresWeighted(regPreds, m, "value", "prediction", "w")
        .select(col("fold"), lit(m).as("metric"), round(col("score"), 6).as("score"))
    }
    val df = events(spark, dir)
      .withColumn("label", (col("event_id") % 2).cast("double"))
    val ps = panelSplit(df)
    val est = new ThresholdClassifier().setFeatureCol("value").setLabelCol("label")
    val (preds, _) = CrossVal.crossValFitPredict(est, df, ps, labelCol = "label")
    val clfPreds = preds.withColumn("w", (col("event_id") % 5 + 1).cast("double")).cache()
    val clf = Seq("accuracy", "precision", "recall", "f1", "matthews_corrcoef",
        "cohen_kappa").map { m =>
      Metrics.perFoldScoresWeighted(clfPreds, m, "label", "prediction", "w")
        .select(col("fold"), lit(m).as("metric"), round(col("score"), 6).as("score"))
    }
    (reg ++ clf).reduce(_ unionByName _)
  }

  /** TRUE multilabel `samples` averaging over deterministic indicator sets:
    * the label set flags divisibility of doc_id by 2/3/5, the predicted set
    * the same over n_chars — engine-replayable integer conditions, so the
    * DuckDB oracle recomputes per-row |Y∩Ŷ|/|Y|/|Ŷ| with CASE arithmetic
    * (no list functions needed).
    */
  private def multilabelScores(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.Tables.cached(spark, dir, "documents")
    def flags(c: Column) = concat(
      when(c % 2 === 1, array(lit("a"))).otherwise(array().cast("array<string>")),
      when(c % 3 === 1, array(lit("b"))).otherwise(array().cast("array<string>")),
      when(c % 5 === 1, array(lit("c"))).otherwise(array().cast("array<string>")))
    val rows = d.select((col("doc_id") % 3).cast("int").as("fold"),
      flags(col("doc_id")).as("labels"), flags(col("n_chars")).as("preds"))
    Metrics.multilabelSamplesScores(rows, "labels", "preds")
      .select(col("fold"),
        round(col("precision"), 6).as("precision"),
        round(col("recall"), 6).as("recall"),
        round(col("f1"), 6).as("f1"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_metrics_regression" -> (regressionScores _),
    "q_metrics_classification" -> (classificationScores _),
    "q_metric_roc_auc" -> (aucScores _),
    "q_metrics_d2" -> (d2Scores _),
    "q_metric_auc_multiclass" -> (multiclassAuc _),
    "q_metrics_weighted" -> (weightedScores _),
    "q_metric_kappa" -> (kappaMulticlass _),
    "q_calibration" -> (calibrationBinsQ _),
    "q_metric_ece" -> (eceQ _),
    // deployment-shape calibration monitoring: a published (constant-
    // threshold) scorer's reliability bins maintained on ingest —
    // decomposable (n, Σp, Σy) cells per micro-batch, merged at close
    "q_stream_calibration" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamCalibration(s, dir, bins = 10)),
    "q_metrics_multilabel" -> (multilabelScores _),
  )

  def oracleSql: Map[String, String] = Map(
    "q_metrics_multilabel" ->
      """WITH t AS (SELECT CAST(doc_id % 3 AS INT) AS fold,
        |  CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS ya,
        |  CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS yb,
        |  CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END AS yc,
        |  CASE WHEN n_chars % 2 = 1 THEN 1 ELSE 0 END AS pa,
        |  CASE WHEN n_chars % 3 = 1 THEN 1 ELSE 0 END AS pb,
        |  CASE WHEN n_chars % 5 = 1 THEN 1 ELSE 0 END AS pc
        |FROM documents),
        |s AS (SELECT fold, ya*pa + yb*pb + yc*pc AS inter,
        |             ya + yb + yc AS ny, pa + pb + pc AS np FROM t),
        |m AS (SELECT fold,
        |  CASE WHEN np = 0 THEN 0.0 ELSE CAST(inter AS DOUBLE) / np END AS prec,
        |  CASE WHEN ny = 0 THEN 0.0 ELSE CAST(inter AS DOUBLE) / ny END AS rec,
        |  CASE WHEN ny + np = 0 THEN 0.0 ELSE 2.0 * inter / (ny + np) END AS f1,
        |  CASE WHEN ny + np - inter = 0 THEN 0.0
        |       ELSE CAST(inter AS DOUBLE) / (ny + np - inter) END AS jac
        |FROM s)
        |SELECT fold, round(avg(prec), 6) AS "precision", round(avg(rec), 6) AS recall,
        |       round(avg(f1), 6) AS f1, round(avg(jac), 6) AS jaccard
        |FROM m GROUP BY fold
        |""".stripMargin,
    "q_metrics_regression" ->
      s"""$prelude,
         |train AS (SELECT b.split AS fold, avg(ev.value) AS mu
         |          FROM ev JOIN bounds b ON ev.pos < b.test_start GROUP BY b.split),
         |test AS (SELECT b.split AS fold, ev.value AS y, tr.mu AS p
         |         FROM ev JOIN bounds b ON ev.pos = b.test_start
         |         JOIN train tr ON tr.fold = b.split),
         |m AS (SELECT fold,
         |        avg(power(y - p, 2)) AS mse,
         |        sqrt(avg(power(y - p, 2))) AS rmse,
         |        avg(abs(y - p)) AS mae,
         |        avg(abs(y - p) / greatest(abs(y), 1e-15)) AS mape,
         |        median(abs(y - p)) AS medae,
         |        1 - avg(power(y - p, 2)) / var_pop(y) AS r2,
         |        1 - var_pop(y - p) / var_pop(y) AS ev_score,
         |        max(abs(y - p)) AS maxerr
         |      FROM test GROUP BY fold)
         |SELECT fold, metric, round(score, 6) AS score FROM (
         |  SELECT fold, 'mean_squared_error' AS metric, mse AS score FROM m
         |  UNION ALL SELECT fold, 'root_mean_squared_error', rmse FROM m
         |  UNION ALL SELECT fold, 'mean_absolute_error', mae FROM m
         |  UNION ALL SELECT fold, 'mean_absolute_percentage_error', mape FROM m
         |  UNION ALL SELECT fold, 'median_absolute_error', medae FROM m
         |  UNION ALL SELECT fold, 'r2', r2 FROM m
         |  UNION ALL SELECT fold, 'explained_variance', ev_score FROM m
         |  UNION ALL SELECT fold, 'max_error', maxerr FROM m)
         |""".stripMargin,
    "q_metrics_classification" ->
      s"""$prelude,
         |train AS (SELECT b.split AS fold, avg(ev.value) AS thr
         |          FROM ev JOIN bounds b ON ev.pos < b.test_start GROUP BY b.split),
         |test AS (SELECT b.split AS fold,
         |                CAST(ev.event_id % 2 AS DOUBLE) AS y,
         |                CASE WHEN ev.value > tr.thr THEN 1.0 ELSE 0.0 END AS p
         |         FROM ev JOIN bounds b ON ev.pos = b.test_start
         |         JOIN train tr ON tr.fold = b.split),
         |cm AS (SELECT fold,
         |         CAST(sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS tp,
         |         CAST(sum(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS fp,
         |         CAST(sum(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS fn,
         |         CAST(sum(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS tn
         |       FROM test GROUP BY fold)
         |SELECT fold, metric, round(score, 6) AS score FROM (
         |  SELECT fold, 'accuracy' AS metric, (tp + tn) / (tp + fp + fn + tn) AS score FROM cm
         |  UNION ALL SELECT fold, 'balanced_accuracy', (tp / (tp + fn) + tn / (tn + fp)) / 2 FROM cm
         |  UNION ALL SELECT fold, 'precision', CASE WHEN tp + fp = 0 THEN 0 ELSE tp / (tp + fp) END FROM cm
         |  UNION ALL SELECT fold, 'recall', CASE WHEN tp + fn = 0 THEN 0 ELSE tp / (tp + fn) END FROM cm
         |  UNION ALL SELECT fold, 'f1', CASE WHEN 2*tp + fp + fn = 0 THEN 0 ELSE 2*tp / (2*tp + fp + fn) END FROM cm
         |  UNION ALL SELECT fold, 'jaccard', CASE WHEN tp + fp + fn = 0 THEN 0 ELSE tp / (tp + fp + fn) END FROM cm
         |  UNION ALL SELECT fold, 'matthews_corrcoef',
         |    CASE WHEN (tp+fp)*(tp+fn)*(tn+fp)*(tn+fn) = 0 THEN 0
         |         ELSE (tp*tn - fp*fn) / sqrt((tp+fp)*(tp+fn)*(tn+fp)*(tn+fn)) END FROM cm
         |  UNION ALL SELECT fold, 'cohen_kappa',
         |    CASE WHEN (tp+fp)*(fp+tn) + (tp+fn)*(fn+tn) = 0 THEN 0
         |         ELSE 2*(tp*tn - fp*fn) / ((tp+fp)*(fp+tn) + (tp+fn)*(fn+tn)) END FROM cm
         |  UNION ALL SELECT fold, 'positive_likelihood_ratio',
         |    CASE WHEN tp + fn = 0 OR fp + tn = 0 OR fp = 0 THEN 1.0
         |         ELSE (tp / (tp + fn)) / (fp / (fp + tn)) END FROM cm
         |  UNION ALL SELECT fold, 'negative_likelihood_ratio',
         |    CASE WHEN tp + fn = 0 OR fp + tn = 0 OR tn = 0 THEN 1.0
         |         ELSE (fn / (tp + fn)) / (tn / (fp + tn)) END FROM cm)
         |""".stripMargin,
    "q_metrics_d2" ->
      s"""$prelude,
         |train AS (SELECT b.split AS fold, avg(ev.value) AS mu
         |          FROM ev JOIN bounds b ON ev.pos < b.test_start GROUP BY b.split),
         |test AS (SELECT b.split AS fold, ev.value AS y, tr.mu AS p
         |         FROM ev JOIN bounds b ON ev.pos = b.test_start
         |         JOIN train tr ON tr.fold = b.split),
         |med AS (SELECT fold, median(y) AS med FROM test GROUP BY fold),
         |d2a AS (SELECT t.fold,
         |          CASE WHEN sum(abs(t.y - m.med)) = 0 THEN 0.0
         |               ELSE 1 - sum(abs(t.y - t.p)) / sum(abs(t.y - m.med)) END AS score
         |        FROM test t JOIN med m ON t.fold = m.fold GROUP BY t.fold),
         |ptrain AS (SELECT b.split AS fold, avg(ev.value) AS thr
         |           FROM ev JOIN bounds b ON ev.pos < b.test_start GROUP BY b.split),
         |ptest AS (SELECT b.split AS fold, CAST(ev.event_id % 2 AS DOUBLE) AS y,
         |                 greatest(least(1.0 / (1.0 + exp(-(ev.value - tr.thr) / 10.0)), 1 - 1e-15), 1e-15) AS p
         |          FROM ev JOIN bounds b ON ev.pos = b.test_start
         |          JOIN ptrain tr ON tr.fold = b.split),
         |d2b AS (SELECT fold,
         |          CASE WHEN var_pop(y) = 0 THEN 0.0
         |               ELSE 1 - avg(power(y - p, 2)) / var_pop(y) END AS score
         |        FROM ptest GROUP BY fold),
         |d2l AS (SELECT fold,
         |          CASE WHEN avg(y) = 0 OR avg(y) = 1 THEN 0.0
         |               ELSE 1 - (-avg(y * ln(p) + (1 - y) * ln(1 - p)))
         |                    / (-(avg(y) * ln(avg(y)) + (1 - avg(y)) * ln(1 - avg(y)))) END AS score
         |        FROM ptest GROUP BY fold)
         |SELECT fold, metric, round(score, 6) AS score FROM (
         |  SELECT fold, 'd2_absolute_error_score' AS metric, score FROM d2a
         |  UNION ALL SELECT fold, 'd2_brier_score', score FROM d2b
         |  UNION ALL SELECT fold, 'd2_log_loss_score', score FROM d2l)
         |""".stripMargin,
    "q_metric_auc_multiclass" ->
      s"""$prelude,
         |test AS (SELECT b.split AS fold, CAST(ev.event_id % 3 AS INT) AS l,
         |                1.0 / (1.0 + abs(ev.value / 30.0 - 0)) AS s0,
         |                1.0 / (1.0 + abs(ev.value / 30.0 - 1)) AS s1,
         |                1.0 / (1.0 + abs(ev.value / 30.0 - 2)) AS s2
         |         FROM ev JOIN bounds b ON ev.pos = b.test_start),
         |ovr_base AS (
         |  SELECT fold, 0 AS cls, CASE WHEN l = 0 THEN 1.0 ELSE 0.0 END AS bin, s0 AS s FROM test
         |  UNION ALL SELECT fold, 1, CASE WHEN l = 1 THEN 1.0 ELSE 0.0 END, s1 FROM test
         |  UNION ALL SELECT fold, 2, CASE WHEN l = 2 THEN 1.0 ELSE 0.0 END, s2 FROM test),
         |ovr_rank AS (SELECT fold, cls, bin,
         |               rank() OVER (PARTITION BY fold, cls ORDER BY s) AS r_lo,
         |               count(*) OVER (PARTITION BY fold, cls, s) AS cnt
         |             FROM ovr_base),
         |ovr_auc AS (SELECT fold, cls,
         |              (sum(CASE WHEN bin = 1 THEN r_lo + (cnt - 1) / 2.0 END)
         |                - sum(bin) * (sum(bin) + 1) / 2.0) / (sum(bin) * sum(1.0 - bin)) AS auc,
         |              sum(bin) AS np
         |            FROM ovr_rank GROUP BY fold, cls),
         |pairs(ca, cb) AS (VALUES (0, 1), (0, 2), (1, 2)),
         |sub AS (SELECT t.fold, p.ca, p.cb,
         |               CASE p.ca WHEN 0 THEN s0 WHEN 1 THEN s1 ELSE s2 END AS sa,
         |               CASE p.cb WHEN 0 THEN s0 WHEN 1 THEN s1 ELSE s2 END AS sb,
         |               CASE WHEN t.l = p.ca THEN 1.0 ELSE 0.0 END AS isa
         |        FROM test t JOIN pairs p ON t.l = p.ca OR t.l = p.cb),
         |rka AS (SELECT fold, ca, cb, isa,
         |          rank() OVER (PARTITION BY fold, ca, cb ORDER BY sa) AS r_lo,
         |          count(*) OVER (PARTITION BY fold, ca, cb, sa) AS cnt
         |        FROM sub),
         |auc_a AS (SELECT fold, ca, cb,
         |            (sum(CASE WHEN isa = 1 THEN r_lo + (cnt - 1) / 2.0 END)
         |              - sum(isa) * (sum(isa) + 1) / 2.0) / (sum(isa) * sum(1.0 - isa)) AS auc_a,
         |            CAST(count(*) AS DOUBLE) AS npair
         |          FROM rka GROUP BY fold, ca, cb),
         |rkb AS (SELECT fold, ca, cb, 1.0 - isa AS isb,
         |          rank() OVER (PARTITION BY fold, ca, cb ORDER BY sb) AS r_lo,
         |          count(*) OVER (PARTITION BY fold, ca, cb, sb) AS cnt
         |        FROM sub),
         |auc_b AS (SELECT fold, ca, cb,
         |            (sum(CASE WHEN isb = 1 THEN r_lo + (cnt - 1) / 2.0 END)
         |              - sum(isb) * (sum(isb) + 1) / 2.0) / (sum(isb) * sum(1.0 - isb)) AS auc_b
         |          FROM rkb GROUP BY fold, ca, cb),
         |ovo AS (SELECT a.fold, (a.auc_a + b.auc_b) / 2.0 AS pauc, a.npair
         |        FROM auc_a a JOIN auc_b b ON a.fold = b.fold AND a.ca = b.ca AND a.cb = b.cb),
         |tk AS (SELECT fold, l, [s0, s1, s2] AS sc FROM test),
         |tkpos AS (SELECT fold,
         |            len(list_filter(range(0, 3), j ->
         |              sc[j + 1] > sc[l + 1] OR (sc[j + 1] = sc[l + 1] AND j < l))) AS pos_
         |          FROM tk)
         |SELECT fold, metric, round(score, 6) AS score FROM (
         |  SELECT fold, 'roc_auc_ovr' AS metric, avg(auc) AS score FROM ovr_auc GROUP BY fold
         |  UNION ALL SELECT fold, 'roc_auc_ovr_weighted', sum(auc * np) / sum(np) FROM ovr_auc GROUP BY fold
         |  UNION ALL SELECT fold, 'roc_auc_ovo', avg(pauc) FROM ovo GROUP BY fold
         |  UNION ALL SELECT fold, 'roc_auc_ovo_weighted', sum(pauc * npair) / sum(npair) FROM ovo GROUP BY fold
         |  UNION ALL SELECT fold, 'top_k_accuracy_1', avg(CASE WHEN pos_ < 1 THEN 1.0 ELSE 0.0 END) FROM tkpos GROUP BY fold
         |  UNION ALL SELECT fold, 'top_k_accuracy_2', avg(CASE WHEN pos_ < 2 THEN 1.0 ELSE 0.0 END) FROM tkpos GROUP BY fold)
         |""".stripMargin,
    "q_metrics_weighted" ->
      s"""$prelude,
         |train AS (SELECT b.split AS fold, avg(ev.value) AS mu
         |          FROM ev JOIN bounds b ON ev.pos < b.test_start GROUP BY b.split),
         |test AS (SELECT b.split AS fold, ev.value AS y, tr.mu AS p,
         |                CAST(ev.event_id % 5 + 1 AS DOUBLE) AS w
         |         FROM ev JOIN bounds b ON ev.pos = b.test_start
         |         JOIN train tr ON tr.fold = b.split),
         |reg AS (SELECT fold,
         |          sum(power(y - p, 2) * w) / sum(w) AS wmse,
         |          sum(abs(y - p) * w) / sum(w) AS wmae
         |        FROM test GROUP BY fold),
         |ctrain AS (SELECT b.split AS fold, avg(ev.value) AS thr
         |           FROM ev JOIN bounds b ON ev.pos < b.test_start GROUP BY b.split),
         |ctest AS (SELECT b.split AS fold, CAST(ev.event_id % 2 AS DOUBLE) AS y,
         |                 CASE WHEN ev.value > tr.thr THEN 1.0 ELSE 0.0 END AS p,
         |                 CAST(ev.event_id % 5 + 1 AS DOUBLE) AS w
         |          FROM ev JOIN bounds b ON ev.pos = b.test_start
         |          JOIN ctrain tr ON tr.fold = b.split),
         |cm AS (SELECT fold,
         |         sum(CASE WHEN y = 1 AND p = 1 THEN w ELSE 0.0 END) AS tp,
         |         sum(CASE WHEN y = 0 AND p = 1 THEN w ELSE 0.0 END) AS fp,
         |         sum(CASE WHEN y = 1 AND p = 0 THEN w ELSE 0.0 END) AS fn,
         |         sum(CASE WHEN y = 0 AND p = 0 THEN w ELSE 0.0 END) AS tn,
         |         sum(CASE WHEN y = p THEN w ELSE 0.0 END) / sum(w) AS wacc
         |       FROM ctest GROUP BY fold)
         |SELECT fold, metric, round(score, 6) AS score FROM (
         |  SELECT fold, 'mean_squared_error' AS metric, wmse AS score FROM reg
         |  UNION ALL SELECT fold, 'mean_absolute_error', wmae FROM reg
         |  UNION ALL SELECT fold, 'accuracy', wacc FROM cm
         |  UNION ALL SELECT fold, 'precision',
         |    CASE WHEN tp + fp = 0 THEN 0 ELSE tp / (tp + fp) END FROM cm
         |  UNION ALL SELECT fold, 'recall',
         |    CASE WHEN tp + fn = 0 THEN 0 ELSE tp / (tp + fn) END FROM cm
         |  UNION ALL SELECT fold, 'f1',
         |    CASE WHEN 2*tp + fp + fn = 0 THEN 0 ELSE 2*tp / (2*tp + fp + fn) END FROM cm
         |  UNION ALL SELECT fold, 'matthews_corrcoef',
         |    CASE WHEN (tp+fp)*(tp+fn)*(tn+fp)*(tn+fn) = 0 THEN 0
         |         ELSE (tp*tn - fp*fn) / sqrt((tp+fp)*(tp+fn)*(tn+fp)*(tn+fn)) END FROM cm
         |  UNION ALL SELECT fold, 'cohen_kappa',
         |    CASE WHEN (tp+fp)*(fp+tn) + (tp+fn)*(fn+tn) = 0 THEN 0
         |         ELSE 2*(tp*tn - fp*fn) / ((tp+fp)*(fp+tn) + (tp+fn)*(fn+tn)) END FROM cm)
         |""".stripMargin,
    "q_metric_kappa" ->
      // exact-integer contingency sums (DuckDB HUGEINT ≡ Spark
      // DECIMAL(38,0)); one IEEE division per weighting
      """WITH t AS (SELECT CAST(event_id % 4 AS BIGINT) AS i,
        |  CAST((event_id % 4 + CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) % 4 AS BIGINT) AS j
        |FROM events),
        |cnt AS (SELECT i, j, count(*) AS nij FROM t GROUP BY i, j),
        |tot AS (SELECT sum(nij) AS n FROM cnt),
        |r AS (SELECT i, sum(nij) AS ri FROM cnt GROUP BY i),
        |c AS (SELECT j, sum(nij) AS cj FROM cnt GROUP BY j),
        |x AS (SELECT r.i, c.j, r.ri, c.cj FROM r CROSS JOIN c),
        |k AS (SELECT 'none' AS weighting,
        |        (SELECT sum(CASE WHEN i = j THEN 0 ELSE 1 END * nij) FROM cnt) AS o,
        |        (SELECT sum(CASE WHEN i = j THEN 0 ELSE 1 END * ri * cj) FROM x) AS e
        |      UNION ALL SELECT 'linear',
        |        (SELECT sum(abs(i - j) * nij) FROM cnt),
        |        (SELECT sum(abs(i - j) * ri * cj) FROM x)
        |      UNION ALL SELECT 'quadratic',
        |        (SELECT sum((i - j) * (i - j) * nij) FROM cnt),
        |        (SELECT sum((i - j) * (i - j) * ri * cj) FROM x))
        |SELECT weighting,
        |       round(CASE WHEN e = 0 THEN 0.0
        |                  ELSE 1.0 - CAST((SELECT n FROM tot) * o AS DOUBLE)
        |                             / CAST(e AS DOUBLE) END, 6) AS kappa
        |FROM k
        |""".stripMargin,
    "q_calibration" ->
      // unclamped logistic response (the classifier's probability column);
      // bin = min(floor(p·10), 9) in identical arithmetic
      s"""$prelude,
         |train AS (SELECT b.split AS fold, avg(ev.value) AS thr
         |          FROM ev JOIN bounds b ON ev.pos < b.test_start GROUP BY b.split),
         |test AS (SELECT b.split AS fold, CAST(ev.event_id % 2 AS DOUBLE) AS y,
         |                1.0 / (1.0 + exp(-(ev.value - tr.thr) / 10.0)) AS p
         |         FROM ev JOIN bounds b ON ev.pos = b.test_start
         |         JOIN train tr ON tr.fold = b.split)
         |SELECT fold, CAST(least(floor(p * 10), 9) AS INT) AS bin,
         |       count(*) AS n_bin, round(avg(p), 6) AS conf, round(avg(y), 6) AS acc
         |FROM test GROUP BY fold, bin
         |""".stripMargin,
    "q_metric_ece" ->
      s"""$prelude,
         |train AS (SELECT b.split AS fold, avg(ev.value) AS thr
         |          FROM ev JOIN bounds b ON ev.pos < b.test_start GROUP BY b.split),
         |test AS (SELECT b.split AS fold, CAST(ev.event_id % 2 AS DOUBLE) AS y,
         |                1.0 / (1.0 + exp(-(ev.value - tr.thr) / 10.0)) AS p
         |         FROM ev JOIN bounds b ON ev.pos = b.test_start
         |         JOIN train tr ON tr.fold = b.split),
         |b1 AS (SELECT fold, CAST(least(floor(p * 10), 9) AS INT) AS bin,
         |         count(*) AS n_bin, round(avg(p), 6) AS conf, round(avg(y), 6) AS acc
         |       FROM test GROUP BY fold, bin),
         |w AS (SELECT fold, sum(n_bin) AS n,
         |        round(sum(n_bin * abs(acc - conf)), 6) AS wsum
         |      FROM b1 GROUP BY fold)
         |SELECT fold, n, round(wsum / n, 6) AS ece FROM w
         |""".stripMargin,
    "q_stream_calibration" ->
      // the scorer's threshold is the WHOLE-corpus mean (a deployment
      // constant), so no fold prelude; bins/conf/acc identical arithmetic
      """WITH thr AS (SELECT avg(value) AS thr FROM events),
        |t AS (SELECT CAST(event_id % 2 AS DOUBLE) AS y,
        |             1.0 / (1.0 + exp(-(value - thr.thr) / 10.0)) AS p
        |      FROM events CROSS JOIN thr)
        |SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin, count(*) AS n_bin,
        |       round(avg(p), 6) AS conf, round(avg(y), 6) AS acc
        |FROM t GROUP BY 1
        |""".stripMargin,
    "q_metric_roc_auc" ->
      s"""$prelude,
         |test AS (SELECT b.split AS fold, CAST(ev.event_id % 2 AS DOUBLE) AS y, ev.value AS s
         |         FROM ev JOIN bounds b ON ev.pos = b.test_start),
         |ranked AS (SELECT fold, y,
         |                  rank() OVER (PARTITION BY fold ORDER BY s) AS r_lo,
         |                  count(*) OVER (PARTITION BY fold, s) AS cnt
         |           FROM test)
         |SELECT fold, round((sum(CASE WHEN y = 1 THEN r_lo + (cnt - 1) / 2.0 END)
         |        - sum(CASE WHEN y = 1 THEN 1.0 ELSE 0 END) * (sum(CASE WHEN y = 1 THEN 1.0 ELSE 0 END) + 1) / 2.0)
         |       / (sum(CASE WHEN y = 1 THEN 1.0 ELSE 0 END) * sum(CASE WHEN y <> 1 THEN 1.0 ELSE 0 END)), 6) AS score
         |FROM ranked GROUP BY fold
         |""".stripMargin,
  )
}
