package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cv.CrossVal
import graft.metrics.Metrics

/** Real `spark.ml` estimator integration + the remaining metric families.
  *
  * q_cv_linreg proves the cross-val machinery drives stock Spark ML end to
  * end: VectorAssembler → LinearRegression(normal solver, regParam=0) per
  * fold equals closed-form OLS, which the DuckDB oracle computes from sums.
  */
object MlQueries extends QueryPack {

  import PanelQueries.{events, panelSplit, prelude}

  /** events + deterministic regression feature x = event_id mod 100. */
  private def withX(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).withColumn("x", pmod(col("event_id"), lit(100)).cast("double"))

  private def cvLinReg(spark: SparkSession, dir: String): DataFrame = {
    val df = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("x")).setOutputCol("features")
      .transform(withX(spark, dir))
    val ps = panelSplit(df)
    val lr = new org.apache.spark.ml.regression.LinearRegression()
      .setFeaturesCol("features").setLabelCol("value")
      .setSolver("normal").setRegParam(0.0)
    val (preds, _) = CrossVal.crossValFitPredict(lr, df, ps, labelCol = "value")
    Metrics.perFoldScores(preds, "mean_squared_error", "value", "prediction")
      .select(col("fold"), round(col("score"), 4).as("score"))
  }

  /** WEIGHTED per-fold fit: LinearRegression(normal solver) with a
    * weightCol equals closed-form weighted OLS, which the oracle computes
    * from weighted sums — exercises the estimator-capability weight path
    * (`application.py:119-137`) end to end, not just in specs.
    */
  private def cvLinRegWeighted(spark: SparkSession, dir: String): DataFrame = {
    val df = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("x")).setOutputCol("features")
      .transform(withX(spark, dir))
      .withColumn("w", (col("event_id") % 5 + 1).cast("double"))
    val ps = panelSplit(df)
    val lr = new org.apache.spark.ml.regression.LinearRegression()
      .setFeaturesCol("features").setLabelCol("value")
      .setSolver("normal").setRegParam(0.0)
    val (preds, _) = CrossVal.crossValFitPredict(lr, df, ps,
      labelCol = "value", weightCol = Some("w"))
    Metrics.perFoldScoresWeighted(preds, "mean_squared_error", "value", "prediction", "w")
      .select(col("fold"), round(col("score"), 4).as("score"))
  }

  private def clusteringScores(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
      .withColumn("label", pmod(col("event_id"), lit(3)))
      .withColumn("cluster", floor(col("value") / 25.0).cast("long"))
    val folds = panelSplit(df).foldRows(df).cache()
    val ari = Metrics.adjustedRandIndex(folds, "label", "cluster")
      .select(col("fold"), lit("adjusted_rand").as("metric"), round(col("score"), 6).as("score"))
    val nmi = Metrics.normalizedMutualInfo(folds, "label", "cluster")
      .select(col("fold"), lit("normalized_mutual_info").as("metric"), round(col("score"), 6).as("score"))
    // one contingency plan, cached: six metric selects read the same rows
    val combined = Metrics.clusteringMetrics(folds, "label", "cluster").cache()
    val more = Seq("rand", "mutual_info", "homogeneity", "completeness",
      "v_measure", "fowlkes_mallows").map { m =>
      combined.select(col("fold"), lit(m).as("metric"), round(col(m), 6).as("score"))
    }.reduce(_ unionByName _)
    ari.unionByName(nmi).unionByName(more)
  }

  /** Adjusted Mutual Information over the same deterministic clustering —
    * exercises the distributed expected-MI (hypergeometric triple sum over
    * a log-factorial table) end to end against an identical SQL oracle.
    */
  private def amiScores(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
      .withColumn("label", pmod(col("event_id"), lit(3)))
      .withColumn("cluster", floor(col("value") / 25.0).cast("long"))
    val folds = panelSplit(df).foldRows(df)
    Metrics.adjustedMutualInfo(folds, "label", "cluster")
      .select(col("fold"), round(col("score"), 6).as("score"))
  }

  private def avgPrecision(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir).withColumn("label", (col("event_id") % 2).cast("double"))
    val folds = panelSplit(df).foldRows(df)
    Metrics.averagePrecision(folds, "label", "value")
      .select(col("fold"), round(col("score"), 6).as("score"))
  }

  private def multiclassScores(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
      .withColumn("label", pmod(col("event_id"), lit(3)))
      .withColumn("pred", pmod(floor(col("value") / 30.0).cast("long"), lit(3)))
    val folds = panelSplit(df).foldRows(df).cache()
    Seq("macro", "micro", "weighted", "samples").map { avg =>
      Metrics.multiclassScores(folds, "label", "pred", avg)
        .select(col("fold"), lit(avg).as("average"),
          round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"),
          round(col("f1"), 6).as("f1"),
          round(col("jaccard"), 6).as("jaccard"))
    }.reduce(_ unionByName _)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cv_linreg" -> (cvLinReg _),
    "q_cv_linreg_weighted" -> (cvLinRegWeighted _),
    "q_metrics_clustering" -> (clusteringScores _),
    "q_metric_ami" -> (amiScores _),
    "q_metric_avg_precision" -> (avgPrecision _),
    "q_metrics_multiclass" -> (multiclassScores _),
  )

  def oracleSql: Map[String, String] = Map(
    "q_cv_linreg" ->
      s"""$prelude,
         |evx AS (SELECT ev.*, CAST(ev.event_id % 100 AS DOUBLE) AS x FROM ev),
         |train AS (SELECT b.split AS fold,
         |            (count(*) * sum(x * value) - sum(x) * sum(value))
         |              / (count(*) * sum(x * x) - sum(x) * sum(x)) AS slope,
         |            avg(value) - (count(*) * sum(x * value) - sum(x) * sum(value))
         |              / (count(*) * sum(x * x) - sum(x) * sum(x)) * avg(x) AS intercept
         |          FROM evx JOIN bounds b ON evx.pos < b.test_start GROUP BY b.split)
         |SELECT b.split AS fold,
         |       round(avg(power(evx.value - (tr.intercept + tr.slope * evx.x), 2)), 4) AS score
         |FROM evx JOIN bounds b ON evx.pos = b.test_start
         |JOIN train tr ON tr.fold = b.split
         |GROUP BY b.split
         |""".stripMargin,
    "q_cv_linreg_weighted" ->
      s"""$prelude,
         |evx AS (SELECT ev.*, CAST(ev.event_id % 100 AS DOUBLE) AS x,
         |               CAST(ev.event_id % 5 + 1 AS DOUBLE) AS w FROM ev),
         |train AS (SELECT b.split AS fold,
         |            (sum(w) * sum(w * x * value) - sum(w * x) * sum(w * value))
         |              / (sum(w) * sum(w * x * x) - sum(w * x) * sum(w * x)) AS slope,
         |            (sum(w * value) - (sum(w) * sum(w * x * value) - sum(w * x) * sum(w * value))
         |              / (sum(w) * sum(w * x * x) - sum(w * x) * sum(w * x)) * sum(w * x)) / sum(w) AS intercept
         |          FROM evx JOIN bounds b ON evx.pos < b.test_start GROUP BY b.split)
         |SELECT b.split AS fold,
         |       round(sum(power(evx.value - (tr.intercept + tr.slope * evx.x), 2) * evx.w)
         |             / sum(evx.w), 4) AS score
         |FROM evx JOIN bounds b ON evx.pos = b.test_start
         |JOIN train tr ON tr.fold = b.split
         |GROUP BY b.split
         |""".stripMargin,
    "q_metrics_clustering" ->
      s"""$prelude,
         |test AS (SELECT b.split AS fold, ev.event_id % 3 AS l,
         |                CAST(floor(ev.value / 25.0) AS BIGINT) AS c
         |         FROM ev JOIN bounds b ON ev.pos = b.test_start),
         |cont AS (SELECT fold, l, c, CAST(count(*) AS DOUBLE) AS nij FROM test GROUP BY fold, l, c),
         |ra AS (SELECT fold, sum(ai * (ai - 1) / 2.0) AS sum_ai2 FROM
         |        (SELECT fold, l, sum(nij) AS ai FROM cont GROUP BY fold, l) GROUP BY fold),
         |rb AS (SELECT fold, sum(bj * (bj - 1) / 2.0) AS sum_bj2 FROM
         |        (SELECT fold, c, sum(nij) AS bj FROM cont GROUP BY fold, c) GROUP BY fold),
         |rc AS (SELECT fold, sum(nij * (nij - 1) / 2.0) AS sum_nij2, sum(nij) AS n FROM cont GROUP BY fold),
         |ari AS (SELECT rc.fold,
         |          (sum_nij2 - sum_ai2 * sum_bj2 / (n * (n - 1) / 2.0))
         |          / ((sum_ai2 + sum_bj2) / 2.0 - sum_ai2 * sum_bj2 / (n * (n - 1) / 2.0)) AS score
         |        FROM rc JOIN ra ON rc.fold = ra.fold JOIN rb ON rc.fold = rb.fold),
         |nn2 AS (SELECT fold, sum(nij) AS n FROM cont GROUP BY fold),
         |ai2 AS (SELECT fold, l, sum(nij) AS ai FROM cont GROUP BY fold, l),
         |bj2 AS (SELECT fold, c, sum(nij) AS bj FROM cont GROUP BY fold, c),
         |mi AS (SELECT cont.fold,
         |         sum((nij / n.n) * ln(nij * n.n / (ai2.ai * bj2.bj))) AS mi
         |       FROM cont JOIN nn2 n ON cont.fold = n.fold
         |       JOIN ai2 ON cont.fold = ai2.fold AND cont.l = ai2.l
         |       JOIN bj2 ON cont.fold = bj2.fold AND cont.c = bj2.c
         |       GROUP BY cont.fold),
         |hu AS (SELECT ai2.fold, -sum((ai / n.n) * ln(ai / n.n)) AS hu
         |       FROM ai2 JOIN nn2 n ON ai2.fold = n.fold GROUP BY ai2.fold),
         |hv AS (SELECT bj2.fold, -sum((bj / n.n) * ln(bj / n.n)) AS hv
         |       FROM bj2 JOIN nn2 n ON bj2.fold = n.fold GROUP BY bj2.fold),
         |nmi AS (SELECT mi.fold, mi.mi / ((hu.hu + hv.hv) / 2.0) AS score
         |        FROM mi JOIN hu ON mi.fold = hu.fold JOIN hv ON mi.fold = hv.fold),
         |rand_m AS (SELECT rc.fold,
         |             (rc.n * (rc.n - 1) / 2.0 + 2.0 * rc.sum_nij2 - ra.sum_ai2 - rb.sum_bj2)
         |             / (rc.n * (rc.n - 1) / 2.0) AS score
         |           FROM rc JOIN ra ON rc.fold = ra.fold JOIN rb ON rc.fold = rb.fold),
         |hc AS (SELECT mi.fold, mi.mi AS mi,
         |         CASE WHEN hu.hu = 0 THEN 1.0 ELSE mi.mi / hu.hu END AS h,
         |         CASE WHEN hv.hv = 0 THEN 1.0 ELSE mi.mi / hv.hv END AS c
         |       FROM mi JOIN hu ON mi.fold = hu.fold JOIN hv ON mi.fold = hv.fold),
         |fm AS (SELECT rc.fold,
         |         CASE WHEN ra.sum_ai2 * rb.sum_bj2 = 0 THEN 0.0
         |              ELSE rc.sum_nij2 / sqrt(ra.sum_ai2 * rb.sum_bj2) END AS score
         |       FROM rc JOIN ra ON rc.fold = ra.fold JOIN rb ON rc.fold = rb.fold)
         |SELECT fold, 'adjusted_rand' AS metric, round(score, 6) AS score FROM ari
         |UNION ALL
         |SELECT fold, 'normalized_mutual_info' AS metric, round(score, 6) AS score FROM nmi
         |UNION ALL SELECT fold, 'rand', round(score, 6) FROM rand_m
         |UNION ALL SELECT fold, 'mutual_info', round(mi, 6) FROM hc
         |UNION ALL SELECT fold, 'homogeneity', round(h, 6) FROM hc
         |UNION ALL SELECT fold, 'completeness', round(c, 6) FROM hc
         |UNION ALL SELECT fold, 'v_measure',
         |  round(CASE WHEN h + c = 0 THEN 0.0 ELSE 2.0 * h * c / (h + c) END, 6) FROM hc
         |UNION ALL SELECT fold, 'fowlkes_mallows', round(score, 6) FROM fm
         |""".stripMargin,
    "q_metric_ami" ->
      s"""$prelude,
         |test AS (SELECT b.split AS fold, ev.event_id % 3 AS l,
         |                CAST(floor(ev.value / 25.0) AS BIGINT) AS c
         |         FROM ev JOIN bounds b ON ev.pos = b.test_start),
         |cont AS (SELECT fold, l, c, CAST(count(*) AS DOUBLE) AS nij FROM test GROUP BY fold, l, c),
         |ai AS (SELECT fold, l, sum(nij) AS ai FROM cont GROUP BY fold, l),
         |bj AS (SELECT fold, c, sum(nij) AS bj FROM cont GROUP BY fold, c),
         |cnn AS (SELECT fold, sum(nij) AS n FROM cont GROUP BY fold),
         |mi AS (SELECT cont.fold, sum((nij / cnn.n) * ln(nij * cnn.n / (ai.ai * bj.bj))) AS mi
         |       FROM cont JOIN cnn ON cont.fold = cnn.fold
         |       JOIN ai ON cont.fold = ai.fold AND cont.l = ai.l
         |       JOIN bj ON cont.fold = bj.fold AND cont.c = bj.c
         |       GROUP BY cont.fold),
         |hu AS (SELECT ai.fold, -sum((ai / cnn.n) * ln(ai / cnn.n)) AS hu
         |       FROM ai JOIN cnn ON ai.fold = cnn.fold GROUP BY ai.fold),
         |hv AS (SELECT bj.fold, -sum((bj / cnn.n) * ln(bj / cnn.n)) AS hv
         |       FROM bj JOIN cnn ON bj.fold = cnn.fold GROUP BY bj.fold),
         |mx AS (SELECT CAST(max(n) AS BIGINT) AS mn FROM cnn),
         |ks AS (SELECT unnest(generate_series(0, mn)) AS k FROM mx),
         |lf AS (SELECT k,
         |         coalesce(sum(CASE WHEN k = 0 THEN NULL ELSE ln(CAST(k AS DOUBLE)) END)
         |           OVER (ORDER BY k ROWS UNBOUNDED PRECEDING), 0.0) AS lnf
         |       FROM ks),
         |grid AS (SELECT ai.fold, ai.ai, bj.bj, cnn.n,
         |                greatest(1.0, ai.ai + bj.bj - cnn.n) AS start,
         |                least(ai.ai, bj.bj) AS endv
         |         FROM ai JOIN bj ON ai.fold = bj.fold JOIN cnn ON ai.fold = cnn.fold
         |         WHERE greatest(1.0, ai.ai + bj.bj - cnn.n) <= least(ai.ai, bj.bj)),
         |terms0 AS (SELECT fold, ai, bj, n,
         |             unnest(generate_series(CAST(start AS BIGINT), CAST(endv AS BIGINT))) AS nij0
         |           FROM grid),
         |terms AS (SELECT fold, ai, bj, n, CAST(nij0 AS DOUBLE) AS nij FROM terms0),
         |withlf AS (SELECT t.*,
         |             l1.lnf AS lf_n, l2.lnf AS lf_ai, l3.lnf AS lf_bj, l4.lnf AS lf_nai,
         |             l5.lnf AS lf_nbj, l6.lnf AS lf_nij, l7.lnf AS lf_ainij,
         |             l8.lnf AS lf_bjnij, l9.lnf AS lf_rest
         |           FROM terms t
         |           JOIN lf l1 ON l1.k = CAST(t.n AS BIGINT)
         |           JOIN lf l2 ON l2.k = CAST(t.ai AS BIGINT)
         |           JOIN lf l3 ON l3.k = CAST(t.bj AS BIGINT)
         |           JOIN lf l4 ON l4.k = CAST(t.n - t.ai AS BIGINT)
         |           JOIN lf l5 ON l5.k = CAST(t.n - t.bj AS BIGINT)
         |           JOIN lf l6 ON l6.k = CAST(t.nij AS BIGINT)
         |           JOIN lf l7 ON l7.k = CAST(t.ai - t.nij AS BIGINT)
         |           JOIN lf l8 ON l8.k = CAST(t.bj - t.nij AS BIGINT)
         |           JOIN lf l9 ON l9.k = CAST(t.n - t.ai - t.bj + t.nij AS BIGINT)),
         |emi AS (SELECT fold,
         |          sum((nij / n) * ln(n * nij / (ai * bj)) *
         |              exp(lf_ai + lf_bj + lf_nai + lf_nbj
         |                  - lf_n - lf_nij - lf_ainij - lf_bjnij - lf_rest)) AS emi
         |        FROM withlf GROUP BY fold)
         |SELECT mi.fold AS fold,
         |       round(CASE WHEN hu.hu + hv.hv = 0 THEN 1.0
         |                  ELSE (mi.mi - emi.emi) / ((hu.hu + hv.hv) / 2.0 - emi.emi) END, 6) AS score
         |FROM mi JOIN emi ON mi.fold = emi.fold
         |JOIN hu ON mi.fold = hu.fold JOIN hv ON mi.fold = hv.fold
         |""".stripMargin,
    "q_metrics_multiclass" ->
      s"""$prelude,
         |test AS (SELECT b.split AS fold,
         |                ((ev.event_id % 3) + 3) % 3 AS l,
         |                ((CAST(floor(ev.value / 30.0) AS BIGINT) % 3) + 3) % 3 AS p
         |         FROM ev JOIN bounds b ON ev.pos = b.test_start),
         |cls AS (SELECT fold, l AS cls,
         |               CAST(sum(CASE WHEN l = p THEN 1 ELSE 0 END) AS DOUBLE) AS tp,
         |               CAST(count(*) AS DOUBLE) AS support
         |        FROM test GROUP BY fold, l),
         |prd AS (SELECT fold, p AS cls, CAST(count(*) AS DOUBLE) AS predicted FROM test GROUP BY fold, p),
         |pc AS (SELECT coalesce(cls.fold, prd.fold) AS fold, coalesce(cls.cls, prd.cls) AS cls,
         |              coalesce(tp, 0) AS tp, coalesce(support, 0) AS support,
         |              coalesce(predicted, 0) AS predicted
         |       FROM cls FULL OUTER JOIN prd ON cls.fold = prd.fold AND cls.cls = prd.cls),
         |m AS (SELECT fold, cls, support, tp,
         |             CASE WHEN predicted = 0 THEN 0 ELSE tp / predicted END AS prec,
         |             CASE WHEN support = 0 THEN 0 ELSE tp / support END AS rec
         |      FROM pc),
         |m2 AS (SELECT *, CASE WHEN prec + rec = 0 THEN 0 ELSE 2 * prec * rec / (prec + rec) END AS f1c,
         |              CASE WHEN predicted + support - tp = 0 THEN 0
         |                   ELSE tp / (predicted + support - tp) END AS jc
         |       FROM (SELECT fold, cls, support, tp, predicted,
         |               CASE WHEN predicted = 0 THEN 0 ELSE tp / predicted END AS prec,
         |               CASE WHEN support = 0 THEN 0 ELSE tp / support END AS rec
         |             FROM pc))
         |SELECT fold, 'macro' AS average, round(avg(prec), 6) AS "precision",
         |       round(avg(rec), 6) AS recall, round(avg(f1c), 6) AS f1,
         |       round(avg(jc), 6) AS jaccard
         |FROM m2 GROUP BY fold
         |UNION ALL
         |SELECT fold, 'micro', round(sum(tp) / sum(support), 6),
         |       round(sum(tp) / sum(support), 6), round(sum(tp) / sum(support), 6),
         |       round(sum(tp) / (sum(predicted) + sum(support) - sum(tp)), 6)
         |FROM m2 GROUP BY fold
         |UNION ALL
         |SELECT fold, 'weighted', round(sum(prec * support) / sum(support), 6),
         |       round(sum(rec * support) / sum(support), 6), round(sum(f1c * support) / sum(support), 6),
         |       round(sum(jc * support) / sum(support), 6)
         |FROM m2 GROUP BY fold
         |UNION ALL
         |SELECT fold, 'samples', round(avg(CASE WHEN l = p THEN 1.0 ELSE 0.0 END), 6),
         |       round(avg(CASE WHEN l = p THEN 1.0 ELSE 0.0 END), 6),
         |       round(avg(CASE WHEN l = p THEN 1.0 ELSE 0.0 END), 6),
         |       round(avg(CASE WHEN l = p THEN 1.0 ELSE 0.0 END), 6)
         |FROM test GROUP BY fold
         |""".stripMargin,
    "q_metric_avg_precision" ->
      s"""$prelude,
         |test AS (SELECT b.split AS fold, CAST(ev.event_id % 2 AS DOUBLE) AS y, ev.value AS s
         |         FROM ev JOIN bounds b ON ev.pos = b.test_start),
         |thr AS (SELECT fold, s,
         |          CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS pos,
         |          CAST(count(*) AS DOUBLE) AS cnt
         |        FROM test GROUP BY fold, s),
         |cum AS (SELECT fold, pos,
         |          sum(pos) OVER (PARTITION BY fold ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum_pos,
         |          sum(cnt) OVER (PARTITION BY fold ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum_cnt
         |        FROM thr)
         |SELECT fold, round(sum(pos * cum_pos / cum_cnt) / sum(pos), 6) AS score
         |FROM cum GROUP BY fold
         |""".stripMargin,
  )
}
