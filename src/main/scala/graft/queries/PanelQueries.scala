package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cv.{CrossVal, PanelSplit}
import graft.metrics.Metrics
import graft.ml.{IdentityRegressor, MeanRegressor}
import graft.pipeline.SequentialCVPipeline
import graft.search.GridSearch

/** Panel-CV operator queries over the `events` table (period = day of ts),
  * each mirroring a SURVEY §2 operator with a DuckDB oracle.
  *
  * Shared config: nSplits=3, testSize=1, gap=0 — fold i's test block is the
  * (n-3+i)-th distinct day, its train is everything before it.
  */
object PanelQueries extends QueryPack {

  val N_SPLITS = 3

  private def est(e: org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]]) = e

  def events(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.cached(spark, dir, "events")
      .withColumn("period", to_date(date_trunc("day", col("ts"))))

  def panelSplit(df: DataFrame): PanelSplit =
    PanelSplit(df, "period", nSplits = N_SPLITS, testSize = 1)

  /** A splitter's folds as a DataFrame of (split, role, period) rows, one
    * per period of each fold's train and test side; periods are dates.
    */
  def foldSpec(spark: SparkSession, ps: PanelSplit): DataFrame = {
    val rows = ps.folds.flatMap { f =>
      f.trainPeriods.map(p => Row(f.index, "train", p)) ++
        f.testPeriods.map(p => Row(f.index, "test", p))
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("split", IntegerType, nullable = false),
      StructField("role", StringType, nullable = false),
      StructField("period", DateType, nullable = false))))
  }

  /** Fold planning output as a DataFrame: (split, role, period). */
  private def foldPeriods(spark: SparkSession, dir: String): DataFrame =
    foldSpec(spark, panelSplit(events(spark, dir)))

  def cvMse(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
    val ps = panelSplit(df)
    val est = new MeanRegressor().setLabelCol("value")
    val (preds, _) = CrossVal.crossValFitPredict(est, df, ps, labelCol = "value")
    Metrics.perFoldScores(preds, "mean_squared_error", "value", "prediction")
      .select(col("fold"), round(col("score"), 6).as("score"))
  }

  /** Raw out-of-fold predictions of the per-fold mean regressor. */
  private def cvPredict(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
    val ps = panelSplit(df)
    val (preds, _) = CrossVal.crossValFitPredict(
      new MeanRegressor().setLabelCol("value"), df, ps, labelCol = "value")
    preds.select(col("event_id"), col("fold"),
      round(col("prediction"), 6).as("prediction"))
  }

  /** Two-step pipeline: CV mean step emits out-of-fold `mu`, identity final
    * step surfaces it as the prediction (leak-free stacking, SURVEY §2.10).
    */
  private def pipelineOof(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
    val ps = panelSplit(df)
    val pipe = new SequentialCVPipeline(
      Seq(
        "mu" -> est(new MeanRegressor().setLabelCol("value").setPredictionCol("mu")),
        "out" -> est(new IdentityRegressor().setFeatureCol("mu"))),
      Seq(Some(ps), None))
    pipe.fit(df)
    pipe.transform(df)
      .select(col("event_id"), col("fold"), round(col("prediction"), 6).as("prediction"))
  }

  /** GridSearch cv_results over the mean regressor's shift param. */
  private def gridSearch(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
    val ps = panelSplit(df)
    val pipe = new SequentialCVPipeline(
      Seq("mu" -> new MeanRegressor().setLabelCol("value")), Seq(Some(ps)))
    val gs = new GridSearch(pipe, Map("mu__shift" -> Seq(0.0, 10.0, 100.0)),
      scoring = Seq("neg_mean_squared_error"), labelCol = "value", refit = false)
    gs.fit(df)
    gs.cvResults(spark).select(
      col("candidate"), col("params"),
      round(col("split0_test_score"), 6).as("split0_test_score"),
      round(col("split1_test_score"), 6).as("split1_test_score"),
      round(col("split2_test_score"), 6).as("split2_test_score"),
      round(col("mean_test_score"), 6).as("mean_test_score"),
      round(col("std_test_score"), 6).as("std_test_score"),
      col("rank_test_score"))
  }

  /** Shared oracle CTE: ranked distinct day axis + per-fold test_start. */
  val prelude: String =
    s"""WITH p AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS period FROM events),
       |r AS (SELECT period, row_number() OVER (ORDER BY period) - 1 AS pos FROM p),
       |nn AS (SELECT count(*) AS n FROM p),
       |bounds AS (SELECT i AS split, (SELECT n FROM nn) - ($N_SPLITS - i) AS test_start
       |           FROM (VALUES (0),(1),(2)) t(i)),
       |ev AS (SELECT e.*, r.pos, CAST(date_trunc('day', e.ts) AS DATE) AS period
       |       FROM events e JOIN r ON CAST(date_trunc('day', e.ts) AS DATE) = r.period)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fold_periods" -> (foldPeriods _),
    "q_train_labels" -> ((s, dir) => {
      val df = events(s, dir)
      panelSplit(df).genTrainLabels(df).select("event_id", "period", "value")
    }),
    "q_test_labels" -> ((s, dir) => {
      val df = events(s, dir)
      panelSplit(df).genTestLabels(df).select("event_id", "period", "value")
    }),
    "q_snapshots" -> ((s, dir) => {
      val df = events(s, dir)
      panelSplit(df).genSnapshots(df, Some("period"))
        .select("event_id", "period", "split", "snapshot_period")
    }),
    "q_cv_mse" -> (cvMse _),
    "q_cv_predict" -> (cvPredict _),
    "q_pipeline_oof" -> (pipelineOof _),
    "q_grid_search" -> (gridSearch _),
  )

  def oracleSql: Map[String, String] = Map(
    "q_fold_periods" ->
      s"""$prelude
         |SELECT b.split, CASE WHEN r.pos < b.test_start THEN 'train' ELSE 'test' END AS role, r.period
         |FROM r JOIN bounds b ON r.pos < b.test_start + 1
         |""".stripMargin,
    "q_train_labels" ->
      s"""$prelude
         |SELECT event_id, period, value FROM ev
         |WHERE pos < (SELECT n FROM nn) - 1
         |""".stripMargin,
    "q_test_labels" ->
      s"""$prelude
         |SELECT event_id, period, value FROM ev
         |WHERE pos >= (SELECT n FROM nn) - $N_SPLITS
         |""".stripMargin,
    "q_snapshots" ->
      s"""$prelude,
         |snap AS (SELECT b.split, max(r.period) AS snapshot_period
         |         FROM r JOIN bounds b ON r.pos < b.test_start + 1 GROUP BY b.split)
         |SELECT ev.event_id, ev.period, b.split, snap.snapshot_period
         |FROM ev JOIN bounds b ON ev.pos < b.test_start + 1
         |JOIN snap ON snap.split = b.split
         |""".stripMargin,
    "q_cv_mse" ->
      s"""$prelude,
         |train AS (SELECT b.split AS fold, avg(ev.value) AS mu
         |          FROM ev JOIN bounds b ON ev.pos < b.test_start GROUP BY b.split),
         |test AS (SELECT b.split AS fold, ev.value
         |         FROM ev JOIN bounds b ON ev.pos = b.test_start)
         |SELECT t.fold, round(avg(power(t.value - tr.mu, 2)), 6) AS score
         |FROM test t JOIN train tr USING (fold) GROUP BY t.fold
         |""".stripMargin,
    "q_cv_predict" ->
      s"""$prelude,
         |train AS (SELECT b.split AS fold, avg(ev.value) AS mu
         |          FROM ev JOIN bounds b ON ev.pos < b.test_start GROUP BY b.split)
         |SELECT ev.event_id, b.split AS fold, round(tr.mu, 6) AS prediction
         |FROM ev JOIN bounds b ON ev.pos = b.test_start
         |JOIN train tr ON tr.fold = b.split
         |""".stripMargin,
    "q_pipeline_oof" ->
      s"""$prelude,
         |train AS (SELECT b.split AS fold, avg(ev.value) AS mu
         |          FROM ev JOIN bounds b ON ev.pos < b.test_start GROUP BY b.split)
         |SELECT ev.event_id, b.split AS fold, round(tr.mu, 6) AS prediction
         |FROM ev JOIN bounds b ON ev.pos = b.test_start
         |JOIN train tr ON tr.fold = b.split
         |""".stripMargin,
    "q_grid_search" ->
      s"""$prelude,
         |shifts AS (SELECT * FROM (VALUES (0, 0.0), (1, 10.0), (2, 100.0)) s(candidate, shift)),
         |train AS (SELECT b.split AS fold, avg(ev.value) AS mu
         |          FROM ev JOIN bounds b ON ev.pos < b.test_start GROUP BY b.split),
         |scores AS (SELECT s.candidate, s.shift, b.split AS fold,
         |                  -avg(power(ev.value - (tr.mu + s.shift), 2)) AS score
         |           FROM ev JOIN bounds b ON ev.pos = b.test_start
         |           JOIN train tr ON tr.fold = b.split
         |           CROSS JOIN shifts s
         |           GROUP BY s.candidate, s.shift, b.split),
         |agg AS (SELECT candidate, shift,
         |               max(CASE WHEN fold = 0 THEN score END) AS s0,
         |               max(CASE WHEN fold = 1 THEN score END) AS s1,
         |               max(CASE WHEN fold = 2 THEN score END) AS s2,
         |               avg(score) AS mean_score,
         |               sqrt(avg(score * score) - avg(score) * avg(score)) AS std_score
         |        FROM scores GROUP BY candidate, shift)
         |SELECT candidate,
         |       'mu__shift=' || CAST(shift AS VARCHAR) AS params,
         |       round(s0, 6) AS split0_test_score,
         |       round(s1, 6) AS split1_test_score,
         |       round(s2, 6) AS split2_test_score,
         |       round(mean_score, 6) AS mean_test_score,
         |       round(std_score, 6) AS std_test_score,
         |       CAST(rank() OVER (ORDER BY mean_score DESC) AS INT) AS rank_test_score
         |FROM agg
         |""".stripMargin,
  )
}
