package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cv.PanelSplit

/** Non-default fold configurations and vintage (snapshot) semantics at the
  * oracle gate — the §2.5 variant surface: gap, maxTrainSize, testSize>1,
  * includeTrainInTest, and snapshot-equality membership with the clamp rule.
  */
object VariantQueries extends QueryPack {

  import PanelQueries.events

  /** events + a synthetic vintage: rows with odd event_id are "revised" one
    * day after their period (snapshot = period + 1 day), even rows are
    * originals (snapshot = period).
    */
  private def eventsWithSnap(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).withColumn("snap",
      date_add(col("period"), (col("event_id") % 2).cast("int")))

  /** Fold spec under nSplits=4, testSize=2, gap=1, maxTrainSize=10,
    * includeTrainInTest=true — every §2.5 knob at once.
    */
  private def foldPeriodsVariant(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
    val ps = PanelSplit(df, "period", nSplits = 4, gap = 1, testSize = 2,
      maxTrainSize = Some(10), includeTrainInTest = true)
    PanelQueries.foldSpec(spark, ps)
  }

  /** Vintage-aware membership: per fold, train rows tagged with split —
    * a row participates only when its snapshot equals the fold's resolved
    * snapshot value (max test period here; clamp rule in PanelSplit).
    */
  private def snapshotSplit(spark: SparkSession, dir: String): DataFrame = {
    val df = eventsWithSnap(spark, dir)
    val ps = PanelSplit(df, "period", snapshotCol = Some("snap"), nSplits = 3, testSize = 1)
    ps.foldRows(df, "train").select(col("fold").as("split"), col("event_id"), col("period"), col("snap"))
  }

  /** Per-fold mean imputation with stock spark.ml Imputer: the reference's
    * example workflow (out-of-fold transformer with y=None,
    * `application.py:93,113-117`). value2 has nulls (event_id % 7 == 0);
    * each fold's test rows are imputed with that fold's TRAIN mean.
    */
  private def cvImpute(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
      .withColumn("value2", when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
    val ps = PanelQueries.panelSplit(df)
    val imputer = new org.apache.spark.ml.feature.Imputer()
      .setInputCol("value2").setOutputCol("value2_imp").setStrategy("mean")
    val (preds, _) = graft.cv.CrossVal.crossValFitPredict(imputer, df, ps, labelCol = "value2")
    preds.select(col("event_id"), col("fold"), round(col("value2_imp"), 6).as("value2_imp"))
  }

  /** Per-entity out-of-fold scoring: fold × user MSE of the mean regressor
    * — the group-wise metric view panel users need (entities are implicit
    * in the reference; first-class grouping here).
    */
  private def cvMseByUser(spark: SparkSession, dir: String): DataFrame = {
    val df = events(spark, dir)
    val ps = PanelQueries.panelSplit(df)
    val (preds, _) = graft.cv.CrossVal.crossValFitPredict(
      new graft.ml.MeanRegressor().setLabelCol("value"), df, ps, labelCol = "value")
    preds.groupBy(col("fold"), col("user_id"))
      .agg(round(avg(pow(col("value") - col("prediction"), 2)), 6).as("score"),
        count(lit(1)).as("n"))
  }

  /** dropSplits at the gate: a target that is constant over the last two
    * days makes the folds testing those days degenerate (1 distinct y);
    * output = surviving fold spec (split, role, period).
    */
  private def dropSplitsQ(spark: SparkSession, dir: String): DataFrame = {
    val df0 = events(spark, dir)
    val lastDays = df0.select(col("period")).distinct()
      .orderBy(col("period").desc).limit(2).collect().map(_.get(0))
    val df = df0.withColumn("y2",
      when(col("period").isin(lastDays: _*), lit(42.0)).otherwise(col("value")))
    val ps = PanelQueries.panelSplit(df).dropSplits(df, "y2")
    PanelQueries.foldSpec(spark, ps)
  }

  /** dropSplits at 28 folds over the 30 daily event periods, so every
    * fold's train side spans most of the rows and each row is tagged with
    * many fold sides; the last two days carry a constant target, so the
    * folds testing them are degenerate and must drop.
    */
  private def dropSplitsWideQ(spark: SparkSession, dir: String): DataFrame = {
    val df0 = events(spark, dir)
    val lastDays = df0.select(col("period")).distinct()
      .orderBy(col("period").desc).limit(2).collect().map(_.get(0))
    val df = df0.withColumn("y2",
      when(col("period").isin(lastDays: _*), lit(42.0)).otherwise(col("value")))
    val ps = graft.cv.PanelSplit(df, "period", nSplits = 28, testSize = 1).dropSplits(df, "y2")
    PanelQueries.foldSpec(spark, ps)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fold_periods_variant" -> (foldPeriodsVariant _),
    "q_snapshot_split" -> (snapshotSplit _),
    "q_cv_impute" -> (cvImpute _),
    "q_cv_mse_by_user" -> (cvMseByUser _),
    "q_drop_splits" -> (dropSplitsQ _),
    "q_drop_splits_wide" -> (dropSplitsWideQ _),
  )

  import PanelQueries.prelude

  def oracleSql: Map[String, String] = Map(
    // nSplits=4, testSize=2, gap=1, maxTrainSize=10, includeTrainInTest=true
    "q_fold_periods_variant" ->
      s"""WITH p AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS period FROM events),
         |r AS (SELECT period, row_number() OVER (ORDER BY period) - 1 AS pos FROM p),
         |nn AS (SELECT count(*) AS n FROM p),
         |b AS (SELECT i AS split,
         |             (SELECT n FROM nn) - (4 - i) * 2 AS test_start
         |      FROM (VALUES (0),(1),(2),(3)) t(i)),
         |bb AS (SELECT split, test_start,
         |              test_start - 1 AS train_end,
         |              greatest(test_start - 1 - 10, 0) AS train_start
         |       FROM b)
         |SELECT bb.split, 'train' AS role, r.period
         |FROM r JOIN bb ON r.pos >= bb.train_start AND r.pos < bb.train_end
         |UNION ALL
         |-- includeTrainInTest: test = train ++ test block (all folds; fold 0 via forced first flag)
         |SELECT bb.split, 'test' AS role, r.period
         |FROM r JOIN bb ON (r.pos >= bb.train_start AND r.pos < bb.train_end)
         |               OR (r.pos >= bb.test_start AND r.pos < bb.test_start + 2)
         |""".stripMargin,
    "q_snapshot_split" ->
      s"""$prelude,
         |snapv AS (SELECT b.split, max(r.period) AS snap_val
         |          FROM r JOIN bounds b ON r.pos = b.test_start GROUP BY b.split)
         |SELECT b.split, ev.event_id, ev.period,
         |       CAST(ev.period + (ev.event_id % 2) * INTERVAL 1 DAY AS DATE) AS snap
         |FROM ev JOIN bounds b ON ev.pos < b.test_start
         |JOIN snapv ON snapv.split = b.split
         |WHERE CAST(ev.period + (ev.event_id % 2) * INTERVAL 1 DAY AS DATE) = snapv.snap_val
         |""".stripMargin,
    "q_cv_mse_by_user" ->
      s"""$prelude,
         |train AS (SELECT b.split AS fold, avg(ev.value) AS mu
         |          FROM ev JOIN bounds b ON ev.pos < b.test_start GROUP BY b.split)
         |SELECT b.split AS fold, ev.user_id,
         |       round(avg(power(ev.value - tr.mu, 2)), 6) AS score,
         |       count(*) AS n
         |FROM ev JOIN bounds b ON ev.pos = b.test_start
         |JOIN train tr ON tr.fold = b.split
         |GROUP BY b.split, ev.user_id
         |""".stripMargin,
    "q_drop_splits" ->
      s"""$prelude,
         |evy AS (SELECT ev.*, CASE WHEN ev.pos >= (SELECT n FROM nn) - 2 THEN 42.0 ELSE ev.value END AS y2 FROM ev),
         |stats AS (SELECT b.split,
         |            sum(CASE WHEN evy.pos < b.test_start THEN 1 ELSE 0 END) AS tr_n,
         |            sum(CASE WHEN evy.pos = b.test_start THEN 1 ELSE 0 END) AS te_n,
         |            count(DISTINCT CASE WHEN evy.pos < b.test_start THEN evy.y2 END) AS tr_u,
         |            count(DISTINCT CASE WHEN evy.pos = b.test_start THEN evy.y2 END) AS te_u
         |          FROM evy CROSS JOIN bounds b GROUP BY b.split),
         |keep AS (SELECT stats.split, b.test_start FROM stats JOIN bounds b ON b.split = stats.split
         |         WHERE tr_n > 0 AND te_n > 0 AND tr_u <> 1 AND te_u <> 1)
         |SELECT k.split, CASE WHEN r.pos < k.test_start THEN 'train' ELSE 'test' END AS role, r.period
         |FROM r JOIN keep k ON r.pos < k.test_start + 1
         |""".stripMargin,
    "q_drop_splits_wide" ->
      s"""$prelude,
         |bounds28 AS (SELECT CAST(i AS INT) AS split, (SELECT n FROM nn) - (28 - CAST(i AS INT)) AS test_start
         |             FROM range(0, 28) t(i)),
         |evy AS (SELECT ev.*, CASE WHEN ev.pos >= (SELECT n FROM nn) - 2 THEN 42.0 ELSE ev.value END AS y2 FROM ev),
         |stats AS (SELECT b.split,
         |            sum(CASE WHEN evy.pos < b.test_start THEN 1 ELSE 0 END) AS tr_n,
         |            sum(CASE WHEN evy.pos = b.test_start THEN 1 ELSE 0 END) AS te_n,
         |            count(DISTINCT CASE WHEN evy.pos < b.test_start THEN evy.y2 END) AS tr_u,
         |            count(DISTINCT CASE WHEN evy.pos = b.test_start THEN evy.y2 END) AS te_u
         |          FROM evy CROSS JOIN bounds28 b GROUP BY b.split),
         |keep AS (SELECT stats.split, b.test_start FROM stats JOIN bounds28 b ON b.split = stats.split
         |         WHERE tr_n > 0 AND te_n > 0 AND tr_u <> 1 AND te_u <> 1)
         |SELECT k.split, CASE WHEN r.pos < k.test_start THEN 'train' ELSE 'test' END AS role, r.period
         |FROM r JOIN keep k ON r.pos < k.test_start + 1
         |""".stripMargin,
    "q_cv_impute" ->
      s"""$prelude,
         |ev2 AS (SELECT ev.*, CASE WHEN ev.event_id % 7 = 0 THEN NULL ELSE ev.value END AS value2 FROM ev),
         |train AS (SELECT b.split AS fold, avg(ev2.value2) AS mu
         |          FROM ev2 JOIN bounds b ON ev2.pos < b.test_start GROUP BY b.split)
         |SELECT ev2.event_id, b.split AS fold,
         |       round(coalesce(ev2.value2, tr.mu), 6) AS value2_imp
         |FROM ev2 JOIN bounds b ON ev2.pos = b.test_start
         |JOIN train tr ON tr.fold = b.split
         |""".stripMargin,
  )
}
