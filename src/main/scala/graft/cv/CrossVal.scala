package graft.cv

import org.apache.spark.ml.{Estimator, Model, Transformer}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.FanOut

/** Per-fold fit / predict over `spark.ml` estimators — the Spark re-expression
  * of the reference's application layer (`panelsplit/application.py:160-371`).
  *
  * [[crossValFit]] is the one place folds are fitted: plain cross-validation,
  * every CV step of a [[graft.pipeline.SequentialCVPipeline]], and so every
  * search candidate, fit through it. An estimator whose fit needs only summed
  * moments (`StandardScaler`; `LinearRegression` with squared loss, no
  * penalty and the normal-equation solver) fits all its folds from one
  * aggregation job ([[FoldMoments]]). Any other estimator gets one fit per
  * fold, an independent Spark job over the shared (cache the input!)
  * DataFrame; joblib's process fan-out (`application.py:216-223`) becomes
  * driver-thread fan-out, and the cluster scheduler does the real
  * parallelism. Positional index arrays become fold predicates; out-of-fold
  * reassembly (`application.py:142-157` argsort) becomes the `fold`-tagged
  * rows of [[PanelSplit.foldRows]], the one place a fold becomes rows —
  * callers who need original order carry their own `row_id`.
  * [[crossValPredict]] predicts the folds of a scaler, OLS or mean model in
  * that one scan, one column applying each row's fold's model
  * ([[FoldPredict]]); any other model transforms each fold's rows apart,
  * and the folds are unioned.
  */
object CrossVal {

  /** Fit a clone of `estimator` per fold on that fold's train rows.
    *
    * @param labelCol    the label whose nulls `dropNaInY` drops; unread
    *                    otherwise
    * @param dropNaInY   filter null labels from train before fitting
    *                    (`application.py:96-105`)
    * @param weightCol   set on the estimator only if it declares a weightCol
    *                    param — mirrors the reference's fit-signature
    *                    capability check (`application.py:130-137`)
    * @param parallelism driver threads submitting concurrent fold jobs
    */
  def crossValFit(
      estimator: Estimator[_ <: Model[_]],
      df: DataFrame,
      cv: PanelSplit,
      labelCol: String,
      weightCol: Option[String] = None,
      dropNaInY: Boolean = false,
      parallelism: Int = 1): Seq[Transformer] = {

    def configured(): Estimator[_ <: Model[_]] = {
      val est = estimator.copy(ParamMap.empty).asInstanceOf[Estimator[_ <: Model[_]]]
      weightCol.foreach { w =>
        if (est.hasParam("weightCol")) est.set(est.getParam("weightCol"), w)
      }
      est
    }
    val nonNull = if (dropNaInY) Some(labelCol) else None
    def fitFold(f: PeriodFold): Transformer = {
      val base = df.filter(f.trainPredicate(cv.periodsCol, cv.snapshotCol))
      val train = nonNull.fold(base)(c => base.filter(col(c).isNotNull))
      configured().fit(train).asInstanceOf[Transformer]
    }
    FoldMoments.fit(configured(), df, cv, nonNull, fitFold)
      .getOrElse(FanOut(cv.folds.map(f => () => fitFold(f)), parallelism))
  }

  /** Out-of-fold prediction: each fold's model predicts exactly that fold's
    * `returnGroup` ("test" | "train") rows, tagged with a `fold` column. A
    * row landing in several folds' groups (overlapping trains) is predicted
    * once per fold, as in the reference (`application.py:228-297`). Folds
    * of a `StandardScalerModel`, `LinearRegressionModel` or
    * [[graft.ml.MeanRegressorModel]] (exact classes, equal params) are
    * predicted in one scan of `df`, with as many partitions as `df`; any
    * other models give the union of one transformed scan per fold. Both
    * give the same rows, values and schema.
    */
  def crossValPredict(
      models: Seq[Transformer],
      df: DataFrame,
      cv: PanelSplit,
      returnGroup: String = "test"): DataFrame = {
    require(models.size == cv.nSplits,
      s"models (${models.size}) must match folds (${cv.nSplits})")
    val byFold = cv.folds.zip(models)
    FoldPredict(byFold, df, cv, returnGroup).getOrElse {
      val model = byFold.toMap
      cv.foldRows(df, returnGroup, (f, rows) => model(f).transform(rows))
    }
  }

  def crossValFitPredict(
      estimator: Estimator[_ <: Model[_]],
      df: DataFrame,
      cv: PanelSplit,
      labelCol: String,
      weightCol: Option[String] = None,
      dropNaInY: Boolean = false,
      returnGroup: String = "test",
      parallelism: Int = 1): (DataFrame, Seq[Transformer]) = {
    val models = crossValFit(estimator, df, cv, labelCol, weightCol, dropNaInY, parallelism)
    (crossValPredict(models, df, cv, returnGroup), models)
  }

  /** Distinct union of label classes over every fold's train side —
    * reference `classes_` (`pipeline.py:1084-1086`,
    * `np.unique(np.concatenate([...]))`). One scan, sorted for determinism.
    */
  def classesUnion(df: DataFrame, cv: PanelSplit, labelCol: String): Seq[Any] = {
    cv.genTrainLabels(df).select(col(labelCol)).na.drop().distinct()
      .orderBy(col(labelCol)).collect().map(_.get(0)).toSeq
  }
}
