package graft.cv

import org.apache.spark.ml.{Estimator, Model, Transformer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.FanOut

/** Per-fold fit / predict over `spark.ml` estimators — the Spark re-expression
  * of the reference's application layer (`panelsplit/application.py:160-371`).
  *
  * joblib process fan-out (`application.py:216-223`) becomes driver-thread
  * fan-out: each fold's fit is an independent Spark job over a shared (cache
  * the input!) DataFrame; the cluster scheduler does the real parallelism.
  * Positional index arrays become predicate-filtered DataFrames; out-of-fold
  * reassembly (`application.py:142-157` argsort) becomes a `fold`-tagged
  * union — callers who need original order carry their own `row_id`.
  */
object CrossVal {

  /** Fit a clone of `estimator` per fold on that fold's train rows.
    *
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

    val tasks: Seq[() => Transformer] = cv.folds.map { f => () =>
      val base = df.filter(f.trainPredicate(cv.periodsCol, cv.snapshotCol))
      val train = if (dropNaInY) base.filter(col(labelCol).isNotNull) else base
      val est = estimator.copy(org.apache.spark.ml.param.ParamMap.empty)
        .asInstanceOf[Estimator[_ <: Model[_]]]
      weightCol.foreach { w =>
        if (est.hasParam("weightCol")) est.set(est.getParam("weightCol"), w)
      }
      est.fit(train).asInstanceOf[Transformer]
    }
    FanOut(tasks, parallelism)
  }

  /** Out-of-fold prediction: each fold's model transforms exactly that fold's
    * `returnGroup` ("test" | "train") rows; results union with a `fold`
    * column. A row landing in several folds' groups (overlapping trains) is
    * predicted once per fold, as in the reference (`application.py:228-297`).
    */
  def crossValPredict(
      models: Seq[Transformer],
      df: DataFrame,
      cv: PanelSplit,
      returnGroup: String = "test"): DataFrame = {
    require(models.size == cv.nSplits,
      s"models (${models.size}) must match folds (${cv.nSplits})")
    require(returnGroup == "test" || returnGroup == "train",
      s"returnGroup must be 'test' or 'train', got $returnGroup")

    val parts: Seq[DataFrame] = cv.folds.zip(models).map { case (f, m) =>
      val pred =
        if (returnGroup == "test") f.testPredicate(cv.periodsCol, cv.snapshotCol)
        else f.trainPredicate(cv.periodsCol, cv.snapshotCol)
      m.transform(df.filter(pred)).withColumn("fold", lit(f.index))
    }
    parts.reduceOption(_ unionByName _)
      .getOrElse(df.sparkSession.emptyDataFrame)
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
    val pred = cv.folds.map(_.trainPredicate(cv.periodsCol, cv.snapshotCol))
      .reduceOption(_ || _).getOrElse(lit(false))
    df.filter(pred).select(col(labelCol)).na.drop().distinct()
      .orderBy(col(labelCol)).collect().map(_.get(0)).toSeq
  }
}
