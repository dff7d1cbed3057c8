package graft.pipeline

import org.apache.spark.ml.{Estimator, Model, Transformer}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.cv.{CrossVal, PanelSplit, PeriodFold}
import graft.metrics.Metrics

/** A fitted step: either a single model (no CV) or one model per fold. */
sealed trait FittedStep extends Serializable
final case class FittedWhole(model: Transformer) extends FittedStep
final case class FittedPerFold(cv: PanelSplit, models: Seq[(PeriodFold, Transformer)]) extends FittedStep

/** CV-aware sequential pipeline — the Spark re-expression of the reference's
  * `SequentialCVPipeline` (`panelsplit/pipeline.py:272-763`): a sequence of
  * (name, estimator) steps, each with its OWN optional `PanelSplit`, where a
  * CV step emits **out-of-fold** outputs (each row transformed by the model
  * of the fold whose `returnGroup` side contains it) feeding the next step —
  * leak-free stacked preprocessing.
  *
  * Differences from the reference, by design (SURVEY §7.4):
  *  - fold membership is keyed by period predicates, not positional arrays,
  *    so `transform` on new data re-resolves membership by period value;
  *  - sklearn's dynamic method injection (`pipeline.py:368-397`) becomes
  *    plain methods (`transform`, `score`);
  *  - rows outside every fold's returnGroup side simply drop out of the
  *    emitted frame (same visible semantics as the reference's index union);
  *  - each CV step's out-of-fold output is [[CrossVal.crossValPredict]]'s,
  *    the fold-tagged rows of [[PanelSplit.foldRows]] (one scan for scaler,
  *    OLS and mean steps, a per-fold union otherwise), so it carries that
  *    step's `fold` column, replacing any `fold` column its input had; the
  *    emitted `fold` is the last CV step's.
  *
  * @param steps       (name, estimator) pairs; estimator may be null for
  *                    "passthrough" (reference `pipeline.py:686-719`)
  * @param cvSteps     one Option[PanelSplit] per step
  * @param returnGroup "test" (out-of-fold, default) or "train"
  */
final class SequentialCVPipeline(
    val steps: Seq[(String, Estimator[_ <: Model[_]])],
    val cvSteps: Seq[Option[PanelSplit]],
    val returnGroup: String = "test") extends Serializable {

  require(steps.size == cvSteps.size,
    s"steps (${steps.size}) and cvSteps (${cvSteps.size}) must align")  // pipeline.py:322-366
  require(returnGroup == "test" || returnGroup == "train",
    s"returnGroup must be 'test' or 'train', got $returnGroup")

  private var fitted: Option[Seq[(String, Option[FittedStep])]] = None

  def fittedSteps: Seq[(String, Option[FittedStep])] =
    fitted.getOrElse(throw new IllegalStateException("Pipeline is not fitted"))

  def isFitted: Boolean = fitted.isDefined

  /** Fit all steps sequentially; step i+1 sees step i's (out-of-fold, for CV
    * steps) output (`pipeline.py:686-719`).
    */
  def fit(df: DataFrame): this.type = { fitTransform(df); this }

  /** Fit, and return what `transform(df)` would return, taken from the
    * out-of-fold frame the fit already built rather than from a second pass
    * through the fitted steps. Each CV step's out-of-fold output is
    * persisted while a later step fits on it, so that step's fit reads it
    * instead of recomputing it; all of them are released once the last step
    * is fitted. The returned frame itself is not persisted.
    */
  def fitTransform(df: DataFrame): DataFrame = {
    val lastEstimator = steps.lastIndexWhere(_._2 != null)
    var current = df
    val held = Vector.newBuilder[DataFrame]
    val acc = Vector.newBuilder[(String, Option[FittedStep])]
    try {
      steps.zip(cvSteps).zipWithIndex.foreach { case (((name, est), cvOpt), i) =>
        if (est == null) { // passthrough
          acc += name -> None
        } else (cvOpt match {
          case None =>
            val model = cloneEst(est).fit(current).asInstanceOf[Transformer]
            acc += name -> Some(FittedWhole(model))
            current = model.transform(current)
          case Some(cv) =>
            // no label filter: a pipeline step fits on every train row
            val models = CrossVal.crossValFit(est, current, cv, labelCol = "")
            acc += name -> Some(FittedPerFold(cv, cv.folds.zip(models)))
            current = CrossVal.crossValPredict(models, current, cv, returnGroup)
            if (i < lastEstimator && current.storageLevel == StorageLevel.NONE)
              held += current.persist()
        })
      }
    } finally held.result().foreach(_.unpersist())
    fitted = Some(acc.result())
    current
  }

  /** Apply fitted steps to (possibly new) data; the output's `fold` is the
    * last CV step's, for per-fold scoring.
    */
  def transform(df: DataFrame): DataFrame = {
    var current = df
    fittedSteps.foreach { case (_, stepOpt) =>
      stepOpt.foreach {
        case FittedWhole(m) =>
          current = m.transform(current)
        case FittedPerFold(cv, models) =>
          // a later CV step's `fold` replaces an earlier one — it always
          // reflects the LAST CV step, matching the reference's cv_steps[-1]
          // scoring alignment (metrics.py:82-99)
          current = CrossVal.crossValPredict(models.map(_._2), current, cv, returnGroup)
      }
    }
    current
  }

  def predict(df: DataFrame): DataFrame = transform(df)

  /** Per-fold scores of the final step's predictions against `labelCol` —
    * one score per fold of the LAST cv step, or a single score when the last
    * step has no CV (`metrics.py:352-398`).
    */
  def score(
      df: DataFrame,
      scorer: String,
      labelCol: String,
      predictionCol: String = "prediction"): Seq[Double] =
    Metrics.perFoldScoreSeq(scoringFrame(transform(df)), scorer, labelCol, predictionCol)

  /** `out` as scorers read it: its `fold` is the last CV step's, and when
    * the last step has no CV every row is in one fold 0
    * (`metrics.py:352-398`).
    */
  private[graft] def scoringFrame(out: DataFrame): DataFrame =
    if (lastCv.isDefined) out else out.withColumn("fold", lit(0))

  /** Step access by index or name (`pipe[i]` / `named_steps`,
    * `pipeline.py:454-467,997-1018`).
    */
  def step(i: Int): (String, Estimator[_ <: Model[_]]) = steps(i)
  def namedSteps: Map[String, Estimator[_ <: Model[_]]] = steps.toMap

  /** Unfitted sub-pipeline over a step range (`pipe[a:b]`). */
  def subPipeline(from: Int, until: Int): SequentialCVPipeline =
    new SequentialCVPipeline(steps.slice(from, until), cvSteps.slice(from, until), returnGroup)

  /** The LAST step's cv — defines n_splits for scoring and search
    * (`model_selection.py:612-631`).
    */
  def lastCv: Option[PanelSplit] = cvSteps.lastOption.flatten

  def nScoreSplits: Int = lastCv.map(_.nSplits).getOrElse(1)

  /** Deep-copy the unfitted structure with parameter overrides applied.
    * Param keys use the reference's `step__param` convention
    * (`tests/test_set_params.py:20-29`).
    */
  def copyWith(params: Map[String, Any]): SequentialCVPipeline = {
    val newSteps = steps.map { case (name, est) =>
      if (est == null) (name, est)
      else {
        val cloned = cloneEst(est)
        params.foreach { case (key, value) =>
          key.split("__") match {
            case Array(step, param) if step == name =>
              require(cloned.hasParam(param),
                s"Estimator for step '$name' has no param '$param'")
              cloned.set(cloned.getParam(param), value)
            case Array(_, _) => // other step's param
            case _ => throw new IllegalArgumentException(
              s"Param key '$key' must be '<step>__<param>'")
          }
        }
        (name, cloned)
      }
    }
    new SequentialCVPipeline(newSteps, cvSteps, returnGroup)
  }

  private def cloneEst(est: Estimator[_ <: Model[_]]): Estimator[_ <: Model[_]] =
    est.copy(ParamMap.empty).asInstanceOf[Estimator[_ <: Model[_]]]

  private[pipeline] def restoreFitted(state: Seq[(String, Option[FittedStep])]): Unit =
    fitted = Some(state)

  /** Persist the pipeline (structure + fitted state) as a VERSIONED
    * directory — each spark.ml stage saved with its own `MLWritable`
    * format, fold specs as tagged JSON ([[PipelinePersistence]]), matching
    * the reference's pickling durability goals (`pipeline.py:1145-1244`)
    * without Java-serialization version brittleness. Driver-side state
    * only — size is O(models), not data.
    */
  def save(path: String): Unit = PipelinePersistence.save(this, path)
}

object SequentialCVPipeline {
  /** Load a pipeline persisted with [[SequentialCVPipeline.save]]: the
    * versioned directory (`manifest.json` plus one `step<i>` directory per
    * step).
    */
  def load(path: String): SequentialCVPipeline = {
    require(new java.io.File(path).isDirectory,
      s"$path is not a pipeline directory (manifest.json plus step<i>/ directories, as save writes)")
    PipelinePersistence.load(path)
  }
}
