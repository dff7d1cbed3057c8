package graft.cv

import scala.collection.mutable

import org.apache.spark.ml.{Estimator, Transformer}
import org.apache.spark.ml.optim.MomentFit
import org.apache.spark.ml.optim.MomentFit.{OlsMoments, ScalerMoments}
import org.apache.spark.ml.feature.StandardScaler
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Fits every fold of an estimator whose fit needs only summed moments from
  * one Spark job. Folds are unions of whole `(period[, snapshot])` groups,
  * so the job builds spark.ml's own summary buffer per group of the train
  * rows, and the driver merges each fold's groups into a fresh buffer and
  * builds the model spark.ml's `fit` would build from the same rows.
  *
  * The estimators fitted this way, with every other param free:
  *  - `StandardScaler`;
  *  - `LinearRegression` with `loss` squaredError, `regParam` 0, the
  *    `normal` or `auto` solver and at most 4096 features (wider, `auto`
  *    turns to L-BFGS and `normal` fails). Its models carry no training
  *    summary.
  * Every other estimator, and any subclass of these, gets `None` and is
  * fitted per fold by the caller.
  */
private[cv] object FoldMoments {

  /** Moments of one estimator: how a group's buffer takes a row (whose
    * `columns` start at `at`), how buffers merge, and the model of a
    * fold's merged buffer.
    */
  private sealed trait Step[M] extends Serializable {
    def columns: Seq[Column]
    def zero(): M
    def add(m: M, row: Row, at: Int): Unit
    def merge(into: M, other: M): M
    /** Whether spark.ml's own fit would use these moments (checked once the
      * feature count is known).
      */
    def applies(m: M): Boolean = true
    def model(m: M): Transformer
  }

  private final class Scaler(est: StandardScaler) extends Step[ScalerMoments] {
    def columns: Seq[Column] = Seq(col(est.getInputCol))
    def zero(): ScalerMoments = new ScalerMoments
    def add(m: ScalerMoments, row: Row, at: Int): Unit = m.add(row.getAs[Vector](at))
    def merge(into: ScalerMoments, other: ScalerMoments): ScalerMoments = into.merge(other)
    def model(m: ScalerMoments): Transformer = MomentFit.scalerModel(est, m)
  }

  private final class Ols(est: LinearRegression) extends Step[OlsMoments] {
    def columns: Seq[Column] = MomentFit.olsColumns(est)
    def zero(): OlsMoments = new OlsMoments
    def add(m: OlsMoments, row: Row, at: Int): Unit =
      m.add(row.getDouble(at), row.getDouble(at + 1), row.getAs[Vector](at + 2))
    def merge(into: OlsMoments, other: OlsMoments): OlsMoments = into.merge(other)
    override def applies(m: OlsMoments): Boolean = m.numFeatures <= MomentFit.maxNormalFeatures
    def model(m: OlsMoments): Transformer = MomentFit.olsModel(est, m)
  }

  private def stepOf(est: Estimator[_]): Option[Step[_]] = est match {
    case s: StandardScaler if s.getClass == classOf[StandardScaler] => Some(new Scaler(s))
    case lr: LinearRegression if lr.getClass == classOf[LinearRegression] &&
        lr.getLoss == "squaredError" && lr.getRegParam == 0.0 &&
        (lr.getSolver == "normal" || lr.getSolver == "auto") => Some(new Ols(lr))
    case _ => None
  }

  /** One model per fold of `cv`, in fold order, or `None` when `est` is not
    * fitted from moments. `nonNull` names a column whose null rows are
    * dropped from every train side first. A fold without train rows is
    * handed to `perFold`, so it fails (or not) exactly as spark.ml's `fit`
    * does on empty input.
    */
  def fit(
      est: Estimator[_],
      df: DataFrame,
      cv: PanelSplit,
      nonNull: Option[String],
      perFold: PeriodFold => Transformer): Option[Seq[Transformer]] =
    stepOf(est).flatMap { step =>
      est.transformSchema(df.schema)
      fitFolds(step, df, cv, nonNull, perFold)
    }

  private def fitFolds[M](
      step: Step[M],
      df: DataFrame,
      cv: PanelSplit,
      nonNull: Option[String],
      perFold: PeriodFold => Transformer): Option[Seq[Transformer]] = {
    val keys = col(cv.periodsCol) +: cv.snapshotCol.map(col).toSeq
    val at = keys.size
    val train = nonNull.foldLeft(cv.genTrainLabels(df))((d, c) => d.filter(col(c).isNotNull))
    val groups = train.select(keys ++ step.columns: _*).rdd
      .treeAggregate(mutable.HashMap.empty[(Any, Any), M])(
        (acc, row) => {
          val key = (row.get(0), if (at > 1) row.get(1) else null)
          step.add(acc.getOrElseUpdate(key, step.zero()), row, at)
          acc
        },
        (acc, other) => {
          other.foreach { case (key, m) =>
            acc.get(key) match {
              case Some(mine) => step.merge(mine, m)
              case None       => acc(key) = m
            }
          }
          acc
        })
    if (groups.valuesIterator.exists(m => !step.applies(m))) None
    else Some(cv.folds.map { f =>
      val periods = f.trainPeriods.toSet
      val mine = groups.collect { case ((p, s), m)
        if periods(p) && (cv.snapshotCol.isEmpty || f.snapshot.forall(_ == s)) => m }
      // buffers merge in place and a group serves several folds, so each
      // fold merges into a fresh buffer of its own
      if (mine.isEmpty) perFold(f)
      else step.model(mine.foldLeft(step.zero())(step.merge))
    })
  }
}
