package graft.cv

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.feature.StandardScalerModel
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.optim.MomentFit
import org.apache.spark.ml.regression.LinearRegressionModel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, StructType}

import graft.ml.MeanRegressorModel

/** Out-of-fold prediction in one scan for models whose prediction is one
  * column computed row by row: the rows of every fold's group are tagged
  * with their fold by [[PanelSplit.foldRows]], and one column applies the
  * tagged fold's model. The result equals the per-fold union
  * [[CrossVal.crossValPredict]] otherwise builds: the same rows, bits and
  * schema, down to the model's output metadata.
  *
  * The models predicted this way, all folds of one exact class with equal
  * params, none of whose columns is `fold` in any case:
  *  - `StandardScalerModel`, through spark.ml's own row function;
  *  - `LinearRegressionModel`, through each fold's own `predict`;
  *  - [[graft.ml.MeanRegressorModel]], a `CASE` over the folds' means.
  * Any other model, or a subclass of these, gets `None`.
  */
private[cv] object FoldPredict {

  /** The column a kind of model adds: its name, its metadata and its value,
    * which reads the `fold` column.
    */
  private final case class Output(name: String, metadata: Metadata, value: Column)

  def apply(
      models: Seq[(PeriodFold, Transformer)],
      df: DataFrame,
      cv: PanelSplit,
      group: String): Option[DataFrame] =
    output(models, df.schema).map { out =>
      val tagged = cv.foldRows(df, group)
      val predicted = tagged.withColumn(out.name, out.value).withMetadata(out.name, out.metadata)
      // the union tags its rows after the model: a new `fold` comes last. A
      // `fold` replaced in place, under any case the session resolves to
      // it, adds no column.
      if (tagged.columns.length == df.columns.length) predicted
      else predicted.select(predicted.columns.filter(_ != "fold").map(quoted) :+ col("fold"): _*)
    }

  private def quoted(name: String): Column = col(s"`${name.replace("`", "``")}`")

  private def output(models: Seq[(PeriodFold, Transformer)], schema: StructType): Option[Output] = {
    val head = models.headOption.map(_._2)
    def params(m: Transformer) = m.extractParamMap().toSeq.map(p => p.param.name -> p.value).toMap
    val uniform = head.exists(h => models.forall { case (_, m) =>
      m.getClass == h.getClass && params(m) == params(h) })
    /** Per fold index, what `f` takes from that fold's model. */
    def byFold[M <: Transformer, T: scala.reflect.ClassTag](f: M => T): Array[T] = {
      val at = new Array[T](models.map(_._1.index).max + 1)
      models.foreach { case (fold, m) => at(fold.index) = f(m.asInstanceOf[M]) }
      at
    }
    // in any case, as a case-insensitive session would resolve it to `fold`
    def free(cols: String*) = !cols.exists(_.equalsIgnoreCase("fold"))
    head.filter(_ => uniform).collect {
      case m: StandardScalerModel if m.getClass == classOf[StandardScalerModel] &&
          free(m.getInputCol, m.getOutputCol) =>
        val scale = byFold[StandardScalerModel, Vector => Vector](MomentFit.scalerTransform)
        val in = m.getInputCol
        Output(m.getOutputCol, m.transformSchema(schema)(m.getOutputCol).metadata,
          udf((f: Int, v: Vector) => scale(f)(v)).apply(col("fold"), col(in)))
      case m: LinearRegressionModel if m.getClass == classOf[LinearRegressionModel] &&
          m.getPredictionCol.nonEmpty && free(m.getFeaturesCol, m.getPredictionCol) =>
        val fitted = byFold[LinearRegressionModel, LinearRegressionModel](identity)
        val in = m.getFeaturesCol
        // typed as spark.ml's own prediction UDF is: Any in, Double out
        Output(m.getPredictionCol, m.transformSchema(schema)(m.getPredictionCol).metadata,
          udf((f: Int, v: Any) => fitted(f).predict(v.asInstanceOf[Vector])).apply(col("fold"), col(in)))
      case m: MeanRegressorModel if m.getClass == classOf[MeanRegressorModel] &&
          free(m.getPredictionCol) =>
        val means = models.map { case (f, fm) => f.index -> fm.asInstanceOf[MeanRegressorModel].mean }
        Output(m.getPredictionCol, Metadata.empty,
          means.init.foldRight(lit(means.last._2)) { case ((f, mean), rest) =>
            when(col("fold") === f, lit(mean)).otherwise(rest) })
    }
  }
}
