package org.apache.spark.ml

import org.apache.spark.ml.feature.StandardScalerModel
import org.apache.spark.ml.regression.LinearRegressionModel

import graft.ml.MeanRegressorModel

/** Copies of fitted models as instances of trivial subclasses of their
  * classes. They predict as the originals do, but out-of-fold prediction
  * dispatches on exact classes, so they take the per-fold union. The
  * spark.ml constructors are private to this package.
  */
object Subclassed {
  def apply(m: Transformer): Transformer = {
    val sub: Transformer = m match {
      case s: StandardScalerModel => new StandardScalerModel(s.uid, s.std, s.mean) {}
      case l: LinearRegressionModel => new LinearRegressionModel(l.uid, l.coefficients, l.intercept) {}
      case r: MeanRegressorModel => new MeanRegressorModel(r.uid, r.mean) {}
    }
    m.extractParamMap().toSeq.foreach(p => sub.set(sub.getParam(p.param.name), p.value))
    sub
  }
}
