package graft.ml

import org.apache.spark.ml.param.ParamMap
import org.scalatest.funsuite.AnyFunSuite

class SimpleEstimatorsSpec extends AnyFunSuite {

  test("a fitted model's copy applies the extra params, keeps its own values and the rest") {
    val models: Seq[SimpleParams] = Seq(
      new MeanRegressorModel("m", 2.5),
      new IdentityRegressorModel("i"),
      new BinClustererModel("b", 0.0, 1.0, 3),
      new ThresholdClassifierModel("t", 0.5))
    for (m <- models) {
      m.setCols("x", "y", "p")
      val c = m.copy(ParamMap(m.predictionCol -> "p2")).asInstanceOf[SimpleParams]
      assert(c.getPredictionCol == "p2", m.getClass.getSimpleName)
      assert(c.getFeatureCol == "x" && c.getLabelCol == "y" && c.uid == m.uid, m.getClass.getSimpleName)
      assert(m.getPredictionCol == "p", s"${m.getClass.getSimpleName}: copy changed the original")
      assert(c.getClass == m.getClass)
    }
    assert(models.head.copy(ParamMap.empty).asInstanceOf[MeanRegressorModel].mean == 2.5)
  }
}
