package graft.cv

import graft.SparkTestBase
import graft.ml.MeanRegressor
import org.apache.spark.ml.{Estimator, Model, Subclassed, Transformer}
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._

class CrossValSpec extends SparkTestBase {
  private lazy val sp = spark
  import sp.implicits._

  private def panel = {
    val rows = for (p <- 1 to 8; i <- 0 to 3) yield (p * 10 + i, p, (p + i).toDouble, 1.0 + i)
    rows.toDF("id", "period", "y", "w")
  }

  test("out-of-fold predict: each test row predicted by its own fold's model only") {
    val df = panel
    val cv = PanelSplit(df, "period", nSplits = 3, testSize = 1)
    val (preds, models) = CrossVal.crossValFitPredict(
      new MeanRegressor().setLabelCol("y"), df, cv, labelCol = "y")
    assert(models.size == 3)
    val got = preds.select("period", "fold", "prediction")
      .distinct().as[(Int, Int, Double)].collect().sortBy(_._1)
    // fold i tests period 6+i, train mean = mean(p + i) over p in 1..5+i, i in 0..3
    def trainMean(upTo: Int) = (1 to upTo).flatMap(p => (0 to 3).map(i => (p + i).toDouble)).sum / (upTo * 4)
    assert(got.map(_._1).toSeq == Seq(6, 7, 8))
    got.foreach { case (period, fold, pred) =>
      assert(period == 6 + fold)
      assert(math.abs(pred - trainMean(period - 1)) < 1e-12)
    }
  }

  test("returnGroup=train predicts each fold's train rows with that fold's model") {
    val df = panel
    val cv = PanelSplit(df, "period", nSplits = 2, testSize = 1)
    val models = CrossVal.crossValFit(new MeanRegressor().setLabelCol("y"), df, cv, "y")
    val trainPreds = CrossVal.crossValPredict(models, df, cv, returnGroup = "train")
    // fold 0 train = periods 1..6 (24 rows), fold 1 train = periods 1..7 (28)
    val counts = trainPreds.groupBy("fold").count().as[(Int, Long)].collect().toMap
    assert(counts == Map(0 -> 24L, 1 -> 28L))
  }

  test("weightCol set only when the estimator declares it (application.py:130-137 capability mirror)") {
    // y nonlinear in the feature so per-group means are NOT collinear —
    // otherwise weighted and unweighted OLS coincide exactly
    val wpanel = (for (p <- 1 to 8; i <- 0 to 3)
      yield (p * 10 + i, p, (p + i * i).toDouble, 1.0 + i)).toDF("id", "period", "y", "w")
    val df = new VectorAssembler().setInputCols(Array("w")).setOutputCol("features")
      .transform(wpanel)
    val cv = PanelSplit(df, "period", nSplits = 2, testSize = 1)
    // LinearRegression HAS weightCol: weighted fit must differ from unweighted
    val lr = new LinearRegression().setFeaturesCol("features").setLabelCol("y")
      .setSolver("normal").setRegParam(0.0)
    val unweighted = CrossVal.crossValFit(lr, df, cv, "y")
    val weighted = CrossVal.crossValFit(lr, df, cv, "y", weightCol = Some("w"))
    def coef(t: org.apache.spark.ml.Transformer) =
      t.asInstanceOf[org.apache.spark.ml.regression.LinearRegressionModel].coefficients(0)
    assert(math.abs(coef(weighted.head) - coef(unweighted.head)) > 1e-9)
    // MeanRegressor has NO weightCol param: silently ignored, no crash
    val m = CrossVal.crossValFit(new MeanRegressor().setLabelCol("y"), df, cv, "y",
      weightCol = Some("w"))
    assert(m.size == 2)
  }

  test("parallel == serial (tests/test_cross_validation.py:51-80 invariant)") {
    val df = panel
    val cv = PanelSplit(df, "period", nSplits = 3, testSize = 1)
    val est = new MeanRegressor().setLabelCol("y")
    val serial = CrossVal.crossValFitPredict(est, df, cv, "y", parallelism = 1)._1
    val parallel = CrossVal.crossValFitPredict(est, df, cv, "y", parallelism = 4)._1
    val s = serial.select("id", "prediction").as[(Int, Double)].collect().sortBy(_._1).toSeq
    val p = parallel.select("id", "prediction").as[(Int, Double)].collect().sortBy(_._1).toSeq
    assert(s == p)
  }

  test("classesUnion: distinct union of train-side labels, sorted") {
    val df = Seq((1, 1, "b"), (2, 1, "a"), (3, 2, "c"), (4, 3, "a")).toDF("id", "period", "y")
    val cv = PanelSplit(df, "period", nSplits = 2, testSize = 1)
    // train union = periods 1,2 -> labels {a, b, c}
    assert(CrossVal.classesUnion(df, cv, "y") == Seq("a", "b", "c"))
  }

  test("dropNaInY filters only train-side nulls before fit") {
    val df = Seq((1, 1, Some(2.0)), (2, 1, None), (3, 2, Some(4.0)), (4, 3, Some(6.0)))
      .toDF("id", "period", "y")
    val cv = PanelSplit(df, "period", nSplits = 2, testSize = 1)
    val models = CrossVal.crossValFit(new MeanRegressor().setLabelCol("y"), df, cv, "y",
      dropNaInY = true)
    // fold 0 train = period 1 -> y = [2.0, null] -> mean of non-null = 2.0
    assert(models.head.asInstanceOf[graft.ml.MeanRegressorModel].mean == 2.0)
  }

  // 8 periods x 5 entities; entity 0's features are all zero, so the
  // assembler writes it as a sparse vector
  private def featurePanel(snapshots: Seq[Int] = Seq(0)) = {
    val rows = for (s <- snapshots; p <- 1 to 8 if s == 0 || p <= s; e <- 0 to 4) yield {
      val x1 = if (e == 0) 0.0 else p * 1.7 + e * 0.3 + s * 0.01
      val x2 = if (e < 2) 0.0 else math.sin(p + e)
      val x3 = if (e == 0) 0.0 else e * e - p * 0.25
      (p * 10 + e, p, s, x1, x2, x3, 2.0 * x1 - x2 + 0.5 * x3 + math.cos(p * e + s))
    }
    new VectorAssembler().setInputCols(Array("x1", "x2", "x3")).setOutputCol("features")
      .transform(rows.toDF("id", "period", "snap", "x1", "x2", "x3", "y")).repartition(3)
  }

  /** (name, input, split): plain folds, folds whose test groups overlap, a
    * snapshot column, and an input that already has a `fold` column.
    */
  private lazy val layouts: Seq[(String, DataFrame, PanelSplit)] = {
    val plain = featurePanel()
    val snap = featurePanel(Seq(6, 7, 8))
    val withFold = plain.select(col("id") +: (col("id") % 3).as("fold") +:
      plain.columns.filter(_ != "id").map(col).toSeq: _*)
    Seq(
      ("plain", plain, PanelSplit(plain, "period", nSplits = 3, testSize = 1)),
      ("overlapping tests", plain,
        PanelSplit(plain, "period", nSplits = 3, testSize = 1, includeTrainInTest = true)),
      ("snapshot", snap, PanelSplit(snap, "period", snapshotCol = Some("snap"), nSplits = 3, testSize = 1)),
      ("fold column", withFold, PanelSplit(withFold, "period", nSplits = 2, testSize = 2)))
  }

  private def hasUnion(df: DataFrame) = df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Union])

  /** Row values with doubles and vectors as their bits, sorted. */
  private def bitRows(df: DataFrame): Seq[String] = {
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v: Vector => (v.getClass.getSimpleName, v.toArray.map(bits).toSeq)
      case other => other
    }
    df.collect().map(_.toSeq.map(bits).mkString("|")).sorted.toSeq
  }

  /** Predicts with `models` in one scan and, through subclasses of their
    * classes, with the per-fold union, on both groups; the outputs must be
    * equal in schema (names, order, types, nullability, metadata) and in
    * the bits of their sorted rows.
    */
  private def assertOneScanIsUnion(what: String, models: Seq[Transformer], df: DataFrame, cv: PanelSplit): Unit =
    Seq("test", "train").foreach { group =>
      val oneScan = CrossVal.crossValPredict(models, df, cv, group)
      val union = CrossVal.crossValPredict(models.map(Subclassed(_)), df, cv, group)
      withClue(s"$what, $group: ") {
        assert(!hasUnion(oneScan))
        assert(hasUnion(union))
        assert(oneScan.schema == union.schema)
        assert(oneScan.schema.last.name == "fold" || df.columns.exists(_.equalsIgnoreCase("fold")))
        assert(!oneScan.schema("fold").nullable)
        val rows = bitRows(oneScan)
        assert(rows.nonEmpty)
        assert(rows == bitRows(union))
      }
    }

  private def assertOneScanIsUnion(what: String, est: Estimator[_ <: Model[_]]): Unit =
    layouts.foreach { case (layout, df, cv) =>
      assertOneScanIsUnion(s"$what, $layout", CrossVal.crossValFit(est, df, cv, "y"), df, cv)
    }

  test("one-scan out-of-fold StandardScaler equals the per-fold union, every withMean/withStd") {
    for (withMean <- Seq(false, true); withStd <- Seq(false, true))
      assertOneScanIsUnion(s"withMean=$withMean withStd=$withStd", new StandardScaler()
        .setInputCol("features").setOutputCol("scaled").setWithMean(withMean).setWithStd(withStd))
  }

  test("one-scan out-of-fold OLS equals the per-fold union, fitted by moments or by L-BFGS") {
    val lr = new LinearRegression().setFeaturesCol("features").setLabelCol("y")
    assertOneScanIsUnion("moments", lr.copy(org.apache.spark.ml.param.ParamMap.empty).setSolver("normal"))
    assertOneScanIsUnion("l-bfgs", lr.copy(org.apache.spark.ml.param.ParamMap.empty)
      .setSolver("l-bfgs").setRegParam(0.1).setMaxIter(20))
  }

  test("one-scan out-of-fold MeanRegressor equals the per-fold union") {
    assertOneScanIsUnion("mean", new MeanRegressor().setLabelCol("y"))
  }

  test("a column named fold in another case: tagged in place as the union tags it, never a model's column") {
    val (_, plain, cv) = layouts.head
    val upper = plain.withColumnRenamed("id", "Fold")
    assertOneScanIsUnion("Fold column", CrossVal.crossValFit(new MeanRegressor().setLabelCol("y"), upper, cv, "y"),
      upper, cv)
    val writesFold = CrossVal.crossValFit(
      new StandardScaler().setInputCol("features").setOutputCol("FOLD"), plain, cv, "y")
    assert(hasUnion(CrossVal.crossValPredict(writesFold, plain, cv)))
  }

  test("one-scan and union agree on a split with no folds: an empty frame") {
    val df = featurePanel()
    val none = PanelSplit.fromFolds(Vector.empty, "period", None)
    val out = CrossVal.crossValPredict(Seq.empty, df, none)
    assert(out.schema.isEmpty && out.isEmpty)
    assert(none.foldRows(df).schema.isEmpty)
  }

  test("folds whose models differ in params, or of another kind, keep the union") {
    val (_, plain, cv) = layouts.head
    val df = plain.withColumn("features2", col("features"))
    val lr = new LinearRegression().setFeaturesCol("features").setLabelCol("y")
    val models = CrossVal.crossValFit(lr, df, cv, "y")
    assert(!hasUnion(CrossVal.crossValPredict(models, df, cv)))
    val other = models.head.asInstanceOf[org.apache.spark.ml.regression.LinearRegressionModel]
      .copy(org.apache.spark.ml.param.ParamMap.empty).setFeaturesCol("features2")
    val mixed = CrossVal.crossValPredict(other +: models.tail, df, cv)
    assert(hasUnion(mixed))
    assert(bitRows(mixed) == bitRows(CrossVal.crossValPredict(models, df, cv)))
    val ident = CrossVal.crossValFit(new graft.ml.IdentityRegressor().setFeatureCol("y"), df, cv, "y")
    assert(hasUnion(CrossVal.crossValPredict(ident, df, cv)))
  }
}
