package graft.cv

import graft.SparkTestBase
import graft.ml.MeanRegressor
import graft.pipeline.SequentialCVPipeline
import org.apache.spark.ml.{Estimator, Model, Transformer}
import org.apache.spark.ml.feature.{StandardScaler, StandardScalerModel, VectorAssembler}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.regression.{LinearRegression, LinearRegressionModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Folds fitted from one moment pass ([[FoldMoments]]) against spark.ml's
  * own `fit` on each fold's train rows.
  */
class FoldMomentsSpec extends SparkTestBase {
  private lazy val sp = spark
  import sp.implicits._

  /** Entities × periods × vintages (vintage s holds periods ≤ s), with
    * `features` from x1..x3, `wide` adding x4 = 1 (collinear with the
    * intercept; its std is exactly 0, so its normal equations are exactly
    * singular), y linear in x
    * plus noise (null where `yNull`), and weights in (0.5, 2.5).
    */
  private def panel(
      periods: Int = 10,
      entities: Int = 6,
      vintages: Boolean = false,
      yNull: Int => Boolean = _ => false,
      y: (Double, Double, Double, Double) => Double = (a, b, c, e) => 1.5 + 2 * a - b + 0.5 * c + e)
      : DataFrame = {
    val rnd = new scala.util.Random(11)
    val rows = for {
      s <- if (vintages) 1 to periods else Seq(periods)
      p <- 1 to (if (vintages) s else periods)
      e <- 0 until entities
    } yield {
      val (x1, x2, x3) = (rnd.nextGaussian() * 3 + p, rnd.nextGaussian(), rnd.nextDouble() * 10)
      val id = (s * 100 + p) * 100 + e
      (id, p, s, x1, x2, x3, 1.0,
        if (yNull(id)) None else Some(y(x1, x2, x3, rnd.nextGaussian() * 0.1)),
        0.5 + 2 * rnd.nextDouble())
    }
    val df = rows.toDF("id", "period", "snap", "x1", "x2", "x3", "x4", "y", "w")
    val withFeatures = new VectorAssembler().setInputCols(Array("x1", "x2", "x3"))
      .setOutputCol("features").transform(df)
    new VectorAssembler().setInputCols(Array("x1", "x2", "x3", "x4"))
      .setOutputCol("wide").transform(withFeatures).persist()
  }

  private def scaler = new StandardScaler().setInputCol("features").setOutputCol("scaled")
  private def ols = new LinearRegression().setFeaturesCol("features").setLabelCol("y").setSolver("normal")

  /** spark.ml's fit of each fold's train rows, as the per-fold path makes it. */
  private def perFold(est: Estimator[_ <: Model[_]], df: DataFrame, cv: PanelSplit,
      weightCol: Option[String] = None, dropNaInY: Boolean = false): Seq[Transformer] =
    cv.folds.map { f =>
      val base = df.filter(f.trainPredicate(cv.periodsCol, cv.snapshotCol))
      val train = if (dropNaInY) base.filter(col("y").isNotNull) else base
      val e = est.copy(ParamMap.empty)
      weightCol.foreach(w => e.set(e.getParam("weightCol"), w))
      e.fit(train).asInstanceOf[Transformer]
    }

  private def close(got: Double, want: Double, what: String): Unit =
    if (want == 0.0) assert(math.abs(got) <= 1e-12, s"$what: $got, want 0")
    else assert(math.abs(got - want) <= 1e-9 * math.abs(want), s"$what: $got, want $want")

  private def closeVec(got: Vector, want: Vector, what: String): Unit = {
    assert(got.size == want.size, what)
    (0 until want.size).foreach(i => close(got(i), want(i), s"$what($i)"))
  }

  private def assertSame(got: Seq[Transformer], want: Seq[Transformer]): Unit = {
    assert(got.size == want.size)
    got.zip(want).zipWithIndex.foreach {
      case ((g: StandardScalerModel, w: StandardScalerModel), i) =>
        closeVec(g.mean, w.mean, s"fold $i mean")
        closeVec(g.std, w.std, s"fold $i std")
      case ((g: LinearRegressionModel, w: LinearRegressionModel), i) =>
        closeVec(g.coefficients, w.coefficients, s"fold $i coefficients")
        close(g.intercept, w.intercept, s"fold $i intercept")
      case ((g, w), i) => fail(s"fold $i: ${g.getClass} vs ${w.getClass}")
    }
  }

  /** Fits through `crossValFit`, checks it took one job, and compares. */
  private def assertMoments(est: Estimator[_ <: Model[_]], df: DataFrame, cv: PanelSplit,
      weightCol: Option[String] = None, dropNaInY: Boolean = false): Unit = {
    val (got, work) = jobsDuring(
      CrossVal.crossValFit(est, df, cv, "y", weightCol = weightCol, dropNaInY = dropNaInY))
    assert(work.jobs == 1, s"moment fit of ${est.getClass.getSimpleName} ran ${work.jobs} jobs")
    assertSame(got, perFold(est, df, cv, weightCol, dropNaInY))
  }

  test("StandardScaler: every withMean/withStd fold equals spark.ml's fit, from one job") {
    val df = panel()
    val cvs = Seq(
      PanelSplit(df, "period", nSplits = 4, testSize = 1, gap = 1),
      PanelSplit(df, "period", nSplits = 3, testSize = 2, includeTrainInTest = true),
      PanelSplit(df, "period", nSplits = 4, testSize = 1, maxTrainSize = Some(3)))
    for (cv <- cvs; withMean <- Seq(false, true); withStd <- Seq(false, true))
      assertMoments(scaler.setWithMean(withMean).setWithStd(withStd), df, cv)
  }

  test("OLS: weightCol, fitIntercept, standardization and solver equal spark.ml's fit") {
    val df = panel()
    val cv = PanelSplit(df, "period", nSplits = 4, testSize = 1, gap = 1)
    for (solver <- Seq("normal", "auto"); intercept <- Seq(true, false);
         standardize <- Seq(true, false); weight <- Seq(None, Some("w")))
      assertMoments(ols.setSolver(solver).setFitIntercept(intercept).setStandardization(standardize),
        df, cv, weightCol = weight)
  }

  test("snapshot folds and dropSplits folds fit as spark.ml does") {
    val df = panel(vintages = true)
    val snap = PanelSplit(df, "period", snapshotCol = Some("snap"), nSplits = 3, testSize = 2)
    assertMoments(scaler, df, snap)
    assertMoments(ols, df, snap, weightCol = Some("w"))
    // a constant label in periods 1-3 leaves fold 0 degenerate
    val flat = panel()
      .withColumn("y", when(col("period") <= 3, lit(1.0)).otherwise(col("y")))
    val kept = PanelSplit(flat, "period", nSplits = 7, testSize = 1, maxTrainSize = Some(3))
      .dropSplits(flat, "y")
    assert(kept.nSplits == 6)
    assertMoments(ols, flat, kept)
    assertMoments(scaler.setWithMean(true), flat, kept)
  }

  test("dropNaInY drops null labels from every fold before the moments") {
    val df = panel(yNull = _ % 7 == 0)
    val cv = PanelSplit(df, "period", nSplits = 3, testSize = 2)
    assertMoments(ols, df, cv, dropNaInY = true)
    assertMoments(ols.setFitIntercept(false), df, cv, weightCol = Some("w"), dropNaInY = true)
    assertMoments(scaler.setWithMean(true), df, cv, dropNaInY = true)
  }

  test("a constant label takes spark.ml's shortcut; a singular feature its QuasiNewton fallback") {
    val cv = (df: DataFrame) => PanelSplit(df, "period", nSplits = 3, testSize = 1)
    val constant = panel(y = (_, _, _, _) => 4.0)
    assertMoments(ols, constant, cv(constant))
    assertMoments(ols.setFitIntercept(false), constant, cv(constant))
    val zero = panel(y = (_, _, _, _) => 0.0)
    assertMoments(ols.setFitIntercept(false), zero, cv(zero))
    val df = panel()
    for (solver <- Seq("normal", "auto"); intercept <- Seq(true, false))
      assertMoments(ols.setFeaturesCol("wide").setSolver(solver).setFitIntercept(intercept), df, cv(df))
  }

  test("invalid input fails with spark.ml's own error") {
    def failure(body: => Any): (Class[_], Class[_], String) = {
      val e = intercept[Throwable](body)
      // a failed job's message names its stage, task and stack: compare the
      // thrown class, and the class and message of its root cause
      val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
      (e.getClass, root.getClass, root.getMessage)
    }
    def same(est: Estimator[_ <: Model[_]], df: DataFrame, cv: PanelSplit): Unit = {
      val want = failure(perFold(est, df, cv))
      val got = failure(CrossVal.crossValFit(est, df, cv, "y"))
      assert(got == want)
    }
    val nulls = panel(yNull = _ % 5 == 0)
    same(ols, nulls, PanelSplit(nulls, "period", nSplits = 2, testSize = 1))
    // the axis names a period with no rows, so fold 0's train side is empty
    val df = panel()
    val empty = PanelSplit.fromAxis((0 +: (1 to 10)).toVector.map(p => p: Any), "period",
      nSplits = 10, testSize = 1)
    assert(df.filter(empty.folds.head.trainPredicate("period")).isEmpty)
    same(ols, df, empty)
    same(scaler, df, empty)
  }

  test("moment-fitted models carry the estimator's uid, params and parent, and no summary") {
    val df = panel()
    val cv = PanelSplit(df, "period", nSplits = 2, testSize = 1)
    val est = ols.setFitIntercept(false).setPredictionCol("yhat")
    CrossVal.crossValFit(est, df, cv, "y").foreach { t =>
      val m = t.asInstanceOf[LinearRegressionModel]
      assert(m.uid == est.uid && m.getFitIntercept == false && m.getPredictionCol == "yhat")
      assert(m.getSolver == "normal" && m.parent.uid == est.uid)
      assert(!m.hasSummary)
      assert(intercept[org.apache.spark.SparkException](m.summary).getMessage
        .contains("No training summary available"))
      assert(m.transform(df).columns.contains("yhat"))
    }
    val s = CrossVal.crossValFit(scaler.setWithMean(true), df, cv, "y").head
      .asInstanceOf[StandardScalerModel]
    assert(s.getWithMean && s.getOutputCol == "scaled" && s.getInputCol == "features")
  }

  test("other estimators and params keep one fit per fold") {
    val df = panel()
    val cv = PanelSplit(df, "period", nSplits = 3, testSize = 1)
    for (est <- Seq[Estimator[_ <: Model[_]]](ols.setRegParam(0.1), ols.setSolver("l-bfgs"),
        ols.setSolver("auto").setLoss("huber"), new MeanRegressor().setLabelCol("y"))) {
      val (models, work) = jobsDuring(CrossVal.crossValFit(est, df, cv, "y"))
      assert(work.jobs >= 3, s"${est.explainParams()} ran ${work.jobs} jobs")
      assert(models.size == 3)
    }
  }

  test("a two-step pipeline fits in two jobs: one per CV step") {
    val df = panel()
    val cv1 = PanelSplit(df, "period", nSplits = 2, testSize = 4)
    val cv2 = PanelSplit(df, "period", nSplits = 2, testSize = 1,
      uniquePeriods = Some(cv1.folds.flatMap(_.testPeriods)))
    val pipe = new SequentialCVPipeline(
      Seq[(String, Estimator[_ <: Model[_]])]("scale" -> scaler, "ols" -> ols.setFeaturesCol("scaled")),
      Seq(Some(cv1), Some(cv2)))
    val (_, work) = jobsDuring(pipe.fit(df))
    assert(work.jobs == 2)
  }
}
