package graft.search

import graft.SparkTestBase
import graft.cv.PanelSplit
import graft.metrics.Scorers
import graft.ml.MeanRegressor
import graft.pipeline.SequentialCVPipeline
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.DataFrame

class SearchSpec extends SparkTestBase {
  private lazy val sp = spark
  import sp.implicits._

  private def est(e: Estimator[_ <: Model[_]]): Estimator[_ <: Model[_]] = e

  private def panel = {
    // y uncorrelated with period (like tests/df_generation.py's year): the
    // unshifted train mean is the best constant predictor
    val rows = for (p <- 1 to 10; i <- 0 to 3) yield (p * 10 + i, p, i.toDouble)
    rows.toDF("id", "period", "y")
  }

  private def pipe(df: org.apache.spark.sql.DataFrame) = {
    val cv = PanelSplit(df, "period", nSplits = 3, testSize = 1)
    new SequentialCVPipeline(
      Seq("mu" -> est(new MeanRegressor().setLabelCol("y"))), Seq(Some(cv)))
  }

  // 6 entities x 12 periods, two features, y linear in them plus a wobble
  private lazy val lrPanel: DataFrame = {
    val rows = for (p <- 1 to 12; e <- 0 to 5) yield {
      val (x1, x2) = (math.sin(p * 1.3 + e), ((e * 7 + p * 3) % 5) * 0.5)
      (e * 100 + p, p, x1, x2, 1.5 + 2.0 * x1 - 0.7 * x2 + 0.2 * math.cos(p * e + 0.3))
    }
    val df = new VectorAssembler().setInputCols(Array("x1", "x2")).setOutputCol("features")
      .transform(rows.toDF("id", "period", "x1", "x2", "y")).cache()
    df.count()
    df
  }

  /** Scaler on 2 folds feeding ridge OLS on 2 folds of the scaler's
    * out-of-fold periods. Unstandardized ridge makes both steps' params
    * move every score.
    */
  private def lrPipe(df: DataFrame) = {
    val cv1 = PanelSplit(df, "period", nSplits = 2, testSize = 3)
    val axis2 = cv1.folds.flatMap(_.testPeriods).sortBy(_.asInstanceOf[Int]).toVector
    val cv2 = PanelSplit(df, "period", nSplits = 2, testSize = 1, uniquePeriods = Some(axis2))
    new SequentialCVPipeline(Seq(
      "scale" -> est(new StandardScaler().setInputCol("features").setOutputCol("scaled")),
      "ols" -> est(new LinearRegression().setFeaturesCol("scaled").setLabelCol("y")
        .setSolver("normal").setStandardization(false))),
      Seq(Some(cv1), Some(cv2)))
  }

  private val lrGrid: Map[String, Seq[Any]] =
    Map("scale__withStd" -> Seq(false, true), "ols__regParam" -> Seq(0.1, 1.0))
  private val lrScoring = Seq("neg_mean_squared_error", "r2", "d2_absolute_error_score")

  /** Every candidate's scores, ranks and the best params equal those of an
    * independent `copyWith(params).fit(df)` scored by `Scorer.score`.
    */
  private def assertMatchesIndependentFits(search: BaseSearch, df: DataFrame): Unit = {
    val want = search.results.map { r =>
      val fitted = search.pipeline.copyWith(r.params).fit(df)
      r.index -> lrScoring.map(m => m -> Scorers.get(m).score(fitted, df, "y")).toMap
    }.toMap
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    lrScoring.foreach { m =>
      val means = want.map { case (i, s) => i -> mean(s(m)) }
      val sorted = means.values.toSeq.sorted
      assert(sorted.zip(sorted.tail).forall { case (a, b) => b - a > 1e-9 },
        s"candidates too close to rank robustly on $m: $means")
      search.results.foreach { r =>
        assert(r.splitScores(m).size == want(r.index)(m).size)
        r.splitScores(m).zip(want(r.index)(m)).foreach { case (got, exp) =>
          assert(math.abs(got - exp) <= 1e-12, s"candidate ${r.index} $m: $got vs $exp")
        }
        assert(math.abs(r.meanScore(m) - means(r.index)) <= 1e-12)
        assert(r.rank(m) == 1 + means.values.count(_ > means(r.index)))
      }
    }
    assert(search.bestParams == search.results(want.maxBy(_._2(lrScoring.head).sum)._1).params)
  }

  test("prefix-shared search equals independent per-candidate fits") {
    val df = lrPanel
    // 2 prefixes (scale__withStd), each shared by 2 candidates
    val gs = new GridSearch(lrPipe(df), lrGrid, lrScoring, "y", parallelism = 4)
    gs.fit(df)
    assert(gs.results.size == 4 && gs.results.forall(!_.failed))
    assertMatchesIndependentFits(gs, df)
    // 3 of the 4: one prefix shared by 2 candidates, the other used by 1
    val rs = new RandomizedSearch(lrPipe(df), lrGrid, nIter = 3, seed = 5L,
      scoring = lrScoring, labelCol = "y", parallelism = 2)
    rs.fit(df)
    assert(rs.results.groupBy(_.params("scale__withStd")).values.map(_.size).toSet == Set(1, 2))
    assertMatchesIndependentFits(rs, df)
  }

  test("a failing prefix fails every candidate sharing it; error_score=raise rethrows") {
    val df = lrPanel
    val grid = Map("scale__inputCol" -> Seq("features", "missing"), "ols__regParam" -> Seq(0.1, 1.0))
    val gs = new GridSearch(lrPipe(df), grid, Seq("neg_mean_squared_error"), "y",
      refit = false, errorScore = -1e6, parallelism = 2)
    gs.fit(df)
    val (bad, good) = gs.results.partition(_.params("scale__inputCol") == "missing")
    assert(bad.size == 2 && bad.forall(r => r.failed &&
      r.splitScores("neg_mean_squared_error") == Seq(-1e6, -1e6)))
    assert(bad.map(_.error).distinct.size == 1 && bad.head.error.isDefined)
    assert(good.size == 2 && good.forall(!_.failed))
    assert(gs.bestParams("scale__inputCol") == "features")

    val raising = new GridSearch(lrPipe(df), grid, Seq("neg_mean_squared_error"), "y",
      refit = false, parallelism = 2, raiseOnError = true)
    val e = intercept[IllegalStateException](raising.fit(df))
    assert(e.getMessage.contains("error_score=raise") && e.getCause != null)
  }

  test("search leaves nothing persisted behind") {
    val df = lrPanel
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    // refit=true also runs a plain pipeline.fit; d2 makes scoring persist
    val (_, cached) = rddsCachedDuring {
      new GridSearch(lrPipe(df), lrGrid, lrScoring, "y", parallelism = 2).fit(df)
    }
    assert(cached > 0, "the search should cache its shared prefixes")
    assert(sc.getPersistentRDDs.size == before)
    val failing = new GridSearch(lrPipe(df), Map("scale__inputCol" -> Seq("features", "missing")),
      Seq("neg_mean_squared_error"), "y", refit = false, parallelism = 2, raiseOnError = true)
    intercept[IllegalStateException](failing.fit(df))
    assert(sc.getPersistentRDDs.size == before)
  }

  test("GridSearch: best candidate by mean score, rank ties->min, refit") {
    val df = panel
    val gs = new GridSearch(pipe(df),
      Map("mu__shift" -> Seq(0.0, 5.0, 100.0)),
      scoring = Seq("neg_mean_squared_error"), labelCol = "y")
    gs.fit(df)
    assert(gs.results.size == 3)
    assert(gs.bestParams == Map("mu__shift" -> 0.0))
    assert(gs.results.sortBy(_.rank("neg_mean_squared_error"))
      .map(m => m.params("mu__shift")) == Seq(0.0, 5.0, 100.0))
    assert(gs.bestEstimator.isDefined && gs.bestEstimator.get.isFitted)
    // cv_results frame shape
    val res = gs.cvResults(spark)
    assert(res.columns.toSet == Set("candidate", "params",
      "mean_fit_time", "mean_score_time",
      "split0_test_score", "split1_test_score", "split2_test_score",
      "mean_test_score", "std_test_score", "rank_test_score"))
    assert(res.count() == 3)
  }

  test("failed candidates get errorScore and do not win; all-fail raises") {
    val df = panel
    // shift param exists; use an invalid param name via a custom failing wrapper instead:
    // simulate failure with a pipeline whose copyWith rejects the key
    val gs = new GridSearch(pipe(df),
      Map("mu__shift" -> Seq(0.0), "mu__bogus" -> Seq(1)),
      scoring = Seq("neg_mean_squared_error"), labelCol = "y")
    assertThrows[IllegalStateException](gs.fit(df)) // every candidate fails
  }

  test("multimetric scoring: per-metric columns, named refit metric picks best") {
    val df = panel
    val gs = new GridSearch(pipe(df),
      Map("mu__shift" -> Seq(0.0, 5.0)),
      scoring = Seq("neg_mean_squared_error", "neg_mean_absolute_error"),
      labelCol = "y", refitMetric = Some("neg_mean_absolute_error"))
    gs.fit(df)
    val cols = gs.cvResults(spark).columns.toSet
    assert(cols.contains("mean_test_neg_mean_squared_error"))
    assert(cols.contains("rank_test_neg_mean_absolute_error"))
    assert(gs.bestParams == Map("mu__shift" -> 0.0))
    assert(gs.results.head.meanScore.keySet ==
      Set("neg_mean_squared_error", "neg_mean_absolute_error"))
  }

  test("named averaged scorers (f1_macro etc.) drive through search end to end") {
    // binary-ish multiclass: y in {0,1}, ThresholdClassifier prediction
    val rows = for (p <- 1 to 10; i <- 0 to 3) yield (p * 10 + i, p, (i / 2).toDouble, i.toDouble)
    val df = rows.toDF("id", "period", "y", "x")
    val cv = graft.cv.PanelSplit(df, "period", nSplits = 3, testSize = 1)
    val pipe = new SequentialCVPipeline(
      Seq("clf" -> est(new graft.ml.ThresholdClassifier()
        .setFeatureCol("x").setLabelCol("y"))), Seq(Some(cv)))
    val gs = new GridSearch(pipe, Map("clf__predictionCol" -> Seq("prediction")),
      scoring = Seq("f1_macro", "precision_weighted", "recall_micro"), labelCol = "y")
    gs.fit(df)
    val r = gs.results.head
    assert(r.splitScores.keySet == Set("f1_macro", "precision_weighted", "recall_micro"))
    assert(r.splitScores.values.forall(s => s.size == 3 && s.forall(v => v >= 0.0 && v <= 1.0)))
    // x = i, threshold = mean(i) = 1.5 -> pred = (i>1.5) = i/2 = y -> perfect scores
    assert(r.meanScore("recall_micro") == 1.0)
  }

  test("fused scoring: 4 plain metrics cost no more stages than 1 (stage-count evidence)") {
    val df = panel.cache(); df.count()
    def stagesFor(scoring: Seq[String]): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          counter.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        new GridSearch(pipe(df), Map("mu__shift" -> Seq(0.0)),
          scoring = scoring, labelCol = "y", refit = false).fit(df)
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      counter.get
    }
    val one = stagesFor(Seq("neg_mean_squared_error"))
    val four = stagesFor(Seq("neg_mean_squared_error", "neg_mean_absolute_error",
      "neg_root_mean_squared_error", "neg_mean_absolute_percentage_error"))
    // all four are plain aggregates, computed in one groupBy(fold).agg
    assert(four <= one,
      s"plain metrics are no longer fused: 1 metric -> $one stages, 4 -> $four")
  }

  test("error_score=raise fails fast with the candidate's error") {
    val df = panel
    val gs = new GridSearch(pipe(df),
      Map("mu__bogus" -> Seq(1)),
      scoring = Seq("neg_mean_squared_error"), labelCol = "y",
      raiseOnError = true)
    val e = intercept[IllegalStateException](gs.fit(df))
    assert(e.getMessage.contains("error_score=raise"))
    assert(e.getCause != null) // original failure preserved
  }

  test("clustering scorer (v_measure_score) drives a GridSearch over a clustering step") {
    // two label groups separated in feature space: nBins=2 clusters them
    // perfectly (v_measure 1), nBins=1 collapses everything (v_measure 0)
    val rows = for (p <- 1 to 10; i <- 0 to 3)
      yield (p * 10 + i, p, if (i < 2) 0.0 else 1.0, if (i < 2) i * 1.0 else 12.0 + i)
    val df = rows.toDF("id", "period", "label", "feature")
    val cv = PanelSplit(df, "period", nSplits = 3, testSize = 1)
    val pipeline = new SequentialCVPipeline(
      Seq("bin" -> est(new graft.ml.BinClusterer()
        .setFeatureCol("feature").setLabelCol("label"))), Seq(Some(cv)))
    val gs = new GridSearch(pipeline,
      Map("bin__nBins" -> Seq(1.0, 2.0)),
      scoring = Seq("v_measure_score"), labelCol = "label")
    gs.fit(df)
    assert(gs.bestParams == Map("bin__nBins" -> 2.0))
    val byBins = gs.results.map(r => r.params("bin__nBins") -> r.meanScore("v_measure_score")).toMap
    assert(math.abs(byBins(2.0) - 1.0) < 1e-9, s"separating binning should score 1: $byBins")
    assert(math.abs(byBins(1.0) - 0.0) < 1e-9, s"single cluster should score 0: $byBins")
    // cvResults carries the clustering metric's per-split and summary columns
    val cols = gs.cvResults(spark).columns.toSet
    assert(cols.contains("mean_test_score") && cols.contains("rank_test_score")
      && cols.contains("split0_test_score"))
  }

  test("custom callable scorer flows through search and cvResults") {
    import org.apache.spark.sql.functions._
    val df = panel
    // user-defined metric: mean absolute error capped at 2.0 per row
    val capped = graft.metrics.Metrics.MetricSpec(
      "capped_mae", greaterIsBetter = false,
      (l, p) => avg(least(abs(l - p), lit(2.0))))
    val gs = new GridSearch(pipe(df),
      Map("mu__shift" -> Seq(0.0, 100.0)),
      scoring = Seq("capped_mae", "neg_mean_squared_error"), labelCol = "y",
      extraScorers = Map("capped_mae" -> graft.metrics.Scorers.custom(capped)))
    gs.fit(df)
    // greaterIsBetter=false -> sign-flipped like neg_* scorers
    assert(gs.results.forall(_.meanScore("capped_mae") <= 0.0))
    // shift=100 saturates the cap: every |y - p| > 2 -> score exactly -2
    val shifted = gs.results.find(_.params("mu__shift") == 100.0).get
    assert(shifted.meanScore("capped_mae") == -2.0)
    val cols = gs.cvResults(spark).columns.toSet
    assert(cols.contains("mean_test_capped_mae") && cols.contains("rank_test_capped_mae"))
    assert(gs.bestParams == Map("mu__shift" -> 0.0))
  }

  test("RandomizedSearch samples continuous distributions deterministically") {
    val df = panel
    def run() = {
      val rs = new RandomizedSearch(pipe(df),
        Map("mu__shift" -> UniformDist(0.0, 10.0)), nIter = 4, seed = 7L,
        scoring = Seq("neg_mean_squared_error"), labelCol = "y")
      rs.fit(df); rs
    }
    val (a, b) = (run(), run())
    assert(a.results.size == 4)
    val draws = a.results.map(_.params("mu__shift").asInstanceOf[Double])
    assert(draws.forall(v => v >= 0.0 && v < 10.0))
    assert(draws.distinct.size == 4) // continuous draws — no accidental repeats
    assert(draws == b.results.map(_.params("mu__shift").asInstanceOf[Double])) // seeded
    // log-uniform and int draws stay in range too
    val rng = new scala.util.Random(1L)
    val lg = Seq.fill(100)(LogUniformDist(0.01, 100.0).sample(rng).asInstanceOf[Double])
    assert(lg.forall(v => v >= 0.01 && v < 100.0))
    val is = Seq.fill(100)(IntUniformDist(3, 7).sample(rng).asInstanceOf[Int])
    assert(is.forall(v => v >= 3 && v <= 7) && is.distinct.sorted == Seq(3, 4, 5, 6, 7))
  }

  test("RandomizedSearch: exhaustive when grid <= nIter, seeded subset otherwise") {
    val df = panel
    val rsAll = new RandomizedSearch(pipe(df),
      Map("mu__shift" -> Seq(0.0, 1.0)), nIter = 5, seed = 42L,
      scoring = Seq("neg_mean_squared_error"), labelCol = "y")
    rsAll.fit(df)
    assert(rsAll.results.size == 2)

    val rsSub = new RandomizedSearch(pipe(df),
      Map("mu__shift" -> (0 to 9).map(_.toDouble)), nIter = 3, seed = 42L,
      scoring = Seq("neg_mean_squared_error"), labelCol = "y")
    rsSub.fit(df)
    assert(rsSub.results.size == 3)
    // deterministic under the same seed
    val rsSub2 = new RandomizedSearch(pipe(df),
      Map("mu__shift" -> (0 to 9).map(_.toDouble)), nIter = 3, seed = 42L,
      scoring = Seq("neg_mean_squared_error"), labelCol = "y")
    rsSub2.fit(df)
    assert(rsSub.results.map(_.params) == rsSub2.results.map(_.params))
  }
}
