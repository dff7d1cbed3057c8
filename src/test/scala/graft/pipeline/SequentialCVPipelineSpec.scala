package graft.pipeline

import graft.SparkTestBase
import graft.cv.PanelSplit
import graft.ml.{IdentityRegressor, MeanRegressor}
import graft.search.GridSearch
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.sql.functions._

class SequentialCVPipelineSpec extends SparkTestBase {
  private lazy val sp = spark
  import sp.implicits._

  private def est(e: Estimator[_ <: Model[_]]): Estimator[_ <: Model[_]] = e

  // 25 periods x 4 rows, y = row id — the identity-alignment oracle
  // (reference tests/test_pipeline.py:224-255)
  private def identityPanel = {
    val rows = for (p <- 1 to 25; i <- 0 to 3) yield ((p - 1) * 4 + i, p, ((p - 1) * 4 + i).toDouble)
    rows.toDF("id", "period", "y")
  }

  test("out-of-fold identity: each test row gets its own value back (test_indices_aligned analog)") {
    val df = identityPanel
    val cv = PanelSplit(df, "period", nSplits = 5, testSize = 2)
    val pipe = new SequentialCVPipeline(
      Seq("ident" -> est(new IdentityRegressor().setFeatureCol("y"))),
      Seq(Some(cv)))
    pipe.fit(df)
    val out = pipe.transform(df).select("id", "y", "prediction", "fold")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getInt(3)))
    // rows in test folds: last 10 periods (5 folds x 2)
    assert(out.length == 40)
    out.foreach { case (_, y, pred, _) => assert(pred == y) }
    // fold assignment: period 16-17 -> fold 0 ... 24-25 -> fold 4
    assert(out.map(_._4).distinct.sorted.toVector == Vector(0, 1, 2, 3, 4))
  }

  test("two-step pipeline: CV mean step feeds identity final step; out-of-fold means are leak-free") {
    val df = Seq(
      (1, 1, 1.0), (2, 1, 3.0),   // period 1: mean 2.0
      (3, 2, 5.0), (4, 2, 7.0),   // period 2: mean 6.0
      (5, 3, 9.0), (6, 3, 11.0),  // period 3
      (7, 4, 13.0), (8, 4, 15.0)  // period 4
    ).toDF("id", "period", "y")
    val cv = PanelSplit(df, "period", nSplits = 2, testSize = 1)
    val pipe = new SequentialCVPipeline(
      Seq(
        "mu" -> est(new MeanRegressor().setLabelCol("y").setPredictionCol("mu")),
        "out" -> est(new IdentityRegressor().setFeatureCol("mu"))),
      Seq(Some(cv), None))
    pipe.fit(df)
    val out = pipe.transform(df).select("id", "prediction")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    // fold 0: train periods {1,2} mean = 4.0 -> test period 3 rows
    // fold 1: train periods {1,2,3} mean = 6.0 -> test period 4 rows
    assert(out == Map(5 -> 4.0, 6 -> 4.0, 7 -> 6.0, 8 -> 6.0))
  }

  test("score: per-fold for CV last step; single score when last step has no CV") {
    val df = identityPanel
    val cv = PanelSplit(df, "period", nSplits = 3, testSize = 1)
    val cvPipe = new SequentialCVPipeline(
      Seq("ident" -> est(new IdentityRegressor().setFeatureCol("y"))), Seq(Some(cv)))
    cvPipe.fit(df)
    val scores = cvPipe.score(df, "mean_squared_error", "y")
    assert(scores == Seq(0.0, 0.0, 0.0))

    val nocv = new SequentialCVPipeline(
      Seq("ident" -> est(new IdentityRegressor().setFeatureCol("y"))), Seq(None))
    nocv.fit(df)
    assert(nocv.score(df, "mean_squared_error", "y") == Seq(0.0))
    // neg scorer sign flip
    assert(nocv.score(df, "neg_mean_squared_error", "y") == Seq(-0.0) ||
      nocv.score(df, "neg_mean_squared_error", "y") == Seq(0.0))
  }

  test("passthrough steps are skipped (pipeline.py:686-719)") {
    val df = identityPanel
    val pipe = new SequentialCVPipeline(
      Seq("skip" -> null, "ident" -> est(new IdentityRegressor().setFeatureCol("y"))),
      Seq(None, None))
    pipe.fit(df)
    assert(pipe.transform(df).select("prediction").as[Double].collect().toSet ==
      df.select("y").as[Double].collect().toSet)
  }

  test("save/load round-trips structure and fitted state (versioned directory)") {
    val df = identityPanel
    val cv = PanelSplit(df, "period", nSplits = 3, testSize = 1)
    val pipe = new SequentialCVPipeline(
      Seq("mu" -> est(new MeanRegressor().setLabelCol("y"))), Seq(Some(cv)))
    pipe.fit(df)
    val before = pipe.transform(df).select("id", "prediction")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    val path = new java.io.File(sys.props("java.io.tmpdir"), s"graft_pipe_${System.nanoTime()}").getPath
    pipe.save(path)
    // versioned layout: a manifest + per-stage MLWritable dirs, NOT a blob
    assert(new java.io.File(path, "manifest.json").isFile)
    assert(new java.io.File(path, "step0/fold0/ml/metadata.json").isFile)
    val loaded = SequentialCVPipeline.load(path)
    assert(loaded.isFitted && loaded.nScoreSplits == 3)
    val after = loaded.transform(df).select("id", "prediction")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(before == after)
  }

  test("save/load delegates to spark.ml MLWritable stages (LinearRegression)") {
    val df = identityPanel
      .withColumn("features",
        org.apache.spark.ml.functions.array_to_vector(array(col("y"))))
    val cv = PanelSplit(df, "period", nSplits = 3, testSize = 1)
    val lr = new org.apache.spark.ml.regression.LinearRegression()
      .setFeaturesCol("features").setLabelCol("y").setSolver("normal").setRegParam(0.0)
    val pipe = new SequentialCVPipeline(
      Seq("lr" -> est(lr)), Seq(Some(cv)))
    pipe.fit(df)
    val before = pipe.transform(df).select("id", "prediction")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    val path = new java.io.File(sys.props("java.io.tmpdir"), s"graft_pipe_lr_${System.nanoTime()}").getPath
    pipe.save(path)
    // the fold models are stock spark.ml LinearRegressionModel saves
    assert(new java.io.File(path, "step0/fold0/ml/metadata").exists)
    val loaded = SequentialCVPipeline.load(path)
    val after = loaded.transform(df).select("id", "prediction")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(before == after)
  }

  test("round-2 fixture pipeline loads (cross-version durability)") {
    val fixture = new java.io.File("src/test/resources/fixtures/pipeline_v1")
    assume(fixture.isDirectory, "fixture not yet generated")
    val loaded = SequentialCVPipeline.load(fixture.getPath)
    assert(loaded.isFitted && loaded.nScoreSplits == 3)
    // the fixture was fitted on identityPanel; its per-fold means are fixed
    val out = loaded.transform(identityPanel).select("id", "prediction")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(out.nonEmpty)
    // fixture cv: nSplits=3, testSize=1 over periods 1..25 → fold 0 trains
    // on periods 1..22 and tests period 23; spot-check its fitted mean
    val expected = identityPanel.filter(col("period") <= 22)
      .agg(avg(col("y"))).head().getDouble(0)
    val foldTestIds = identityPanel.filter(col("period") === 23)
      .select("id").as[Int].collect()
    foldTestIds.foreach { id => assert(math.abs(out(id) - expected) < 1e-9) }
  }

  test("copyWith applies step__param overrides to the right step only") {
    val pipe = new SequentialCVPipeline(
      Seq("mu" -> est(new MeanRegressor().setLabelCol("y"))), Seq(None))
    val shifted = pipe.copyWith(Map("mu__shift" -> 5.0))
    val df = Seq((1, 1, 2.0), (2, 2, 4.0)).toDF("id", "period", "y")
    shifted.fit(df)
    val preds = shifted.transform(df).select("prediction").as[Double].collect()
    assert(preds.forall(_ == 8.0)) // mean 3 + shift 5
    assertThrows[IllegalArgumentException](pipe.copyWith(Map("mu__nope" -> 1)).fit(df))
  }

  /** CV mean step feeding a second mean step, whole or CV over the first
    * step's out-of-fold periods, with passthroughs in between. The second
    * step's fit reads the first step's output.
    */
  private def stackedPipes(df: org.apache.spark.sql.DataFrame): Seq[() => SequentialCVPipeline] = {
    val cv1 = PanelSplit(df, "period", nSplits = 3, testSize = 3)
    val axis2 = cv1.folds.flatMap(_.testPeriods).sortBy(_.asInstanceOf[Int]).toVector
    val cv2 = PanelSplit(df, "period", nSplits = 2, testSize = 2, uniquePeriods = Some(axis2))
    def mu = est(new MeanRegressor().setLabelCol("y").setPredictionCol("mu"))
    def out = est(new MeanRegressor().setLabelCol("y"))
    Seq(
      () => new SequentialCVPipeline(Seq("mu" -> mu, "out" -> out), Seq(Some(cv1), None)),
      () => new SequentialCVPipeline(Seq("mu" -> mu, "out" -> out), Seq(Some(cv1), Some(cv2))),
      () => new SequentialCVPipeline(Seq("mu" -> mu, "skip" -> null, "out" -> out, "tail" -> null),
        Seq(Some(cv1), None, Some(cv2), None)))
  }

  test("fitTransform returns the rows fit(df).transform(df) returns") {
    val df = identityPanel
    stackedPipes(df).foreach { mk =>
      val a = mk()
      val viaFit = a.fitTransform(df)
      assert(a.isFitted)
      val viaTransform = mk().fit(df).transform(df)
      assert(viaFit.columns.toSeq == viaTransform.columns.toSeq)
      def rows(out: org.apache.spark.sql.DataFrame) = out.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(rows(viaFit).nonEmpty && rows(viaFit) == rows(viaTransform))
    }
  }

  test("fit caches intermediate CV outputs only while later steps fit") {
    val df = identityPanel.cache()
    df.count()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    stackedPipes(df).foreach { mk =>
      val (_, cached) = rddsCachedDuring(mk().fit(df))
      assert(cached > 0, "the mean step's out-of-fold output should be cached for the next step")
      assert(sc.getPersistentRDDs.size == before)
      mk().fitTransform(df).count()
      assert(sc.getPersistentRDDs.size == before)
    }
    df.unpersist()
  }

  test("an input that already has a fold column gives the scores of the same input without it") {
    val plain = identityPanel
    val tagged = plain.withColumn("fold", lit(9))
    stackedPipes(plain).foreach { mk =>
      val out = mk().fit(tagged).transform(tagged)
      assert(out.columns.count(_ == "fold") == 1)
      assert(mk().fitTransform(tagged).columns.count(_ == "fold") == 1)
      def scores(df: org.apache.spark.sql.DataFrame) = mk().fit(df).score(df, "mean_squared_error", "y")
      assert(scores(tagged) == scores(plain))
      def searched(df: org.apache.spark.sql.DataFrame) = {
        val search = new GridSearch(mk(), Map("out__shift" -> Seq(0.0, 1.0)),
          Seq("neg_mean_squared_error"), "y", refit = false)
        search.fit(df).results.map(r => (r.failed, r.splitScores))
      }
      val viaSearch = searched(tagged)
      assert(viaSearch.forall(!_._1))
      assert(viaSearch == searched(plain))
    }
  }

  test("a scaler -> OLS pipeline predicts out of fold in one scan; other per-fold models keep the union") {
    import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
    import org.apache.spark.ml.regression.LinearRegression
    val raw = for (p <- 1 to 12; e <- 0 to 5) yield (p * 10 + e, p, p * 0.5 + e, math.sin(p * e), p + e * e * 0.1)
    val df = new VectorAssembler().setInputCols(Array("x1", "x2")).setOutputCol("features")
      .transform(raw.toDF("id", "period", "x1", "x2", "y")).repartition(4).cache()
    df.count()
    val cv1 = PanelSplit(df, "period", nSplits = 2, testSize = 4)
    val cv2 = PanelSplit(df, "period", nSplits = 2, testSize = 2,
      uniquePeriods = Some(cv1.folds.flatMap(_.testPeriods)))
    def hasUnion(out: org.apache.spark.sql.DataFrame) =
      out.queryExecution.optimizedPlan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union])
    val scale = est(new StandardScaler().setInputCol("features").setOutputCol("scaled"))
    val ols = est(new LinearRegression().setFeaturesCol("scaled").setLabelCol("y").setSolver("normal"))
    val pipe = new SequentialCVPipeline(Seq("scale" -> scale, "ols" -> ols), Seq(Some(cv1), Some(cv2)))
    Seq(pipe.fitTransform(df), pipe.transform(df)).foreach { out =>
      assert(!hasUnion(out))
      assert(out.rdd.getNumPartitions == df.rdd.getNumPartitions)
      assert(out.count() == 4 * 6)
    }
    // a per-fold model of another kind: predictions are x1, scored per cv2 fold
    val ident = new SequentialCVPipeline(
      Seq("scale" -> scale, "ident" -> est(new IdentityRegressor().setFeatureCol("x1"))),
      Seq(Some(cv1), Some(cv2)))
    val out = ident.fitTransform(df)
    assert(hasUnion(out))
    val want = cv2.folds.map { f =>
      val rows = raw.filter(r => f.testPeriods.contains(r._2))
      rows.map(r => (r._5 - r._3) * (r._5 - r._3)).sum / rows.size
    }
    val got = ident.score(df, "mean_squared_error", "y")
    assert(got.size == want.size)
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) <= 1e-12 * w) }
    df.unpersist()
  }
}
