package graft.metrics

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Hand-computed oracles for registry metrics not covered by the gate
  * queries (MSLE family, deviances, clamping), plus sign-convention checks.
  */
class MetricsSpec extends SparkTestBase {
  private lazy val sp = spark
  import sp.implicits._

  private def score(metric: String, pairs: Seq[(Double, Double)]): Double = {
    val df = pairs.zipWithIndex.map { case ((y, p), i) => (0, y, p) }.toDF("fold", "label", "prediction")
    Metrics.perFoldScoreSeq(df, metric, "label", "prediction").head
  }

  test("mean_squared_log_error and rmsle") {
    val pairs = Seq((3.0, 2.5), (0.5, 0.0), (2.0, 2.0), (7.0, 8.0))
    val expected = pairs.map { case (y, p) =>
      math.pow(math.log1p(y) - math.log1p(p), 2) }.sum / 4
    assert(math.abs(score("mean_squared_log_error", pairs) - expected) < 1e-12)
    assert(math.abs(score("root_mean_squared_log_error", pairs) - math.sqrt(expected)) < 1e-12)
  }

  test("mean poisson and gamma deviance (sklearn formulas)") {
    val pairs = Seq((2.0, 1.5), (0.0, 0.5), (3.0, 3.0))
    val poisson = pairs.map { case (y, p) =>
      2.0 * ((if (y > 0) y * math.log(y / p) else 0.0) - y + p) }.sum / 3
    assert(math.abs(score("mean_poisson_deviance", pairs) - poisson) < 1e-12)
    val gPairs = Seq((2.0, 1.5), (1.0, 0.5), (3.0, 3.0)) // strictly positive
    val gamma = gPairs.map { case (y, p) =>
      2.0 * (math.log(p / y) + y / p - 1.0) }.sum / 3
    assert(math.abs(score("mean_gamma_deviance", gPairs) - gamma) < 1e-12)
  }

  test("cohen_kappa matches the textbook (po - pe) / (1 - pe)") {
    // confusion: tp=3, fp=1, fn=2, tn=4, n=10
    val pairs = Seq.fill(3)((1.0, 1.0)) ++ Seq.fill(1)((0.0, 1.0)) ++
      Seq.fill(2)((1.0, 0.0)) ++ Seq.fill(4)((0.0, 0.0))
    val po = 7.0 / 10
    val pe = (4.0 * 5 + 6.0 * 5) / 100 // pred-pos·true-pos + pred-neg·true-neg
    val want = (po - pe) / (1 - pe)
    assert(math.abs(score("cohen_kappa", pairs) - want) < 1e-12)
  }

  test("cohen_kappa is 0 when a rater is constant (all agreement is chance)") {
    val pairs = Seq((1.0, 1.0), (0.0, 1.0), (1.0, 1.0), (0.0, 1.0))
    assert(score("cohen_kappa", pairs) == 0.0)
  }

  test("multiclass kappa: weighted variants order by how far the wrap hurts") {
    // 3 classes; disagreements: one (0→1) distance 1, one (2→0) distance 2
    val d = (Seq((0L, 0L), (1L, 1L), (2L, 2L), (0L, 0L), (1L, 1L)) ++
      Seq((0L, 1L), (2L, 0L))).toDF("y", "p")
    def k(w: String) =
      Metrics.cohenKappaMulticlass(d, "y", "p", w).collect().head.getDouble(1)
    // hand contingency: n=7; n_ij: (0,0)=2,(1,1)=2,(2,2)=1,(0,1)=1,(2,0)=1
    // r = (3,2,2); c = (3,3,1)
    def pin6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // none: o=2, e=Σ[i≠j] r_i c_j = 49 − (9+6+2) = 32; κ=1−7·2/32
    assert(k("none") == pin6(1.0 - 14.0 / 32))
    // linear: o=1·1+2·1=3, e=Σ|i−j| r_i c_j = 9+6+6+2+12+6 = 41; κ=1−7·3/41
    assert(k("linear") == pin6(1.0 - 21.0 / 41))
    // quadratic: o=1+4=5, e=9+12+6+2+24+6=59; κ=1−7·5/59
    assert(k("quadratic") == pin6(1.0 - 35.0 / 59))
  }

  test("multiclass kappa: perfect agreement is 1, constant raters are 0") {
    val same = Seq((0L, 0L), (1L, 1L), (2L, 2L)).toDF("y", "p")
    assert(Metrics.cohenKappaMulticlass(same, "y", "p", "none").collect().head.getDouble(1) == 1.0)
    val const = Seq((1L, 1L), (1L, 1L)).toDF("y", "p")
    assert(Metrics.cohenKappaMulticlass(const, "y", "p", "quadratic").collect().head.getDouble(1) == 0.0)
  }

  test("log_loss clamps probabilities at 1e-15") {
    // p = 0 would be -inf without clamping
    val pairs = Seq((1.0, 0.0), (0.0, 1.0))
    val eps = 1e-15
    // mirror the float arithmetic: 1-(1-eps) is NOT exactly eps in doubles
    val expected = -(math.log(eps) + math.log(1.0 - (1.0 - eps))) / 2
    assert(math.abs(score("log_loss", pairs) - expected) < 1e-9)
  }

  test("neg_* scorers flip sign; greater-is-better metrics resolve raw") {
    val pairs = Seq((1.0, 2.0), (3.0, 3.0))
    assert(score("neg_mean_absolute_error", pairs) == -score("mean_absolute_error", pairs))
    assert(score("r2", pairs) == score("r2", pairs))
    assertThrows[IllegalArgumentException](Metrics.resolve("not_a_metric"))
  }

  test("explained_variance vs r2 differ under biased predictions") {
    // constant bias: EV = 1 (residual variance 0), r2 < 1
    val pairs = Seq((1.0, 2.0), (2.0, 3.0), (3.0, 4.0))
    assert(math.abs(score("explained_variance", pairs) - 1.0) < 1e-12)
    assert(score("r2", pairs) < 1.0)
  }

  test("multilabelSamplesScores matches the sklearn samples-average hand oracle") {
    // 4 samples of indicator sets (sklearn metrics.py:713-724 semantics,
    // zero_division=0):
    //   s0: Y={a,b}   Yh={a}     -> p=1,   r=1/2, f1=2/3, jac=1/2
    //   s1: Y={a}     Yh={a,b,c} -> p=1/3, r=1,   f1=1/2, jac=1/3
    //   s2: Y={b,c}   Yh={b,c}   -> p=1,   r=1,   f1=1,   jac=1
    //   s3: Y={a}     Yh={}      -> p=0,   r=0,   f1=0,   jac=0
    val rows = Seq(
      (0, Seq("a", "b"), Seq("a")),
      (0, Seq("a"), Seq("a", "b", "c")),
      (0, Seq("b", "c"), Seq("b", "c")),
      (0, Seq("a"), Seq.empty[String])
    ).toDF("fold", "labels", "preds")
    val r = Metrics.multilabelSamplesScores(rows, "labels", "preds").collect().head
    val eps = 1e-12
    assert(math.abs(r.getAs[Double]("precision") - (1.0 + 1.0 / 3 + 1.0 + 0.0) / 4) < eps)
    assert(math.abs(r.getAs[Double]("recall") - (0.5 + 1.0 + 1.0 + 0.0) / 4) < eps)
    assert(math.abs(r.getAs[Double]("f1") - (2.0 / 3 + 0.5 + 1.0 + 0.0) / 4) < eps)
    assert(math.abs(r.getAs[Double]("jaccard") - (0.5 + 1.0 / 3 + 1.0 + 0.0) / 4) < eps)
  }

  test("multilabelSamplesScores: both-empty rows contribute zero_division=0, not NaN") {
    val rows = Seq((0, Seq.empty[String], Seq.empty[String]),
      (0, Seq("a"), Seq("a"))).toDF("fold", "labels", "preds")
    val r = Metrics.multilabelSamplesScores(rows, "labels", "preds").collect().head
    Seq("precision", "recall", "f1", "jaccard").foreach { c =>
      assert(r.getAs[Double](c) === 0.5, c)
    }
  }

  test("perFoldScores returns its rows in fold order, in two jobs") {
    // fold f's rows miss by f + 1, so its squared error is (f + 1)²
    val df = (0 until 260).map { i => val f = (i * 7) % 13; (f, i.toDouble, i + f + 1.0, 2.0) }
      .toDF("fold", "label", "prediction", "w").repartition(4).cache()
    df.count()
    val mse = (1 to 13).map(e => e.toDouble * e)
    def inFoldOrder(scores: org.apache.spark.sql.DataFrame): Seq[Double] = {
      val rows = scores.collect()
      assert(rows.map(_.getInt(0)).toSeq == (0 until 13))
      rows.map(_.getDouble(1)).toSeq
    }
    // every per-fold entry point, with the scores it must give in fold order
    val entryPoints: Seq[(String, () => Seq[Seq[Double]], Seq[Seq[Double]])] = Seq(
      ("perFoldScores",
        () => Seq(inFoldOrder(Metrics.perFoldScores(df, "neg_mean_squared_error", "label", "prediction"))),
        Seq(mse.map(-_))),
      ("perFoldScoresOf",
        () => Seq(inFoldOrder(Metrics.perFoldScoresOf(df, Metrics.registry("mean_squared_error"), "label", "prediction"))),
        Seq(mse)),
      ("perFoldScoresWeighted",
        () => Seq(inFoldOrder(Metrics.perFoldScoresWeighted(df, "neg_mean_squared_error", "label", "prediction", "w"))),
        Seq(mse.map(-_))),
      ("Scorers.scoreAll", () => {
        val s = Scorers.scoreAll(Seq("mse" -> Scorers.get("neg_mean_squared_error"),
          "mae" -> Scorers.get("neg_mean_absolute_error")), df, "label")
        Seq(s("mse"), s("mae"))
      }, Seq(mse.map(-_), (1 to 13).map(-_.toDouble))))
    entryPoints.foreach { case (name, run, want) =>
      val (got, work) = jobsDuring(run())
      assert(work.jobs == 2, name)
      assert(got == want, name)
    }
    df.unpersist()
  }

  test("dedicated per-fold metrics return their rows in fold order without a range sort") {
    val df = (0 until 260).map { i =>
      ((i * 7) % 13, (i % 2).toDouble, ((i * 31) % 17) / 17.0, i % 3, (i / 2) % 3)
    }.toDF("fold", "label", "probability", "cls", "pred").repartition(4).cache()
    df.count()
    val (multi, multiWork) = jobsDuring(Metrics.multiclassScores(df, "cls", "pred", "macro").collect())
    assert(multi.map(_.getInt(0)).toSeq == (0 until 13))
    val (auc, aucWork) = jobsDuring(Scorers.scoreAll(Seq("auc" -> Scorers.get("roc_auc")), df, "label"))
    val want = Metrics.rocAuc(df, "label", "probability").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1).map(_._2).toSeq
    assert(auc("auc") == want)
    // a range sort of the fold rows adds two jobs to each: 6 and 5. roc_auc
    // gathers its fold rows through a one-partition shuffle, one job more
    // than a coalesce, since its aggregate reuses the rank window's
    // partitioning (PlanQualitySpec)
    assert(multiWork.jobs == 4, "multiclassScores")
    assert(aucWork.jobs == 4, "roc_auc")
    df.unpersist()
  }
}
