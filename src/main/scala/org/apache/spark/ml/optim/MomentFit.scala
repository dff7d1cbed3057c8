package org.apache.spark.ml.optim

import org.apache.spark.ml.feature.{StandardScaler, StandardScalerModel}
import org.apache.spark.ml.linalg.{BLAS, DenseVector, Vector}
import org.apache.spark.ml.param.Params
import org.apache.spark.ml.regression.{LinearRegression, LinearRegressionModel}
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.ml.util.DatasetUtils
import org.apache.spark.sql.Column

/** The summary buffer, solvers and model constructors behind
  * `StandardScaler.fit` and `LinearRegression.fit`, and the row function
  * behind `StandardScalerModel.transform`, are private to spark.ml and its
  * `optim` package, hence this package. A moments object summarizes
  * some rows as that estimator's own `fit` does; `merge` adds another's rows
  * into it.
  */
object MomentFit {

  /** Per-feature mean and std, as `StandardScaler.fit` summarizes its rows. */
  final class ScalerMoments extends Serializable {
    private[MomentFit] val buf = Summarizer.createSummarizerBuffer("mean", "std")
    def add(features: Vector): Unit = buf.add(features)
    def merge(other: ScalerMoments): this.type = { buf.merge(other.buf); this }
  }

  /** The model `StandardScaler.fit` builds from the same rows. */
  def scalerModel(est: StandardScaler, m: ScalerMoments): StandardScalerModel =
    copyValues(est, new StandardScalerModel(est.uid, m.buf.std.compressed, m.buf.mean.compressed))
      .setParent(est)

  /** The row function `StandardScalerModel.transform` applies: spark.ml's
    * own `getTransformFunc`, over the shift and scale `transform` derives
    * from the model.
    */
  def scalerTransform(m: StandardScalerModel): Vector => Vector = {
    val shift = if (m.getWithMean) m.mean.toArray else Array.emptyDoubleArray
    val scale =
      if (m.getWithStd) m.std.toArray.map(v => if (v == 0) 0.0 else 1.0 / v) else Array.emptyDoubleArray
    StandardScalerModel.getTransformFunc(shift, scale, m.getWithMean, m.getWithStd)
  }

  /** The normal-equation sums `WeightedLeastSquares.fit` aggregates, kept
    * in the same form as its `Aggregator`, which is private to its object.
    */
  final class OlsMoments extends Serializable {
    private[MomentFit] var k = -1
    private[MomentFit] var wSum = 0.0
    private var bSum = 0.0
    private var bbSum = 0.0
    private var aSum: DenseVector = _
    private var abSum: DenseVector = _
    private var aaSum: DenseVector = _

    /** Beyond [[maxNormalFeatures]] only the feature count is kept: spark.ml
      * leaves the normal equations there, and so does the caller.
      */
    private def init(n: Int): Unit = {
      k = n
      if (n <= maxNormalFeatures) {
        aSum = new DenseVector(new Array[Double](n))
        abSum = new DenseVector(new Array[Double](n))
        aaSum = new DenseVector(new Array[Double](n * (n + 1) / 2))
      }
    }

    def add(label: Double, weight: Double, features: Vector): Unit = {
      if (k < 0) init(features.size)
      assert(features.size == k, s"Dimension mismatch. Expect vectors of size $k but got ${features.size}.")
      if (aaSum != null) {
        wSum += weight
        bSum += weight * label
        bbSum += weight * label * label
        BLAS.axpy(weight, features, aSum)
        BLAS.axpy(weight * label, features, abSum)
        BLAS.spr(weight, features, aaSum)
      }
    }

    def merge(other: OlsMoments): this.type = {
      if (other.k >= 0) {
        if (k < 0) init(other.k)
        assert(k == other.k, s"Dimension mismatch. this.k = $k but other.k = ${other.k}")
      }
      if (other.aaSum != null) {
        wSum += other.wSum
        bSum += other.bSum
        bbSum += other.bbSum
        BLAS.axpy(1.0, other.aSum, aSum)
        BLAS.axpy(1.0, other.abSum, abSum)
        BLAS.axpy(1.0, other.aaSum, aaSum)
      }
      this
    }

    def numFeatures: Int = k

    private def scaled(v: DenseVector): Array[Double] = {
      val out = v.copy
      BLAS.scal(1.0 / wSum, out)
      out.values
    }
    private[MomentFit] def aBar: Array[Double] = scaled(aSum)
    private[MomentFit] def abBar: Array[Double] = scaled(abSum)
    private[MomentFit] def aaBar: Array[Double] = scaled(aaSum)
    private[MomentFit] def bBar: Double = bSum / wSum
    private[MomentFit] def bbBar: Double = bbSum / wSum
    // variances clamp at 0 against rounding
    private[MomentFit] def bStd: Double = math.sqrt(math.max(bbSum / wSum - bBar * bBar, 0.0))
    private[MomentFit] def aStd: Array[Double] = Array.tabulate(k) { l =>
      val aw = aSum(l) / wSum
      math.sqrt(math.max(aaSum(l * (l + 3) / 2) / wSum - aw * aw, 0.0))
    }
  }

  /** Above this many features spark.ml does not solve the normal equations. */
  def maxNormalFeatures: Int = WeightedLeastSquares.MAX_NUM_FEATURES

  /** Label, weight and features as `LinearRegression.train` selects them,
    * with its own null, NaN and negative-weight checks.
    */
  def olsColumns(est: LinearRegression): Seq[Column] = Seq(
    DatasetUtils.checkRegressionLabels(est.getLabelCol),
    DatasetUtils.checkNonNegativeWeights(est.get(est.weightCol)),
    DatasetUtils.checkNonNanVectors(est.getFeaturesCol))

  /** The model `LinearRegression.fit` builds with the normal-equation solver
    * and `regParam` 0: `WeightedLeastSquares.fit`'s steps after its
    * aggregation, where a zero penalty leaves the diagonal as it is. It has
    * no training summary.
    */
  def olsModel(est: LinearRegression, m: OlsMoments): LinearRegressionModel = {
    assert(m.k >= 0, "Training dataset is empty.")
    assert(m.wSum > 0.0, "Sum of weights cannot be zero.")
    val (coef, intercept): (Array[Double], Double) =
      if (m.bStd == 0.0 && (est.getFitIntercept || m.bBar == 0.0)) (new Array[Double](m.k), m.bBar)
      else solve(m, est)
    copyValues(est, new LinearRegressionModel(est.uid, new DenseVector(coef).compressed, intercept))
      .setParent(est)
  }

  private def solve(s: OlsMoments, est: LinearRegression): (Array[Double], Double) = {
    val k = s.k
    val fitIntercept = est.getFitIntercept
    // a constant label cannot be scaled by its std; its mean stands in
    val bStd = if (s.bStd == 0.0) math.abs(s.bBar) else s.bStd
    val bBar = s.bBar / bStd
    val bbBar = s.bbBar / (bStd * bStd)
    val aStd = s.aStd
    val aBar = s.aBar
    val abBar = s.abBar
    val aaBar = s.aaBar
    for (i <- 0 until k) {
      aBar(i) = if (aStd(i) == 0.0) 0.0 else aBar(i) / aStd(i)
      abBar(i) = if (aStd(i) == 0.0) 0.0 else abBar(i) / (aStd(i) * bStd)
    }
    var p = 0
    for (j <- 0 until k; i <- 0 to j) {
      aaBar(p) = if (aStd(j) == 0.0 || aStd(i) == 0.0) 0.0 else aaBar(p) / (aStd(i) * aStd(j))
      p += 1
    }
    // the Cholesky solve overwrites its inputs, so each solver gets fresh ones
    def aa = new DenseVector(if (fitIntercept) Array.concat(aaBar, aBar, Array(1.0)) else aaBar.clone())
    def ab = new DenseVector(if (fitIntercept) abBar :+ bBar else abBar.clone())
    // LinearRegression runs the normal equations with the `auto` solver
    // type whichever solver it is given: a singular system turns to L-BFGS
    val x =
      try new CholeskySolver().solve(bBar, bbBar, ab, aa, new DenseVector(aBar)).coefficients
      catch {
        case _: SingularMatrixException =>
          new QuasiNewtonSolver(fitIntercept, est.getMaxIter, est.getTol, None)
            .solve(bBar, bbBar, ab, aa, new DenseVector(aBar)).coefficients
      }
    val coef = if (fitIntercept) x.init else x
    for (q <- coef.indices) coef(q) *= (if (aStd(q) != 0.0) bStd / aStd(q) else 0.0)
    (coef, if (fitIntercept) x.last * bStd else 0.0)
  }

  /** `Params.copyValues`, which is protected: the estimator's defaults and
    * set values, for each param the model shares.
    */
  private def copyValues[T <: Params](from: Params, to: T): T = {
    from.params.filter(p => to.hasParam(p.name)).foreach { p =>
      val q = to.getParam(p.name)
      from.defaultParamMap.get(p).foreach(v => to.defaultParamMap.put(q, v))
      from.paramMap.get(p).foreach(v => to.set(q, v))
    }
    to
  }
}
