package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param.{DoubleParam, Param, ParamMap}
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Versioned JSON persistence for the Simple* stages. spark.ml's
  * `DefaultParamsWriter` is `private[ml]`, so this is the same idea
  * hand-rolled: one `metadata.json` per stage with format version, uid,
  * class, the three shared string params, and a numeric payload map
  * (fitted values / extra params).
  */
private[ml] object SimpleIO {
  import org.json4s._
  import org.json4s.jackson.JsonMethods._
  import org.json4s.JsonDSL._

  val VERSION = 1

  def write(path: String, instance: SimpleParams with Identifiable,
      payload: Map[String, Double]): Unit = {
    val dir = new java.io.File(path); dir.mkdirs()
    val json: JObject =
      ("version" -> VERSION) ~
        ("class" -> instance.getClass.getName) ~
        ("uid" -> instance.uid) ~
        ("featureCol" -> instance.getFeatureCol) ~
        ("labelCol" -> instance.getLabelCol) ~
        ("predictionCol" -> instance.getPredictionCol) ~
        ("payload" -> payload)
    java.nio.file.Files.writeString(
      new java.io.File(dir, "metadata.json").toPath, compact(render(json)))
  }

  /** (uid, featureCol, labelCol, predictionCol, payload) */
  def read(path: String): (String, String, String, String, Map[String, Double]) = {
    implicit val fmt: Formats = DefaultFormats
    val j = parse(java.nio.file.Files.readString(
      new java.io.File(path, "metadata.json").toPath))
    val v = (j \ "version").extract[Int]
    require(v == VERSION, s"unsupported Simple* stage format version $v")
    ((j \ "uid").extract[String],
      (j \ "featureCol").extract[String],
      (j \ "labelCol").extract[String],
      (j \ "predictionCol").extract[String],
      (j \ "payload").extract[Map[String, Double]])
  }

  def writer(instance: SimpleParams with Identifiable, payload: Map[String, Double]): MLWriter =
    new MLWriter {
      override protected def saveImpl(path: String): Unit = write(path, instance, payload)
    }
}

/** Minimal deterministic `spark.ml` estimators used to exercise the per-fold
  * fit/predict machinery with oracle-checkable (SQL-expressible) semantics —
  * the Spark analog of the reference test suite's identity estimators
  * (`tests/test_pipeline.py:14-76`, `X1ToYRegressor`). All are real
  * `Estimator`/`Model` pairs so the cross-val plumbing is identical to what a
  * `LinearRegression` user gets.
  */
trait SimpleParams extends org.apache.spark.ml.param.Params {
  final val featureCol: Param[String] = new Param[String](this, "featureCol", "input feature column")
  final val labelCol: Param[String] = new Param[String](this, "labelCol", "label column")
  final val predictionCol: Param[String] = new Param[String](this, "predictionCol", "output prediction column")
  def getFeatureCol: String = $(featureCol)
  def getLabelCol: String = $(labelCol)
  def getPredictionCol: String = $(predictionCol)
  setDefault(featureCol -> "feature", labelCol -> "label", predictionCol -> "prediction")

  private[ml] def setCols(f: String, l: String, pr: String): this.type = {
    set(featureCol, f); set(labelCol, l); set(predictionCol, pr); this
  }

  protected def withPrediction(schema: StructType): StructType =
    StructType(schema.fields :+ StructField($(predictionCol), DoubleType, nullable = true))
}

/** Predicts the train-set mean of the label (+ a tunable `shift`, for search
  * tests) for every row (sklearn `DummyRegressor(strategy="mean")`
  * equivalent).
  */
class MeanRegressor(override val uid: String)
    extends Estimator[MeanRegressorModel] with SimpleParams with MLWritable {
  def this() = this(Identifiable.randomUID("meanReg"))
  final val shift: DoubleParam = new DoubleParam(this, "shift", "constant added to the fitted mean")
  setDefault(shift -> 0.0)
  def setFeatureCol(v: String): this.type = set(featureCol, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setShift(v: Double): this.type = set(shift, v)

  override def fit(ds: Dataset[_]): MeanRegressorModel = {
    val m = ds.agg(avg(col($(labelCol)))).head().getDouble(0) + $(shift)
    copyValues(new MeanRegressorModel(uid, m).setParent(this))
  }
  override def copy(extra: ParamMap): MeanRegressor = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = withPrediction(schema)
  override def write: MLWriter = SimpleIO.writer(this, Map("shift" -> $(shift)))
}

object MeanRegressor extends MLReadable[MeanRegressor] {
  override def read: MLReader[MeanRegressor] = new MLReader[MeanRegressor] {
    override def load(path: String): MeanRegressor = {
      val (uid, f, l, pr, payload) = SimpleIO.read(path)
      new MeanRegressor(uid).setCols(f, l, pr).setShift(payload("shift"))
    }
  }
}

class MeanRegressorModel(override val uid: String, val mean: Double)
    extends Model[MeanRegressorModel] with SimpleParams with MLWritable {
  override def transform(ds: Dataset[_]): DataFrame =
    ds.withColumn($(predictionCol), lit(mean))
  override def copy(extra: ParamMap): MeanRegressorModel =
    copyValues(new MeanRegressorModel(uid, mean), extra).setParent(parent)
  override def transformSchema(schema: StructType): StructType = withPrediction(schema)
  override def write: MLWriter = SimpleIO.writer(this, Map("mean" -> mean))
}

object MeanRegressorModel extends MLReadable[MeanRegressorModel] {
  override def read: MLReader[MeanRegressorModel] = new MLReader[MeanRegressorModel] {
    override def load(path: String): MeanRegressorModel = {
      val (uid, f, l, pr, payload) = SimpleIO.read(path)
      new MeanRegressorModel(uid, payload("mean")).setCols(f, l, pr)
    }
  }
}

/** Predicts the feature column verbatim — proves out-of-fold plumbing returns
  * each row's own value (reference `X1ToYRegressor`,
  * `tests/test_pipeline.py:54-61`).
  */
class IdentityRegressor(override val uid: String)
    extends Estimator[IdentityRegressorModel] with SimpleParams with MLWritable {
  def this() = this(Identifiable.randomUID("idReg"))
  def setFeatureCol(v: String): this.type = set(featureCol, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  override def fit(ds: Dataset[_]): IdentityRegressorModel =
    copyValues(new IdentityRegressorModel(uid).setParent(this))
  override def copy(extra: ParamMap): IdentityRegressor = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = withPrediction(schema)
  override def write: MLWriter = SimpleIO.writer(this, Map.empty)
}

object IdentityRegressor extends MLReadable[IdentityRegressor] {
  override def read: MLReader[IdentityRegressor] = new MLReader[IdentityRegressor] {
    override def load(path: String): IdentityRegressor = {
      val (uid, f, l, pr, _) = SimpleIO.read(path)
      new IdentityRegressor(uid).setCols(f, l, pr)
    }
  }
}

class IdentityRegressorModel(override val uid: String)
    extends Model[IdentityRegressorModel] with SimpleParams with MLWritable {
  override def transform(ds: Dataset[_]): DataFrame =
    ds.withColumn($(predictionCol), col($(featureCol)).cast(DoubleType))
  override def copy(extra: ParamMap): IdentityRegressorModel =
    copyValues(new IdentityRegressorModel(uid), extra).setParent(parent)
  override def transformSchema(schema: StructType): StructType = withPrediction(schema)
  override def write: MLWriter = SimpleIO.writer(this, Map.empty)
}

object IdentityRegressorModel extends MLReadable[IdentityRegressorModel] {
  override def read: MLReader[IdentityRegressorModel] = new MLReader[IdentityRegressorModel] {
    override def load(path: String): IdentityRegressorModel = {
      val (uid, f, l, pr, _) = SimpleIO.read(path)
      new IdentityRegressorModel(uid).setCols(f, l, pr)
    }
  }
}

/** Binary classifier: predict 1.0 when feature > train-set mean of the
  * feature, else 0.0. Deterministic and SQL-expressible, so classification
  * metrics can be oracled end-to-end.
  */
/** Equal-width binning "clusterer": fits (min, width) of the feature on the
  * train fold and assigns cluster = floor((x − min) / width), clamped to
  * [0, nBins−1]. A deterministic clustering step whose quality is tunable
  * by `nBins` — used to drive the supervised clustering scorers
  * (v_measure_score & co.) through a real GridSearch.
  */
class BinClusterer(override val uid: String)
    extends Estimator[BinClustererModel] with SimpleParams with MLWritable {
  def this() = this(Identifiable.randomUID("binClus"))
  final val nBins: DoubleParam = new DoubleParam(this, "nBins", "number of equal-width bins")
  setDefault(nBins -> 2.0)
  def setFeatureCol(v: String): this.type = set(featureCol, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setNBins(v: Double): this.type = set(nBins, v)

  override def fit(ds: Dataset[_]): BinClustererModel = {
    val row = ds.agg(min(col($(featureCol))), max(col($(featureCol)))).head()
    val (lo, hi) = (row.getDouble(0), row.getDouble(1))
    val k = math.max(1, $(nBins).toInt)
    val width = if (hi > lo) (hi - lo) / k else 1.0
    copyValues(new BinClustererModel(uid, lo, width, k).setParent(this))
  }
  override def copy(extra: ParamMap): BinClusterer = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = withPrediction(schema)
  override def write: MLWriter = SimpleIO.writer(this, Map("nBins" -> $(nBins)))
}

object BinClusterer extends MLReadable[BinClusterer] {
  override def read: MLReader[BinClusterer] = new MLReader[BinClusterer] {
    override def load(path: String): BinClusterer = {
      val (uid, f, l, pr, payload) = SimpleIO.read(path)
      new BinClusterer(uid).setCols(f, l, pr).setNBins(payload("nBins"))
    }
  }
}

class BinClustererModel(override val uid: String,
    val lo: Double, val width: Double, val k: Int)
    extends Model[BinClustererModel] with SimpleParams with MLWritable {
  override def transform(ds: Dataset[_]): DataFrame =
    ds.withColumn($(predictionCol),
      least(greatest(floor((col($(featureCol)) - lit(lo)) / lit(width)), lit(0.0)),
        lit((k - 1).toDouble)).cast(DoubleType))
  override def copy(extra: ParamMap): BinClustererModel =
    copyValues(new BinClustererModel(uid, lo, width, k), extra).setParent(parent)
  override def transformSchema(schema: StructType): StructType = withPrediction(schema)
  override def write: MLWriter = SimpleIO.writer(this,
    Map("lo" -> lo, "width" -> width, "k" -> k.toDouble))
}

object BinClustererModel extends MLReadable[BinClustererModel] {
  override def read: MLReader[BinClustererModel] = new MLReader[BinClustererModel] {
    override def load(path: String): BinClustererModel = {
      val (uid, f, l, pr, payload) = SimpleIO.read(path)
      new BinClustererModel(uid, payload("lo"), payload("width"), payload("k").toInt)
        .setCols(f, l, pr)
    }
  }
}

class ThresholdClassifier(override val uid: String)
    extends Estimator[ThresholdClassifierModel] with SimpleParams with MLWritable {
  def this() = this(Identifiable.randomUID("thrClf"))
  def setFeatureCol(v: String): this.type = set(featureCol, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  override def fit(ds: Dataset[_]): ThresholdClassifierModel = {
    val thr = ds.agg(avg(col($(featureCol)))).head().getDouble(0)
    copyValues(new ThresholdClassifierModel(uid, thr).setParent(this))
  }
  override def copy(extra: ParamMap): ThresholdClassifier = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = withPrediction(schema)
  override def write: MLWriter = SimpleIO.writer(this, Map.empty)
}

object ThresholdClassifier extends MLReadable[ThresholdClassifier] {
  override def read: MLReader[ThresholdClassifier] = new MLReader[ThresholdClassifier] {
    override def load(path: String): ThresholdClassifier = {
      val (uid, f, l, pr, _) = SimpleIO.read(path)
      new ThresholdClassifier(uid).setCols(f, l, pr)
    }
  }
}

class ThresholdClassifierModel(override val uid: String, val threshold: Double)
    extends Model[ThresholdClassifierModel] with SimpleParams with MLWritable {
  /** Full response surface (`utils/_response.py:13-73` analog):
    * `prediction` (hard label), `probability` (logistic of the margin,
    * scale 10 — `predict_proba`), `decision` (the raw margin —
    * `decision_function`), and `log_probability` (`predict_log_proba`).
    */
  override def transform(ds: Dataset[_]): DataFrame = {
    val margin = col($(featureCol)) - lit(threshold)
    ds.withColumn($(predictionCol),
      when(col($(featureCol)) > lit(threshold), 1.0d).otherwise(0.0d))
      .withColumn("probability", lit(1.0) / (lit(1.0) + exp(-margin / lit(10.0))))
      .withColumn("decision", margin)
      .withColumn("log_probability",
        -org.apache.spark.sql.functions.log(lit(1.0) + exp(-margin / lit(10.0))))
  }
  override def copy(extra: ParamMap): ThresholdClassifierModel =
    copyValues(new ThresholdClassifierModel(uid, threshold), extra).setParent(parent)
  override def transformSchema(schema: StructType): StructType = withPrediction(schema)
  override def write: MLWriter = SimpleIO.writer(this, Map("threshold" -> threshold))
}

object ThresholdClassifierModel extends MLReadable[ThresholdClassifierModel] {
  override def read: MLReader[ThresholdClassifierModel] = new MLReader[ThresholdClassifierModel] {
    override def load(path: String): ThresholdClassifierModel = {
      val (uid, f, l, pr, payload) = SimpleIO.read(path)
      new ThresholdClassifierModel(uid, payload("threshold")).setCols(f, l, pr)
    }
  }
}
