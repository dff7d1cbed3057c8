package graft.search

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.metrics.Scorers
import graft.ops.FanOut
import graft.pipeline.SequentialCVPipeline

import scala.util.{Failure, Success, Try}

/** One evaluated candidate: per-metric per-split scores + aggregates.
  *
  * `fitTimeSec` is the candidate's own last-step fit plus an even share of
  * its prefix's fit: a prefix shared by k candidates adds its fit seconds / k
  * to each, so Σ `fitTimeSec` over the candidates is the fit work actually
  * done and `cvResults`' `mean_fit_time` stays comparable across groups.
  * `scoreTimeSec` is the candidate's scoring alone.
  */
final case class CandidateResult(
    index: Int,
    params: Map[String, Any],
    splitScores: Map[String, Seq[Double]],
    meanScore: Map[String, Double],
    stdScore: Map[String, Double],
    var rank: Map[String, Int],
    failed: Boolean,
    error: Option[String],
    fitTimeSec: Double = 0.0,
    scoreTimeSec: Double = 0.0)

/** Hyper-parameter search over a `SequentialCVPipeline` — the Spark
  * re-expression of the reference's `BaseSearch`/`GridSearch`/
  * `RandomizedSearch` (`panelsplit/model_selection/model_selection.py`).
  *
  * Candidates fan out as driver-side jobs over a shared (cached) DataFrame;
  * each fit is itself a set of per-fold Spark jobs. Work is shared across
  * candidates at three points:
  *  - prefix sharing: candidates are grouped by the params of the steps
  *    before the last estimator. Each distinct prefix is fitted once, its
  *    out-of-fold output is persisted, and only the last step is fitted per
  *    candidate on that output. A prefix is released as soon as the last
  *    candidate using it is done, so storage holds at most one persisted
  *    out-of-fold frame per live distinct prefix (besides what a running
  *    fit or scoring holds for its own duration);
  *  - fit-time output: each candidate is scored from the out-of-fold frame
  *    its fit built ([[SequentialCVPipeline.fitTransform]]), not from a
  *    second transform pass;
  *  - fused scoring: [[Scorers.scoreAll]] computes every plain aggregate
  *    metric in one per-fold aggregation.
  * A prefix that fails fails every candidate sharing it. Semantics preserved:
  * std is population (ddof=0, `model_selection.py:856-858`), rank is
  * ties→min with NaN→worst (`:876-884`), fit failures fill `errorScore` and
  * warn, all-failed raises (`_validation.py:88-166`), multimetric scoring
  * with a named refit metric (`model_selection.py:474-497`).
  *
  * @param scoring     scorer names from [[Scorers.registry]]; first is the
  *                    refit/rank metric unless `refitMetric` is given
  */
abstract class BaseSearch(
    val pipeline: SequentialCVPipeline,
    val scoring: Seq[String],
    val labelCol: String,
    val refit: Boolean,
    val refitMetric: Option[String],
    val errorScore: Double,
    val parallelism: Int,
    /** Dict-of-callables scoring (`metrics.py:452-550`): names here resolve
      * to the given scorers before the registry — build with
      * [[Scorers.custom]] from any user MetricSpec.
      */
    val extraScorers: Map[String, graft.metrics.Scorer] = Map.empty,
    /** `error_score="raise"` (`_validation.py:88-166`): rethrow the first
      * candidate failure instead of filling `errorScore` and warning.
      */
    val raiseOnError: Boolean = false) {

  protected def candidates(): Seq[Map[String, Any]]

  val scorers: Seq[(String, graft.metrics.Scorer)] = Scorers.check(scoring, extraScorers)
  val primaryMetric: String = refitMetric.getOrElse(scoring.head)
  require(scoring.contains(primaryMetric),
    s"refit metric '$primaryMetric' must be one of $scoring") // model_selection.py:437-455

  var results: Seq[CandidateResult] = Nil
  var bestIndex: Int = -1
  var bestEstimator: Option[SequentialCVPipeline] = None

  def bestParams: Map[String, Any] = results(bestIndex).params
  def bestScore: Double = results(bestIndex).meanScore(primaryMetric)

  /** Candidates are grouped by the params of the steps before the last
    * estimator (the prefix); `split` is that estimator's index. A param is a
    * prefix param unless it names a step from `split` on that no prefix step
    * shares a name with (copyWith applies a key to every same-named step).
    */
  private val split: Int = math.max(0, pipeline.steps.lastIndexWhere(_._2 != null))
  private val tailOnlySteps: Set[String] =
    pipeline.steps.drop(split).map(_._1).toSet -- pipeline.steps.take(split).map(_._1)

  private def prefixParams(params: Map[String, Any]): Map[String, Any] =
    params.filter { case (k, _) => !tailOnlySteps(k.split("__")(0)) }

  /** A fitted prefix's out-of-fold output and fit seconds. An output the
    * search persisted itself (`owned`; never the caller's input) is released
    * when the last candidate sharing it is done.
    */
  private final class Prefix(val out: DataFrame, val fitSec: Double, users: Int, owned: Boolean) {
    private val left = new java.util.concurrent.atomic.AtomicInteger(users)
    def release(): Unit = if (left.decrementAndGet() == 0) drop()
    def drop(): Unit = if (owned) out.unpersist()
  }

  def fit(df: DataFrame): this.type = {
    val cands = candidates()
    require(cands.nonEmpty, "empty parameter space")

    val groups = scala.collection.mutable.LinkedHashMap.empty[Map[String, Any], Vector[Int]]
    cands.indices.foreach { i =>
      val key = prefixParams(cands(i))
      groups(key) = groups.getOrElse(key, Vector.empty) :+ i
    }
    // each distinct prefix is fitted once; its out-of-fold output is
    // persisted for the last steps of the candidates that share it
    val prefixes: Seq[Try[Prefix]] = FanOut(groups.toSeq.map { case (params, members) => () =>
      Try {
        val t0 = System.nanoTime()
        val prefix = pipeline.copyWith(params).subPipeline(0, split)
        val out = prefix.fitTransform(df)
        val owned = prefix.steps.exists(_._2 != null) && out.storageLevel == StorageLevel.NONE
        if (owned) out.persist()
        new Prefix(out, (System.nanoTime() - t0) / 1e9, members.size, owned)
      }
    }, parallelism)

    // candidates run grouped by prefix, so a prefix is released as soon as
    // its group is done; results return in candidate order
    val tasks: Seq[() => CandidateResult] = groups.values.zip(prefixes).toSeq.flatMap {
      case (members, prefix) => members.map { i => () =>
        val params = cands(i)
        prefix.flatMap { p =>
          try Try {
            val t0 = System.nanoTime()
            val out0 = pipeline.copyWith(params).subPipeline(split, pipeline.steps.size).fitTransform(p.out)
            val t1 = System.nanoTime()
            val out = pipeline.scoringFrame(out0)
            val scores = Scorers.scoreAll(scorers, out, labelCol)
            (scores, p.fitSec / members.size + (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
          } finally p.release()
        } match {
          case Success((scores, ft, st)) =>
            mkResult(i, params, scores, failed = false, None).copy(fitTimeSec = ft, scoreTimeSec = st)
          case Failure(e) if raiseOnError =>
            throw new IllegalStateException(s"Candidate $i ($params) failed with error_score=raise", e)
          case Failure(e) =>
            System.err.println(s"[search] candidate $i failed: ${e.getMessage}; filling errorScore")
            val fill = scoring.map(_ -> Seq.fill(pipeline.nScoreSplits)(errorScore)).toMap
            mkResult(i, params, fill, failed = true, Some(e.getMessage))
        }
      }
    }
    val evaluated =
      try FanOut(tasks, parallelism).sortBy(_.index)
      finally prefixes.foreach(_.foreach(_.drop()))
    if (evaluated.forall(_.failed))
      throw new IllegalStateException(
        s"All ${evaluated.size} fits failed. First error: ${evaluated.head.error.getOrElse("?")}")

    // per-metric rank: ties -> min, NaN -> worst (rankdata(-means, "min"))
    evaluated.foreach { r =>
      r.rank = scoring.map { m =>
        val means = evaluated.map(_.meanScore(m))
        val mine = r.meanScore(m)
        m -> (if (mine.isNaN) means.count(!_.isNaN) + 1
              else 1 + means.count(x => !x.isNaN && x > mine))
      }.toMap
    }
    results = evaluated
    val viable = results.filter(!_.meanScore(primaryMetric).isNaN)
    if (viable.isEmpty)
      throw new IllegalStateException(
        s"Every candidate produced NaN for refit metric '$primaryMetric' " +
          s"(${results.size} candidates, ${results.count(_.failed)} failed); cannot select best.")
    bestIndex = viable.minBy(_.rank(primaryMetric)).index
    if (refit) {
      val best = pipeline.copyWith(results(bestIndex).params)
      best.fit(df)
      bestEstimator = Some(best)
    }
    this
  }

  private def mkResult(i: Int, params: Map[String, Any],
      scores: Map[String, Seq[Double]], failed: Boolean, error: Option[String]): CandidateResult = {
    val mean = scores.map { case (m, s) => m -> s.sum / s.size }
    val std = scores.map { case (m, s) =>
      val mu = mean(m)
      m -> math.sqrt(s.map(x => math.pow(x - mu, 2)).sum / s.size) // ddof=0
    }
    CandidateResult(i, params, scores, mean, std, rank = Map.empty, failed, error)
  }

  /** `cv_results_` as a DataFrame (`model_selection.py:828-923`): per metric
    * m, columns split{i}_test_m / mean_test_m / std_test_m / rank_test_m —
    * suffix "score" for single-metric searches like sklearn.
    */
  def cvResults(spark: SparkSession): DataFrame = {
    val nSplits = results.flatMap(_.splitScores.values.map(_.size)).max
    def suffix(m: String) = if (scoring.size == 1) "score" else m
    val fields = Seq(
      StructField("candidate", IntegerType, nullable = false),
      StructField("params", StringType, nullable = false),
      StructField("mean_fit_time", DoubleType, nullable = false),
      StructField("mean_score_time", DoubleType, nullable = false)) ++
      scoring.flatMap { m =>
        (0 until nSplits).map(i => StructField(s"split${i}_test_${suffix(m)}", DoubleType)) ++
          Seq(
            StructField(s"mean_test_${suffix(m)}", DoubleType),
            StructField(s"std_test_${suffix(m)}", DoubleType),
            StructField(s"rank_test_${suffix(m)}", IntegerType, nullable = false))
      }
    val rows = results.map { r =>
      val paramStr = r.params.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(";")
      Row.fromSeq(
        Seq[Any](r.index, paramStr, r.fitTimeSec, r.scoreTimeSec) ++
          scoring.flatMap { m =>
            (0 until nSplits).map(i => r.splitScores(m).lift(i).getOrElse(Double.NaN): Any) ++
              Seq[Any](r.meanScore(m), r.stdScore(m), r.rank(m))
          })
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType(fields))
  }
}

/** Exhaustive cartesian product of `paramGrid` lists
  * (`model_selection.py:1210-1212`). Keys use `step__param`.
  */
final class GridSearch(
    pipeline: SequentialCVPipeline,
    val paramGrid: Map[String, Seq[Any]],
    scoring: Seq[String],
    labelCol: String,
    refit: Boolean = true,
    refitMetric: Option[String] = None,
    errorScore: Double = Double.NaN,
    parallelism: Int = 1,
    extraScorers: Map[String, graft.metrics.Scorer] = Map.empty,
    raiseOnError: Boolean = false)
  extends BaseSearch(pipeline, scoring, labelCol, refit, refitMetric, errorScore,
    parallelism, extraScorers, raiseOnError) {

  def this(pipeline: SequentialCVPipeline, paramGrid: Map[String, Seq[Any]],
      scoring: String, labelCol: String) =
    this(pipeline, paramGrid, Seq(scoring), labelCol, true, None, Double.NaN, 1)

  protected def candidates(): Seq[Map[String, Any]] =
    BaseSearch.cartesian(paramGrid)
}

/** A continuous sampling distribution for [[RandomizedSearch]] — the Spark
  * analog of scipy `rvs` objects accepted by sklearn's `ParameterSampler`
  * (`model_selection.py:1517-1523`). Deterministic given the sampler's rng.
  */
sealed trait ParamDistribution { def sample(rng: scala.util.Random): Any }

/** Uniform double on [lo, hi). */
final case class UniformDist(lo: Double, hi: Double) extends ParamDistribution {
  require(hi > lo, s"UniformDist needs hi > lo, got [$lo, $hi)")
  def sample(rng: scala.util.Random): Any = lo + rng.nextDouble() * (hi - lo)
}

/** Log-uniform double on [lo, hi) — scipy `loguniform`. */
final case class LogUniformDist(lo: Double, hi: Double) extends ParamDistribution {
  require(lo > 0 && hi > lo, s"LogUniformDist needs 0 < lo < hi, got [$lo, $hi)")
  def sample(rng: scala.util.Random): Any =
    math.exp(math.log(lo) + rng.nextDouble() * (math.log(hi) - math.log(lo)))
}

/** Uniform integer on [lo, hi] inclusive — scipy `randint` analog. */
final case class IntUniformDist(lo: Int, hi: Int) extends ParamDistribution {
  require(hi >= lo, s"IntUniformDist needs hi >= lo, got [$lo, $hi]")
  def sample(rng: scala.util.Random): Any = lo + rng.nextInt(hi - lo + 1)
}

/** Seeded sampling of `nIter` settings. Mirrors sklearn `ParameterSampler`:
  * an all-list space samples WITHOUT replacement (exhaustive when the grid
  * is smaller than `nIter`, `model_selection.py:1517-1523`); a space
  * containing any [[ParamDistribution]] draws `nIter` independent settings —
  * distributions via their `sample`, lists uniformly WITH replacement —
  * in sorted-key order from one seeded rng, so runs are reproducible.
  */
final class RandomizedSearch(
    pipeline: SequentialCVPipeline,
    val paramSpace: Map[String, Any],
    val nIter: Int,
    val seed: Long = 0L,
    scoring: Seq[String],
    labelCol: String,
    refit: Boolean = true,
    refitMetric: Option[String] = None,
    errorScore: Double = Double.NaN,
    parallelism: Int = 1,
    extraScorers: Map[String, graft.metrics.Scorer] = Map.empty,
    raiseOnError: Boolean = false)
  extends BaseSearch(pipeline, scoring, labelCol, refit, refitMetric, errorScore,
    parallelism, extraScorers, raiseOnError) {

  protected def candidates(): Seq[Map[String, Any]] = {
    val hasDist = paramSpace.values.exists(_.isInstanceOf[ParamDistribution])
    if (!hasDist) {
      val lists = paramSpace.map {
        case (k, s: Seq[_]) => k -> s.asInstanceOf[Seq[Any]]
        case (k, other) => throw new IllegalArgumentException(
          s"Param '$k' must be a Seq or ParamDistribution, got ${other.getClass}")
      }
      val all = BaseSearch.cartesian(lists)
      if (all.size <= nIter) all
      else new scala.util.Random(seed).shuffle(all).take(nIter)
    } else {
      val rng = new scala.util.Random(seed)
      val keys = paramSpace.keys.toSeq.sorted
      (0 until nIter).map { _ =>
        keys.map { k =>
          k -> (paramSpace(k) match {
            case d: ParamDistribution => d.sample(rng)
            case s: Seq[_] => s(rng.nextInt(s.size))
            case other => throw new IllegalArgumentException(
              s"Param '$k' must be a Seq or ParamDistribution, got ${other.getClass}")
          })
        }.toMap
      }
    }
  }
}

object BaseSearch {
  def cartesian(paramGrid: Map[String, Seq[Any]]): Seq[Map[String, Any]] = {
    val keys = paramGrid.keys.toSeq.sorted
    keys.foldLeft(Seq(Map.empty[String, Any])) { (acc, k) =>
      for (m <- acc; v <- paramGrid(k)) yield m + (k -> v)
    }
  }
}
