package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cv.{CrossVal, PanelSplit}
import graft.dedup.Dedup
import graft.metrics.Metrics
import graft.pipeline.SequentialCVPipeline
import graft.search.GridSearch
import graft.sources.Tables
import graft.streaming.StreamingOps

/** What a pass sees: the session, the tracer, the streaming listener and the
  * core count that bounds the fan-out of search and fold threads.
  */
final class Ctx(val spark: SparkSession, val trace: Tracer, val streams: StreamListener, val cores: Int)

/** Checked operations of one pass, and per-pass quantities the layer
  * metrics are built from (each a list, e.g. one latency per batch).
  */
final case class PassResult(attempted: Long, failed: Long, stats: Map[String, Seq[Double]])

/** Generated inputs and their reference answers, ready for passes. */
trait Prepared {
  /** Input rows (or documents) one pass consumes. */
  def rows: Long
  def fingerprint: String
  def pass(ctx: Ctx): PassResult
  /** Rebuilds per-session state (caches) on a new session. */
  def attach(spark: SparkSession): Unit = ()
  def release(): Unit
}

trait Workload {
  def name: String
  /** Timed passes per run, fixed so that the pass count, and so the point
    * on the JIT's warm-up curve, does not change between runs.
    */
  def timedPasses: Int = 1
  def prepare(spark: SparkSession, dir: Path, seed: Long): Prepared
}

object Workloads {
  val all: Map[String, Workload] = Seq(PanelSearch, PanelBulk, DedupIngest).map(w => w.name -> w).toMap

  private[perfbench] def features(df: DataFrame): DataFrame =
    new VectorAssembler().setInputCols(Array("x1", "x2", "x3")).setOutputCol("features").transform(df)

  private[perfbench] def x(r: PanelRow): Array[Double] = Array(r.x1, r.x2, r.x3)

  private[perfbench] def dot(b: Array[Double], v: Array[Double]): Double =
    b.indices.map(i => b(i) * v(i)).sum

  /** Per-fold scores as the program's `Metrics.perFoldScores` returns them. */
  private[perfbench] def perFold(out: DataFrame, scoring: Seq[String]): Map[String, Seq[Double]] =
    scoring.map(m => m -> Metrics.perFoldScores(out, m, "y").collect().map(_.getDouble(1)).toSeq).toMap
}

/** The paper's flagship path: a small cached panel and a grid search over a
  * two-step out-of-fold pipeline whose steps have their own PanelSplit.
  * Time goes to job count, per-fold fit/transform/score and candidate
  * fan-out.
  */
object PanelSearch extends Workload {
  val name = "panel_search"
  // its passes spread most between runs (±9 % for one pass on a 4-core box)
  override val timedPasses = 2
  val Entities = 200
  val Periods = 30
  val Step1Folds = 2
  val Step1Test = 10
  val Step2Folds = 2
  val Scoring = Seq("neg_mean_squared_error", "r2")
  val Grid: Map[String, Seq[Any]] = Map(
    "scale__withStd" -> Seq(false, true),
    "ols__fitIntercept" -> Seq(true, false))

  def prepare(spark: SparkSession, dir: Path, seed: Long): Prepared = {
    val spec = PanelSpec(seed, Entities, Periods, Seq(Periods - 1))
    // spark.ml regressors reject null labels, so the search input keeps
    // the labelled rows, as a caller of the pipeline would
    val labelled = spec.iterator.filter(_.y.isDefined).toVector
    val ref = reference(labelled)
    new Prepared {
      val rows: Long = labelled.size.toLong
      val fingerprint: String = spec.fingerprint
      private var input: DataFrame = _

      /** The input, cached as `PanelSplit.split` advises. */
      override def attach(s: SparkSession): Unit = {
        import s.implicits._
        input = Workloads.features(labelled.toDF()).persist()
        input.count()
      }
      attach(spark)

      def pass(ctx: Ctx): PassResult = runPass(ctx, input, ref)
      def release(): Unit = input.unpersist()
    }
  }

  private def pipeline(cv1: PanelSplit, cv2: PanelSplit) = {
    val scale: Estimator[_ <: Model[_]] = new StandardScaler().setInputCol("features").setOutputCol("scaled")
    val ols: Estimator[_ <: Model[_]] =
      new LinearRegression().setFeaturesCol("scaled").setLabelCol("y").setSolver("normal")
    new SequentialCVPipeline(Seq("scale" -> scale, "ols" -> ols), Seq(Some(cv1), Some(cv2)))
  }

  private def runPass(ctx: Ctx, df: DataFrame, ref: Map[Map[String, Any], Map[String, Seq[Double]]]): PassResult = {
    val t = ctx.trace
    val cv1 = t.span("cv.plan") { PanelSplit(df, "period", nSplits = Step1Folds, testSize = Step1Test) }
    val axis2 = cv1.folds.flatMap(_.testPeriods).sortBy(_.asInstanceOf[Int])
    val cv2 = t.span("cv.plan") {
      PanelSplit(df, "period", nSplits = Step2Folds, testSize = 1, uniquePeriods = Some(axis2))
    }
    val pipe = pipeline(cv1, cv2)
    val search = new GridSearch(pipe, Grid, Scoring, "y", refit = false, parallelism = ctx.cores)
    t.span("search.fit") { search.fit(df) }

    var attempted = 0L
    var failed = 0L
    search.results.foreach { r =>
      val want = ref(r.params)
      val n = want.values.map(_.size).sum
      attempted += n
      failed += (if (r.failed) n else Checks.foldScores(r.splitScores, want))
    }
    val refBest = ref.maxBy(_._2("neg_mean_squared_error").sum)._1
    attempted += 1
    if (search.bestParams != refBest) failed += 1

    // the search's refit, made explicitly so each layer gets its own span
    val best = pipe.copyWith(search.bestParams)
    t.span("pipeline.fit") { best.fit(df) }
    val out = t.span("pipeline.transform") {
      val o = best.transform(df).persist()
      o.count()
      o
    }
    val scores = t.span("metrics.score") { Workloads.perFold(out, Scoring) }
    out.unpersist()
    val want = ref(search.bestParams)
    attempted += want.values.map(_.size).sum
    failed += Checks.foldScores(scores, want)

    val scored = search.results.count(!_.failed) + 1
    PassResult(attempted, failed, Map(
      "fits" -> Seq(scored.toDouble * (Step1Folds + Step2Folds)),
      "candidates" -> Seq(search.results.size.toDouble),
      "candidates_failed" -> Seq(search.results.count(_.failed).toDouble),
      "candidate_s" -> Seq(search.results.map(r => r.fitTimeSec + r.scoreTimeSec).sum)))
  }

  /** Per candidate, per scorer, per step-2 fold: the out-of-fold pipeline
    * recomputed in plain Scala.
    */
  def reference(rows: Vector[PanelRow]): Map[Map[String, Any], Map[String, Seq[Double]]] = {
    import Reference._
    val f1 = folds(Periods, Step1Folds, Step1Test)
    val axis2 = f1.flatMap(_._2).sorted.toVector
    val f2 = folds(axis2.size, Step2Folds, 1).map { case (tr, te) => (tr.map(axis2).toSet, te.map(axis2).toSet) }
    val candidates = Grid.toSeq.foldLeft(Seq(Map.empty[String, Any])) { case (acc, (k, vs)) =>
      for (m <- acc; v <- vs) yield m + (k -> v)
    }
    candidates.map { params =>
      val withMean = false
      val withStd = params("scale__withStd").asInstanceOf[Boolean]
      val intercept = params("ols__fitIntercept").asInstanceOf[Boolean]
      val out = f1.flatMap { case (tr, te) =>
        val sc = Scaler.fit(rows.filter(r => tr.contains(r.period)).map(Workloads.x), withMean, withStd)
        rows.filter(r => te.contains(r.period)).map(r => (r.period, sc(Workloads.x(r)), r.y.get))
      }
      val scores = f2.map { case (tr, te) =>
        val ols = new Ols(3)
        out.foreach { case (p, v, y) => if (tr(p)) ols.add(v, y) }
        val (b, b0) = ols.solve(intercept)
        val s = new Scores
        out.foreach { case (p, v, y) => if (te(p)) s.add(y, b0 + Workloads.dot(b, v)) }
        s
      }
      params -> Scoring.map(m => m -> scores.map(_.value(m))).toMap
    }.toMap
  }
}

/** The same cv layer in the opposite regime: a parquet panel read
  * uncached, folds over data vintages, spark.ml OLS per fold. Time goes to
  * scans, pushdown, fold expansion and shuffle.
  */
object PanelBulk extends Workload {
  val name = "panel_bulk"
  val Entities = 1500
  val Periods = 40
  val Vintages = Seq(38, 39)
  val Folds = 3
  val Scoring = Seq("neg_mean_squared_error", "r2")

  /** The reference of one pass. */
  final case class Ref(snapshots: Seq[Int], expanded: Map[Int, Long], scores: Map[String, Seq[Double]])

  def prepare(spark: SparkSession, dir: Path, seed: Long): Prepared = {
    val spec = PanelSpec(seed, Entities, Periods, Vintages)
    import spark.implicits._
    spark.range(0, spec.rows, 1, spark.sparkContext.defaultParallelism)
      .map(i => spec.row(i))
      .write.parquet(dir.resolve("panel.parquet").toString)
    val (ref, fp) = reference(spec)
    new Prepared {
      val rows: Long = spec.rows
      val fingerprint: String = fp
      def pass(ctx: Ctx): PassResult = runPass(ctx, dir.toString, ref)
      def release(): Unit = ()
    }
  }

  private def runPass(ctx: Ctx, dir: String, ref: Ref): PassResult = {
    val t = ctx.trace
    val df = Workloads.features(t.span("sources.load") { Tables.load(ctx.spark, dir, "panel") })
    val planned = t.span("cv.plan") { PanelSplit(df, "period", Some("snapshot"), nSplits = Folds) }
    val cv = t.span("cv.drop_splits") { planned.dropSplits(df, "y") }
    val expanded = t.span("cv.snapshots") {
      cv.genSnapshots(df).groupBy("split").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    val lr = new LinearRegression().setFeaturesCol("features").setLabelCol("y").setSolver("normal")
    val models = t.span("cv.fit") {
      CrossVal.crossValFit(lr, df, cv, "y", dropNaInY = true, parallelism = ctx.cores)
    }
    val preds = t.span("cv.predict") {
      val p = CrossVal.crossValPredict(models, df, cv).persist()
      p.count()
      p
    }
    val scores = t.span("metrics.score") { Workloads.perFold(preds, Scoring) }
    preds.unpersist()

    val snapshots = planned.folds.map(_.snapshot.map(_.asInstanceOf[Int]).getOrElse(-1))
    val failed = (if (snapshots == ref.snapshots) 0 else 1) + (if (cv.nSplits == Folds) 0 else 1) +
      Checks.counts(expanded, ref.expanded) + Checks.foldScores(scores, ref.scores)
    val attempted = 2 + ref.expanded.size + ref.scores.values.map(_.size).sum
    PassResult(attempted, failed, Map(
      "fits" -> Seq(models.size.toDouble),
      "expanded_rows" -> Seq(expanded.values.sum.toDouble)))
  }

  /** Fold snapshots (clamped to the first vintage), rows per fold after
    * expansion, and per-fold OLS scores; plus the generator fingerprint,
    * from one pass over the generated rows.
    */
  def reference(spec: PanelSpec): (Ref, String) = {
    import Reference._
    val fs = folds(Periods, Folds, 1).map { case (_, te) => (te.head, math.max(te.head, Vintages.min)) }
    val ols = fs.map(_ => new Ols(3))
    val tests = fs.map(_ => ArrayBuffer.empty[(Array[Double], Double)])
    val expanded = Array.fill(fs.size)(0L)
    val fp = Digest.of { d =>
      spec.iterator.foreach { r =>
        PanelSpec.digest(d, r)
        var f = 0
        while (f < fs.size) {
          val (test, snap) = fs(f)
          if (r.snapshot == snap && r.period <= test) {
            expanded(f) += 1
            r.y.foreach(y => if (r.period < test) ols(f).add(Workloads.x(r), y) else tests(f) += ((Workloads.x(r), y)))
          }
          f += 1
        }
      }
    }
    val scores = fs.indices.map { f =>
      val (b, b0) = ols(f).solve(intercept = true)
      val s = new Scores
      tests(f).foreach { case (v, y) => s.add(y, b0 + Workloads.dot(b, v)) }
      s
    }
    (Ref(fs.map(_._2), expanded.indices.map(f => f -> expanded(f)).toMap,
      Scoring.map(m => m -> scores.map(_.value(m))).toMap), fp)
  }
}

/** Near-duplicate curation: a bulk build (verified SimHash pairs, then
  * connected components) and the same clustering maintained on ingest as
  * the corpus streams in as chunks. Both must reproduce the exact-Jaccard
  * clusters, which the generator plants.
  */
object DedupIngest extends Workload {
  val name = "dedup_ingest"
  val Docs = 300
  val Clusters = 20
  // one micro-batch: each further one costs 4-5 s on a 4-core box, more
  // than the run budget allows
  val Chunks = 1
  val Threshold = 0.9

  def prepare(spark: SparkSession, dir: Path, seed: Long): Prepared = {
    val docs = CorpusSpec(seed, Docs, Clusters).generate()
    val (ref, _) = Reference.jaccardClusters(docs, Threshold, margin = 0.04)
    spark.createDataFrame(docs).write.parquet(dir.resolve("documents.parquet").toString)
    new Prepared {
      val rows: Long = docs.size.toLong
      val fingerprint: String = CorpusSpec.fingerprint(docs)
      def pass(ctx: Ctx): PassResult = runPass(ctx, dir.toString, ref)
      def release(): Unit = ()
    }
  }

  private def labels(rows: Array[org.apache.spark.sql.Row]): Map[Long, Long] =
    rows.map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap

  private def runPass(ctx: Ctx, dir: String, ref: Map[Long, Long]): PassResult = {
    val t = ctx.trace
    val t0 = System.nanoTime()
    val docs = t.span("sources.load") { Tables.documents(ctx.spark, dir) }
    val (pairs, nPairs) = t.span("dedup.pairs") {
      val p = Dedup.simhashJaccardPairs(docs, "doc_id", "text", 1, Threshold).select("id_a", "id_b").persist()
      (p, p.count())
    }
    val bulk = labels(t.span("dedup.cc") {
      Dedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs).collect()
    })
    pairs.unpersist()
    val clusterS = (System.nanoTime() - t0) / 1e9

    val before = ctx.streams.runs
    val t1 = System.nanoTime()
    val streamed = labels(t.span("streaming.ingest") {
      StreamingOps.streamIncrementalCC(ctx.spark, dir,
        (known, batchIds) => t.span("dedup.pairs_touching") {
          Dedup.simhashJaccardPairsTouchingPresigned(known, batchIds, "doc_id", "text", "__sig", 1, Threshold)
        },
        nChunks = Chunks,
        queryName = "perfbench_cc",
        // the signature is stored at arrival; a left join keeps null texts
        enrich = batch => batch.join(
          Dedup.simhash(batch, "doc_id", "text", 48).select(col("id").as("doc_id"), col("simhash").as("__sig")),
          Seq("doc_id"), "left")).collect()
    })
    val ingestS = (System.nanoTime() - t1) / 1e9
    val batches = ctx.streams.awaitRun(ctx.spark, before).filter(_.inputRows > 0)

    val clusters = bulk.values.groupBy(identity).count(_._2.size > 1)
    PassResult(2L * ref.size, Checks.labels(bulk, ref) + Checks.labels(streamed, ref), Map(
      "cluster_s" -> Seq(clusterS),
      "ingest_s" -> Seq(ingestS),
      "batch_s" -> batches.map(_.triggerMs / 1e3),
      "engine_s" -> Seq(batches.map(_.triggerMs).sum / 1e3),
      "batches" -> Seq(batches.size.toDouble),
      "pairs" -> Seq(nPairs.toDouble),
      "clusters" -> Seq(clusters.toDouble)))
  }
}
