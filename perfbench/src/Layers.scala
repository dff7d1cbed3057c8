package perfbench

import java.nio.file.{Files, Path}

import Main.{Metric, Timed}

/** Per-layer metrics of a traced run: span self times per module, engine
  * counters summed over each pass's spans, and the workload quantities the
  * passes reported. Per-pass values are medians over the traced passes; a
  * layer a workload does not call reads 0.
  */
final case class Layers(spans: Seq[Span], engine: EngineListener, rows: Long) {
  private val self = SpanMath.selfNanos(spans)
  private val byId = spans.map(s => s.id -> s).toMap
  private val counters = engine.snapshot
  private val rounds = CcRounds.snapshot

  private def under(root: Long): Seq[Span] = SpanMath.subtree(spans, root).toSeq.map(byId)

  /** Σ self seconds per span name inside pass `root`, the root excluded. */
  def selfByName(root: Long): Map[String, Double] =
    under(root).filter(_.id != root).groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }

  /** Σ module self time over the pass wall; at most 1 when spans nest. */
  def selfShare(root: Long): Double = selfByName(root).values.sum / (byId(root).nanos / 1e9)

  def engineOf(root: Long): Counters = {
    val c = new Counters
    under(root).foreach(s => counters.get(s.id).foreach(c += _))
    c
  }

  /** CC rounds logged inside spans called `name` within pass `root`. */
  def roundsUnder(root: Long, name: String): Long =
    under(root).filter(_.name == name).flatMap(s => SpanMath.subtree(spans, s.id)).distinct
      .map(id => rounds.getOrElse(id, 0L)).sum

  def metrics(untraced: Seq[Timed], traced: Seq[Timed], single: Timed, unattributed: Long): Seq[(String, Metric)] = {
    def stat(ps: Seq[Timed], k: String): Seq[Double] = ps.flatMap(_.result.stats.getOrElse(k, Nil))
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val nT = traced.size
    def perPass(unit: String)(f: Timed => Double): Metric = Metric(med(traced.map(f)), unit, nT)
    def selfS(name: String): Metric = perPass("s")(p => selfByName(p.root).getOrElse(name, 0.0))
    def eng(unit: String)(f: Counters => Double): Metric = perPass(unit)(p => f(engineOf(p.root)))
    def passStat(k: String, unit: String): Metric = perPass(unit)(p => p.result.stats.getOrElse(k, Nil).sum)
    val mb = 1048576.0

    val fits = stat(untraced, "fits").sum
    val batches = stat(untraced, "batch_s")
    val (tailPct, tailS) = if (batches.isEmpty) (0.0, 0.0) else Stats.tail(batches)
    val wallU = Stats.median(untraced.map(_.wallS))
    val wallT = Stats.median(traced.map(_.wallS))
    Seq(
      "fold_fits_per_s" -> Metric(if (fits == 0) 0.0 else fits / untraced.map(_.wallS).sum, "1/s", untraced.size),
      "cluster_s" -> Metric(med(stat(untraced, "cluster_s")), "s", stat(untraced, "cluster_s").size),
      "batch_p50_s" -> Metric(med(batches), "s", batches.size),
      "batch_tail_s" -> Metric(tailS, "s", batches.size),
      "batch_tail_pct" -> Metric(tailPct, "pct", batches.size),
      "sources.load_s" -> selfS("sources.load"),
      "sources.rows" -> eng("count")(_.recordsRead.toDouble),
      "cv.plan_s" -> selfS("cv.plan"),
      "cv.drop_splits_s" -> selfS("cv.drop_splits"),
      "cv.snapshots_s" -> selfS("cv.snapshots"),
      "cv.expand_ratio" -> perPass("ratio")(p => p.result.stats.getOrElse("expanded_rows", Nil).sum / rows),
      "cv.fit_s" -> selfS("cv.fit"),
      "cv.predict_s" -> selfS("cv.predict"),
      "pipeline.fit_s" -> selfS("pipeline.fit"),
      "pipeline.transform_s" -> selfS("pipeline.transform"),
      "metrics.score_s" -> selfS("metrics.score"),
      "search.fit_s" -> selfS("search.fit"),
      "search.candidates" -> passStat("candidates", "count"),
      "search.candidates_failed" -> passStat("candidates_failed", "count"),
      "search.concurrency" -> perPass("ratio") { p =>
        val fit = selfByName(p.root).getOrElse("search.fit", 0.0)
        if (fit == 0) 0.0 else p.result.stats.getOrElse("candidate_s", Nil).sum / fit
      },
      "dedup.pairs_s" -> selfS("dedup.pairs"),
      "dedup.pairs" -> passStat("pairs", "count"),
      "dedup.cc_s" -> selfS("dedup.cc"),
      "dedup.cc_rounds" -> perPass("count")(p => roundsUnder(p.root, "dedup.cc").toDouble),
      "dedup.clusters" -> passStat("clusters", "count"),
      "streaming.batches" -> passStat("batches", "count"),
      "streaming.engine_s" -> passStat("engine_s", "s"),
      "streaming.wait_s" -> perPass("s") { p =>
        val s = p.result.stats
        s.getOrElse("ingest_s", Nil).sum - s.getOrElse("engine_s", Nil).sum
      },
      "streaming.cc_rounds" -> perPass("count")(p => roundsUnder(p.root, "streaming.ingest").toDouble),
      "spark.jobs" -> eng("count")(_.jobs.toDouble),
      "spark.stages" -> eng("count")(_.stages.toDouble),
      "spark.tasks" -> eng("count")(_.tasks.toDouble),
      "spark.task_s" -> eng("s")(_.taskNanos / 1e9),
      "spark.task_max_s" -> eng("s")(_.taskMaxMs / 1e3),
      "spark.shuffle_read_mb" -> eng("MB")(_.shuffleRead / mb),
      "spark.shuffle_write_mb" -> eng("MB")(_.shuffleWrite / mb),
      "spark.spill_mb" -> eng("MB")(_.spill / mb),
      "spark.gc_s" -> perPass("s")(_.gcS),
      "spark.tasks_failed" -> eng("count")(_.tasksFailed.toDouble),
      "spark.storage_mb_held" -> perPass("MB")(_.storageMb),
      "trace.overhead_ratio" -> Metric(wallT / wallU, "ratio", nT),
      "spark.cores_speedup" -> Metric(single.wallS / wallT, "ratio", 1),
      "trace.self_share" -> perPass("ratio")(p => selfShare(p.root)),
      "trace.unattributed_jobs" -> Metric(unattributed.toDouble, "count", nT + 1))
  }

  /** Every span with its self time and engine counters, as JSON. */
  def write(path: Path, workload: String, seed: Long): Unit = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val rows = spans.sortBy(_.id).map { s =>
      val c = counters.getOrElse(s.id, new Counters)
      Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "start_ms" -> Json.num((s.start - t0) / 1e6), "end_ms" -> Json.num((s.end - t0) / 1e6),
        "self_ms" -> Json.num(self(s.id) / 1e6), "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
        "tasks" -> c.tasks.toString, "task_ms" -> Json.num(c.taskNanos / 1e6),
        "shuffle_read_bytes" -> c.shuffleRead.toString, "shuffle_write_bytes" -> c.shuffleWrite.toString,
        "spill_bytes" -> c.spill.toString, "records_read" -> c.recordsRead.toString,
        "cc_rounds" -> rounds.getOrElse(s.id, 0L).toString))
    }
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.writeString(path, Json.obj(Seq("workload" -> Json.str(workload), "seed" -> seed.toString,
      "spans" -> Json.arr(rows))) + "\n")
  }
}
