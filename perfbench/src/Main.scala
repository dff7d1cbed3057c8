package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload run: set up, warm up, then closed-loop passes (the next
  * pass starts once the previous one is complete and checked) for the
  * given seconds. Untraced runs print the end-to-end metrics; traced runs
  * print the per-layer metrics. The working directory is the run's private
  * root: inputs, Spark local dirs, warehouse and streaming state live there.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      commit: String, traceOut: Option[String])

  final case class Metric(value: Double, unit: String, n: Int)

  /** A checked pass with its wall time and what the engine held after it. */
  final case class Timed(result: PassResult, wallS: Double, gcS: Double, storageMb: Double,
      heapMb: Double, root: Long)

  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload = Workloads.all(o.workload)
    val cores = Runtime.getRuntime.availableProcessors
    val root = Paths.get("").toAbsolutePath
    val streams = new StreamListener
    var spark = Session.start(cores, cores, root, streams)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    var attempted = 0L
    var failed = 0L

    // Set-up is timed several times for a steady median; every repetition
    // must generate the same inputs.
    val reps = (1 to SetupReps).map { k =>
      val dir = Files.createDirectories(root.resolve(s"input$k"))
      val t0 = System.nanoTime()
      val p = workload.prepare(spark, dir, o.seed)
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up $k: $secs%.3f s")
      (secs, p, dir)
    }
    attempted += 1
    if (reps.map(_._2.fingerprint).distinct.size != 1) failed += 1
    reps.init.foreach { case (_, p, dir) => p.release(); Session.deleteTree(dir) }
    val prep = reps.last._2

    val plain = new Ctx(spark, new Tracer(false), streams, cores)
    val warm = timedPass(prep, plain)
    val setupS = sessionS + Stats.median(reps.map(_._1)) + warm.wallS
    val passes = ArrayBuffer(warm)

    val metrics: Seq[(String, Metric)] =
      if (!o.trace) {
        val timed = measure(prep, plain, o.seconds, workload.timedPasses)
        passes ++= timed
        val wall = Stats.median(timed.map(_.wallS))
        Seq(
          "setup_s" -> Metric(setupS, "s", SetupReps),
          "wall_s" -> Metric(wall, "s", timed.size),
          "heap_peak_mb" -> Metric(timed.map(_.heapMb).max, "MB", timed.size),
          "rows_per_s" -> Metric(prep.rows / wall, "rows/s", timed.size))
      } else {
        val untraced = measure(prep, plain, o.seconds / 3, minPasses = 1)
        val tracer = new Tracer(true)
        val engine = new EngineListener
        spark.sparkContext.addSparkListener(engine)
        CcRounds.install()
        val traced = measure(prep, new Ctx(spark, tracer, streams, cores), o.seconds / 3, minPasses = 1)
        // the same traced pass on one core, for the scaling ratio
        spark.stop()
        spark = Session.start(1, cores, root, streams)
        prep.attach(spark)
        spark.sparkContext.addSparkListener(engine)
        val single = timedPass(prep, new Ctx(spark, tracer, streams, cores))
        passes ++= untraced ++ traced :+ single
        val layers = Layers(tracer.spans, engine, prep.rows)
        // every pass's own checks: module self times fit in its wall, and
        // every job of a traced pass, fan-out threads included, named a span
        traced.foreach { p =>
          attempted += 1
          if (layers.selfShare(p.root) > 1.0 + 1e-9) failed += 1
        }
        attempted += 1
        if (engine.counters(0L).jobs > 0) failed += 1
        o.traceOut.foreach(f => layers.write(Paths.get(f), o.workload, o.seed))
        val (a, f) = ((passes.map(_.result.attempted).sum + attempted).toDouble,
          (passes.map(_.result.failed).sum + failed).toDouble)
        Seq("fail_ratio" -> Metric(f / a, "ratio", passes.size)) ++
          layers.metrics(untraced, traced, single, engine.counters(0L).jobs)
      }

    attempted += passes.map(_.result.attempted).sum
    failed += passes.map(_.result.failed).sum
    val record = Json.obj(Seq(
      "perfbench" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "cores" -> cores.toString,
      "commit" -> Json.str(o.commit),
      "trace" -> (if (o.trace) "1" else "0"),
      "seconds" -> Json.num(o.seconds),
      "passes" -> passes.size.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit), "n" -> m.n.toString))
      })))
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
      })))
    prep.release()
    spark.stop()
    println(record)
    println(result)
  }

  /** Closed-loop passes until `budgetS` seconds have gone and at least
    * `minPasses` passes are done.
    */
  def measure(prep: Prepared, ctx: Ctx, budgetS: Double, minPasses: Int): Seq[Timed] = {
    val out = ArrayBuffer.empty[Timed]
    val t0 = System.nanoTime()
    while (out.size < minPasses || (System.nanoTime() - t0) / 1e9 < budgetS) out += timedPass(prep, ctx)
    out.toSeq
  }

  def timedPass(prep: Prepared, ctx: Ctx): Timed = {
    val gc0 = Session.gcMillis
    val t0 = System.nanoTime()
    val result = ctx.trace.span("pass") { prep.pass(ctx) }
    val wall = (System.nanoTime() - t0) / 1e9
    val gcS = (Session.gcMillis - gc0) / 1e3
    System.err.println(f"[perfbench] pass: $wall%.3f s, ${result.failed} of ${result.attempted} checks failed")
    val sc = ctx.spark.sparkContext
    if (ctx.trace.enabled) org.apache.spark.SparkInternals.drainListenerBus(sc)
    val storage = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0
    // live heap after a full collection: what the pass left behind. The
    // smaller of two readings, since one reading in ten runs came out 6x
    // the others
    val heap = Seq.fill(2) {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val root = if (ctx.trace.enabled) ctx.trace.spans.filter(_.name == "pass").map(_.id).max else 0L
    Timed(result, wall, gcS, storage, heap, root)
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.all.contains(w), s"unknown workload $w; known: ${Workloads.all.keys.toSeq.sorted.mkString(", ")}")
    val seconds = need("seconds").toDouble
    require(seconds > 0, "--seconds must be positive")
    Opts(w, need("seed").toLong, seconds, need("trace") == "1",
      kv.getOrElse("commit", "unknown"), kv.get("trace-out"))
  }
}

object Session {
  /** A local session whose scratch space is under `root`. */
  def start(sparkCores: Int, partitions: Int, root: Path, streams: StreamListener): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$sparkCores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", root.resolve("tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.streams.addListener(streams)
    s
  }

  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Linear-interpolated percentile, q in [0, 100]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q / 100 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples above it, and
    * its value (the minimum when there are ten samples or fewer).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    val q = math.max(0.0, math.floor(100.0 * (n - 10) / n))
    (q, percentile(xs, q))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    d.toString
  }
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
