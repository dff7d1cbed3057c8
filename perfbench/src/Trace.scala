package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced call: `parent` is 0 for a root. Times are System.nanoTime. */
final case class Span(id: Long, name: String, parent: Long, start: Long, end: Long) {
  def nanos: Long = end - start
}

object SpanMath {

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover. Children may overlap each other (they can run
    * on other threads), so the covered part is the union of their
    * intervals, clipped to the parent.
    */
  def selfNanos(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.nanos - covered)
    }.toMap
  }

  /** Σ self seconds per span name. */
  def selfSecondsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNanos(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  /** Every span id under `root`, `root` included. */
  def subtree(spans: Seq[Span], root: Long): Set[Long] = {
    val children = spans.groupBy(_.parent)
    @annotation.tailrec
    def go(frontier: List[Long], acc: Set[Long]): Set[Long] = frontier match {
      case Nil => acc
      case h :: t => go(children.getOrElse(h, Nil).map(_.id).toList ++ t, acc + h)
    }
    go(List(root), Set.empty)
  }
}

/** Spans around the benchmark's calls into the program. When `enabled`, each
  * span also becomes the Spark local property [[Tracer.SpanKey]] of the
  * calling thread, so every job the call submits, also from threads it
  * spawns (local properties are inherited), names its innermost span.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val current = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = org.apache.spark.SparkInternals.activeContext
      val id = ids.incrementAndGet()
      val parent: Long = current.get()
      val prevProp = sc.map(_.getLocalProperty(Tracer.SpanKey)).orNull
      current.set(id)
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, parent, t0, System.nanoTime()))
        current.set(parent)
        sc.foreach(_.setLocalProperty(Tracer.SpanKey, prevProp))
      }
    }

  def spans: Seq[Span] = done.asScala.toVector
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** The span id a thread is inside, from its Spark local property. */
  def currentSpan: Option[Long] =
    org.apache.spark.SparkInternals.activeContext.flatMap(sc => Option(sc.getLocalProperty(SpanKey))).map(_.toLong)
}

/** Engine counters summed per span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNanos = 0L
  var taskMaxMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var tasksFailed = 0L
  var recordsRead = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskNanos += o.taskNanos
    taskMaxMs = math.max(taskMaxMs, o.taskMaxMs); shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; tasksFailed += o.tasksFailed
    recordsRead += o.recordsRead
  }
}

/** A SparkListener that attributes jobs, stages and tasks to the span named
  * by each job's [[Tracer.SpanKey]] property. Jobs without the property are
  * counted under span 0.
  */
final class EngineListener extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  def counters(span: Long): Counters = bySpan.computeIfAbsent(span, _ => new Counters)
  def snapshot: Map[Long, Counters] = bySpan.asScala.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    counters(span).jobs += 1
    e.stageIds.foreach(s => stageSpan.put(s, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counters(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageSpan.getOrDefault(e.stageId, 0L))
    c.tasks += 1
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) c.tasksFailed += 1
    Option(e.taskInfo).foreach(i => c.taskMaxMs = math.max(c.taskMaxMs, i.duration))
    Option(e.taskMetrics).foreach { m =>
      c.taskNanos += m.executorRunTime * 1000000L
      c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.recordsRead += m.inputMetrics.recordsRead
    }
  }
}

/** Per streaming run: (batch id, triggerExecution ms, input rows) per
  * progress event, and whether the run has terminated.
  */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  final case class Batch(batchId: Long, triggerMs: Long, inputRows: Long)
  private val batches = new ConcurrentHashMap[java.util.UUID, java.util.List[Batch]]()
  private val ended = ConcurrentHashMap.newKeySet[java.util.UUID]()

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    batches.putIfAbsent(e.runId, java.util.Collections.synchronizedList(new java.util.ArrayList[Batch]()))
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    batches.computeIfAbsent(p.runId,
      _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Batch]()))
      .add(Batch(p.batchId, p.durationMs.getOrDefault("triggerExecution", 0L), p.numInputRows))
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.runId)

  def runs: Set[java.util.UUID] = batches.keySet.asScala.toSet
  def terminated(run: java.util.UUID): Boolean = ended.contains(run)
  def batchesOf(run: java.util.UUID): Seq[Batch] =
    Option(batches.get(run)).map(l => l.synchronized(l.asScala.toVector)).getOrElse(Vector.empty)

  /** Batches of the one run started since `before`, once it has terminated. */
  def awaitRun(spark: org.apache.spark.sql.SparkSession, before: Set[java.util.UUID]): Seq[Batch] = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    def fresh = runs -- before
    def done = fresh.nonEmpty && fresh.forall(terminated)
    while (!done && System.nanoTime() < deadline) {
      org.apache.spark.SparkInternals.drainListenerBus(spark.sparkContext)
      if (!done) Thread.sleep(5)
    }
    require(done && fresh.size == 1, s"expected one terminated streaming run, saw ${fresh.size}")
    batchesOf(fresh.head)
  }
}

/** Counts the `graft.dedup.CC` logger's per-round lines, attributed to the
  * span of the logging thread.
  */
object CcRounds {
  private val bySpan = new ConcurrentHashMap[Long, AtomicLong]()
  @volatile private var installed = false

  def rounds(span: Long): Long = Option(bySpan.get(span)).map(_.get).getOrElse(0L)
  def snapshot: Map[Long, Long] = bySpan.asScala.map { case (k, v) => k -> v.get }.toMap

  def install(): Unit = synchronized {
    if (!installed) {
      import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
      val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
      val appender = new AbstractAppender("perfbench-cc", null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getMessage.getFormattedMessage.startsWith("CC round "))
            bySpan.computeIfAbsent(Tracer.currentSpan.getOrElse(0L), _ => new AtomicLong).incrementAndGet()
      }
      appender.start()
      val config = ctx.getConfiguration
      config.addAppender(appender)
      val logger = new LoggerConfig("graft.dedup.CC", org.apache.logging.log4j.Level.INFO, false)
      logger.addAppender(appender, org.apache.logging.log4j.Level.INFO, null)
      config.addLogger("graft.dedup.CC", logger)
      ctx.updateLoggers()
      installed = true
    }
  }
}
