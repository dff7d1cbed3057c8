package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = super.afterAll()

  /** Runs `body` and returns its result with the number of distinct RDDs
    * that stored blocks meanwhile, i.e. how many frames it cached.
    */
  def rddsCachedDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onBlockUpdated(e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId.asRDDId.foreach(b => ids.add(b.rddId))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, ids.size)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` and returns its result with the Spark jobs it ran and the
    * stages those jobs completed (skipped stages do not count).
    */
  def jobsDuring[T](body: => T): (T, SparkTestBase.Work) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, SparkTestBase.Work(jobs.get, stages.get))
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` and returns its result with the ids of the RDDs it left
    * behind: new in `getPersistentRDDs` or holding `rdd_` blocks.
    */
  def rddsHeldAfter[T](body: => T): (T, Set[Int]) = {
    val sc = spark.sparkContext
    def held = sc.getPersistentRDDs.keySet.toSet ++ org.apache.spark.RddBlocks(sc)
    val before = held
    val out = body
    (out, held -- before)
  }

  /** Runs `body` with the messages `logger` writes at INFO collected. */
  def logged[T](logger: String)(body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val lines = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender(s"spec-$logger", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val config = ctx.getConfiguration
    val lc = new LoggerConfig(logger, org.apache.logging.log4j.Level.INFO, false)
    lc.addAppender(appender, org.apache.logging.log4j.Level.INFO, null)
    config.addLogger(logger, lc)
    ctx.updateLoggers()
    try {
      val out = body
      import scala.jdk.CollectionConverters._
      (out, lines.asScala.toSeq.sorted)
    } finally {
      config.removeLogger(logger)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  /** Ids of the checkpointed RDDs `df` reads. */
  def checkpointRdds(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.queryExecution.logical.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.build(4)

  /** Spark jobs run, and stages completed, during a measured block. */
  final case class Work(jobs: Int, stages: Int)
}
