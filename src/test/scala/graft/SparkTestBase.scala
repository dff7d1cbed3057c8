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

  /** Ids of the checkpointed RDDs `df` reads. */
  def checkpointRdds(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.queryExecution.logical.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
