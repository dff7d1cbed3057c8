package graft

/** Single-query probe: run one `SparkEntry.queries` entry under the same
  * session config as [[Bench]], with the CC per-round instrumentation
  * visible — `runMain graft.RunOne <query> [sfDir] [reps]`. Diagnostic
  * surface for chasing per-query variance without paying a full bench run.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, s"usage: RunOne <query> [sfDir] [reps]; " +
      s"known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // keep the diagnostic loggers audible under the WARN default
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.dedup.CC", org.apache.logging.log4j.Level.INFO)
    // SPARK_GRAFT_STAGES=1: per-stage wall/taskSum/taskMax + shuffle record
    // counts for stages over 1 s — the round-7 single-task/straggler hunt
    if (sys.env.get("SPARK_GRAFT_STAGES").contains("1"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        private val maxT = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        private val sumT = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        private val srRec = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        private val swRec = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val rt = e.taskInfo.duration
          maxT.merge(e.stageId, rt, (a, b) => math.max(a, b))
          sumT.merge(e.stageId, rt, (a, b) => a + b)
          if (e.taskMetrics != null) {
            srRec.merge(e.stageId, e.taskMetrics.shuffleReadMetrics.recordsRead, (a, b) => a + b)
            swRec.merge(e.stageId, e.taskMetrics.shuffleWriteMetrics.recordsWritten, (a, b) => a + b)
          }
        }
        override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
          t0.put(e.stageInfo.stageId, System.nanoTime())
        override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val wall = (System.nanoTime() - t0.getOrDefault(si.stageId, System.nanoTime())) / 1e9
          if (wall > 1.0)
            println(f"STAGE ${si.stageId}%4d ${si.numTasks}%4d tasks wall=$wall%6.1fs " +
              f"taskSum=${sumT.getOrDefault(si.stageId, 0L) / 1e3}%7.1fs " +
              f"taskMax=${maxT.getOrDefault(si.stageId, 0L) / 1e3}%6.1fs " +
              f"sRead=${srRec.getOrDefault(si.stageId, 0L)}%10d sWrite=${swRec.getOrDefault(si.stageId, 0L)}%10d")
        }
      })
    // same warmup as Bench: JVM/codegen/table-cache spin-up untimed
    try SparkEntry.queries.get("q_fold_periods").foreach(_(spark, sfDir).count())
    catch { case _: Throwable => () }
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"RUNONE $name rep $r: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
