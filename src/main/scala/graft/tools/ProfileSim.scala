package graft.tools

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sources.Tables

/** Stage-level timing for the SimHash/MinHash dedup heads — attributes the
  * flagship pipelines' cost to signature / banding / candidate-join /
  * verify / CC stages so optimization targets the measured stage, not a
  * guess (guide §1.1). Each stage materializes via count().
  */
object ProfileSim {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // per-stage metrics: tasks, summed task time, max task time (skew), wall
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

    def time[T](name: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime(); val r = f
      println(f"[$name] ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.sparkContext.setJobDescription(null)
      r
    }

    val docs = Tables.cached(spark, dir, "documents")
    println(s"docs: ${docs.count()}")

    // --- SimHash head (q_dedup_clusters / q_curation_pipeline) ---
    time("simhash48")(Dedup.simhash(docs, "doc_id", "text", 48).count())
    time("simhash48 again")(Dedup.simhash(docs, "doc_id", "text", 48).count())
    val nd = time("simhashNearDupPairs (cand join + hamming + distinct)") {
      val p = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        bits = 48, nBands = 12, maxHamming = 11)
      println(s"  nd pairs: ${p.count()}")
      if (args.length > 1) println(p.queryExecution.executedPlan.toString.take(8000)); p
    }
    time("simhashJaccardPairs (verify tail)") {
      val p = Dedup.simhashJaccardPairs(docs, "doc_id", "text", 1,
        0.9)
      if (args.length > 1) { p.explain("formatted") }
      println(s"  verified: ${p.count()}")
    }

    // --- MinHash-LSH head (q_dedup_minhash_lsh / capped pipelines) ---
    time("minhash sigs (wide agg)") {
      Dedup.minhashSignatures(docs, "doc_id", "text", 1, 16).count()
    }
    time("lsh cands uncapped") {
      val c = Dedup.lshCandidates(docs, "doc_id", "text", 1, 16, 4)
      println(s"  cands: ${c.count()}")
    }
    time("minhashLshPairs thr0.8 uncapped (q_dedup_minhash_lsh)") {
      val p = Dedup.minhashLshPairs(docs, "doc_id", "text", 1, 16, 4, 0.8, None)
      println(s"  verified: ${p.count()}")
    }
    time("minhashLshPairs thr0.9 capped (pipelines)") {
      val p = Dedup.minhashLshPairs(docs, "doc_id", "text", 1, 16, 4,
        0.9, Some(250))
      println(s"  verified: ${p.count()}")
    }
    // --- CC rounds over a materialized pair frame ---
    locally {
      val pairs = Dedup.simhashJaccardPairs(docs, "doc_id", "text", 1, 0.9)
        .select("id_a", "id_b").localCheckpoint(true)
      println(s"  pairs cached: ${pairs.count()}")
      time("CC over cached pairs") {
        Dedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs).count()
      }
    }
    spark.stop()
  }
}
