package graft.tools

import org.apache.spark.sql.functions._

/** Round-8 calibration probe: print Par.parts and the leaf-stat bytes for
  * the frames the dedup/stream family actually pins, at the given sf dir.
  */
object ParProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def leafBytes(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.collectLeaves()
        .map(l => l.stats.sizeInBytes).foldLeft(BigInt(0))(_ + _)
    def show(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      println(f"$name%-28s leafBytes=${leafBytes(df)}%12s parts=${graft.ops.Par.parts(df)}%3d  leaves=" +
        df.queryExecution.optimizedPlan.collectLeaves().map(_.getClass.getSimpleName).mkString(","))

    val docs = graft.sources.Tables.cached(spark, sfDir, "documents")
    show("docs(cached,cold)", docs)
    docs.count()
    show("docs(cached,warm)", docs)
    val sparse = graft.dedup.SparseCorpus.generate(docs.select("doc_id"))
    show("sparse", sparse)
    val sigs = graft.dedup.Dedup.simhash(docs, "doc_id", "text", 48)
    show("simhash sigs", sigs)
    val minsig = graft.dedup.Dedup.minhashSignatures(docs, "doc_id", "text", 1, 16)
    show("minhashSignatures", minsig)
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    show("events(load)", ev)
    val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
    show("lineitem(load)", li)
    spark.stop()
  }
}
