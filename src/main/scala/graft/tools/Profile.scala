package graft.tools

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sources.Tables

/** Ad-hoc profiling main for the dedup pipeline stages. */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[$name] ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    val docs = Tables.documents(spark, dir).cache()
    println(s"docs: ${docs.count()}")

    time("signatures") {
      Dedup.minhashSignatures(docs, "doc_id", "text", 1, 16).count()
    }
    val cands = time("lsh candidates") {
      val c = Dedup.lshCandidates(docs, "doc_id", "text", 1, 16, 4).cache()
      println(s"  candidates: ${c.count()}"); c
    }
    time("verify (array jaccard)") {
      val sh = docs.select(col("doc_id").as("id"), Dedup.shingles(col("text"), 1).as("sh"))
      val n = cands
        .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("sim", Dedup.jaccard(col("sh_a"), col("sh_b")))
        .filter(col("sim") >= 0.8).count()
      println(s"  verified pairs: $n")
    }
    spark.stop()
  }
}
