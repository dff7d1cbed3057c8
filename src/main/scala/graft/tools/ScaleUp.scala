package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-probe table replicator: writes a K×-scaled copy of an sf dir under
  * target/ by unioning K id-offset copies of each fact table — the fourth
  * scale decade the round-4 verdict asked for (the harness ships no sf1).
  *
  * Key discipline: every entity key is offset by `copy · (max(key)+1)` so
  * uniqueness and referential integrity survive — foreign keys into
  * replicated tables (o_custkey, l_orderkey, l_partkey, l_suppkey) shift by
  * the SAME stride as their parent; dimension tables (region, nation) stay
  * single-copy with their keys untouched. events.ts is rewritten as a
  * microsecond TIMESTAMP (the nanos carry no sub-µs information), which
  * both Spark and the DuckDB oracle read directly.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [dstDir] [k]
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/sfbig"
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import graft.sources.Tables

    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    val customer = Tables.load(spark, src, "customer")
    val supplier = Tables.load(spark, src, "supplier")
    val part = Tables.load(spark, src, "part")
    val orders = Tables.load(spark, src, "orders")
    val lineitem = Tables.load(spark, src, "lineitem")
    val events = Tables.load(spark, src, "events")
    val documents = Tables.load(spark, src, "documents")
    val embeddings = Tables.load(spark, src, "embeddings")

    val custS = stride(customer, "c_custkey")
    val suppS = stride(supplier, "s_suppkey")
    val partS = stride(part, "p_partkey")
    val ordS = stride(orders, "o_orderkey")
    val evS = stride(events, "event_id")
    val userS = stride(events, "user_id")
    val docS = stride(documents, "doc_id")
    val vecS = stride(embeddings, "vec_id")

    def replicate(df: DataFrame, keys: Map[String, Long]): DataFrame = {
      val copies = spark.range(k).select(col("id").as("__copy"))
      df.crossJoin(copies).select(df.columns.map { c =>
        keys.get(c) match {
          case Some(s) => (col(c) + col("__copy") * s).as(c)
          case None => col(c)
        }
      }: _*)
    }

    def write(df: DataFrame, name: String): Unit = {
      val tmp = s"$dst/__tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val partFile = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().orElseThrow(() => new IllegalStateException(s"no part file for $name"))
      Files.createDirectories(Paths.get(dst))
      Files.move(partFile, Paths.get(s"$dst/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // clean the tmp dir
      val s = Files.walk(Paths.get(tmp))
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
      println(s"[scaleup] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    write(Tables.load(spark, src, "region"), "region")
    write(Tables.load(spark, src, "nation"), "nation")
    write(replicate(customer, Map("c_custkey" -> custS)), "customer")
    write(replicate(supplier, Map("s_suppkey" -> suppS)), "supplier")
    write(replicate(part, Map("p_partkey" -> partS)), "part")
    write(replicate(orders, Map("o_orderkey" -> ordS, "o_custkey" -> custS)), "orders")
    write(replicate(lineitem,
      Map("l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS)), "lineitem")
    write(replicate(events, Map("event_id" -> evS, "user_id" -> userS)), "events")
    write(replicate(documents, Map("doc_id" -> docS)), "documents")
    write(replicate(embeddings, Map("vec_id" -> vecS)), "embeddings")
    spark.stop()
  }
}
