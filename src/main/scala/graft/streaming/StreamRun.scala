package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}

/** One run of one `Trigger.AvailableNow` stream of [[StreamingOps]]: the
  * run's root, its staging, its drain and its batchId-keyed state. The
  * contract is stated once, on [[StreamingOps]].
  */
private[streaming] final class StreamRun(spark: SparkSession, queryName: String) {
  private val root =
    org.apache.spark.SparkLocalDir.createTemp(spark.sparkContext, "stream").getPath
  /** The query's checkpoint; a stateful query's state store lives in it. */
  val checkpoint = s"$root/checkpoint"
  /** Where [[stage]] writes its files. */
  val staging = s"$root/staging"
  private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persists `df` until the drain ends or, when called inside a batch,
    * until that batch ends.
    */
  def hold(df: DataFrame): DataFrame = held.synchronized { held += df.persist(); df }

  /** A static side: held, and materialized before the stream starts. */
  def cached(df: DataFrame): DataFrame = { hold(df).count(); df }

  /** Stages `df` as one file per non-empty `pmod(key, nChunks)` bucket and
    * streams the files back one per trigger. Each bucket is written as its
    * own `__chunk=<b>` partition, so an empty bucket writes no file. A
    * plain write would write one file per shuffle partition, and always
    * partition 0's, even when it is empty.
    */
  def stage(df: DataFrame, nChunks: Int, key: Column): DataFrame =
    stage(df.schema.add("__chunk", IntegerType)) { dir =>
      df.withColumn("__chunk", pmod(key, lit(nChunks))).repartition(nChunks, col("__chunk"))
        .write.partitionBy("__chunk").mode("overwrite").parquet(dir)
      // an empty frame has no bucket: stage it as one empty batch
      if (!new java.io.File(dir).list().exists(_.startsWith("__chunk=")))
        df.write.mode("overwrite").parquet(dir)
    }.drop("__chunk")

  /** Streams back, one file per trigger, what `write` puts in [[staging]]
    * as parquet of `schema`; the schema is given, so reading it back runs
    * no job.
    */
  def stage(schema: StructType)(write: String => Unit): DataFrame = {
    write(staging)
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(staging)
  }

  /** Runs `body` on each micro-batch of `stream` until its available input
    * is drained. `stream` is built inside the drain, so held frames are
    * released if building it fails too.
    */
  def drain(stream: => DataFrame)(body: Batch => Unit): Unit =
    run(stream.writeStream.foreachBatch { (df: DataFrame, id: Long) =>
      val mark = held.synchronized(held.size)
      try body(new Batch(df, id)) finally release(mark)
    })

  /** Drains `stream` into the memory table named after the query and
    * returns that table.
    */
  def drainToMemory(stream: DataFrame, outputMode: String = "append"): DataFrame = {
    run(stream.writeStream.format("memory").outputMode(outputMode))
    stream.sparkSession.table(queryName)
  }

  private def run(writer: => DataStreamWriter[Row]): Unit =
    try writer.queryName(queryName).option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally release(0)

  private def release(from: Int): Unit = held.synchronized {
    held.drop(from).foreach(_.unpersist(blocking = true))
    held.dropRightInPlace(held.size - from)
  }

  private def path(name: String, batchId: Long) = s"$root/$name/batch=$batchId"

  /** The schema [[Batch.write]] last wrote under each name, and the type
    * partition inference gives its `batch=<id>` column: int while every id
    * written fits one, else long.
    */
  private val written = new java.util.concurrent.ConcurrentHashMap[String, (StructType, DataType)]()

  /** One batch's output under `name`, read with the schema it was written
    * with, so no schema-inference job runs.
    */
  private def read(session: SparkSession, name: String, batchId: Long): DataFrame =
    session.read.schema(written.get(name)._1).parquet(path(name, batchId))

  /** Every batch's output under `name`, with its batch id in column
    * `batch`, read with the recorded schema and batch type, so no
    * schema-inference job runs. A name nothing was written under fails as
    * the read of a missing path does.
    */
  private def readAll(session: SparkSession, name: String): DataFrame =
    Option(written.get(name)).fold(session.read) { case (schema, batch) =>
      session.read.schema(schema.add("batch", batch))
    }.parquet(s"$root/$name")

  /** Every batch's output under `name`, with its batch id in column `batch`. */
  def byBatch(name: String): DataFrame = readAll(spark, name)

  /** Every batch's output under `name`. */
  def all(name: String): DataFrame = byBatch(name).drop("batch")

  /** The output of the last batch that wrote under `name`. */
  def last(name: String): DataFrame = read(spark, name,
    new java.io.File(s"$root/$name").list().map(_.stripPrefix("batch=").toLong).max)

  /** One micro-batch: its rows, its id, and the run's state read in the
    * batch's own session.
    */
  final class Batch private[StreamRun] (val df: DataFrame, val id: Long) {
    /** Overwrites this batch's output under `name`. */
    def write(name: String, out: DataFrame): Unit = {
      out.write.mode("overwrite").parquet(path(name, id))
      written.compute(name, (_, before) => {
        val intIds = id.isValidInt && (before == null || before._2 == IntegerType)
        (out.schema, if (intIds) IntegerType else LongType)
      })
    }

    /** Every output written under `name` so far. */
    def all(name: String): DataFrame = readAll(df.sparkSession, name).drop("batch")

    /** The previous batch's output under `name`, if it wrote one. */
    def previous(name: String): Option[DataFrame] =
      Some(id - 1).filter(prev => id > 0 && new java.io.File(path(name, prev)).exists)
        .map(read(df.sparkSession, name, _))
  }
}
