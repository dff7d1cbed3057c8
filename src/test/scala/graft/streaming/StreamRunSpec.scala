package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkTestBase
import graft.dedup.Dedup
import graft.sources.WarcSource

/** The run-scoped scaffold behind every stream of [[StreamingOps]]: what a
  * run holds after it returns, and that runs never share state.
  */
class StreamRunSpec extends SparkTestBase {
  /** A fresh dir holding each frame as the single parquet file `<name>`,
    * the shape the streams' file sources read.
    */
  private def tables(frames: (String, DataFrame)*): String = {
    val dir = s"target/test_stream_run/${System.nanoTime()}"
    frames.foreach { case (name, df) =>
      df.coalesce(1).write.parquet(s"${dir}_tmp/$name")
      val part = new File(s"${dir}_tmp/$name").listFiles().find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(dir))
      Files.move(part.toPath, Paths.get(s"$dir/$name"))
    }
    dir
  }

  /** 200 documents in 7 near-duplicate clusters (7 is coprime to the
    * screens' `doc_id % 5` probe split, so probes have base near-dups), two
    * languages, and 200 events of 10 users an hour apart.
    */
  private lazy val fixture: String = {
    import spark.implicits._
    val docs = (0 until 200).map { i =>
      val words = (0 until 100).map(j => s"c${i % 7}w$j").updated(i % 100, s"v$i")
      (i.toLong, words.mkString(" "), if (i % 2 == 0) "en" else "de")
    }.toDF("doc_id", "text", "lang")
    val events = (0 until 200).map { i =>
      (i.toLong, (i % 10).toLong, new java.sql.Timestamp(1704067200000L + i * 3600000L))
    }.toDF("event_id", "user_id", "ts")
    tables("documents.parquet" -> docs, "events.parquet" -> events)
  }

  private def rows(df: DataFrame, columns: Seq[String]): Set[Seq[Any]] =
    df.select(columns.map(col): _*).collect().map(_.toSeq).toSet

  /** The one-shot batch screen [[StreamingOps.streamScreen]] streams. */
  private def batchScreen(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    Dedup.simhashScreen(d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
      "doc_id", "text").withColumnRenamed("id", "doc_id")
  }

  test("streamWarcRelease holds nothing once it returns") {
    import spark.implicits._
    val dir = s"target/test_stream_run/warc_${System.nanoTime()}"
    WarcSource.writeWarc(spark.createDataset((0 until 8).map { i =>
      WarcSource.OutRecord(i % 2, gzip = false, i.toLong, "WARC/1.0", "response",
        s"<urn:uuid:$i>", s"http://h${i % 2}/doc/$i", "2026-01-01T00:00:00Z",
        "application/http; msgtype=response",
        s"HTTP/1.1 200 OK\r\n\r\n<p>body $i</p>".getBytes(StandardCharsets.UTF_8))
    }), dir)
    val ranks = Seq(("h0", 1.0), ("h1", 0.1)).toDF("host", "rank")
    val (ids, held) = rddsHeldAfter(StreamingOps.streamWarcRelease(
      spark, dir, ranks, rankMin = 0.5, close = identity)
      .select("doc_id").as[Long].collect().toSet)
    assert(ids == Set(0L, 2L, 4L, 6L))
    assert(held.isEmpty, s"still held: $held")
  }

  test("streamIncrementalCC holds nothing once it returns, labels checkpoints included") {
    val (labels, held) = rddsHeldAfter(StreamingOps.streamIncrementalCC(spark, fixture,
      (known, batchIds) => Dedup.simhashJaccardPairsTouching(known, batchIds, "doc_id", "text"),
      nChunks = 2).count())
    assert(labels > 0)
    assert(held.isEmpty, s"still held: $held")
  }

  test("a batch that throws releases what the stream persisted") {
    @volatile var seen = 0L
    val (e, held) = rddsHeldAfter(intercept[StreamingQueryException] {
      StreamingOps.streamIncrementalCC(spark, fixture, (known, _) => {
        seen = known.count()
        throw new IllegalStateException("pairs failed")
      }, nChunks = 1) // one staged file: the first batch holds every document
    })
    assert(held.isEmpty, s"still held: $held")
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "pairs failed"))
    assert(seen > 0, "the failing batch never read its input")
  }

  private lazy val other = tables("documents.parquet" ->
    spark.read.parquet(s"$fixture/documents.parquet").filter(col("doc_id") % 3 =!= 0))

  test("a later run under the same queryName leaves an earlier run's frame intact") {
    val first = StreamingOps.streamScreen(spark, fixture, queryName = "screen_same_name")
    val cols = first.columns.toSeq
    val second = StreamingOps.streamScreen(spark, other, queryName = "screen_same_name")
    assert(rows(second, cols) == rows(batchScreen(spark, other), cols))
    // read only now, after the second run under the same name finished
    assert(rows(first, cols) == rows(batchScreen(spark, fixture), cols))
    assert(rows(first, cols) != rows(second, cols), "the two corpora screen alike")
  }

  test("concurrent runs under one queryName in two sessions do not interfere") {
    val cols = batchScreen(spark, fixture).columns.toSeq
    val runs = Seq(fixture, other).map { dir =>
      val session = spark.newSession()
      val out = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, Boolean]]()
      val t = new Thread(() => out.set(
        try Right(rows(StreamingOps.streamScreen(session, dir, queryName = "screen_same_name"), cols)
          == rows(batchScreen(session, dir), cols))
        catch { case e: Throwable => Left(e) }))
      t.start()
      (dir, t, out)
    }
    runs.foreach { case (dir, t, out) =>
      t.join()
      assert(out.get() == Right(true), s"concurrent run on $dir: ${out.get()}")
    }
  }

  test("a streamed call writes nothing outside its run root; its frame stays readable") {
    def leaked = {
      val cwd = Option(new File("target").list()).toSeq.flatten.filter(_.startsWith("stream_"))
      val tmp = Option(new File(System.getProperty("java.io.tmpdir")).list()).toSeq.flatten
        .filter(_.startsWith("graft_sessionize_ckpt"))
      (cwd ++ tmp).toSet
    }
    val before = leaked
    val hll = StreamingOps.streamHllDistinct(spark, fixture, nChunks = 2,
      queryName = s"hll_root_${System.nanoTime()}")
    val sessions = StreamingOps.sessionize(spark, fixture)
    assert(leaked -- before == Set.empty)
    assert(hll.count() > 0 && sessions.count() > 0)
  }

  test("all and byBatch read what inference reads, running no inference job") {
    import spark.implicits._
    val run = new StreamRun(spark, s"schema_${System.nanoTime()}")
    val inBatch = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    run.drain(run.stage((0L until 30L).toDF("k"), 3, col("k"))) { b =>
      b.write("out", b.df.select(col("k"), (col("k") * 2).as("k2"), lit("x").as("s"), array(col("k")).as("a")))
      val (_, work) = jobsDuring(b.all("out").schema)
      inBatch.add(work.jobs)
    }
    import scala.jdk.CollectionConverters._
    assert(inBatch.asScala.toSeq == Seq(0, 0, 0))
    val (byBatch, byBatchWork) = jobsDuring(run.byBatch("out"))
    val (all, allWork) = jobsDuring(run.all("out"))
    assert(byBatchWork.jobs == 0 && allWork.jobs == 0)
    val inferred = spark.read.parquet(s"${run.checkpoint.stripSuffix("/checkpoint")}/out")
    assert(byBatch.schema == inferred.schema)
    assert(all.schema == inferred.drop("batch").schema)
    def sorted(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(sorted(byBatch).size == 30 && sorted(byBatch) == sorted(inferred))
  }

  test("stage streams one batch per non-empty bucket, holding that bucket only") {
    import spark.implicits._
    // at nChunks = 2 both buckets hash to shuffle partition 1: partition 0 is empty
    Seq(0L until 20L by 2L, 0L until 20L, Seq.empty[Long]).foreach { keys =>
      val run = new StreamRun(spark, s"stage_${System.nanoTime()}")
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
      run.drain(run.stage(keys.toDF("k"), 2, col("k"))) { b =>
        batches.add(b.df.as[Long].collect().toSet)
      }
      import scala.jdk.CollectionConverters._
      // an empty frame still streams, as one empty batch
      val expected = if (keys.isEmpty) Seq(Set.empty[Long])
        else keys.groupBy(_ % 2).values.map(_.toSet).toSeq
      assert(batches.size == expected.size, batches)
      assert(batches.asScala.toSet == expected.toSet)
    }
  }

  test("q_stream_web_release broadcasts its per-batch rank join, with no hint left unused") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val batchPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (plan.contains("/out/batch=")) batchPlans.add(plan)
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // with size-based broadcasts off, only the hint can make the join broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    val (n, hintErrors) = try logged("org.apache.spark.sql.catalyst.analysis.HintErrorLogger") {
      val n = graft.SparkEntry.queries("q_stream_web_release")(spark, "/root/testdata/sf0.01").count()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      n
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    assert(n > 0)
    assert(hintErrors.isEmpty, hintErrors)
    assert(!batchPlans.isEmpty)
    batchPlans.forEach(p => assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p))
  }
}
