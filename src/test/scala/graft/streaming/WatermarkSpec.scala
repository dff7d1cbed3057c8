package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** True multi-batch watermark semantics: with append mode, a window only
  * emits once the watermark passes its end, and events arriving later than
  * the watermark are dropped — the behavior `streamPeriodAgg`'s
  * single-batch AvailableNow path cannot show.
  */
class WatermarkSpec extends SparkTestBase {
  private lazy val sp = spark
  import sp.implicits._

  test("late events beyond the watermark are dropped; closed windows emit once") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))

    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append()).start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: two events on Jan 1, one on Jan 2 -> watermark to Jan 2 23:00
    input.addData((ts("2024-01-01 10:00:00"), 1.0), (ts("2024-01-01 11:00:00"), 2.0),
      (ts("2024-01-02 23:59:00"), 4.0))
    q.processAllAvailable()
    // batch 2: advance event time to Jan 4 -> Jan 1 + Jan 2 windows close
    input.addData((ts("2024-01-04 01:00:00"), 8.0))
    q.processAllAvailable()
    // batch 3: a LATE Jan-1 event, far behind the watermark -> dropped
    input.addData((ts("2024-01-01 12:00:00"), 100.0))
    q.processAllAvailable()
    // batch 4: advance far so remaining windows close
    input.addData((ts("2024-01-07 00:00:00"), 16.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("wm_test")
      .select(to_date(col("w.start")).as("d"), col("n"), col("s"))
      .collect().map(r => r.getDate(0).toString -> ((r.getLong(1), r.getDouble(2)))).toMap

    // Jan 1 window emitted with ONLY the on-time events; the late 100.0 never appears
    assert(out("2024-01-01") == (2L, 3.0))
    assert(out("2024-01-02") == (1L, 4.0))
  }

  test("fold plans re-derive per micro-batch as the period axis grows (foreachBatch)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.cv.PanelSplit
    val input = MemoryStream[(Int, Double)] // (period, value)
    val seen = scala.collection.mutable.SortedSet.empty[Int]
    val plans = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Vector[Any])]
    val q = input.toDF().toDF("period", "value").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // per micro-batch: fold the batch's periods into the axis and
        // re-plan — the axis is tiny (distinct periods), so re-planning is
        // driver-cheap no matter how many rows streamed
        seen ++= batch.select("period").distinct().collect().map(_.getInt(0))
        if (seen.size >= 3) {
          val ps = PanelSplit.fromAxis(seen.toVector.map(_.asInstanceOf[Any]),
            "period", nSplits = 2, testSize = 1)
          plans += ((id, seen.size, ps.folds.map(_.testPeriods.head).toVector))
        }
        ()
      }
      .start()
    input.addData((1, 1.0), (2, 2.0), (3, 3.0))
    q.processAllAvailable()
    input.addData((4, 4.0), (5, 5.0))
    q.processAllAvailable()
    q.stop()
    // batch 0: axis {1,2,3} -> folds test 2,3; batch 1: axis {1..5} -> 4,5
    assert(plans.map(p => (p._2, p._3)).toList ==
      List((3, Vector(2, 3)), (5, Vector(4, 5))))
  }

  test("sessionize: closed sessions emit across micro-batches with O(1) state") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = ts(s).getTime * 1000L
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[StreamingOps.UserEvent]
    val gapUs = 12L * 3600L * 1000000L
    val q = StreamingOps.sessionizeStream(events, gapUs).toDF()
      .writeStream.format("memory").queryName("session_mb")
      .outputMode(OutputMode.Append()).start()

    // batch 1: user 1, two events 30min apart — session 0 stays open in
    // state (a single OpenSession record, NOT the event list)
    input.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:30:00")))
    q.processAllAvailable()
    assert(spark.table("session_mb").count() == 0) // nothing closed yet

    // batch 2: user 1 reappears 22.5h later — gap exceeded, session 0
    // closes IN-BATCH and emits; session 1 opens
    input.addData((1L, ts("2024-01-02 09:00:00")))
    q.processAllAvailable()
    val afterB2 = spark.table("session_mb").collect()
    assert(afterB2.length == 1)
    assert(afterB2.head.getLong(0) == 1L && afterB2.head.getInt(1) == 0)
    assert(afterB2.head.getLong(2) == 2L) // 2 events
    assert(afterB2.head.getLong(3) == us("2024-01-01 10:00:00"))
    assert(afterB2.head.getLong(4) == us("2024-01-01 10:30:00"))

    // batch 3: a DIFFERENT user far in the future advances the watermark
    // past session 1's (last + gap) — session 1 closes by EVENT-TIME
    // TIMEOUT, without user 1 sending anything
    input.addData((2L, ts("2024-01-03 12:00:00")))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("session_mb").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(all.contains((1L, 1, 1L)), s"timeout-closed session missing from $all")
    assert(all.size == 2) // user 2's session is still open -> not emitted
  }

  test("behind-watermark events are dropped; session bounds stay consistent") {
    // Spark's late-row filter removes rows at-or-behind the watermark BEFORE
    // the stateful operator, so an open session's start_us can never be
    // contradicted by a late arrival: the watermark after the batch that set
    // it is always >= it. This pins that contract (the session closes with
    // its original bounds and count, the late event contributing nothing).
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = ts(s).getTime * 1000L
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[StreamingOps.UserEvent]
    val gapUs = 12L * 3600L * 1000000L
    val q = StreamingOps.sessionizeStream(events, gapUs).toDF()
      .writeStream.format("memory").queryName("session_late")
      .outputMode(OutputMode.Append()).start()
    input.addData((1L, ts("2024-01-01 12:00:00")))
    q.processAllAvailable() // watermark -> 12:00
    input.addData((1L, ts("2024-01-01 11:00:00"))) // behind watermark -> dropped
    q.processAllAvailable()
    input.addData((9L, ts("2024-01-05 00:00:00"))) // advance wm, time out u1
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("session_late").filter(col("user_id") === 1L).collect()
    assert(closed.length == 1)
    assert(closed.head.getLong(2) == 1L, "late event should have been dropped")
    assert(closed.head.getLong(3) == us("2024-01-01 12:00:00"))
    assert(closed.head.getLong(4) == us("2024-01-01 12:00:00"))
  }

  test("tombstone TTL bounds state: eviction restarts session numbering") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[StreamingOps.UserEvent]
    val gapUs = 12L * 3600L * 1000000L
    val ttlUs = 24L * 3600L * 1000000L
    val q = StreamingOps.sessionizeStream(events, gapUs, tombstoneTtlUs = Some(ttlUs)).toDF()
      .writeStream.format("memory").queryName("session_ttl")
      .outputMode(OutputMode.Append()).start()
    input.addData((1L, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    input.addData((9L, ts("2024-01-02 23:00:00"))) // u1 session 0 times out -> tombstone
    q.processAllAvailable()
    input.addData((9L, ts("2024-01-10 00:00:00"))) // watermark passes tombstone TTL -> evicted
    q.processAllAvailable()
    input.addData((1L, ts("2024-01-11 10:00:00"))) // u1 reappears AFTER eviction
    q.processAllAvailable()
    input.addData((9L, ts("2024-01-20 00:00:00"))) // close u1's new session
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("session_ttl").filter(col("user_id") === 1L)
      .select("session_idx").as[Int].collect().toList
    // with the tombstone evicted, numbering restarts at 0 (without TTL the
    // second session would carry idx 1) — the documented bounded-state trade
    assert(u1 == List(0, 0), s"expected renumbering restart, got $u1")
  }

  test("drain-mode sessionize finalize is single-pass: no second events scan") {
    val out = StreamingOps.sessionize(spark, "/root/testdata/sf0.001",
      queryName = s"sessions_sp_${System.nanoTime()}")
    // the finalize unions the memory sink with the checkpoint's state store;
    // the events file must appear nowhere in its (batch) plan — the stream
    // already consumed it exactly once
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("events.parquet"), s"finalize re-scans events:\n$plan")
    assert(out.count() > 0)
  }

  test("streamed C4 filter equals the one-shot batch filter row for row") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingOps.streamC4Filter(spark, dir,
      queryName = s"c4_stream_${System.nanoTime()}")
      .collect().map(_.toSeq).toSet
    val batch = graft.text.Heuristics.flags(
      graft.sources.Tables.cached(spark, dir, "documents"), "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streamed bloom screen equals the one-shot batch screen row for row") {
    import graft.dedup.Bloom
    val dir = "/root/testdata/sf0.001"
    val M = 1 << 15
    val K = 5
    val streamed = StreamingOps.streamBloomScreen(spark, dir, M, K,
      queryName = s"bloom_stream_${System.nanoTime()}")
      .collect().map(_.toSeq).toSet
    val d = graft.sources.Tables.cached(spark, dir, "documents")
    val base = d.filter(col("doc_id") % 5 =!= 0).select(md5(col("text")).as("fp"))
    val words = Bloom.collectWords(Bloom.bitmap(base, col("fp"), M, K), M)
    val probe = d.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val exact = probe.join(base.distinct().withColumn("__e", lit(1)), Seq("fp"), "left")
      .select(col("doc_id"), coalesce(col("__e"), lit(0)).as("exact_hit"))
    val batch = Bloom.probeBroadcast(words, probe, col("fp"), M, K)
      .select(col("doc_id"), col("bloom_hit").cast("int").as("bloom_hit"))
      .join(exact, Seq("doc_id"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streamed incremental CC snapshots converge to the one-shot full-graph clustering") {
    import graft.dedup.Dedup
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingOps.streamIncrementalCC(spark, dir,
      (known, batchIds) => Dedup.simhashJaccardPairsTouching(
        known, batchIds, "doc_id", "text"),
      nChunks = 4, queryName = s"cc_stream_${System.nanoTime()}")
      .collect().map(_.toSeq).toSet
    val d = graft.sources.Tables.cached(spark, dir, "documents")
    val batch = Dedup.connectedComponents(
      d.select(col("doc_id").as("id")),
      Dedup.simhashJaccardPairs(d, "doc_id", "text").select("id_a", "id_b"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // non-trivial: at least one multi-doc cluster crossed chunk boundaries
    val multi = batch.groupBy(_.apply(1)).filter(_._2.size > 1)
    assert(multi.nonEmpty)
  }

  test("q_stream_incremental_cc keeps a null-text doc as its own singleton") {
    // gate corpus in miniature: a near-dup cluster spread over all five
    // chunks (doc_id mod 5), an empty text and a null text
    val words = (1 to 30).map(i => s"w$i")
    val texts = Seq(
      0L -> words, 1L -> words, 2L -> words.updated(3, "v3"), 3L -> words.updated(7, "v7"),
      4L -> words.updated(3, "v3").updated(9, "v9"), 5L -> (1 to 30).map(i => s"u$i"),
      6L -> Seq(""), 8L -> words.take(20))
      .map { case (id, ws) => (id, ws.mkString(" ")) } :+ (7L -> (null: String))
    val dir = s"target/test_stream_cc_null/${System.nanoTime()}"
    texts.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val q = graft.SparkEntry.queries
    val streamed = q("q_stream_incremental_cc")(spark, dir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    // the gate's oracle is q_dedup_clusters: one-shot CC over all doc ids
    val oneShot = q("q_dedup_clusters")(spark, dir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(streamed == oneShot)
    assert(streamed.get(7L).contains(7L), "null-text doc must be its own singleton")
    assert(!streamed.exists { case (id, c) => id != 7L && c == 7L })
    assert((0L to 4L).forall(streamed(_) == 0L), s"near-dup cluster split: $streamed")
  }

  test("streamed SCD2 maintenance converges to the one-shot history build") {
    import org.apache.spark.sql.DataFrame
    val dir = "/root/testdata/sf0.001"
    val proj = (b: DataFrame) => b.select(
      col("doc_id"),
      pmod(col("doc_id"), lit(17)).as("key"), // keys straddle chunks
      pmod(col("doc_id") * 7919, lit(1000)).as("ts"),
      pmod(col("doc_id"), lit(3)).as("cc"))
    val streamed = StreamingOps.streamScd2(spark, dir, proj,
      "key", "ts", "cc", "doc_id",
      nChunks = 4, queryName = s"scd2_stream_${System.nanoTime()}")
      .select("key", "version", "effective_from", "effective_to", "cc")
      .collect().map(_.toSeq).toSet
    val d = graft.sources.Tables.cached(spark, dir, "documents")
    val batch = graft.ops.Scd2.buildHistory(proj(d), "key", "ts", "cc", "doc_id")
      .select("key", "version", "effective_from", "effective_to", "cc")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // non-trivial: some key has multiple versions
    assert(batch.groupBy(_.head).exists(_._2.size > 1))
  }

  test("stream-stream interval join drains to exactly the batch join") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingOps.streamStreamJoin(spark, dir,
      queryName = "wm_stream_join_test")
      .collect().map(_.toSeq).toSet
    val ev = graft.sources.Tables.load(spark, dir, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_event_id"), col("user_id"),
        col("ts").as("cts"), col("value").as("cv"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_event_id"), col("user_id"),
        col("ts").as("pts"), col("value").as("pv"))
    val batch = c.join(p, Seq("user_id"))
      .filter(col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_event_id"), col("purchase_event_id"), col("user_id"),
        unix_micros(col("cts")).as("click_ts_us"),
        unix_micros(col("pts")).as("purchase_ts_us"),
        round(col("cv"), 6).as("click_value"),
        round(col("pv"), 6).as("purchase_value"))
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty, "join produced no pairs on the fixture")
    assert(streamed == batch, "streamed join diverged from the batch interval join")
  }

  test("streamReleaseCompose: streamed per-doc prefix + batch close equals the all-batch run") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    // per-doc stage: a row-local quality projection + filter; close stage:
    // a corpus-global min-id canonical dedup on the projected text
    val perDoc = (df: DataFrame) => df
      .select(col("doc_id"), lower(col("text")).as("t"))
      .filter(length(col("t")) > 40)
    val close = (acc: DataFrame) => acc
      .groupBy(col("t")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy().agg(count(lit(1)).as("n_canonical"), sum(col("doc_id")).as("id_sum"))
    val streamed = StreamingOps.streamReleaseCompose(spark, dir, perDoc, close,
      queryName = s"release_${System.nanoTime()}")
      .collect().map(_.toSeq).toSet
    val batch = close(perDoc(spark.read.parquet(s"$dir/documents.parquet")))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}
