package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Structured Streaming extension (SURVEY §7.6 — not a reference
  * capability): the period axis of a panel is maintained incrementally from
  * an event stream via watermarked tumbling-window aggregation; fold
  * (re-)planning happens per micro-batch on the tiny aggregated axis.
  *
  * Every stream here drains its available input under
  * `Trigger.AvailableNow` through one [[StreamRun]], whose contract holds
  * for all of them:
  *   - each call gets a fresh root under Spark's local dir
  *     (`spark.local.dir` / `SPARK_LOCAL_DIRS`), deleted at JVM shutdown, so
  *     runs never share state, whatever their `queryName` (which names only
  *     the query, and a memory sink's table). The query checkpoint, staged
  *     input and batch outputs live there, and the returned frame reads
  *     them, so it stays readable after the call returns;
  *   - each batch output is written under its batchId with mode overwrite
  *     and state is read back by explicit batchId, so a batch replayed under
  *     `foreachBatch`'s at-least-once delivery rewrites identical output;
  *   - static sides (cached before the stream starts) are released when the
  *     drain ends, and frames a batch persists when that batch ends, on
  *     success or failure alike.
  */
object StreamingOps {

  /** `dir/<file>` as a file stream, one file per trigger. */
  private def fileStream(spark: SparkSession, dir: String, file: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(s"$dir/$file").schema)
      .option("pathGlobFilter", file).option("maxFilesPerTrigger", "1").parquet(dir)

  /** The events table as a stream, `ts` read as a session-TZ timestamp
    * whichever parquet flavor stores it.
    */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Tables.tsConf(spark)
    val s = fileStream(spark, dir, "events.parquet")
    if (s.schema("ts").dataType == LongType) s.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else s
  }

  /** The response records of the WARC archives under `warcDir`, streamed
    * one archive per trigger.
    */
  private def warcResponses(spark: SparkSession, warcDir: String): DataFrame = {
    import spark.implicits._
    spark.readStream.format("binaryFile")
      .schema(org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat.schema)
      .option("pathGlobFilter", "*.warc*")
      .option("maxFilesPerTrigger", "1")
      .load(warcDir)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap((graft.sources.WarcSource.parseArchive _).tupled)
      .filter(col("warc_type") === "response")
      .toDF()
  }

  /** Event projected for sessionization: micros keep the gap arithmetic in
    * exact integer math (identical in the DuckDB oracle via epoch_us); the
    * timestamp column is carried for the event-time watermark.
    */
  final case class UserEvent(user_id: Long, ts_us: Long, ts: java.sql.Timestamp)
  final case class UserSession(
      user_id: Long, session_idx: Int, n_events: Long, start_us: Long, end_us: Long)

  /** Bounded per-user session state: ONLY the open session (index, count,
    * bounds) — O(1) per user, never the event history. `n_events == 0`
    * marks a closed-by-timeout tombstone that preserves the session index
    * for numbering continuity when the user reappears.
    */
  final case class OpenSession(session_idx: Int, n_events: Long, start_us: Long, last_us: Long)

  /** Streaming sessionization transform with bounded state: closed sessions
    * emit as soon as they close — either when a later event exceeds the gap
    * inside a batch, or via event-time timeout once the watermark passes
    * (last event + gap). `GroupState` holds a single [[OpenSession]];
    * state size is independent of session length or history.
    *
    * Late events (at-or-behind the watermark) follow the standard stateful
    * contract: Spark's late-row filter DROPS them before the operator
    * (spec-checked), so an open session's recorded bounds can never be
    * contradicted by history — the watermark after the batch that set
    * `start_us` is always ≥ it. Out-of-order events within one batch are
    * sorted before folding; the fold still takes min/max of both bounds as
    * defense in depth.
    *
    * @param tombstoneTtlUs optional state TTL for closed-session tombstones.
    *   Unset, a tombstone (which preserves session numbering for a
    *   reappearing user) lives forever — one small state entry per
    *   ever-seen user. With a TTL, tombstones evict `ttl` after the
    *   session's last event and a user reappearing later restarts
    *   numbering at 0 — the standard bounded-state trade; pick a TTL
    *   longer than any continuity horizon you care about.
    */
  def sessionizeStream(
      events: org.apache.spark.sql.Dataset[UserEvent],
      gapUs: Long,
      tombstoneTtlUs: Option[Long] = None): org.apache.spark.sql.Dataset[UserSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val o = state.get
            if (o.n_events == 0L) {
              // tombstone TTL expired: drop the numbering-continuity entry
              state.remove()
              Iterator.empty
            } else {
              // watermark passed last + gap: the open session is closed.
              // Keep a zero-count tombstone so a reappearing user continues
              // the session numbering instead of restarting at 0.
              state.update(OpenSession(o.session_idx + 1, 0L, 0L, o.last_us))
              tombstoneTtlUs.foreach { ttl =>
                state.setTimeoutTimestamp(math.max(
                  (o.last_us + ttl) / 1000L, state.getCurrentWatermarkMs() + 1))
              }
              Iterator(UserSession(uid, o.session_idx, o.n_events, o.start_us, o.last_us))
            }
          } else {
            val ts = it.map(_.ts_us).toArray.sorted
            val closed = scala.collection.mutable.ArrayBuffer.empty[UserSession]
            var open: Option[OpenSession] = state.getOption
            ts.foreach { t =>
              open match {
                case Some(o) if o.n_events == 0L => // tombstone: start fresh at carried idx
                  open = Some(OpenSession(o.session_idx, 1L, t, t))
                case Some(o) if t - o.last_us > gapUs =>
                  closed += UserSession(uid, o.session_idx, o.n_events, o.start_us, o.last_us)
                  open = Some(OpenSession(o.session_idx + 1, 1L, t, t))
                case Some(o) =>
                  // a late (behind-watermark) event may precede the recorded
                  // start — fold it into BOTH bounds
                  open = Some(o.copy(n_events = o.n_events + 1,
                    start_us = math.min(o.start_us, t),
                    last_us = math.max(o.last_us, t)))
                case None =>
                  open = Some(OpenSession(0, 1L, t, t))
              }
            }
            open.foreach { o =>
              state.update(o)
              if (o.n_events > 0L) {
                val timeoutMs = o.last_us / 1000L + gapUs / 1000L
                state.setTimeoutTimestamp(math.max(timeoutMs, state.getCurrentWatermarkMs() + 1))
              }
            }
            closed.iterator
          }
      }
  }

  /** Drain-mode sessionization over the events table — SINGLE-PASS: the
    * streaming transform under `Trigger.AvailableNow` emits every session
    * the watermark can close (in-batch gaps + the final no-data batch's
    * timeouts), and the still-open tail sessions — at most one per user —
    * are recovered from the checkpoint's STATE STORE via Spark's
    * `statestore` reader, not by re-scanning events. The state after the
    * final committed batch holds exactly one [[OpenSession]] per user
    * (n_events > 0) plus closed-session tombstones (n_events == 0); events
    * are read exactly once, and the finalize reads O(#users) state rows.
    * Output is identical to the full-history batch oracle.
    */
  def sessionize(spark: SparkSession, dir: String, gapHours: Int = 12,
      queryName: String = "stream_sessions"): DataFrame = {
    import spark.implicits._
    val gapUs = gapHours.toLong * 3600L * 1000000L
    val events = eventsStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[UserEvent]
    val run = new StreamRun(spark, queryName)
    val closed = run.drainToMemory(sessionizeStream(events, gapUs).toDF())
    val open = spark.read.format("statestore").load(run.checkpoint)
      .select(
        col("key.value").as("user_id"),
        col("value.groupState.session_idx").as("session_idx"),
        col("value.groupState.n_events").as("n_events"),
        col("value.groupState.start_us").as("start_us"),
        col("value.groupState.last_us").as("end_us"))
      .filter(col("n_events") > 0)
    closed.unionByName(open)
  }

  /** Streaming exact dedup with WATERMARK-BOUNDED state:
    * `dropDuplicatesWithinWatermark` keeps a (user, day) key in state only
    * until the event-time watermark passes its eviction point — the
    * streaming analog of exact content-hash dedup for continuously
    * arriving training data. Emitted rows are the first occurrence per
    * key; the per-day distinct-user aggregate over the drained sink is
    * deterministic regardless of arrival order. A day's events span < 24h,
    * so a 1-day delay makes the windowed dedup exact for this keying.
    */
  def streamDedupUsersPerDay(
      spark: SparkSession,
      dir: String,
      queryName: String = "stream_dedup"): DataFrame = {
    val deduped = eventsStream(spark, dir)
      .withColumn("period", to_date(col("ts")))
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("user_id", "period")
      .select(col("user_id"), col("period"))
    new StreamRun(spark, queryName).drainToMemory(deduped)
      .groupBy(col("period"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Watermarked per-day aggregate of a streaming events source:
    * readStream → window(1 day) → count/sum/avg. `Trigger.AvailableNow`
    * drains the source and terminates, so the same code path serves both
    * backfill and live tailing. Returns the materialized aggregate table.
    */
  def streamPeriodAgg(
      spark: SparkSession,
      dir: String,
      queryName: String = "stream_period_agg"): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("sum_value"),
        round(avg(col("value")), 6).as("avg_value"))
    new StreamRun(spark, queryName).drainToMemory(agg, "complete")
      .select(to_date(col("w.start")).as("period"),
        col("n_events"), col("sum_value"), col("avg_value"))
  }

  /** Watermarked STREAM–STREAM inner join — the attribution join deployed
    * on ingest: every purchase pairs with the same user's clicks in the
    * preceding hour, BOTH sides arriving as unbounded streams. The one
    * streaming shape the rest of the pack doesn't cover: Spark must buffer
    * each side's tail in join state, and the retention bound is derived
    * from the watermark plus the time-range predicate
    * (`purchase_ts BETWEEN click_ts AND click_ts + 1h`) — state holds only
    * the window the other side could still match, not the full history.
    *
    * Determinism at the gate: both sides stream the same single events
    * file, so every row is co-present in the first micro-batch and the
    * watermark (which only advances AFTER a batch) can drop nothing — the
    * streamed result is exactly the batch join, which the oracle replays.
    * At scale the watermark delay is the real lateness bound: a row
    * arriving more than `delay` behind max seen event time may no longer
    * find its buffered counterparts — the standard stream-join contract.
    */
  def streamStreamJoin(
      spark: SparkSession,
      dir: String,
      queryName: String = "stream_join"): DataFrame = {
    def side(tpe: String, alias: String): DataFrame =
      eventsStream(spark, dir).filter(col("event_type") === tpe)
        .select(col("event_id").as(s"${alias}_event_id"),
          col("user_id").as(s"${alias}_user_id"),
          col("ts").as(s"${alias}_ts"),
          col("value").as(s"${alias}_value"))
        .withWatermark(s"${alias}_ts", "40 days")
    val joined = side("click", "click").join(side("purchase", "purchase"),
      col("click_user_id") === col("purchase_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
    new StreamRun(spark, queryName).drainToMemory(joined)
      .select(col("click_event_id"), col("purchase_event_id"),
        col("click_user_id").as("user_id"),
        unix_micros(col("click_ts")).as("click_ts_us"),
        unix_micros(col("purchase_ts")).as("purchase_ts_us"),
        round(col("click_value"), 6).as("click_value"),
        round(col("purchase_value"), 6).as("purchase_value"))
  }

  /** Streaming curation filter: the C4/Gopher heuristic rule flags applied
    * to documents AS THEY ARRIVE — the filter-on-ingest deployment shape.
    * Every rule is a row-local codegen boolean, so the streaming plan is the
    * batch plan verbatim (append mode, no state, no watermark needed) and
    * per-doc independence makes the streamed union identical to the
    * one-shot batch result — the gate reuses the batch oracle.
    */
  def streamC4Filter(
      spark: SparkSession,
      dir: String,
      queryName: String = "stream_c4"): DataFrame =
    new StreamRun(spark, queryName).drainToMemory(graft.text.Heuristics.flags(
      fileStream(spark, dir, "documents.parquet"), "doc_id", "text"))

  /** Streaming exact-membership Bloom screen: the base corpus is folded
    * into a bloom bitmap ONCE before the stream starts and the word array
    * lives on the driver (broadcast into every task); each arriving
    * micro-batch is then screened by [[graft.dedup.Bloom.probeBroadcast]] —
    * k codegen bit-tests per row, ZERO joins and zero shuffles per batch,
    * the cheapest possible per-batch plan of any screen in the library
    * (the banded SimHash screen still pays a bucket join per batch).
    * exact_hit rides along via a broadcast join against the distinct base
    * fingerprints so the streamed gate reuses the batch oracle verbatim
    * (per-doc independence ⇒ streamed union ≡ one-shot batch).
    */
  def streamBloomScreen(
      spark: SparkSession,
      dir: String,
      mBits: Int,
      k: Int,
      queryName: String = "stream_bloom"): DataFrame = {
    import graft.dedup.Bloom
    val base = spark.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") % 5 =!= 0)
      .select(md5(col("text")).as("fp"))
    val words = Bloom.collectWords(Bloom.bitmap(base, col("fp"), mBits, k), mBits)
    val run = new StreamRun(spark, queryName)
    val baseFps = run.cached(base.distinct().withColumn("__e", lit(1)))
    run.drain(fileStream(spark, dir, "documents.parquet").filter(col("doc_id") % 5 === 0)) { b =>
      val probe = b.df.select(col("doc_id"), md5(col("text")).as("fp"))
      val exact = probe.join(broadcast(baseFps), Seq("fp"), "left")
        .select(col("doc_id"), coalesce(col("__e"), lit(0)).as("exact_hit"))
      b.write("out", Bloom.probeBroadcast(words, probe, col("fp"), mBits, k)
        .select(col("doc_id"), col("bloom_hit").cast("int").as("bloom_hit"))
        .join(exact, Seq("doc_id")))
    }
    run.all("out")
  }

  /** Streaming sub-document (paragraph) screen: the Dolma deployment shape
    * on ingest — the base corpus's paragraph ScreenIndex (bloom words +
    * exact paragraph set) builds once before the stream; each arriving
    * micro-batch keeps only paragraphs NOT in the base, with the exact
    * verify join confined to bloom hits. Per-doc independence ⇒ the batch
    * oracle verifies the streamed union verbatim.
    */
  def streamParagraphScreen(
      spark: SparkSession,
      dir: String,
      paraTokens: Int,
      mBits: Int,
      k: Int,
      queryName: String = "stream_paragraph"): DataFrame = {
    import graft.text.ParagraphDedup
    val base = spark.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") % 5 =!= 0)
    val index = ParagraphDedup.buildScreenIndex(base, "doc_id", "text",
      paraTokens, mBits, k)
    val run = new StreamRun(spark, queryName)
    run.cached(index.basePar)
    run.drain(fileStream(spark, dir, "documents.parquet").filter(col("doc_id") % 5 === 0)) { b =>
      b.write("out", ParagraphDedup.screenBatch(index, b.df, "doc_id", "text"))
    }
    run.all("out").withColumnRenamed("id", "doc_id")
  }

  /** Streaming ingest near-dup screen: documents arrive as a stream and
    * every micro-batch is SimHash-probed against the STATIC base corpus's
    * banded index via `foreachBatch` — the deployment shape of
    * [[graft.dedup.Dedup.simhashScreen]]. The index is built and cached
    * ONCE before the stream starts (the "index once / probe per batch"
    * contract); each micro-batch only hashes and probes itself.
    *
    * Because every probe document is screened independently against the
    * base alone, the union of per-micro-batch results is identical to the
    * one-shot batch screen no matter how ingestion is chunked — so the
    * batch oracle verifies the streaming path too.
    */
  def streamScreen(
      spark: SparkSession,
      dir: String,
      queryName: String = "stream_screen"): DataFrame = {
    import graft.dedup.Dedup
    val base = spark.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") % 5 =!= 0)
    val run = new StreamRun(spark, queryName)
    val index = run.cached(Dedup.simhashBandedIndex(base, "doc_id", "text"))
    run.drain(fileStream(spark, dir, "documents.parquet").filter(col("doc_id") % 5 === 0)) { b =>
      b.write("out", Dedup.screenAgainstIndex(index, b.df, "doc_id", "text"))
    }
    run.all("out").withColumnRenamed("id", "doc_id")
  }

  /** Streaming semantic decontamination: embedding micro-batches probed
    * against the STATIC benchmark embedding set via
    * [[graft.similarity.Similarity.screenSemantic]] in `foreachBatch` —
    * the ingest-time deployment of the batch screen. The bench side is
    * cached once before the stream starts; each vector's argmax depends
    * only on that static side, so the streamed union is identical to the
    * one-shot batch screen however ingestion is chunked, and the batch
    * oracle verifies the streaming path verbatim.
    */
  def streamSemanticScreen(
      spark: SparkSession,
      dir: String,
      threshold: Double,
      queryName: String = "stream_semantic"): DataFrame = {
    import graft.similarity.Similarity
    val run = new StreamRun(spark, queryName)
    val bench = run.cached(
      spark.read.parquet(s"$dir/embeddings.parquet").filter(col("vec_id") % 20 === 0))
    run.drain(fileStream(spark, dir, "embeddings.parquet").filter(col("vec_id") % 20 =!= 0)) { b =>
      b.write("out", Similarity.screenSemantic(b.df, bench, "vec_id", "embedding", threshold))
    }
    run.all("out").withColumnRenamed("id", "vec_id")
  }

  /** Generic stream-then-close composition for corpus RELEASE pipelines
    * (round-5 verdict item, deployed by `q_stream_curation`): the
    * per-document prefix (`perDoc` — filters, scoring against static
    * state, redaction) runs inside `foreachBatch` as documents arrive,
    * each micro-batch landing in the survivor store; the corpus-GLOBAL
    * `close` step (dedup canonicalization, packing — stages whose result
    * depends on every survivor) runs ONCE over the accumulated survivor
    * store after the stream drains.
    *
    * Because `perDoc` is per-document given its static sides, the
    * accumulated union equals the batch run of the same prefix no matter
    * how ingestion is chunked, and `close` is then literally the batch
    * close — so a batch oracle verifies the streamed release verbatim.
    * At scale the survivor store is the release staging table: ingest
    * runs continuously, the close step runs at release cut time.
    */
  def streamReleaseCompose(
      spark: SparkSession,
      dir: String,
      perDoc: DataFrame => DataFrame,
      close: DataFrame => DataFrame,
      queryName: String = "stream_release"): DataFrame = {
    val run = new StreamRun(spark, queryName)
    run.drain(fileStream(spark, dir, "documents.parquet"))(b => b.write("out", perDoc(b.df)))
    close(run.all("out"))
  }

  /** Streaming crawl ingest: WARC archives arrive one per micro-batch (the
    * Common Crawl deployment shape — a dump lands archive by archive), each
    * is gunzipped + record-parsed + HTML-extracted entirely row-locally,
    * and the page rows append to the sink. Per-archive independence ⇒ the
    * streamed union equals the one-shot batch ingest no matter how the
    * files are chunked into triggers, so the batch oracle verifies the
    * stream verbatim. Per-batch plan: one non-splittable file scan + one
    * codegen'd projection — no joins, no shuffle, no state.
    */
  def streamWarcIngest(
      spark: SparkSession,
      warcDir: String,
      queryName: String = "stream_warc"): DataFrame = {
    import graft.sources.WarcSource
    import graft.text.HtmlExtract
    HtmlExtract.register(spark)
    val pages = warcResponses(spark, warcDir)
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("http_status"),
        HtmlExtract.htmlToText(WarcSource.decodedBody(col("body"), col("http_content_type"))).as("extracted"),
        HtmlExtract.htmlNoindex(WarcSource.decodedBody(col("body"), col("http_content_type"))).as("noindex"))
    new StreamRun(spark, queryName).drainToMemory(pages)
  }

  /** The STREAMED web release: the whole crawl-to-corpus path deployed on
    * ingest. Archives arrive one per trigger; each micro-batch runs every
    * PER-PAGE stage (parse → charset decode → HTML extract → robots-meta
    * politeness → domain-prior cut against a PRE-COMPUTED rank frame) and
    * appends survivors to a parquet staging store; the CORPUS-GLOBAL
    * stages (exact-dup owner election, C4 filter, release accounting) run
    * once over the store after the stream drains — the
    * [[streamReleaseCompose]] split applied to the crawl front end.
    *
    * The rank frame is an input, not computed in-stream: in deployment
    * the domain prior comes from the PREVIOUS dump's link graph (ranks
    * over the arriving dump aren't known until it has fully arrived —
    * any "streaming PageRank" would silently change semantics). Because
    * every per-batch stage is per-page given the static rank side, the
    * staged union equals the batch run of the same prefix under any
    * trigger chunking, and `close` is literally the batch close — the
    * batch oracle verifies the streamed release verbatim.
    */
  def streamWarcRelease(
      spark: SparkSession,
      warcDir: String,
      ranks: DataFrame,
      rankMin: Double,
      close: DataFrame => DataFrame,
      queryName: String = "stream_web_release"): DataFrame = {
    import graft.sources.WarcSource
    import graft.text.HtmlExtract
    HtmlExtract.register(spark)
    val run = new StreamRun(spark, queryName)
    val rankFrame = run.cached(ranks)
    run.drain(warcResponses(spark, warcDir)) { b =>
      b.write("out", b.df
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
          regexp_extract(col("target_uri"), "^http://([^/]+)/", 1).as("host"),
          HtmlExtract.htmlToText(
            WarcSource.decodedBody(col("body"), col("http_content_type"))).as("extracted"),
          HtmlExtract.htmlNoindex(
            WarcSource.decodedBody(col("body"), col("http_content_type"))).as("noindex"))
        .filter(!col("noindex"))
        .withColumn("body", regexp_replace(col("extracted"), "^[^\n]*\n[^\n]*\n", ""))
        .join(broadcast(rankFrame), "host")
        .filter(col("rank") >= rankMin)
        .select(col("doc_id"), col("body")))
    }
    close(run.all("out"))
  }

  /** Streaming connected-components MAINTENANCE: near-dup cluster labels
    * kept current as document chunks arrive, the ingest deployment of
    * [[graft.dedup.Dedup.incrementalComponents]]. Per micro-batch:
    *
    *   1. the batch's docs join the accumulated corpus; `pairsFn` (the
    *      same verified-pair head the batch clustering gate uses) yields
    *      candidate pairs, restricted to pairs TOUCHING the batch — pair
    *      generation is per-pair local (band keys + row-local verify), so
    *      pairs(subset) = pairs(full corpus) ∩ subset², and the union of
    *      touching-pairs over batches is exactly the full pair set;
    *   2. `incrementalComponents` folds the previous labels in as label
    *      STARS plus the new touching edges — propagation rounds pay for
    *      NEW connectivity only (and while the stars plus the edges fit
    *      the broadcast threshold, union-find on the driver runs instead),
    *      the CC(star(CC(E)) ∪ E′) = CC(E ∪ E′) identity makes every
    *      snapshot exact;
    *   3. the label snapshot is written under the batch's id, and the
    *      next batch reads it as its previous snapshot.
    *
    * The final snapshot therefore equals the one-shot CC of the whole
    * corpus — the batch oracle verifies the streamed path verbatim.
    * Gate-scale note: `pairsFn` re-derives the accumulated side's
    * SIGNATURES each batch (linear in |known|, since the asymmetric
    * probe removes the quadratic self-join term); the production
    * deployment keeps the banded side as the PERSISTENT bucketed index
    * (`Dedup.persistentBandedIndex`) so even that linear pass amortizes
    * to index maintenance. The maintenance identity is the same.
    *
    * @param enrich per-batch enrichment applied ONCE when a batch lands in
    *   the accumulator (round-8): derived columns that are pure functions
    *   of the row (e.g. the SimHash signature) are computed at arrival and
    *   STORED, so `pairsFn`'s accumulated side never re-derives them for
    *   previously seen documents on later batches.
    */
  def streamIncrementalCC(
      spark: SparkSession,
      dir: String,
      pairsFn: (DataFrame, DataFrame) => DataFrame,
      nChunks: Int = 5,
      queryName: String = "stream_cc",
      enrich: DataFrame => DataFrame = identity): DataFrame = {
    import graft.dedup.Dedup
    val run = new StreamRun(spark, queryName)
    // one file per chunk, so ~nChunks micro-batches; ANY chunking yields the
    // same final labels (arrival order only changes which batch pays for
    // which edge)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    run.drain(run.stage(docs, nChunks, col("doc_id"))) { b =>
      val sp = b.df.sparkSession
      val batchDocs = run.hold(enrich(b.df))
      val batchIds = batchDocs.select(col("doc_id"))
      val known = if (b.id == 0) batchDocs else b.all("acc").unionByName(batchDocs)
      // pairsFn(known, batchIds) must return exactly the verified pairs
      // with >= 1 endpoint in the batch — the asymmetric banded probe
      // (e.g. Dedup.simhashJaccardPairsTouching) does it without the
      // accumulated side's quadratic self-join
      val touching = pairsFn(known, batchIds).select("id_a", "id_b").distinct()
      val prev = b.previous("labels").getOrElse {
        import sp.implicits._
        Seq.empty[(Long, Long)].toDF("id", "cluster")
      }
      val labels = Dedup.incrementalComponents(prev,
        batchDocs.select(col("doc_id").as("id")), touching)
      try b.write("labels", labels) finally graft.ops.Iterate.release(labels)
      b.write("acc", batchDocs)
    }
    run.last("labels")
  }

  /** STREAMING HLL distinct-count maintenance: the mergeable-summaries
    * property ([[graft.functions.DistinctSketch]]) deployed on ingest.
    * Each micro-batch builds its own per-group register table (one
    * bounded aggregate over the batch, ≤ groups·64 rows) and stores it.
    * The corpus-wide sketch is the register-wise max across batches,
    * computed once after the drain;
    * streamed ≡ batch holds by the merge property (spec-proven), under
    * ANY trigger chunking. At 100 TB this is the shape distinct-count
    * dashboards use: per-shard/per-day register tables on disk, merged at
    * read time, never a re-scan of the corpus.
    *
    * Returns the same frame as the batch `q_hll_distinct` gate (per-lang +
    * merged-ALL summary joined with exact distinct counts over the staged
    * corpus), so the gate shares that oracle verbatim.
    */
  def streamHllDistinct(
      spark: SparkSession,
      dir: String,
      nChunks: Int = 5,
      queryName: String = "stream_hll"): DataFrame = {
    import graft.functions.DistinctSketch
    val run = new StreamRun(spark, queryName)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    run.drain(run.stage(docs, nChunks, col("doc_id"))) { b =>
      b.write("regs", DistinctSketch.hllRegisters(b.df, col("lang"), col("text"), "hll"))
    }
    val merged = run.all("regs")
      .groupBy(col("grp"), col("bucket")).agg(max(col("reg")).as("reg"))
    val withAll = merged.unionByName(DistinctSketch.hllMergeAll(merged))
    val corpus = spark.read.parquet(run.staging)
    val exact = corpus.groupBy(col("lang").as("grp"))
      .agg(countDistinct(col("text")).as("n_exact"))
      .unionByName(corpus.agg(countDistinct(col("text")).as("n_exact"))
        .select(lit("ALL").as("grp"), col("n_exact")))
    DistinctSketch.hllSummary(withAll)
      .join(broadcast(exact), Seq("grp"))
      .select(col("grp"), col("n_exact"), col("v_empty"), col("z_scaled"),
        col("est"))
      .orderBy(col("grp"))
  }

  /** STREAMING weighted sample: the A-ES reservoir maintained on ingest.
    * Because each row's selection key ln(u)/w is a pure function of row
    * identity ([[graft.ops.WeightedSample.esKey]]), a weight-proportional
    * without-replacement sample of a growing corpus reduces to "keep the k
    * largest keys seen so far": each micro-batch writes its own local
    * top-k candidate set (any global winner is by definition inside its
    * batch's top-k), and the close
    * takes the top-k of the candidate union. Per-batch state is ≤ k rows;
    * nothing ever rescans history; streamed result ≡ the one-shot batch
    * sample row for row under any trigger chunking.
    */
  def streamWeightedSample(
      spark: SparkSession,
      dir: String,
      k: Int,
      seed: String,
      nChunks: Int = 5,
      queryName: String = "stream_wsample"): DataFrame = {
    import graft.ops.WeightedSample
    import graft.text.TextFunctions
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"),
        TextFunctions.bpeTokenCount(col("text")).cast("long").as("weight"))
    val run = new StreamRun(spark, queryName)
    run.drain(run.stage(docs, nChunks, col("doc_id"))) { b =>
      b.write("cand", b.df
        .withColumn("es_key",
          WeightedSample.esKey(col("doc_id"), col("weight"), seed))
        .orderBy(col("es_key").desc, col("doc_id").asc)
        .limit(k))
    }
    run.all("cand")
      .orderBy(col("es_key").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("source"), col("weight"),
        round(col("es_key"), 6).as("es_key"))
  }

  /** STREAMING exact quantiles over a bounded-integer domain: the value
    * histogram is a decomposable aggregate, so each micro-batch writes its
    * own (grp, v, cnt) cells and the close merges by sum and walks ranks
    * exactly like the batch operator.
    * Contract: the DISTINCT-VALUE axis must be bounded (token counts,
    * score buckets — here ≤ a few hundred cells per group); for wide
    * domains run [[graft.ops.Quantiles.exactQuantiles]]' refinement at
    * close instead. Streamed ≡ one-shot batch because histogram merge is
    * associative-commutative and the rank rule is a pure function of the
    * merged histogram.
    */
  def streamExactQuantiles(
      spark: SparkSession,
      dir: String,
      qs: Seq[Double],
      nChunks: Int = 5,
      queryName: String = "stream_quantile"): DataFrame = {
    import graft.text.TextFunctions
    import org.apache.spark.sql.types._
    val run = new StreamRun(spark, queryName)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def cells(df: DataFrame): DataFrame = {
      val tok = TextFunctions.bpeTokenCount(col("text")).cast("long")
      df.select(col("lang").as("grp"), tok.as("v"))
        .unionByName(df.select(lit("ALL").as("grp"), tok.as("v")))
        .groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
    }
    run.drain(run.stage(docs, nChunks, col("doc_id")))(b => b.write("hist", cells(b.df)))
    val merged = run.all("hist")
      .groupBy("grp", "v").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    // close: walk the bounded histogram exactly like the batch rank rule
    val rows = merged.toSeq.sortBy(_._1).flatMap { case (grp, cs) =>
      val hist = cs.map(c => (c._2, c._3)).sortBy(_._1)
      val n = hist.map(_._2).sum
      qs.sorted.map { q =>
        val rank = math.max(1L, math.ceil(q * n).toLong)
        var rem = rank
        var value = hist.last._1
        val it = hist.iterator
        var found = false
        while (!found && it.hasNext) {
          val (v, c) = it.next()
          if (rem <= c) { value = v; found = true } else rem -= c
        }
        org.apache.spark.sql.Row(grp, q, rank, n, value)
      }
    }
    val outSchema = StructType(Seq(
      StructField("grp", StringType, nullable = false),
      StructField("q", DoubleType, nullable = false),
      StructField("rank", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("value", LongType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), outSchema)
      .orderBy("grp", "q")
  }

  /** Streaming calibration monitor: reliability bins of a PUBLISHED scorer
    * maintained on ingest. The bin statistics (n, Σp, Σy) are a
    * decomposable aggregate, so the stream reduces to per-batch partial
    * cells merged by sum at close — the
    * [[streamExactQuantiles]] shape; streamed ≡ one-shot batch because
    * the merge is associative-commutative and the conf/acc finalize is a
    * pure function of the merged cells. The scorer's threshold is a
    * deployment CONSTANT (here the corpus mean, computed once before the
    * stream starts), which is what makes per-batch scoring stateless.
    *
    * Output: (bin, n_bin, conf, acc) — the batch
    * [[graft.metrics.Calibration.calibrationBins]] arithmetic on the
    * merged cells.
    */
  def streamCalibration(
      spark: SparkSession,
      dir: String,
      bins: Int,
      nChunks: Int = 5,
      queryName: String = "stream_calibration"): DataFrame = {
    val events = graft.sources.Tables.cached(spark, dir, "events")
    val run = new StreamRun(spark, queryName)
    val stream = run.stage(events, nChunks, col("event_id"))
    val thr = events.agg(avg(col("value"))).collect().head.getDouble(0)
    def cells(df: DataFrame): DataFrame = {
      val p = lit(1.0) / (lit(1.0) + exp(-(col("value") - lit(thr)) / lit(10.0)))
      val y = (col("event_id") % 2).cast("double")
      df.select(least(floor(p * bins), lit(bins - 1)).cast("int").as("bin"),
          p.as("p"), y.as("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"), sum(col("y")).as("sy"))
    }
    run.drain(stream)(b => b.write("cells", cells(b.df)))
    run.all("cells")
      .groupBy("bin")
      .agg(sum("n").as("n_bin"), sum("sp").as("__sp"), sum("sy").as("__sy"))
      .select(col("bin"), col("n_bin"),
        round(col("__sp") / col("n_bin"), 6).as("conf"),
        round(col("__sy") / col("n_bin"), 6).as("acc"))
      .orderBy("bin")
  }

  /** Streaming drift card: the per-source token-distribution drift
    * ([[graft.text.DriftCard]]) computed against a REFERENCE snapshot as
    * the new snapshot arrives on ingest. Per-(group, word) counts are a
    * decomposable aggregate → per-batch partial counts, merged by sum at
    * close; the drift arithmetic (exact
    * cross-products, 9-dp KL terms) then runs on the merged frame — so
    * streamed ≡ one-shot batch, and the batch gate's oracle applies
    * verbatim. The reference side is a fixed artifact (here the even-id
    * half), scored once.
    */
  def streamDriftCard(
      spark: SparkSession,
      dir: String,
      nChunks: Int = 5,
      queryName: String = "stream_drift"): DataFrame = {
    import graft.text.DriftCard
    val docs = graft.sources.Tables.cached(spark, dir, "documents")
    val run = new StreamRun(spark, queryName)
    run.drain(run.stage(docs.filter(col("doc_id") % 2 === 1), nChunks, col("doc_id"))) { b =>
      b.write("counts", DriftCard.tokenCounts(b.df, "source", "text", "c"))
    }
    val merged = run.all("counts")
      .groupBy("grp", "word").agg(sum("c").as("cp"))
    DriftCard.driftFromCounts(
      DriftCard.tokenCounts(docs.filter(col("doc_id") % 2 === 0), "source", "text", "cq"),
      merged, "source")
  }

  /** Streaming SCD2 maintenance — the capture-history table kept current
    * as crawl chunks arrive, completing the maintenance-on-ingest trio
    * (near-dup screen, cluster labels, now version history). Per
    * micro-batch:
    *
    *   1. the batch's captures (via `captureProj`, a row-local
    *      projection) land in the capture accumulator;
    *   2. ONLY the batch's keys rebuild: the accumulated captures filter
    *      to the touched keys (a key's history depends on nothing else)
    *      and [[graft.ops.Scd2.buildHistory]] re-derives those keys'
    *      intervals — work per batch is proportional to touched keys'
    *      capture counts, never the table;
    *   3. the rebuilt slice lands in `hist/batch=<id>`; the CURRENT
    *      history of a key is its rows from the LATEST batch that
    *      touched it (resolved at read time by a per-key max-batch
    *      aggregate + join — decomposable, no window).
    *
    * The last batch touching a key saw ALL its captures, so its rebuilt
    * rows equal the one-shot batch `buildHistory` for that key — the
    * final table is verbatim-verifiable by the batch oracle.
    */
  def streamScd2(
      spark: SparkSession,
      dir: String,
      captureProj: DataFrame => DataFrame,
      keyCol: String, tsCol: String, attrCol: String, tieCol: String,
      nChunks: Int = 5,
      queryName: String = "stream_scd2"): DataFrame = {
    val run = new StreamRun(spark, queryName)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    run.drain(run.stage(docs, nChunks, col("doc_id"))) { b =>
      val caps = run.hold(captureProj(b.df))
      b.write("caps", caps)
      val touched = caps.select(col(keyCol)).distinct()
      val slice = b.all("caps").join(touched, Seq(keyCol), "left_semi")
      b.write("hist", graft.ops.Scd2.buildHistory(slice, keyCol, tsCol, attrCol, tieCol))
    }
    val hist = run.byBatch("hist")
    val latest = hist.groupBy(col(keyCol)).agg(max(col("batch")).as("__maxb"))
    hist.join(latest,
        hist(keyCol) === latest(keyCol) && col("batch") === col("__maxb"))
      .drop(latest(keyCol)).drop("batch", "__maxb")
  }

  /** Stage `ev` (must carry `event_id`, ts-ordered by id — the harness
    * generator's property) as `nChunks` id-range files written
    * SEQUENTIALLY with explicitly stamped ascending mtimes, so
    * FileStreamSource dequeues them in time order — the shape of a
    * Kafka/log consumer replay. Shared by the in-order state machines
    * (funnel, transitions).
    */
  private def stageTimeOrderedChunks(ev: DataFrame, nChunks: Int)(staging: String): Unit = {
    val maxId = ev.agg(max(col("event_id"))).head.getLong(0)
    val per = maxId / nChunks + 1
    val seen = scala.collection.mutable.Set.empty[String]
    val t0 = System.currentTimeMillis() - nChunks * 60000L
    (0 until nChunks).foreach { i =>
      ev.filter(col("event_id") >= i * per && col("event_id") < (i + 1) * per)
        .coalesce(1).write.mode(if (i == 0) "overwrite" else "append").parquet(staging)
      new java.io.File(staging).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !seen.contains(f.getName))
        .foreach { f => f.setLastModified(t0 + i * 60000L); seen += f.getName }
    }
  }

  /** STREAMING event-transition matrix — first-order Markov counts
    * maintained on time-ordered ingest, the cross-batch stitching shape:
    * per batch, WITHIN-batch per-user lag pairs (a window over the
    * bounded micro-batch only — never the accumulated axis) plus ONE
    * boundary pair per user from the carried (last ts, type) state joined
    * to the batch's first event. Each batch's pair-count partial is a pure
    * function of (previous state, batch); state is one row per user. The close sums partials — streamed ≡
    * one-shot batch, the `q_event_transitions` oracle verbatim.
    */
  def streamEventTransitions(
      spark: SparkSession,
      dir: String,
      nChunks: Int = 5,
      queryName: String = "stream_transitions"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.sources.Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val run = new StreamRun(spark, queryName)
    run.drain(run.stage(ev.schema)(stageTimeOrderedChunks(ev, nChunks))) { batch =>
      val b = run.hold(batch.df)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val internal = b
        .select(col("user_id"), col("event_type").as("to_type"),
          lag(col("event_type"), 1).over(w).as("from_type"))
        .filter(col("from_type").isNotNull)
        .select(col("from_type"), col("to_type"))
      val firsts = b.groupBy(col("user_id"))
        .agg(min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("to_type"))
      val lasts = b.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"))).as("k"),
          max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("last_type"))
        .select(col("user_id"), col("k.ts").as("last_ts"),
          col("k.event_id").as("last_id"), col("last_type"))
      val prev = batch.previous("state").getOrElse(lasts.limit(0))
      val boundary = prev.select(col("user_id"), col("last_type").as("from_type"))
        .join(firsts, Seq("user_id"))
        .select(col("from_type"), col("to_type"))
      batch.write("pairs", internal.unionByName(boundary)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n")))
      // in-order ingest: the batch's last event per user supersedes any
      // carried state for that user
      batch.write("state", prev.join(lasts.select("user_id"), Seq("user_id"), "left_anti")
        .unionByName(lasts))
    }
    val counts = run.all("pairs")
      .groupBy("from_type", "to_type").agg(sum(col("n")).as("n"))
    val rowTot = counts.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    counts.join(broadcast(rowTot), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        round(col("n").cast("double") / col("n_from"), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** STREAMING cohort retention — the retention matrix maintained on
    * ingest. Both inputs of the batch operator are decomposable:
    * first-event day is a per-user MIN and the active set is a DISTINCT
    * (user, day) union, so each micro-batch lands its own bounded
    * partials and the close runs the identical retention tail over the merged frames —
    * streamed ≡ one-shot batch under ANY chunking, the gate shares
    * `q_cohort_retention`'s oracle verbatim.
    */
  def streamCohortRetention(
      spark: SparkSession,
      dir: String,
      nChunks: Int = 5,
      queryName: String = "stream_cohort"): DataFrame = {
    val ev = graft.sources.Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"))
    val run = new StreamRun(spark, queryName)
    run.drain(run.stage(ev, nChunks, col("user_id") + unix_micros(col("ts")))) { batch =>
      val b = run.hold(batch.df)
      batch.write("first", b.groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("first_day")))
      batch.write("active", b.select(col("user_id"), to_date(col("ts")).as("d")).distinct())
    }
    val firstDay = run.all("first")
      .groupBy(col("user_id")).agg(min(col("first_day")).as("cohort_day"))
    val activeDays = run.all("active").distinct()
    val sizes = firstDay.groupBy(col("cohort_day")).agg(count(lit(1)).as("n_cohort"))
    activeDays.join(firstDay, Seq("user_id"))
      .groupBy(col("cohort_day"), datediff(col("d"), col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_day"))
      .select(col("cohort_day"), col("offset_days"), col("n_active"), col("n_cohort"),
        round(col("n_active").cast("double") / col("n_cohort"), 6).as("retention"))
      .orderBy("cohort_day", "offset_days")
  }

  /** STREAMING ordered funnel — the per-user conversion state machine
    * maintained on ingest. State is ONE row per ever-seen user holding the
    * nullable step-completion times (t1..tk); per batch, only the unset
    * suffix of a user's funnel can extend:
    *
    *   - a set t_j is FINAL: ingest is time-ordered (chunks replay the
    *     event log in order, the shape of a Kafka/log-compaction consumer),
    *     so no later batch can contain an earlier qualifying event;
    *   - t_j extends from batch events with `ts > t_{j-1}` where t_{j-1}
    *     may have been set earlier in the SAME batch (steps merge
    *     sequentially), so whole-funnel completions inside one batch work.
    *
    * Per-batch cost is O(|batch| + |state|) with every join on the user
    * key; each batch's state is a pure function of (previous state,
    * batch). The drained state's report is
    * numerically identical to the one-shot batch funnel — the gate shares
    * `q_funnel`'s DuckDB oracle verbatim.
    *
    * At 100 TB the state table is the thing a real deployment keeps as a
    * bucketed/Delta table with merge-on-key; here each batch rewrites the
    * (bounded, per-user) frame, which is the same maintenance identity.
    */
  def streamFunnel(
      spark: SparkSession,
      dir: String,
      steps: Seq[String],
      nChunks: Int = 5,
      queryName: String = "stream_funnel"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
    val ev = graft.sources.Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val K = steps.length
    val tCols = (1 to K).map(k => s"t$k")
    val run = new StreamRun(spark, queryName)
    run.drain(run.stage(ev.schema)(stageTimeOrderedChunks(ev, nChunks))) { batch =>
      val sp = batch.df.sparkSession
      val b = run.hold(batch.df)
      val prev = batch.previous("state").getOrElse(
        sp.createDataFrame(sp.sparkContext.emptyRDD[Row], StructType(
          StructField("user_id", org.apache.spark.sql.types.LongType) +:
            tCols.map(c => StructField(c, TimestampType)))))
      val b1 = b.filter(col("event_type") === steps.head)
        .groupBy("user_id").agg(min("ts").as("b1"))
      var st = prev.join(b1, Seq("user_id"), "full")
        .select(col("user_id") +: coalesce(col("t1"), col("b1")).as("t1") +:
          (2 to K).map(k => col(s"t$k")): _*)
      for (k <- 2 to K) {
        val open = st.filter(col(s"t${k - 1}").isNotNull && col(s"t$k").isNull)
          .select(col("user_id"), col(s"t${k - 1}").as("__prevt"))
        val bk = b.filter(col("event_type") === steps(k - 1))
          .join(open, Seq("user_id"))
          .where(col("ts") > col("__prevt"))
          .groupBy("user_id").agg(min("ts").as(s"b$k"))
        st = st.join(bk, Seq("user_id"), "left")
          .select(col("user_id") +: (1 to K).map { j =>
            if (j == k) coalesce(col(s"t$k"), col(s"b$k")).as(s"t$k") else col(s"t$j")
          }: _*)
      }
      batch.write("state", st)
    }
    graft.ops.EventAnalytics.reportFromTimes(run.last("state"), steps)
  }
}
