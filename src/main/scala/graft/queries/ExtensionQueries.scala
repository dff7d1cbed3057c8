package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.sources.Tables
import graft.streaming.StreamingOps

/** Multimodal-plumbing and streaming queries. The harness tables carry no
  * media, so the payloads are REAL synthetic PNGs (deterministic pixels,
  * dims derived from doc fields) — the decode gate exercises the actual
  * `javax.imageio` codec byte-for-byte, and the oracle recomputes the known
  * dimension/pixel formulas rather than parsing PNG.
  */
object ExtensionQueries extends QueryPack {

  /** documents → opaque media records: real PNG payloads (gray for even
    * ids, RGB for odd), dims a function of n_chars — see
    * [[Multimodal.syntheticPng]] for the pixel formula the oracle replays.
    * Used by the FEATURES gate, whose oracle replays the pixel formula.
    */
  private def media(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .map { case (id, nChars) =>
        val w = 16 + (nChars % 48).toInt
        val h = 16 + ((nChars * 7) % 48).toInt
        Multimodal.MediaRecord(id, Multimodal.syntheticPng(id, w, h, gray = id % 2 == 0),
          "image/png")
      }
  }

  /** Mixed-modality records for the DECODE gate: by doc_id mod 5 —
    * 4 → structurally-valid synthetic MP4 (real ISO-BMFF box parse: dims
    * from the n_chars formulas, duration 10·n_chars ms, 1 or 2 tracks by
    * id parity); 1 → synthetic FLAC (real STREAMINFO parse: rate from
    * n_chars mod 3, 97·n_chars total samples); 2 → synthetic MP3 (real
    * Layer III frame walk, ID3v2 prefix on even ids: 1+n_chars%7 frames
    * of 1152 samples); rest → the real PNGs.
    */
  private def mediaMixed(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .map { case (id, nChars) =>
        val w = 16 + (nChars % 48).toInt
        val h = 16 + ((nChars * 7) % 48).toInt
        (id % 5: @unchecked) match {
          case 4 =>
            Multimodal.MediaRecord(id,
              Multimodal.syntheticMp4(w, h, durationMs = nChars * 10,
                nTracks = 1 + (id % 2).toInt),
              "video/mp4")
          case 1 =>
            val rate = (nChars % 3) match {
              case 0 => 16000; case 1 => 22050; case _ => 44100
            }
            Multimodal.MediaRecord(id,
              Multimodal.syntheticFlac(rate, channels = 1 + (id % 2).toInt,
                totalSamples = nChars * 97),
              "audio/flac")
          case 2 =>
            Multimodal.MediaRecord(id,
              Multimodal.syntheticMp3(rateIdx = (nChars % 3).toInt,
                mono = id % 2 == 0, nFrames = 1 + (nChars % 7).toInt,
                withId3 = id % 2 == 0),
              "audio/mpeg")
          case 3 =>
            Multimodal.MediaRecord(id,
              Multimodal.syntheticWebm(w, h, durationMs = nChars * 10,
                nTracks = 1 + (id % 2).toInt),
              "video/webm")
          case _ =>
            Multimodal.MediaRecord(id, Multimodal.syntheticPng(id, w, h, gray = id % 2 == 0),
              "image/png")
        }
      }
  }

  /** Image-dedup fixture: one grayscale pattern PNG per doc. Even/odd id
    * pairs (2k, 2k+1) share pattern k — a brightness-shifted copy — only
    * when k % 3 == 0 (planted near-dups); every other odd id renders its
    * own distinct pattern (offset far past the even-id pattern range).
    * Dims derive from the PATTERN (not the doc), so planted pairs pool on
    * identical grids and their dHash equality is exact by construction.
    */
  private def imagePairMedia(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"))
      .as[Long]
      .map { id =>
        val k = id / 2
        val paired = k % 3 == 0
        val patternId = if (id % 2 == 0 || paired) k else k + 1000000L
        val shift = if (id % 2 == 1 && paired) 24 else 0
        val w = 16 + (patternId * 13 % 48).toInt
        val h = 16 + (patternId * 7 % 48).toInt
        Multimodal.MediaRecord(id,
          graft.multimodal.ImageHash.syntheticPatternPng(patternId, w, h, shift),
          "image/png")
      }
  }

  /** Perceptual-hash image near-dup: REAL PNG decode → pooled luminance →
    * dHash equi-join → centered-L1 exact verify. The oracle replays the
    * planted-pair construction (which even ids got a shifted twin); the
    * verify distance is exactly 0 for every planted pair because the shift
    * is constant and the pooling grids coincide.
    */
  private def imageNearDupQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.ImageHash
    val sig = ImageHash.signatures(imagePairMedia(spark, dir)).toDF()
    ImageHash.nearDupPairs(sig, tol = 2.0).orderBy(col("id_a"))
  }

  /** pHash twin fixture: even ids are base patterns (dims ≥ the 32×32
    * pHash pooling grid); odd ids are a brightness twin (+40) when
    * k%3==0, an exact ×2 CONTRAST twin when k%3==1 (the invariance dHash
    * shares but the z-verify must also survive exactly), and an
    * unrelated pattern otherwise.
    */
  private def phashPairMedia(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"))
      .as[Long]
      .map { id =>
        val k = id / 2
        val role = k % 3
        val twin = id % 2 == 1
        val patternId = if (!twin || role <= 1) k else k + 1000000L
        val (shift, scale) =
          if (twin && role == 0) (40, 1)
          else if (twin && role == 1) (0, 2)
          else (0, 1)
        val w = 32 + (patternId * 13 % 48).toInt
        val h = 32 + (patternId * 7 % 48).toInt
        Multimodal.MediaRecord(id,
          graft.multimodal.ImageHash.syntheticAffinePng(patternId, w, h, shift, scale),
          "image/png")
      }
  }

  /** DCT perceptual hash near-dup: REAL decode → 32×32 pooled luminance →
    * separable DCT-II → 63-bit AC-median hash → equi-join → z-score exact
    * verify. The oracle replays the planted-twin construction: both twin
    * kinds must land at z-distance (numerically) zero.
    */
  private def imagePhashQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.ImageHash
    val sig = ImageHash.phashSignatures(phashPairMedia(spark, dir)).toDF()
    ImageHash.phashNearDupPairs(sig, tol = 1e-6).orderBy(col("id_a"), col("id_b"))
  }

  private def decodeQ(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decode(mediaMixed(spark, dir)).toDF()
      // nBytes is the PNG-compressed size — real but not SQL-derivable, so
      // the gate projects the decoder-read dims the oracle CAN recompute
      .select(col("id"), col("width"), col("height"), col("channels"),
        col("durationMs").as("duration_ms"))

  private def featuresQ(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(media(spark, dir)).toDF()
      .select(col("id"),
        round(aggregate(col("features"), lit(0.0d), (acc, x) => acc + x), 4)
          .as("feature_sum"))

  private def streamQ(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.streamPeriodAgg(spark, dir)

  /** Sessionization via flatMapGroupsWithState (12h gap). */
  private def sessionQ(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.sessionize(spark, dir, gapHours = 12)

  /** Period-partitioned sink + partition-pruned fold scan: write events
    * partitioned by day under target/, re-read with fold 0's train filter —
    * the physical layout for fold membership at 100 TB. Fails loudly if the
    * filter did NOT reach the scan as a partition filter.
    */
  private def partitionedScanQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.PartitionedSink
    val ev = PanelQueries.events(spark, dir).select("event_id", "value", "period")
    val path = s"target/partitioned/events_${math.abs(dir.hashCode)}"
    val reloaded = PartitionedSink.writeAndReload(ev, "period", path)
    val ps = graft.cv.PanelSplit(reloaded, "period", nSplits = PanelQueries.N_SPLITS, testSize = 1)
    val fold0Train = reloaded.filter(ps.folds.head.trainPredicate("period", None))
      .select(col("event_id"), col("period").cast("date").as("period"), col("value"))
    require(PartitionedSink.isPartitionPruned(fold0Train, "period"),
      "fold filter did not prune partitions")
    fold0Train
  }

  /** Bucketed co-located join: events and per-user totals both bucketed on
    * user_id → sort-merge join + post-join groupBy(user_id) with ZERO
    * shuffle exchanges (asserted at runtime) — the repeated-join layout for
    * entity-keyed panel data at 100 TB.
    */
  private def bucketedJoinQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.PartitionedSink
    val suffix = math.abs(dir.hashCode)
    val ev = PanelQueries.events(spark, dir).select("event_id", "user_id", "value")
    val t1 = PartitionedSink.writeBucketedTable(ev, "user_id", 16,
      s"graft_ev_bucketed_$suffix")
    val totals = ev.groupBy(col("user_id")).agg(sum(col("value")).as("user_total"))
    val t2 = PartitionedSink.writeBucketedTable(totals, "user_id", 16,
      s"graft_user_totals_bucketed_$suffix")
    val joined = t1.hint("merge").join(t2, "user_id")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"),
        round(first(col("user_total")), 4).as("user_total"))
    require(PartitionedSink.isShuffleFree(joined),
      "bucketed join or post-join aggregation introduced a shuffle exchange")
    joined
  }

  /** Pure range join (no equi key): every event against the 30 daily
    * 06:00–18:00 windows. Without bucketing Spark plans this as
    * BroadcastNestedLoopJoin; [[graft.ops.RangeJoin]] turns it into a hash
    * join on the 12h bucket id — asserted at runtime on the executed plan.
    */
  private def rangeJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val ev = Tables.cached(spark, dir, "events")
      .withColumn("ts_us", unix_micros(col("ts")))
    val iv = ev.select(to_date(col("ts")).as("day")).distinct()
      .withColumn("start_us", unix_micros(col("day").cast("timestamp")) + lit(6 * hourUs))
      .withColumn("end_us", unix_micros(col("day").cast("timestamp")) + lit(18 * hourUs))
    val joined = graft.ops.RangeJoin.joinPointsToIntervals(
      ev, "ts_us", iv, "start_us", "end_us",
      bucketWidth = 12 * hourUs, maxBucketsPerInterval = 3)
    val out = joined.groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
      .orderBy(col("day"))
    val plan = out.queryExecution.executedPlan.toString
    require(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "range join fell back to a nested-loop plan")
    out
  }

  /** The DECLARATIVE form of [[rangeJoinQ]]: the user writes the naive
    * `point >= start AND point < end` inner join — the plan Spark would run
    * as BroadcastNestedLoopJoin — and the injected optimizer rule
    * ([[graft.plans.RangeJoinRewrite]], registered via
    * `spark.sql.extensions`) rewrites it into the bucketed equi join.
    * Identical result (same oracle as q_range_join); the runtime assertion
    * proves the rewrite fired. The conf stays set for the session — the
    * rule's 2-conjunct pure-range match cannot touch any other gate's join
    * (equi joins, 3-conjunct stream joins, and the explicit API's
    * bucket+residual plan all fail the pattern).
    */
  private def rangeJoinAutoQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.RangeJoinRewrite
    val hourUs = 3600L * 1000000L
    spark.conf.set(RangeJoinRewrite.BUCKET_CONF, (12 * hourUs).toString)
    spark.conf.set(RangeJoinRewrite.MAXB_CONF, "3")
    val ev = Tables.cached(spark, dir, "events")
      .withColumn("ts_us", unix_micros(col("ts")))
    val iv = ev.select(to_date(col("ts")).as("day")).distinct()
      .withColumn("start_us", unix_micros(col("day").cast("timestamp")) + lit(6 * hourUs))
      .withColumn("end_us", unix_micros(col("day").cast("timestamp")) + lit(18 * hourUs))
    val joined = ev.join(iv,
      col("ts_us") >= col("start_us") && col("ts_us") < col("end_us"))
    val out = joined.groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
      .orderBy(col("day"))
    val plan = out.queryExecution.executedPlan.toString
    require(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "optimizer rule did not rewrite the declarative range join")
    out
  }

  /** Per-user top-3 events by value through the custom whole-operator
    * extension ([[graft.plans.TopKPerKey]]: LogicalPlan + Strategy +
    * two-stage heap SparkPlan). Ordering uses the RAW double (bit-identical
    * cross-engine) with event_id as total-order tie-break; round-6 only in
    * the output projection. The runtime assertion proves the custom
    * physical operator planned (both heap stages) and no window sort ran.
    */
  private def topKPerKeyQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.cached(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"))
    val out = graft.plans.TopKPerKey(ev, Seq("user_id"),
      Seq(("value", false), ("event_id", true)), k = 3)
      .select(col("user_id"), col("event_id"), round(col("value"), 6).as("value"))
    val plan = out.queryExecution.executedPlan.toString
    require("TopKPerKey ".r.findAllIn(plan).size >= 2 && !plan.contains("Window"),
      s"custom top-k operator did not plan:\n$plan")
    out
  }

  /** The DECLARATIVE form of [[topKPerKeyQ]]: the user writes the standard
    * `row_number().over(...).filter(rn <= 3).drop("rn")` pattern and the
    * injected [[graft.plans.TopKWindowRewrite]] optimizer rule replaces
    * the window sort with the bounded-heap operator. Same oracle; the
    * runtime assertion proves the rewrite fired.
    */
  private def topKAutoQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spark.conf.set(graft.plans.TopKWindowRewrite.CONF, "true")
    val ev = Tables.cached(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"))
    val out = ev
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))))
      .filter(col("rn") <= 3).drop("rn")
      .select(col("user_id"), col("event_id"), round(col("value"), 6).as("value"))
    val plan = out.queryExecution.executedPlan.toString
    require("TopKPerKey ".r.findAllIn(plan).size >= 2 && !plan.contains("Window"),
      s"window top-k pattern was not rewritten:\n$plan")
    out
  }

  /** JSONL round-trip: documents → newline-delimited JSON under target/ →
    * schema-declared PERMISSIVE read back → aggregate. The oracle runs the
    * same aggregate on the parquet table, so the gate proves the JSONL
    * path is lossless for every row and field it touches; corrupt-line
    * quarantine is spec-exercised (`JsonlSourceSpec`).
    */
  private def jsonlSourceQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.JsonlSource
    val docs = Tables.documents(spark, dir)
    val path = s"target/jsonl/docs_${math.abs(dir.hashCode)}"
    JsonlSource.writeJsonl(docs, path)
    val (clean, bad) = JsonlSource.splitCorrupt(
      JsonlSource.readJsonl(spark, path, docs.schema))
    require(bad.count() == 0, "JSONL round-trip produced corrupt records")
    clean.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"), col("source"))
  }

  /** Z-order layout decision over orders on the (customer, order-day)
    * pair: quantize both dimensions to 6 bits against corpus bounds,
    * interleave into a 12-bit z-value, assign the top-4-bit tile, and
    * report each tile's bounding box — the per-file min/max stats a
    * z-ordered write would hand the scan pruner. Every step is exact
    * bit/integer arithmetic, replayed by the oracle.
    */
  private def zorderQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.ZOrder
    val ord = Tables.cached(spark, dir, "orders")
    val day = datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long")
    val bounds = ord.agg(
      min(col("o_custkey")).as("cmin"), max(col("o_custkey")).as("cmax"),
      min(day).as("dmin"), max(day).as("dmax"))
    val q = ord.crossJoin(broadcast(bounds))
      .withColumn("qx", ZOrder.quantize(col("o_custkey"), col("cmin"), col("cmax"), 6))
      .withColumn("qy", ZOrder.quantize(day, col("dmin"), col("dmax"), 6))
      .withColumn("z", ZOrder.zValue(Seq(col("qx"), col("qy")), 6))
      .withColumn("tile", ZOrder.tile(col("z"), 12, 4))
    q.groupBy(col("tile")).agg(
      count(lit(1)).as("n"),
      min(col("o_custkey")).as("min_cust"), max(col("o_custkey")).as("max_cust"),
      min(col("o_orderdate")).as("min_date"), max(col("o_orderdate")).as("max_date"))
      .orderBy(col("tile"))
  }

  /** EXIF walk over synthetic JPEGs in BOTH TIFF byte orders: the real
    * APP1/IFD parser reads back orientation / capture time / device make
    * the construction planted; the oracle recomputes the formulas.
    */
  private def exifQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val dt = f"2024:${1 + id % 12}%02d:${1 + id % 28}%02d " +
          f"${id % 24}%02d:${id % 60}%02d:${id % 60}%02d"
        val bytes = Multimodal.syntheticJpegExif(
          orientation = 1 + (id % 8).toInt, dateTime = dt,
          make = s"cam${id % 5}", littleEndian = id % 2 == 0)
        val (o, d, m, bo) = Multimodal.parseExif(bytes)
        (id, o, d, m, bo)
      }
      .toDF("id", "orientation", "date_time", "make", "byte_order")
      .orderBy("id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_exif_meta" -> (exifQ _),
    "q_multimodal_decode" -> (decodeQ _),
    "q_zorder_layout" -> (zorderQ _),
    "q_multimodal_features" -> (featuresQ _),
    "q_image_neardup" -> (imageNearDupQ _),
    "q_image_phash" -> (imagePhashQ _),
    "q_range_join" -> (rangeJoinQ _),
    "q_range_join_auto" -> (rangeJoinAutoQ _),
    "q_topk_per_key" -> (topKPerKeyQ _),
    "q_topk_auto" -> (topKAutoQ _),
    "q_jsonl_source" -> (jsonlSourceQ _),
    "q_stream_period_agg" -> (streamQ _),
    "q_stream_sessionize" -> (sessionQ _),
    "q_partitioned_fold_scan" -> (partitionedScanQ _),
    "q_bucketed_join" -> (bucketedJoinQ _),
    "q_stream_dedup" -> ((s, dir) =>
      StreamingOps.streamDedupUsersPerDay(s, dir)),
    "q_stream_screen" -> ((s, dir) =>
      StreamingOps.streamScreen(s, dir)),
    // filter-on-ingest: the row-local C4 heuristic filter applied to a
    // document stream; per-doc independence ⇒ batch oracle verifies it
    "q_stream_filter" -> ((s, dir) =>
      StreamingOps.streamC4Filter(s, dir)),
    // stream-stream attribution join: purchases pair with the same user's
    // clicks in the preceding hour, both sides unbounded; watermark +
    // time-range bound the join state
    "q_stream_join" -> ((s, dir) =>
      StreamingOps.streamStreamJoin(s, dir)),
    // semantic screen on ingest: per-vector argmax vs the static bench
    // side ⇒ chunking-invariant, batch oracle verifies it
    "q_stream_semantic" -> ((s, dir) =>
      StreamingOps.streamSemanticScreen(s, dir,
        threshold = SimilarityQueries.SEM_THR)),
    // constant-space exact-membership screen on ingest: bitmap built once,
    // each micro-batch is k zero-join bit-tests; batch oracle verbatim
    "q_stream_bloom" -> ((s, dir) =>
      StreamingOps.streamBloomScreen(s, dir,
        DedupQueries.BLOOM_M, DedupQueries.BLOOM_K)),
    // sub-document dedup on ingest: paragraph ScreenIndex built once,
    // bloom-confined exact election per micro-batch; batch oracle verbatim
    "q_stream_paragraph" -> ((s, dir) =>
      StreamingOps.streamParagraphScreen(s, dir, paraTokens = 10,
        DedupQueries.BLOOM_M, DedupQueries.BLOOM_K)),
  )

  private val topKOracle: String =
    """WITH r AS (SELECT user_id, event_id, value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
      |       FROM events)
      |SELECT user_id, event_id, round(value, 6) AS value FROM r WHERE rn <= 3
      |""".stripMargin

  private val rangeJoinOracle: String =
    """WITH days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
      |iv AS (SELECT day,
      |         epoch_us(CAST(day AS TIMESTAMP)) + CAST(6 AS BIGINT) * 3600 * 1000000 AS s,
      |         epoch_us(CAST(day AS TIMESTAMP)) + CAST(18 AS BIGINT) * 3600 * 1000000 AS e
      |       FROM days)
      |SELECT iv.day, count(*) AS n_events, round(sum(ev.value), 6) AS sum_value
      |FROM iv JOIN events ev ON epoch_us(ev.ts) >= iv.s AND epoch_us(ev.ts) < iv.e
      |GROUP BY iv.day ORDER BY iv.day
      |""".stripMargin

  // z-value bit interleave replicated literally: bit b of qx lands at
  // 2b, of qy at 2b+1 — same shift/mask terms both engines
  private val zInterleave = (0 until 6).flatMap(b =>
    Seq(s"(((qx >> $b) & 1) << ${2 * b})", s"(((qy >> $b) & 1) << ${2 * b + 1})"))
    .mkString(" + ")

  def oracleSql: Map[String, String] = Map(
    "q_zorder_layout" ->
      s"""WITH b AS (SELECT min(o_custkey) AS cmin, max(o_custkey) AS cmax,
         |    min(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS dmin,
         |    max(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS dmax
         |  FROM orders),
         |q AS (SELECT o_custkey, o_orderdate,
         |    CAST(floor((o_custkey - cmin) * 63.0 / (cmax - cmin)) AS BIGINT) AS qx,
         |    CAST(floor((date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) - dmin) * 63.0 / (dmax - dmin)) AS BIGINT) AS qy
         |  FROM orders CROSS JOIN b),
         |z AS (SELECT *, $zInterleave AS z FROM q)
         |SELECT z >> 8 AS tile, count(*) AS n,
         |       min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
         |       min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
         |FROM z GROUP BY 1 ORDER BY tile
         |""".stripMargin,
    // the Spark side walks real APP1/TIFF IFDs in both byte orders; the
    // oracle recomputes the planted construction formulas
    "q_exif_meta" ->
      """SELECT doc_id AS id,
        |  CAST(1 + doc_id % 8 AS INT) AS orientation,
        |  '2024:' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || ' ' ||
        |  lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS date_time,
        |  'cam' || CAST(doc_id % 5 AS VARCHAR) AS make,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order
        |FROM documents ORDER BY 1
        |""".stripMargin,
    "q_multimodal_decode" ->
      // the Spark side DECODES real PNGs and parses real MP4 box trees,
      // FLAC STREAMINFO blocks, MP3 frame chains, and WebM EBML trees; the
      // oracle recomputes the known construction formulas (PNG: dims from
      // n_chars, gray/RGB by id parity, duration 0; MP4 on ids ≡4 mod 5 /
      // WebM on ≡3: track count by id parity, duration 10·n_chars ms;
      // FLAC on ≡1: 97·n_chars samples at a rate from n_chars mod 3;
      // MP3 on ≡2: (1+n_chars%7)·1152 samples)
      """WITH m AS (SELECT doc_id, n_chars,
        |    CASE n_chars % 3 WHEN 0 THEN 16000 WHEN 1 THEN 22050 ELSE 44100 END AS flac_rate,
        |    CASE n_chars % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS mp3_rate,
        |    n_chars * 97 AS flac_samples,
        |    (1 + n_chars % 7) * 1152 AS mp3_samples
        |  FROM documents)
        |SELECT doc_id AS id,
        |  CAST(CASE WHEN doc_id % 5 = 1 THEN flac_samples
        |            WHEN doc_id % 5 = 2 THEN mp3_samples
        |            ELSE 16 + n_chars % 48 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 5 = 1 THEN flac_rate
        |            WHEN doc_id % 5 = 2 THEN mp3_rate
        |            ELSE 16 + (n_chars * 7) % 48 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 1 + doc_id % 2
        |            WHEN doc_id % 5 = 3 THEN 1 + doc_id % 2
        |            WHEN doc_id % 5 = 1 THEN 1 + doc_id % 2
        |            WHEN doc_id % 5 = 2 THEN CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END
        |            WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT) AS channels,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN n_chars * 10
        |            WHEN doc_id % 5 = 3 THEN n_chars * 10
        |            WHEN doc_id % 5 = 1 THEN flac_samples * 1000 // flac_rate
        |            WHEN doc_id % 5 = 2 THEN mp3_samples * 1000 // mp3_rate
        |            ELSE 0 END AS BIGINT) AS duration_ms
        |FROM m
        |""".stripMargin,
    // the Spark side really decodes + pools + hashes + verifies; the oracle
    // replays the planted-pair construction: (2k, 2k+1) is a near-dup pair
    // iff k % 3 = 0 and both ids exist, and the centered-L1 verify distance
    // for a constant-brightness-shifted twin is exactly 0
    // lossless JSONL round-trip: the aggregate over the re-read corpus
    // must equal the same aggregate over the parquet original
    "q_jsonl_source" ->
      """SELECT lang, source, count(*) AS n_docs, sum(n_chars) AS sum_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source
        |""".stripMargin,
    // the oracle states the range join declaratively (BETWEEN predicate);
    // the Spark side must produce the identical answer from the bucketed
    // equi-join plan
    "q_range_join" -> rangeJoinOracle,
    // identical semantics — only the PLANNING differs (optimizer rewrite)
    "q_range_join_auto" -> rangeJoinOracle,
    "q_topk_per_key" -> topKOracle,
    // identical semantics — the optimizer rewrite only changes the plan
    "q_topk_auto" -> topKOracle,
    // planted pHash twins: brightness (+40) pairs at k%3==0, exact x2
    // contrast pairs at k%3==1; both verify at (rounded) zero z-distance
    "q_image_phash" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0.0 AS z_l1
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 2 = 0 AND (a.doc_id // 2) % 3 IN (0, 1)
        |ORDER BY id_a, id_b
        |""".stripMargin,
    "q_image_neardup" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0.0 AS pooled_l1
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 2 = 0 AND (a.doc_id // 2) % 3 = 0
        |ORDER BY id_a
        |""".stripMargin,
    // replay the synthetic pixel formula (31x+7y+13id+11b mod 256) over
    // every sample; per-stripe integer sums, one division, 16-term sum —
    // PNG is lossless so the Spark-side decoded raster holds exactly this
    "q_multimodal_features" ->
      """WITH dims AS (SELECT doc_id, CAST(16 + n_chars % 48 AS INT) AS w,
        |                     CAST(16 + (n_chars * 7) % 48 AS INT) AS h,
        |                     CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS nb
        |              FROM documents),
        |ax AS (SELECT CAST(x AS INT) AS x FROM range(0, 64) t(x)),
        |ay AS (SELECT CAST(y AS INT) AS y FROM range(0, 64) t(y)),
        |ab AS (SELECT CAST(b AS INT) AS b FROM range(0, 3) t(b)),
        |samp AS (SELECT d.doc_id, y.y % 16 AS k,
        |                (31 * x.x + 7 * y.y + 13 * d.doc_id + 11 * b.b) % 256 AS v
        |         FROM dims d JOIN ax x ON x.x < d.w
        |                     JOIN ay y ON y.y < d.h
        |                     JOIN ab b ON b.b < d.nb),
        |stripe AS (SELECT doc_id, k, sum(v) AS s, count(*) AS c
        |           FROM samp GROUP BY doc_id, k)
        |SELECT doc_id AS id, round(sum(s / (255.0 * c)), 4) AS feature_sum
        |FROM stripe GROUP BY doc_id
        |""".stripMargin,
    "q_stream_period_agg" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS period,
        |  count(*) AS n_events,
        |  round(sum(value), 6) AS sum_value,
        |  round(avg(value), 6) AS avg_value
        |FROM events GROUP BY 1
        |""".stripMargin,
    "q_stream_sessionize" ->
      """WITH x AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > CAST(12 AS BIGINT) * 3600 * 1000000 THEN 1
        |         ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
        |s AS (SELECT user_id, ts_us,
        |        CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
        |          ROWS UNBOUNDED PRECEDING) - 1 AS INT) AS session_idx
        |      FROM x)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM s GROUP BY user_id, session_idx
        |""".stripMargin,
    "q_partitioned_fold_scan" ->
      s"""${PanelQueries.prelude}
         |SELECT event_id, period, value FROM ev
         |WHERE pos < (SELECT n FROM nn) - ${PanelQueries.N_SPLITS}
         |""".stripMargin,
    "q_stream_dedup" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS period,
        |       count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1
        |""".stripMargin,
    // streamed union == one-shot batch screen (per-doc independence), so
    // the batch oracle verifies the streaming path verbatim
    "q_stream_screen" -> DedupQueries.screenOracleSql,
    // streamed bloom screen: batch bloom oracle verbatim (same principle)
    "q_stream_bloom" -> DedupQueries.oracleSql("q_bloom_screen"),
    // streamed paragraph screen: batch paragraph-screen oracle verbatim
    "q_stream_paragraph" -> TextQueries.oracleSql("q_paragraph_screen"),
    // same principle for the streamed filter: the batch C4 oracle verbatim
    "q_stream_filter" -> TextQueries.oracleSql("q_c4_filter"),
    // and for the streamed semantic screen: the batch screen oracle
    "q_stream_semantic" -> SimilarityQueries.oracleSql("q_semantic_screen"),
    // stream-stream join drains to exactly the batch interval join (single
    // co-present micro-batch per side; watermark advances only post-batch)
    "q_stream_join" ->
      """SELECT c.event_id AS click_event_id, p.event_id AS purchase_event_id,
        |  c.user_id AS user_id,
        |  epoch_us(c.ts) AS click_ts_us, epoch_us(p.ts) AS purchase_ts_us,
        |  round(c.value, 6) AS click_value, round(p.value, 6) AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |""".stripMargin,
    "q_bucketed_join" ->
      """SELECT user_id, count(*) AS n_events,
        |       round(sum(value), 4) AS sum_value,
        |       round(sum(value), 4) AS user_total
        |FROM events GROUP BY user_id
        |""".stripMargin,
  )
}
