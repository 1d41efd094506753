package graft.queries

import graft.{Q, Tables}
import graft.operators.{Dedup, QualityClassifier}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming entries of the catalog, driven through the SAME
  * driver gate as the batch queries: each runs a real streaming query
  * (file-stream source → watermarked stateful transform → memory sink,
  * Trigger.AvailableNow) to completion and returns the sink table, which
  * the DuckDB oracle checks against the batch-equivalent SQL. On a
  * cluster the same code tails a directory/log indefinitely —
  * AvailableNow is the bounded-replay form of the identical plan.
  *
  * NOTE (streaming parquet): the file-stream source needs an explicit
  * schema; `events.ts` is parquet timestamp[us] (TIMESTAMP_NTZ) and is
  * normalized to the ns-since-epoch LongType contract right after the
  * read (`eventsStream` → `Tables.withTsNanos`).
  */
object StreamingQueries {

  private val ctr = new java.util.concurrent.atomic.AtomicLong(0)

  /** Input-bearing micro-batch count of the LAST runToTable query run
    * ON THIS THREAD — spec instrumentation only (see runToTable).
    * Thread-local rather than a shared volatile: runToTable records it on
    * the caller's thread after awaitTermination and every spec reads it
    * on that same thread, so two streaming queries running concurrently
    * (parallel specs, parallel catalog drivers) can no longer read each
    * other's batch counts and pass/fail spuriously.
    */
  private val lastBatchesTl: ThreadLocal[Int] = ThreadLocal.withInitial(() => 0)

  private[graft] def lastStreamBatches: Int = lastBatchesTl.get()

  /** Band-index rows entering the LAST streamMinhash assembly run ON
    * THIS THREAD with probeScan=true — spec/probe instrumentation for
    * the changed-keys-only scan-collapse claim (r15 verdict #5). */
  private val lastScanRowsTl: ThreadLocal[Long] = ThreadLocal.withInitial(() => 0L)
  private[graft] def lastAssemblyScanRows: Long = lastScanRowsTl.get()

  /** Run a streaming DataFrame to completion into a memory sink and
    * return the sink table (unique per call — Bench runs each query
    * twice).
    *
    * The memory sink is GATE-ONLY: it materializes the (small,
    * aggregated) result on the driver for the DuckDB compare. The
    * upstream *plan* is the production plan; a deployment swaps this one
    * line for a kafka/parquet sink and keys state to a real checkpoint
    * location.
    */
  private def runToTable(s: SparkSession, q: DataFrame, mode: String,
                         rocksDbState: Boolean = false): DataFrame = {
    val name = s"graft_stream_${ctr.incrementAndGet()}"
    // stateful streaming cost at this SF is state-store COMMITS per
    // partition per batch, not data: 8 state partitions instead of the
    // session's 32 (a cluster sizes this to state volume). The conf only
    // pins the state layout of the query started here; batch queries are
    // unaffected (restored before returning).
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    // rocksDbState: keyed aggregation state goes to RocksDB (native
    // memory + local disk) instead of the default on-heap HDFS-backed
    // store — for queries whose state is corpus-shaped (n29's ~one
    // struct per distinct new segment) the on-heap store was the GC
    // driver behind the 3x gate-pass spread at sf10 (SCALING.md r14);
    // it is also the demonstrated production form (SegmentDedupStreamSpec)
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.getOption(provKey)
    if (rocksDbState) s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def restoreConf(): Unit = {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      if (rocksDbState) prevProv match {
        case Some(p) => s.conf.set(provKey, p)
        case None => s.conf.unset(provKey)
      }
    }
    try {
      val query = q.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      // visible to specs asserting that a multi-file staging actually
      // SPLIT into micro-batches (so batch-split-invariance tests are
      // not vacuously comparing two single-batch runs)
      lastBatchesTl.set(query.recentProgress.count(_.numInputRows > 0))
      // copy the result out of the memory sink and DROP the temp view:
      // the sink's row buffer would otherwise stay registered (and
      // referenced) for the session's lifetime — under the bench's
      // repeated passes those buffers accumulated until later passes
      // paid the memory pressure (n16 measured 2.8 s -> 5.3 s across
      // its own passes before this). The checkpointed blocks are freed
      // by the caller's session reset / frame GC.
      //
      // coalesce(8) before the checkpoint (r17): the sink is a GATE
      // result — bounded by the DuckDB compare by construction — but
      // the memory-sink scan materialized at the session's default
      // parallelism, so every downstream finisher (ordering, estimator
      // joins, cdc merges) ran 32-task stages over a few thousand rows
      // (the stages probe charged n32's sink copy alone 17.7
      // exec-seconds). 8 matches the state-partition sizing above and
      // keeps finisher stages data-sized.
      val out = s.table(name).coalesce(8).localCheckpoint(true)
      s.catalog.dropTempView(name)
      out
    } finally restoreConf()
  }

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** events as a file-stream source, with `ts` normalized to the
    * ns-since-epoch LongType contract (Tables.withTsNanos) that every
    * downstream transform assumes. Glob form: the file-stream source
    * requires a directory or glob (a literal file path fails basePath
    * validation).
    */
  private def eventsStream(s: SparkSession, d: String): DataFrame =
    Tables.withTsNanos(
      s.readStream.schema(eventsSchema).parquet(s"$d/events.parque[t]"))

  private val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val all: Seq[Q] = Seq(

    // Event-time tumbling-window quality totals as a STREAM (A1 sums in
    // streaming form, complete mode): watermarked windowed aggregation
    // whose bounded-replay output equals the batch window SQL.
    Q("n13_stream_quality",
      (s, d) => {
        val nStreams = math.max(Tables.eventCount(s, d) / 2500L, 1L)
        val src = eventsStream(s, d)
        // quantize BEFORE the windowed sum (the a05 lesson): the state
        // aggregates integer-valued doubles exactly, so the result is
        // micro-batch- and partition-order-independent; the final /500
        // happens once on the exact total
        val ev = src.select((col("user_id") % nStreams).as("stream_id"),
          Tables.tsFromNanos(col("ts")).as("ts"),
          floor(col("value") * 1000).as("score"))
        runToTable(s, StreamingOps.windowedQuality(ev, "10 seconds", "10 seconds"),
            "complete")
          // formatted string: DuckDB buckets to TIMESTAMP_NS, Spark to µs —
          // same instants, different physical types; a string compares
          // robustly in the driver's hash
          .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            col("stream_id"), col("n"),
            round(col("sum_quality") / 500000.0, 4).as("sum_quality"))
          .orderBy("window_start", "stream_id")
      },
      Some("""SELECT strftime(time_bucket(INTERVAL '10 seconds', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             |  user_id % ns AS stream_id, count(*) AS n,
             |  round(sum(floor(value * 1000)) / 500000.0, 4) AS sum_quality
             |FROM events, (SELECT greatest(count(*) // 2500, 1) AS ns FROM events) nrm
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Watermarked streaming exact-dedup (the 100 TB ingest-firehose form
    // of d01): dropDuplicatesWithinWatermark on the content fingerprint;
    // the horizon covers the synthesized event-time spread, so the
    // surviving set is one doc per distinct fingerprint — checked via
    // fingerprint-set aggregates (WHICH doc survives is arrival-order
    // dependent by design, the fingerprint set is not).
    Q("n14_stream_dedup",
      (s, d) => {
        // +3600 keeps every synthesized event time strictly above the
        // initial watermark (epoch 0 itself is treated as late and dropped)
        val src = s.readStream.schema(documentsSchema).parquet(s"$d/documents.parque[t]")
          .withColumn("ts", timestamp_seconds(col("doc_id") % 3600 + 3600))
        runToTable(s, StreamingOps.dedupStream(src, watermark = "2 hours"), "append")
          .agg(count(lit(1)).as("n_unique"),
            min("fp").as("min_fp"), max("fp").as("max_fp"))
      },
      Some("""SELECT count(DISTINCT fp) AS n_unique, min(fp) AS min_fp, max(fp) AS max_fp
             |FROM (SELECT md5(array_to_string(
             |        regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp
             |      FROM documents) t""".stripMargin),
      ),

    // ST1 as a STREAM (the production tracker shape: detector output
    // lands in files, the tracker tails the directory; state = one
    // SortTracker per stream carried across micro-batches). LIVE oracle
    // since round 10: the same recursive-CTE tracker replay that gates
    // batch n01 — the streaming path must reproduce an independent
    // DuckDB recomputation of the whole fold, not a shared snapshot.
    Q("n15_stream_tracks",
      (s, d) => withStaged(s, ControlQueries.sortDetections(s, d), "n15") { src =>
        val dets = s.readStream.schema(detsSchema).parquet(src)
        runToTable(s, StreamingOps.trackStream(dets), "append")
          .select(col("stream_id"), col("frame"), col("track_id"),
            round(col("x1"), 2).as("x1"), round(col("y1"), 2).as("y1"),
            round(col("x2"), 2).as("x2"), round(col("y2"), 2).as("y2"))
          .orderBy("stream_id", "frame", "track_id")
      },
      Some(SortReplayOracle.sql)),

    // ST3 as a STREAM: per-chunk scores stream in, the knob switcher's
    // decision log streams out (buffer/plan/counter state per stream,
    // carried across micro-batches). Spec-checked streaming==batch
    // (StreamingSpec); the gate freezes the sf0.01 log as a golden
    // snapshot (scripts/regen_goldens.sh).
    Q("n16_stream_switch",
      (s, d) => withStaged(s, ControlQueries.chunkScores(s, d), "n16") { src =>
        val chunks = s.readStream.schema(chunksSchema).parquet(src)
        runToTable(s,
            StreamingOps.switchStream(chunks, () => ControlQueries.mkSwitcher()),
            "append")
          .select(col("stream_id"), col("chunk_id"), col("config"), col("placement"),
            round(col("cloud_cost"), 2).as("cloud_cost"),
            round(col("runtime_s"), 2).as("runtime_s"),
            round(col("score"), 4).as("score"))
          .orderBy("stream_id", "chunk_id")
      },
      // LIVE oracle since round 9: the same recursive-CTE decision-fold
      // replay that gates batch n02 — the streaming path must reproduce
      // the batch decisions exactly (the n01/n15 pattern, but against an
      // independent DuckDB recomputation instead of a shared snapshot)
      Some(ControlQueries.skyscraperReplayOracle)),

    // Event-time SESSION windows as a stream (the streaming twin of
    // q30): watermarked session_window state, append mode — a session
    // emits once the watermark passes its end. A sentinel event 2 h past
    // the corpus max advances the final watermark so every real session
    // closes under Trigger.AvailableNow; the sentinel's own (still-open)
    // session is never emitted. Session boundary is session_window's
    // strict form (new session at diff >= gap), mirrored in the oracle.
    Q("n17_stream_sessions",
      (s, d) => {
        val base = Tables.events(s, d).select(col("user_id"),
          expr("ts div 1000").as("ts_us"),
          floor(col("value") * 1000).cast("long").as("v"))
        val sentinel = base.agg(max("ts_us").as("m"))
          .select(lit(-1L).as("user_id"),
            (col("m") + 7200L * 1000000).as("ts_us"), lit(0L).as("v"))
        withStaged(s, base.unionByName(sentinel), "n17") { src =>
          val ev = s.readStream.schema(sessionSchema).parquet(src)
            .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"), col("v"))
          runToTable(s, StreamingOps.sessionQuality(ev, "30 minutes"), "append")
            .filter(col("user_id") =!= -1L)
            .orderBy("user_id", "start_us")
        }
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts,
             |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
             |f AS (SELECT *, CASE WHEN ts - lag(ts) OVER w >= 1800000000
             |                     THEN 1 ELSE 0 END AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
             |    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM f)
             |SELECT min(ts) AS start_us, max(ts) + 1800000000 AS end_us,
             |  user_id, count(*) AS n_events,
             |  CAST(sum(v) AS BIGINT) AS value_sum_milli
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, start_us""".stripMargin)),

    // STREAM-STREAM time-range join: purchases joined to the same user's
    // clicks in the preceding 30 minutes, BOTH sides unbounded streams
    // with watermarks (the range condition + watermarks bound each
    // side's join state — without them a stream-stream join buffers
    // forever; with them state GC is automatic, the 100 TB shape). Inner
    // joins emit on match, so AvailableNow yields exactly the batch
    // result, checked against a plain DuckDB range join.
    Q("n18_stream_stream_join",
      (s, d) => {
        // stage only the two joined topics (a deployment tails one topic
        // per type; shipping the other 3/5 of the firehose into both
        // sides' scans is pure waste)
        val base = Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "click"))
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("ts_us"), col("event_type"))
        withStaged(s, base, "n18") { src =>
          def side(tpe: String, p: String) =
            s.readStream.schema(ssjSchema).parquet(src)
              .filter(col("event_type") === tpe)
              .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
                col("ts_us").as(s"${p}_us"),
                timestamp_micros(col("ts_us")).as(s"${p}_ts"))
              .withWatermark(s"${p}_ts", "1 hour")
          val joined = side("purchase", "p").join(side("click", "c"),
            expr("""p_user = c_user AND
                    c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"""))
          // a stream-stream join keeps FOUR state stores per shuffle
          // partition, so it feels the runToTable state-partition sizing
          // the most (8.6 s -> 3.1 s at sf0.1)
          runToTable(s, joined, "append")
            .select(col("p_id"), col("c_id"),
              expr("(p_us - c_us) div 1000000").as("gap_s"))
            .orderBy("p_id", "c_id")
        }
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events)
             |SELECT p.event_id AS p_id, c.event_id AS c_id,
             |  (p.us - c.us) // 1000000 AS gap_s
             |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
             |JOIN (SELECT * FROM e WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id
             | AND c.us BETWEEN p.us - 1800000000 AND p.us
             |ORDER BY p_id, c_id""".stripMargin)),

    // Streaming "trending now": watermarked tumbling-window counts per
    // event type (t11's heavy-hitter shape as a live stream), then top-3
    // per window ranked on the materialized sink — the dashboard serving
    // split: the stream maintains the monoid counts (bounded state:
    // windows × types), ranking happens at read time. Counts are exact
    // integers and ties break on event_type, so the result is micro-batch-
    // and partition-order-independent; the oracle is the batch SQL.
    Q("n19_stream_trending",
      (s, d) => {
        val src = eventsStream(s, d)
        val ev = src.select(Tables.tsFromNanos(col("ts")).as("ts"), col("event_type"))
        val counted = ev.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("window_start").orderBy(desc("n"), asc("event_type"))
        runToTable(s, counted, "complete")
          .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            col("event_type"), col("n"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .orderBy("window_start", "rnk")
      },
      Some("""SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             |  event_type, count(*) AS n,
             |  row_number() OVER (PARTITION BY time_bucket(INTERVAL '6 hours', ts)
             |    ORDER BY count(*) DESC, event_type) AS rnk
             |FROM events GROUP BY time_bucket(INTERVAL '6 hours', ts), event_type
             |QUALIFY rnk <= 3 ORDER BY window_start, rnk""".stripMargin)),

    // Stream-static enrichment join — the canonical streaming-ETL shape
    // this catalog was missing: a stateless per-batch join of the event
    // stream against slowly-changing dimensions (customer → nation,
    // broadcast: the static side re-resolves per micro-batch, which is
    // exactly how a dimension refresh reaches a live pipeline), then a
    // watermarked event-time window per nation. Join state is ZERO (no
    // watermark bookkeeping on the static side) — only the windowed agg
    // holds state, bounded by (windows × nations). Integer-quantized sums
    // make the result micro-batch-order independent (the n13 lesson).
    Q("n20_stream_enrich",
      (s, d) => {
        val nCust = Tables.custCount(s, d)
        val dim = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
          .join(Tables.nation(s, d).select(col("n_nationkey"), col("n_name")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name"))
        val src = eventsStream(s, d)
          .select(Tables.tsFromNanos(col("ts")).as("ts"),
            (col("user_id") % nCust + 1).as("c_custkey"),
            floor(col("value") * 1000).as("score"))
        val enriched = src.join(broadcast(dim), "c_custkey")
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "12 hours"), col("n_name"))
          .agg(count(lit(1)).as("n"), sum("score").as("sum_score"))
        runToTable(s, enriched, "complete")
          .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            col("n_name"), col("n"),
            round(col("sum_score") / 1000.0, 4).as("sum_value"))
          .orderBy("window_start", "n_name")
      },
      Some("""SELECT strftime(time_bucket(INTERVAL '12 hours', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             |  n_name, count(*) AS n,
             |  round(sum(floor(value * 1000)) / 1000.0, 4) AS sum_value
             |FROM events, (SELECT count(*) AS nc FROM customer) c,
             |  customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_custkey = user_id % nc + 1
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Streaming SKETCH state: per-window approximate distinct users via
    // the mergeable KMV aggregator (t18's sketch as streaming aggregation
    // state). The state per window is ≤ k hashes — bounded no matter how
    // many distinct users a window sees, which is the whole reason a
    // 100 TB stream can afford per-window distinct counts at all — and
    // because KMV merge is a set union (order-invariant, idempotent),
    // the result is independent of micro-batch splits, so the DuckDB
    // oracle reproduces the sketch content exactly (rank ≤ k per window).
    Q("n21_stream_kmv",
      (s, d) => {
        val k = 32
        val src = eventsStream(s, d)
        val hashed = src.select(Tables.tsFromNanos(col("ts")).as("ts"),
            md5(concat(lit("u#"), col("user_id").cast("string"))).as("h"))
          .withWatermark("ts", "1 hour")
        val kmv = udaf(new graft.operators.Sketches.KmvAgg(k),
          org.apache.spark.sql.Encoders.STRING)
        val sketched = hashed.groupBy(window(col("ts"), "12 hours"))
          .agg(kmv(col("h")).as("mins"))
        runToTable(s, sketched, "complete")
          .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            size(col("mins")).as("n_kept"),
            element_at(col("mins"), -1).as("kth_hash"),
            when(size(col("mins")) < k, size(col("mins")).cast("long"))
              .otherwise(expr(s"(${k - 1} * 1099511627776) div " +
                "cast(conv(substring(element_at(mins, -1), 1, 10), 16, 10) as bigint)"))
              .as("est_distinct"))
          .orderBy("window_start")
      },
      Some("""WITH uh AS (
             |  SELECT DISTINCT time_bucket(INTERVAL '12 hours', ts) AS w,
             |    md5('u#' || CAST(user_id AS VARCHAR)) AS h
             |  FROM events),
             |r AS (
             |  SELECT w, h, row_number() OVER (PARTITION BY w ORDER BY h) AS rn,
             |         count(*) OVER (PARTITION BY w) AS cnt
             |  FROM uh)
             |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
             |  CAST(least(cnt, 32) AS INT) AS n_kept,
             |  max(CASE WHEN rn <= 32 THEN h END) AS kth_hash,
             |  CAST(CASE WHEN cnt < 32 THEN cnt
             |       ELSE (31 * 1099511627776) //
             |            CAST(concat('0x', substring(max(CASE WHEN rn <= 32 THEN h END), 1, 10)) AS BIGINT)
             |       END AS BIGINT) AS est_distinct
             |FROM r GROUP BY w, cnt ORDER BY 1""".stripMargin)),

    // q47's STREAMING twin: per-user ring-buffer z-score anomaly
    // detection as custom FMGWS state (StreamingOps.zscoreStream — last
    // 20 readings per key as a product-encoded long ring, O(window)
    // state per key forever). The oracle is q47's batch SQL verbatim:
    // streaming over the bounded replay == the batch trailing window,
    // arithmetic included (same exact integer moments, same one sqrt +
    // one division, same HALF_UP output rounding).
    Q("n22_stream_anomaly",
      (s, d) => {
        val src = eventsStream(s, d)
          .select(col("user_id"), col("event_id"),
            floor(col("value") * 1000).cast("long").as("v"))
        runToTable(s, StreamingOps.zscoreStream(src), "append")
          .orderBy("user_id", "event_id")
      },
      Some("""WITH q AS (
             |  SELECT user_id, event_id, CAST(floor(value * 1000) AS BIGINT) AS v
             |  FROM events),
             |m AS (
             |  SELECT user_id, event_id, v,
             |    count(v) OVER w AS n, sum(v) OVER w AS sv, sum(v * v) OVER w AS sq
             |  FROM q
             |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
             |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
             |SELECT user_id, event_id, v,
             |  round((v * n - sv) / sqrt(CAST(n * sq - sv * sv AS DOUBLE)), 4) AS z
             |FROM m
             |WHERE n = 20 AND n * sq > sv * sv
             |  AND abs((v * n - sv) / sqrt(CAST(n * sq - sv * sv AS DOUBLE))) > 2.5
             |ORDER BY 1, 2""".stripMargin)),

    // The COMPOSITE V-ETL pipeline as a STREAM — m05's exact composition
    // (frames → detect stub → SORT tracking → 2 s integer-exact quality
    // windows) run through trackStream's FMGWS state and an append-mode
    // windowed aggregation. LIVE oracle since round 10: the same
    // end-to-end DuckDB recomputation that gates batch m05
    // (SortReplayOracle.m05Sql) — so batch, streaming, and the
    // independent replay must all three agree, not just the twins.
    // The staged sentinel frames advance the final watermark so every
    // real window closes under Trigger.AvailableNow; their own windows
    // fall past the cutoff on both twins.
    Q("n23_vetl_stream",
      (s, d) => withStaged(s,
        graft.streaming.VetlPipeline.withSentinels(
          graft.operators.Multimodal.syntheticFrames(Tables.events(s, d), nStreams = 4L)),
        "n23") { src =>
        val frames = s.readStream.schema(framesSchema).parquet(src)
        // detection scores re-derived from a static read of the same
        // staged frames (stream-static join; the spec's two-job shape)
        val scores = graft.streaming.VetlPipeline
          .detectStub(s.read.schema(framesSchema).parquet(src))
          .groupBy("stream_id", "frame").agg(avg("score").as("score"))
        val tracks = graft.streaming.VetlPipeline.tracksFromFrames(frames)
        runToTable(s,
            graft.streaming.VetlPipeline.qualityGateWindows(tracks, scores,
              graft.streaming.VetlPipeline.epochMs + 600000L),
            "append")
          .orderBy("stream_id", "chunk_start")
      },
      Some(SortReplayOracle.m05Sql)),

    // t24's STREAMING twin: HyperLogLog registers as windowed streaming
    // aggregation state (the register-max monoid — order-invariant and
    // idempotent, so the result is micro-batch-split independent).
    // Append mode + watermark sentinel (see streamHllEstimate): closed
    // windows are emitted and their state EVICTED, so state is BOUNDED
    // at <= 256 register rows per OPEN window regardless of user volume — the cardinality-sketch complement of n21's KMV
    // (which ships k exact hashes). The per-window estimator finish
    // runs batch-side on the sink's register table (256 rows/window —
    // a production job reads the register store the same way). Oracle:
    // DuckDB recomputes xxhash64-of-long in HUGEINT SQL, the register
    // maxes, and the exact-integer estimator per window, plus the
    // exact distinct count each estimate is gated against.
    Q("n24_stream_hll",
      (s, d) => {
        val exact = Tables.events(s, d)
          .select(Tables.tsFromNanos(col("ts")).as("ts"), col("user_id"))
          .groupBy(window(col("ts"), "12 hours"))
          .agg(countDistinct(col("user_id")).as("exact_distinct"))
        streamHllEstimate(s, d).join(exact, "window")
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            col("n_zero"), col("hll_estimate"), col("exact_distinct"))
          .orderBy("window_start")
      },
      Some(s"""WITH keys AS (SELECT DISTINCT user_id::HUGEINT AS v FROM events),
              |${TextQueries.xxh64LongDuck},
              |uw AS (SELECT DISTINCT time_bucket(INTERVAL '12 hours', ts) AS w, user_id
              |       FROM events),
              |bw AS (SELECT uw.w, hsh.hu % 256 AS bucket, hsh.hu // 256 AS win56
              |       FROM uw JOIN hsh ON hsh.v = uw.user_id),
              |r AS (SELECT w, bucket,
              |        max(CASE WHEN win56 = 0 THEN 57
              |                 ELSE CAST(bit_count(CAST(win56 & (-win56) AS BIGINT) - 1) + 1 AS INT) END) AS reg
              |      FROM bw GROUP BY 1, 2),
              |ag AS (SELECT w, count(*) AS n_present,
              |         sum((2::HUGEINT ^ (57 - reg))::HUGEINT) AS s_present
              |       FROM r GROUP BY 1),
              |er AS (SELECT w, 256 - n_present AS n_zero,
              |         ${graft.operators.Sketches.hllAlphaMM} /
              |           (CAST(s_present + (256 - n_present) * 144115188075855872::HUGEINT
              |                 AS DOUBLE) / 144115188075855872.0) AS est_raw
              |       FROM ag),
              |ex AS (SELECT time_bucket(INTERVAL '12 hours', ts) AS w,
              |         count(DISTINCT user_id)::BIGINT AS exact_distinct
              |       FROM events GROUP BY 1)
              |SELECT strftime(er.w, '%Y-%m-%d %H:%M:%S') AS window_start,
              |  CAST(n_zero AS BIGINT) AS n_zero,
              |  round(CASE WHEN est_raw <= 640.0 AND n_zero > 0
              |             THEN 256.0 * ln(256.0 / n_zero) ELSE est_raw END, 2) AS hll_estimate,
              |  exact_distinct
              |FROM er JOIN ex ON ex.w = er.w ORDER BY 1""".stripMargin),
      benchFn = Some((s, d) =>
        // bench the streaming sketch path only — the gate's per-window
        // exact countDistinct arm is a measurement device (BENCH.md
        // bench-plan overrides), and at sf10 it shuffles the full event
        // volume where the register state is 256 rows/window
        streamHllEstimate(s, d)
          .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
              .as("window_start"),
            col("n_zero"), col("hll_estimate"))
          .orderBy("window_start")))
  ) ++ Seq(

    // t29's STREAMING leg — the train-offline/score-online shape every
    // production quality gate deploys as: the logistic regression is
    // trained batch-side (the same 64-step integer GD the t29 gate
    // replays), then the document STREAM is scored statelessly (one
    // row-local featurize + dot per doc against an 8 KB weight
    // broadcast — zero operator state, so the scorer runs at ingest
    // rate at any scale) and rolled into watermarked 10-minute
    // event-time windows of integer monoid totals (docs / keeps /
    // logit-micro sum — bounded state per open window). Flush follows
    // the n24 sentinel pattern: one far-future row advances the
    // watermark past every real window; in append mode the sentinel's
    // own window never closes, so it never emits. Window starts stay
    // integer epoch seconds end-to-end (no timestamp formatting to
    // diverge on). The oracle replays training via the shared t29 CTE
    // and rolls zz into the same doc_id-derived windows.
    Q("n25_stream_quality_gate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val w = QualityClassifier.trainOn(docs, Tables.docCount(s, d))
        // +3600 keeps every synthesized event time strictly above the
        // initial watermark (the n14 convention); *7 spreads small-SF
        // doc_ids across the hour so several windows actually close;
        // sentinel at +4h
        val base = docs.select(col("doc_id"), col("text"),
          (col("doc_id") * 7 % 3600 + 3600).as("ts_s"))
        val sentinel = s.range(1).select(lit(-1L).as("doc_id"),
          lit("").as("text"), lit(4L * 3600L).as("ts_s"))
        withStaged(s, base.unionByName(sentinel), "n25") { src =>
          val stream = s.readStream.schema(qgStageSchema).parquet(src)
            .select(col("doc_id"), col("text"),
              timestamp_seconds(col("ts_s")).as("ts"))
          val scored = QualityClassifier.scoreStream(stream, w)
            .withWatermark("ts", "30 minutes")
          val win = scored
            .groupBy(window(col("ts"), "10 minutes"))
            .agg(count(lit(1)).as("n_docs"),
              sum("keep").as("n_keep"),
              sum("logit_micro").as("logit_sum"))
          runToTable(s, win, "append")
            .select(unix_timestamp(col("window.start")).as("win_start"),
              col("n_docs"), col("n_keep"), col("logit_sum"))
            .orderBy("win_start")
        }
      },
      Some(s"""WITH RECURSIVE
              |${TextQueries.qualityTrainCtes("documents")}
              |SELECT ((doc_id * 7 % 3600 + 3600) // 600 * 600)::BIGINT AS win_start,
              |  count(*)::BIGINT AS n_docs,
              |  sum(CASE WHEN z > 0 THEN 1 ELSE 0 END)::BIGINT AS n_keep,
              |  sum(CASE WHEN z >= 0 THEN z // 1000000
              |      ELSE -((-z) // 1000000) END)::BIGINT AS logit_sum
              |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Streaming ANN retrieval — queries ARRIVE, the index is at rest
    // (the online-serving half of the e06/e14 family): each streamed
    // query fans out to its probe cells row-locally (centroids ride an
    // 8 KB broadcast), candidates come from a stream-STATIC equi-join
    // on `cell` against the cell-partitioned at-rest index (here the
    // probe side is micro-batch-tiny so the join never moves the
    // corpus; at 10⁹ vectors the deployment form is foreachBatch →
    // probeIvf, which collects the batch's probed cells and prunes
    // the partitionBy(cell) layout to exactly those files — the
    // continuous plan below demonstrates the state/agg semantics),
    // scoring is the same codegen'd cosine_sim the batch probe
    // uses, and the per-query top-k is a MERGEABLE bounded aggregation
    // (Similarity.TopCosAgg — k pairs of state per query, independent
    // of candidate volume or micro-batch splits). GATE arm probes
    // nprobe = nlist, which is EXACT by the e14 property, so the
    // oracle is DuckDB's independent exact kNN — no frozen centroids,
    // no recall floor; the BENCHED arm is the production nprobe=4
    // probe (the e06 convention). At corpus scale the per-query cost
    // is the probed cells' rows; state stays k rows per in-flight
    // query (window + watermark the query stream to retire finished
    // queries — here the bounded query set uses complete mode, the
    // n21 convention).
    Q("n26_stream_ann",
      (s, d) => streamAnn(s, d, nprobe = 0),
      Some(s"""WITH q AS (SELECT vec_id, ${SimilarityQueries.quantDuck} AS qv FROM embeddings),
              |scored AS (
              |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, ${SimilarityQueries.cosDuck} AS cos
              |  FROM q a JOIN q b ON a.vec_id < 100 AND a.vec_id <> b.vec_id),
              |ranked AS (
              |  SELECT query_id, neighbor_id, cos,
              |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
              |  FROM scored)
              |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
              |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      benchFn = Some((s, d) => streamAnn(s, d, nprobe = 4))),

    // d11's STREAMING leg — decontamination at the ingest firehose: the
    // benchmark 8-gram set (dim-sized by contract — an eval suite) is
    // built batch-side, collected ONCE and broadcast; every arriving
    // document is then flagged ROW-LOCALLY (tokenize, slide the 8-gram
    // window, short-circuit on the first benchmark hit) — a stateless
    // filter with zero shuffle before the windowed rollup, so the scan
    // runs at ingest rate at any scale. Watermarked 10-minute windows
    // of (n_docs, n_contaminated) per source — integer monoid state —
    // flushed by the n24 sentinel; window starts stay integer epoch
    // seconds end-to-end (the n25 convention). The oracle recomputes
    // the gram sets, the containment and the window rollup from
    // scratch.
    Q("n27_stream_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bgrams = Dedup.gramTable(docs.filter(col("source") === "src0"), n = 8)
          .select("gram").distinct()
          .collect().map(_.getString(0)).toSet
        val bc = s.sparkContext.broadcast(bgrams)
        val base = docs.filter(col("source") =!= "src0")
          .select(col("doc_id"), col("text"), col("source"),
            (col("doc_id") * 7 % 3600 + 3600).as("ts_s"))
        val sentinel = s.range(1).select(lit(-1L).as("doc_id"),
          lit("").as("text"), lit("zz").as("source"), lit(4L * 3600L).as("ts_s"))
        withStaged(s, base.unionByName(sentinel), "n27") { src =>
          import s.implicits._
          val scored = s.readStream.schema(deconStageSchema).parquet(src)
            .as[(Long, String, String, Long)]
            .mapPartitions { it =>
              val wordRe = java.util.regex.Pattern.compile("[a-z0-9]+")
              it.map { case (_, text, source, tsS) =>
                val m = wordRe.matcher(text.toLowerCase(java.util.Locale.ROOT))
                val toks = scala.collection.mutable.ArrayBuffer.empty[String]
                while (m.find()) toks += m.group()
                val g = bc.value
                var hit = 0L
                var i = 0
                while (hit == 0L && i + 7 < toks.length) {
                  val sb = new StringBuilder(toks(i))
                  var j = i + 1
                  while (j <= i + 7) { sb.append(' ').append(toks(j)); j += 1 }
                  if (g.contains(sb.toString)) hit = 1L
                  i += 1
                }
                (source, tsS, hit)
              }
            }
            .toDF("source", "ts_s", "hit")
            .select(col("source"), timestamp_seconds(col("ts_s")).as("ts"),
              col("hit"))
            .withWatermark("ts", "30 minutes")
          val win = scored
            .groupBy(window(col("ts"), "10 minutes"), col("source"))
            .agg(count(lit(1)).as("n_docs"),
              sum("hit").as("n_contaminated"))
          runToTable(s, win, "append")
            .select(unix_timestamp(col("window.start")).as("win_start"),
              col("source"), col("n_docs"), col("n_contaminated"))
            .orderBy("win_start", "source")
        }
      },
      Some("""WITH words AS (
             |  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
             |  FROM documents),
             |g AS (
             |  SELECT DISTINCT doc_id, source,
             |    ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
             |    ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS gram
             |  FROM words, unnest(range(1, len(ws) - 6)) AS t(i) WHERE len(ws) >= 8),
             |cont AS (
             |  SELECT DISTINCT doc_id FROM g
             |  WHERE source <> 'src0'
             |    AND gram IN (SELECT gram FROM g WHERE source = 'src0'))
             |SELECT ((doc_id * 7 % 3600 + 3600) // 600 * 600)::BIGINT AS win_start,
             |  source, count(*)::BIGINT AS n_docs,
             |  CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM cont)
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
             |FROM documents WHERE source <> 'src0'
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q49's STREAMING leg — the streaming materialized view: the CDC
    // changelog ARRIVES (orders as a change stream) and the running
    // latest-per-key state is the same (date, orderkey, op, value)
    // struct-MAX q49 compacts with, now as streaming aggregation state:
    // a mergeable max monoid, ONE struct per touched key regardless of
    // change volume or micro-batch splits (at 100 TB this keyed state
    // lives in RocksDB and the sink upserts a table; complete mode +
    // the batch-side snapshot merge is the bounded-replay form — and the
    // 100 TB form is DEMONSTRATED: CdcStreamSpec runs the same plan in
    // update mode on RocksDBStateStoreProvider and asserts the per-key
    // upsert stream lands on this complete-mode state exactly). The
    // merge onto the snapshot reuses q49's cdcMerge verbatim, and the
    // oracle IS q49's oracle — streaming, batch, and the independent
    // SQL replay must all three agree.
    Q("n28_stream_cdc",
      (s, d) => {
        val log = Tables.orders(s, d).select("o_custkey", "o_orderdate",
          "o_orderkey", "o_orderstatus", "o_totalprice")
        withStaged(s, log, "n28") { src =>
          val ch = RelationalQueries.cdcChangeStruct(
            s.readStream.schema(cdcStageSchema).parquet(src))
          val latest = ch.groupBy("key").agg(max(col("ch")).as("last"))
          RelationalQueries.cdcMerge(
            RelationalQueries.cdcSnapshot(s, d),
            runToTable(s, latest, "complete"))
        }
      },
      Some(RelationalQueries.cdcOracleSql)),

    // d18's STREAMING leg — CCNet segment dedup in a continuously
    // ingesting pipeline (r12 verdict #5, the d13 history/delta shape):
    // the historical 75% of the corpus is already deduped and its
    // segment-hash owner index sits AT REST; tonight's documents ARRIVE
    // as a stream, and each micro-batch's segments probe ONLY that
    // checkpointed index (stream-static anti-join — the corpus is never
    // re-scanned) plus a mergeable min-struct state for first-occurrence
    // among the new docs themselves (the n28 supersede monoid, so
    // micro-batch splits cannot change the winner; spec-pinned). Ingest
    // ids are monotone — history IS the doc_id prefix — so the
    // incremental owner set equals the batch corpus-wide
    // first-occurrence set and the oracle IS d18's, verbatim: batch,
    // streaming, and the independent SQL replay must all three agree on
    // the surgery fingerprints.
    Q("n29_stream_segment_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val cut = docs.agg(coalesce((max(col("doc_id")) + 1) * 3 / 4, lit(0L))
          .cast("long")).head.getLong(0)
        val fresh = docs.filter(col("doc_id") >= cut)
        withStaged(s, fresh, "n29") { src =>
          streamSegmentDedup(s, docs, fresh,
            docs.filter(col("doc_id") < cut), src, histKey = Some(d))
        }
      },
      Some(TextQueries.segmentDedupOracle)),

    // d16/d17's STREAMING leg — span-level dedup (Lee'22) in a
    // continuously ingesting pipeline, the last dedup stage that lacked
    // an incremental form (r13 verdict #2): the historical corpus's
    // 8-gram fingerprint index (the suffix-array replacement, linear in
    // corpus tokens) sits AT REST; tonight's documents ARRIVE as a
    // stream, each micro-batch's grams are fingerprinted ROW-LOCALLY
    // and probe ONLY that index (stream-static join — the corpus text
    // is never re-tokenized per batch), and a per-fingerprint
    // (min_doc, max_doc, hist_hit) monoid state accumulates the
    // fresh-side occurrence stats (update-mode RocksDB upserts — the
    // n28/n29 form). Span dedup is RETROACTIVE by nature — a gram
    // unique in history becomes duplicated the moment a fresh copy
    // arrives, so the affected HISTORY doc's scrub changes too; the
    // assembly handles exactly that (see streamSpanScrub). Oracle =
    // d17's SQL VERBATIM over the unioned corpus: batch, streaming,
    // and the independent replay must all three agree on every
    // document's post-surgery fingerprint.
    Q("n30_stream_span_scrub",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val cut = docs.agg(coalesce((max(col("doc_id")) + 1) * 3 / 4, lit(0L))
          .cast("long")).head.getLong(0)
        val fresh = docs.filter(col("doc_id") >= cut)
        withStaged(s, fresh, "n30") { src =>
          streamSpanScrub(s, docs, fresh,
            docs.filter(col("doc_id") < cut), src, histKey = Some(d))
        }
      },
      Some(TextQueries.spanScrubOracle)),

    // t27's STREAMING leg — DSIR importance resampling (Xie'23) in a
    // continuously ingesting pipeline: the last corpus-level FIT in the
    // text family without an incremental form. DSIR weights are
    // RETROACTIVE (every document's log-likelihood ratio depends on the
    // CURRENT raw/target bucket histograms), but the sufficient
    // statistics are two 256-bucket count vectors — a trivially
    // mergeable monoid — so the stream maintains exactly those: each
    // micro-batch's documents are tokenized ROW-LOCALLY (once, the
    // en-flag carried so ONE aggregation feeds both histograms) and the
    // per-bucket counts accumulate as streaming aggregation state
    // (update-mode RocksDB upserts are the 100 TB form, DEMONSTRATED in
    // DsirStreamSpec; the gate runs the bounded-replay complete-mode
    // twin — 256 keys, sketch-sized by construction). Selection at any
    // point is then a JOIN, not a corpus re-scan: the per-(doc, bucket)
    // count index is append-only at-rest state written alongside ingest
    // (row-local, no shuffle), and the final weights = dc ⋈ the
    // 256-row log-ratio table derived from the streamed histograms.
    // Oracle = t27's SQL VERBATIM over the full corpus: batch,
    // streaming, and the independent replay must all three agree on
    // every document's weight, rank and keep decision.
    Q("n31_stream_dsir",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text", "lang")
        withStaged(s, docs, "n31") { src => streamDsir(s, src) }
      },
      Some(TextQueries.dsirOracleSql),
      // production arm (BENCHED, t27 convention — r15 verdict #1): the
      // SAME ingest stream + dc ⋈ lr assembly, but selection = t27's
      // mergeable 10-milli-nat histogram-threshold keep instead of the
      // exact global resampling rank (the gate's measurement device —
      // the one single-partition stage in the exact arm). Arm agreement
      // pinned by DsirStreamSpec the way DsirSpec pins batch t27.
      benchFn = Some((s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text", "lang")
        withStaged(s, docs, "n31b") { src =>
          TextQueries.dsirHistKeep(streamDsirW(s, src))
        }
      })),

    // d02's STREAMING leg — MinHash-LSH near-dup detection in a
    // continuously ingesting pipeline (r14 verdict #5, the last dedup
    // stage without an incremental form; the same Lee'22/CCNet
    // dedup-at-ingest story as n29/n30): history's (band, bsig) band
    // index + per-key occupancy stats + shingle sets sit AT REST
    // (bucketed session tables — the index the ingest pipeline
    // maintains); tonight's documents ARRIVE as a stream, each
    // micro-batch's signatures are computed ROW-LOCALLY (the d02
    // kernel, byte-equal — the shared oracle pins it) and probe ONLY
    // the per-key stats (stream-static LEFT join, corpus text never
    // re-tokenized); per-(band, bsig) streaming state is a BOUNDED
    // min-(maxBucket+1) id-set monoid + the probed history occupancy
    // (update-mode RocksDB upserts — so a boilerplate bucket that runs
    // hot at 100 TB holds O(maxBucket) state, never an unbounded doc
    // list). Assembly applies d02's corpus-wide bucket cap over
    // hist+fresh occupancy — retroactive like n30: a fresh arrival can
    // both CREATE cross-boundary pairs (a history doc gains a near-dup)
    // and KILL an entire bucket's pairs by tipping it over the cap —
    // then verifies candidates with exact Jaccard against the at-rest
    // shingle index (history side) and tonight's batch (fresh side).
    // Oracle = d02's SQL VERBATIM over the unioned corpus.
    Q("n32_stream_minhash",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val cut = docs.agg(coalesce((max(col("doc_id")) + 1) * 3 / 4, lit(0L))
          .cast("long")).head.getLong(0)
        val fresh = docs.filter(col("doc_id") >= cut)
        withStaged(s, fresh, "n32") { src =>
          streamMinhash(s, fresh, docs.filter(col("doc_id") < cut), src,
            histKey = Some(d))
        }
      },
      Some(TextQueries.minhashOracle)),

    // t28's STREAMING leg — CCNet perplexity bucketing in a
    // continuously ingesting pipeline: the per-lang src0 bigram LM is
    // the corpus-level fit, and its sufficient statistics — the
    // (lang, w1, w2) counts — are an additive monoid exactly like
    // n31's histograms, just vocabulary-keyed (the n30 "corpus-shaped
    // state" class, bounded by the bigram-type count, not the corpus).
    // CCNet scores are RETROACTIVE (every doc's Laplace surprisal
    // moves as the LM counts and vocab grow), so the stream maintains
    // exactly those stats: each micro-batch is tokenized ONCE (the
    // n31-form single pass), collapsed to per-(doc, lang, w1, w2)
    // counts that feed BOTH the LM partials (src0 side) and the
    // append-only per-doc pair index. Selection at any point is the
    // index joined against the LM tables derived from the merged
    // partials — never a corpus re-scan. Oracle = t28's SQL VERBATIM:
    // batch, streaming, and the independent replay must all three
    // agree on every document's n_pairs, surprisal sum and tertile.
    Q("n33_stream_ccnet",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select("doc_id", "source", "lang", "text")
        withStaged(s, docs, "n33") { src => streamCcnet(s, src) }
      },
      Some(TextQueries.ccnetOracleSql),
      // production arm (BENCHED, t28 convention — r15 verdict #1): the
      // SAME ingest stream + LM-join scoring, but bucketing = t28's
      // mergeable per-lang 10-milli-nat histogram tertiles instead of
      // the exact per-lang ntile window (the gate's measurement device
      // — one hot language = one straggler partition at 100×). Arm
      // agreement pinned by CcnetStreamSpec the way CcnetArmsSpec pins
      // batch t28.
      benchFn = Some((s, d) => {
        val docs = Tables.documents(s, d)
          .select("doc_id", "source", "lang", "text")
        withStaged(s, docs, "n33b") { src =>
          TextQueries.ccnetTertilesHist(s, streamCcnetScored(s, src))
        }
      }))
  )

  private[graft] val segStageSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private[graft] val dsirStageSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType)))

  private[graft] val ccnetStageSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("lang", StringType), StructField("text", StringType)))

  /** n33's plan, factored for the spec's staging/batch splits — the
    * n31 skeleton applied to t28: per micro-batch, ONE tokenize pass
    * (the exact t28 column kernel — TextFunctions.tokens + the
    * adjacent-pair transform, so scores are byte-equal to batch t28)
    * collapsed to per-(doc, lang, w1, w2) counts, feeding BOTH sinks —
    * the src0 LM-count partials (the additive monoid; merged on read,
    * the same merge a keyed state store applies) and the append-only
    * per-doc pair index. Assembly derives the LM (bigram counts →
    * unigram sums → vocab sizes) from the merged partials and scores
    * the index against it: two vocabulary-keyed joins + one per-doc
    * aggregate + t28's exact per-lang tertile, never a corpus
    * re-tokenize.
    */
  private[graft] def streamCcnet(s: SparkSession, src: String,
      filesPerTrigger: Option[Int] = None): DataFrame =
    streamCcnetScored(s, src, filesPerTrigger)
      .withColumn("bucket", ntile(3).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("avg_micro", "doc_id"))
        .cast("long"))
      .orderBy("doc_id")

  /** n33's streamed per-doc surprisal table (doc_id, lang, n_pairs,
    * sur_sum, avg_micro) — everything up to but excluding the tertile
    * assignment, shared by the gate's exact per-lang ntile arm
    * ([[streamCcnet]]) and the benched histogram-tertile production
    * arm (TextQueries.ccnetTertilesHist — r15 verdict #1). Returned
    * MATERIALIZED (localCheckpoint): both the staged source files and
    * the per-run /tmp sinks are deleted before the caller consumes it.
    */
  private[graft] def streamCcnetScored(s: SparkSession, src: String,
      filesPerTrigger: Option[Int] = None): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val base = graft.sources.TmpDirs.scratch(
      s"/tmp/graft_ccnet_gate/p${ProcessHandle.current().pid()}_${ctr.incrementAndGet()}")
    val lmDir = s"$base/lm"
    val dpDir = s"$base/dp"

    val reader0 = s.readStream.schema(ccnetStageSchema)
    val reader = filesPerTrigger.fold(reader0)(n =>
      reader0.option("maxFilesPerTrigger", n.toString))
    // micro-batch shuffles are sized to the BATCH, not the session (the
    // runToTable convention, applied to the foreachBatch gates in r17):
    // AQE is off inside a stream, so the session's 32 partitions never
    // coalesce — the stages probe measured three 32-task stages at
    // ~0.5 s/task fixed overhead carrying ~36 of n33's 47 exec-seconds
    // over ~256k-row batches. A deployment sizes this to its trigger
    // volume; 8 matches runToTable's state sizing at this SF.
    // conf save/restore is exception-safe (ADVICE r17): the try covers
    // query CONSTRUCTION and start() too, so an analysis error or bad
    // path can't leave the session pinned at 8 partitions
    val prevShuf = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val query = try {
      val q = reader.parquet(src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val dpB = batch
          .select(col("doc_id"), col("source"), col("lang"),
            tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(col("doc_id"), col("source"), col("lang"),
            explode(transform(slice(col("tk"), lit(1), size(col("tk")) - 1),
              (t, i) => struct(t.as("w1"),
                element_at(col("tk"), i + 2).as("w2")))).as("bg"))
          .groupBy(col("doc_id"), col("source"), col("lang"),
            col("bg.w1").as("w1"), col("bg.w2").as("w2"))
          .agg(count(lit(1)).as("cnt"))
          .persist()
        try {
          // LM partials: the per-(lang, bigram) additive monoid's
          // per-batch delta, src0 (the LM training corpus) only
          dpB.filter(col("source") === "src0")
            .groupBy("lang", "w1", "w2").agg(sum("cnt").as("c_b"))
            .write.mode("append").parquet(lmDir)
          // the at-rest per-doc pair index, appended per batch
          dpB.select("doc_id", "lang", "w1", "w2", "cnt")
            .write.mode("append").parquet(dpDir)
        } finally dpB.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
      q.awaitTermination()
      q
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuf)
    lastBatchesTl.set(query.recentProgress.count(_.numInputRows > 0))

    // LM derivation from the merged partials — the same monoid merge a
    // RocksDB keyed state applies (CcnetStreamSpec demonstrates that
    // form); uni/voc derive from the merged bigram table exactly as in
    // batch t28. Schema-supplied read-backs: a degenerate fixture with
    // zero data-bearing micro-batches yields empty frames and a clear
    // empty result, not a path-not-found IO error (ADVICE r15).
    val big = readOrEmpty(s, lmDir, StructType(Seq(
        StructField("lang", StringType), StructField("w1", StringType),
        StructField("w2", StringType), StructField("c_b", LongType))))
      .groupBy("lang", "w1", "w2").agg(sum("c_b").as("c_b"))
      .localCheckpoint(true)
    val uni = big.groupBy("lang", "w1").agg(sum("c_b").as("c_u"))
    val voc = big.select("lang", "w2").distinct()
      .groupBy("lang").agg(count(lit(1)).as("v"))
    val dp = readOrEmpty(s, dpDir, StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("w1", StringType), StructField("w2", StringType),
      StructField("cnt", LongType))))
    val scored = dp.join(big, Seq("lang", "w1", "w2"), "left")
      .join(uni, Seq("lang", "w1"), "left")
      .join(voc, Seq("lang"))
      .withColumn("sur_micro", floor(
        log((coalesce(col("c_u"), lit(0L)) + col("v"))
          .cast("double") / (coalesce(col("c_b"), lit(0L)) + lit(1L)))
          * lit(1e6)).cast("long"))
      .groupBy("doc_id", "lang")
      .agg(sum("cnt").cast("long").as("n_pairs"),
        sum(col("cnt") * col("sur_micro")).cast("long").as("sur_sum"))
      .withColumn("avg_micro", expr("sur_sum div n_pairs"))
      // EAGER: the staged source files (withStaged) and the per-run
      // sinks below are both deleted once this frame materializes
      .localCheckpoint(true)
    // the dp index is corpus-shaped — delete it NOW rather than at JVM
    // exit, so a multi-pass bench doesn't accumulate one copy per pass
    // in /tmp (ADVICE r15; the shutdown hook stays as backstop)
    graft.sources.TmpDirs.purge(base)
    scored
  }

  /** n31's plan, factored for the spec's staging/batch splits. The
    * streaming piece maintains DSIR's sufficient statistics — the
    * raw/target bucket histograms — plus the per-(doc, bucket) count
    * index `dc`, and since r15 the gate runs the production
    * ONCE-PER-BATCH shape (r14 verdict #4, the n29 precedent): each
    * micro-batch is tokenized EXACTLY ONCE inside foreachBatch, and
    * that single pair pass feeds BOTH sinks — the per-batch histogram
    * partials (the 256-key additive monoid, appended row-locally and
    * merged on read; the state-store form of the same merge is
    * demonstrated on RocksDB in DsirStreamSpec) and the append-only
    * at-rest dc index. The corpus text is never re-scanned: the old
    * gate's second tokenize (the dc arm re-reading the staged files
    * through Dedup.adjacentPairs) is gone — it was the sf10 gate's
    * GC wall (132.5 s, SCALING.md r14). Final weights are the
    * dc ⋈ lr join + t27's exact resampling rank, so the output is
    * t27's verbatim.
    *
    * The bucket kernel (lowercase [a-z0-9]+ adjacent bigrams →
    * md5-prefix mod 256) must stay byte-equal to Dedup.adjacentPairs +
    * t27's bucket column — the shared oracle and DsirStreamSpec's
    * streaming==batch equality both pin it.
    */
  private[graft] def streamDsir(s: SparkSession, src: String,
      filesPerTrigger: Option[Int] = None): DataFrame = {
    // t27's exact resampling rank (the gate's measurement device; the
    // BENCHED production selection is TextQueries.dsirHistKeep over the
    // same streamed weight table — r15 verdict #1)
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    val byW = org.apache.spark.sql.expressions.Window
      .orderBy(col("w_micro").desc, col("doc_id"))
    streamDsirW(s, src, filesPerTrigger)
      .withColumn("rk", row_number().over(byW).cast("long"))
      .withColumn("n_t", count(lit(1)).over(all))
      .withColumn("keep", expr("cast(rk <= (n_t + 3) div 4 as long)"))
      .drop("n_t")
      .orderBy("doc_id")
  }

  /** n31's streamed per-doc weight table (doc_id, n_bigrams, w_micro) —
    * the full ingest stream + dc ⋈ lr assembly, everything up to but
    * excluding the selection arm; shared by the gate's exact-rank arm
    * ([[streamDsir]]) and the benched histogram-threshold production
    * arm (TextQueries.dsirHistKeep — r15 verdict #1). Returned
    * MATERIALIZED (localCheckpoint): both the staged source files and
    * the per-run /tmp sinks are deleted before the caller consumes it.
    */
  private[graft] def streamDsirW(s: SparkSession, src: String,
      filesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    val B = 256
    def bucket(pair: org.apache.spark.sql.Column) =
      (conv(substring(md5(pair), 1, 8), 16, 10).cast("long") % B).as("b")

    // per-run scratch for the two per-batch sinks (the gate's stand-in
    // for the deployment's histogram store + at-rest index table)
    val base = graft.sources.TmpDirs.scratch(
      s"/tmp/graft_dsir_gate/p${ProcessHandle.current().pid()}_${ctr.incrementAndGet()}")
    val histDir = s"$base/hist"
    val dcDir = s"$base/dc"

    val reader0 = s.readStream.schema(dsirStageSchema)
    val reader = filesPerTrigger.fold(reader0)(n =>
      reader0.option("maxFilesPerTrigger", n.toString))
    // size micro-batch shuffles to the batch, not the session — the
    // runToTable convention applied to the foreachBatch gates (see
    // streamCcnetScored; AQE is off inside a stream so nothing
    // coalesces the session's 32 partitions)
    // exception-safe save/restore, as in streamCcnetScored (ADVICE r17)
    val prevShuf = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val query = try {
      val q = reader.parquet(src)
      .select(col("doc_id").cast("long"), col("text"), col("lang"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // ONE tokenize per arrival, collapsed straight to the
        // per-(doc, bucket) counts (map-side combinable — the pair
        // stream itself is never materialized twice); the 256-key
        // histogram partials DERIVE from those counts exactly
        // (is_t is per-doc: c_r = Σ cnt, c_t = Σ cnt over en docs),
        // so the persisted intermediate is docs×≤256 rows, not the
        // raw bigram stream
        val dcB = batch.as[(Long, String, String)]
          .mapPartitions { it =>
            val wordRe = java.util.regex.Pattern.compile("[a-z0-9]+")
            it.flatMap { case (docId, text, lang) =>
              val m = wordRe.matcher(text.toLowerCase(java.util.Locale.ROOT))
              val toks = scala.collection.mutable.ArrayBuffer.empty[String]
              while (m.find()) toks += m.group()
              val isT = if (lang == "en") 1L else 0L
              (0 until math.max(0, toks.length - 1)).iterator
                .map(i => (docId, toks(i) + " " + toks(i + 1), isT))
            }
          }
          .toDF("doc_id", "pair", "is_t")
          .select(col("doc_id"), bucket(col("pair")), col("is_t"))
          .groupBy("doc_id", "b")
          .agg(count(lit(1)).as("cnt"), first("is_t").as("is_t"))
          .persist()
        try {
          // histogram PARTIALS: the 256-key monoid's per-batch delta
          dcB.groupBy("b")
            .agg(sum("cnt").as("c_r"), sum(col("cnt") * col("is_t")).as("c_t"))
            .write.mode("append").parquet(histDir)
          // the at-rest per-(doc, bucket) index, appended per batch
          dcB.select("doc_id", "b", "cnt")
            .write.mode("append").parquet(dcDir)
        } finally dcB.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
      q.awaitTermination()
      q
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuf)
    lastBatchesTl.set(query.recentProgress.count(_.numInputRows > 0))

    // merge the per-batch partials — the same additive-monoid merge the
    // state store applies in the RocksDB form (DsirStreamSpec).
    // Schema-supplied read-backs: a degenerate fixture with zero
    // data-bearing micro-batches yields empty frames and a clear empty
    // result, not a path-not-found IO error (ADVICE r15).
    val histFinal = readOrEmpty(s, histDir, StructType(Seq(
        StructField("b", LongType), StructField("c_r", LongType),
        StructField("c_t", LongType))))
      .groupBy("b")
      .agg(sum("c_r").as("c_r"), sum("c_t").as("c_t"))

    // log-ratio table from the STREAMED histograms — t27's exact
    // integer-micro-nat arithmetic (1-row totals × 256-row features:
    // broadcast scalar joins, never data-sized)
    val totals = histFinal.agg(coalesce(sum("c_r"), lit(0L)).as("rr"))
      .crossJoin(histFinal.agg(coalesce(sum("c_t"), lit(0L)).as("tt")))
    val lr = s.range(B).toDF("b")
      .join(histFinal, Seq("b"), "left")
      .na.fill(0L, Seq("c_r", "c_t"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        floor((log(col("c_t") + 1) - log(col("tt") + B)
             - log(col("c_r") + 1) + log(col("rr") + B)) * 1e6)
          .cast("long").as("lr_micro"))

    // the at-rest per-(doc, bucket) count index written by the stream
    // above — read back, never re-derived from text (each doc's rows
    // land in exactly one batch; the w aggregate below sums per doc, so
    // any hypothetical split is still merged correctly)
    val dc = readOrEmpty(s, dcDir, StructType(Seq(
      StructField("doc_id", LongType), StructField("b", LongType),
      StructField("cnt", LongType))))
    val w = dc.join(broadcast(lr), "b")
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_bigrams"),
           sum(col("cnt") * col("lr_micro")).cast("long").as("w_micro"))
      // EAGER: the dc arm reads the per-run sinks (deleted just below)
      // and the staged files, which withStaged deletes as soon as the
      // result frame is returned — materialize while they exist (one
      // row per doc; the n29/n30 assembly frames are checkpointed for
      // the same reason)
      .localCheckpoint(true)
    // the dc index is corpus-shaped — delete it NOW rather than at JVM
    // exit, so a multi-pass bench doesn't accumulate one copy per pass
    // in /tmp (ADVICE r15; the shutdown hook stays as backstop)
    graft.sources.TmpDirs.purge(base)
    w
  }

  /** n29's plan, factored so the spec can drive its own staging/batch
    * splits: `hist` (the at-rest, already-deduped history) builds the
    * hash-keyed segment layout + owner index ONCE per session (bucketed
    * tables under `histKey` — at 100 TB this index is the at-rest table
    * the ingest pipeline maintains, not something a query rebuilds);
    * the staged `src` streams tonight's documents. Per micro-batch:
    * row-local segmentation → stream-static ANTI-join against the owner
    * index (only the index is probed, never the corpus) → min-struct
    * owner state over the surviving new segments, held in RocksDB and
    * emitted as UPDATE-mode per-key upserts (since r14 the gate runs
    * the same form the 100 TB deployment does — n28's CdcStreamSpec
    * shape; the state is one struct per DISTINCT new segment hash).
    * Reassembly is batch-side over the sink + the at-rest history,
    * reusing d18's `reassembleSegments` verbatim; totals come row-local
    * from each side (no corpus re-scan).
    */
  private[graft] def streamSegmentDedup(s: SparkSession, docs: DataFrame,
      fresh: DataFrame, hist: DataFrame, src: String,
      filesPerTrigger: Option[Int] = None,
      histKey: Option[String] = None): DataFrame = {
    // the index both the per-batch anti-join and the history reassembly
    // probe. With `histKey` set it lives AT REST as session-cached
    // BUCKETED tables (built once per session, reused by every later
    // pass — the production shape: the ingest pipeline maintains the
    // history index, it does not rebuild it per query; bucketed by `h`,
    // so the owner aggregate and the h-keyed reassembly joins stay
    // exchange-free exactly like the former per-run co-partitioned
    // checkpoint). Without a key (ad-hoc callers): per-run
    // checkpointed frames, the pre-r14 form.
    val (histSegs, histOwner) = histKey match {
      case Some(k) => histSegmentTables(s, hist, k)
      case None =>
        val segs = Dedup.segmentize(hist)
          .repartition(col("h"))
          .transform(graft.ops.Checkpoints.partitioned)
        val owner = segs.groupBy("h")
          .agg(min(struct(col("doc_id"), col("seg_idx"))).as("own"))
          .localCheckpoint(true)
        (segs, owner)
    }
    val reader0 = s.readStream.schema(segStageSchema)
    val reader = filesPerTrigger.fold(reader0)(n =>
      reader0.option("maxFilesPerTrigger", n.toString))
    val freshSegs = Dedup.segmentize(reader.parquet(src))
    val survivors = freshSegs.join(histOwner.select("h"), Seq("h"), "left_anti")
    // first-occurrence among the NEW docs: min (doc_id, seg_idx) is a
    // mergeable monoid, so the final state is independent of how the
    // stream was cut into batches — a later batch carrying an earlier
    // doc_id supersedes the provisional owner exactly like n28's CDC key.
    // UPDATE mode on RocksDB (r14, the SegmentDedupStreamSpec production
    // form promoted into the gate): the sink receives per-key upserts —
    // each batch materializes only the keys whose min IMPROVED, and the
    // corpus-shaped keyed state lives in RocksDB instead of the on-heap
    // store whose GC drove the 28-86 s sf10 gate band (SCALING.md r14).
    // The batch-side min-per-h collapse below lands on exactly the final
    // state (min is the same monoid the store applied), so the result is
    // byte-identical to the former complete-mode sink.
    val freshOwnUpserts = runToTable(s,
      survivors.groupBy("h")
        .agg(min(struct(col("doc_id"), col("seg_idx"), col("seg"))).as("own")),
      "update", rocksDbState = true)
    val freshOwn = freshOwnUpserts.groupBy("h").agg(min(col("own")).as("own"))
    val histKept = histSegs.join(histOwner, "h")
      .filter(col("doc_id") === col("own.doc_id") &&
        col("seg_idx") === col("own.seg_idx"))
      .select(col("doc_id"), col("seg_idx"), col("seg"))
    val freshKept = freshOwn.select(col("own.doc_id").as("doc_id"),
      col("own.seg_idx").as("seg_idx"), col("own.seg").as("seg"))
    val totalsSegs = histSegs.select("doc_id", "seg_idx", "seg")
      .unionByName(Dedup.segmentize(fresh).select("doc_id", "seg_idx", "seg"))
    Dedup.reassembleSegments(docs.select(col("doc_id")), totalsSegs,
        histKept.unionByName(freshKept))
      .orderBy("doc_id")
  }

  /** n30's plan, factored so the spec can drive its own staging/batch
    * splits. The at-rest state (built once per session under `histKey`,
    * bucketed by the gram fingerprint): `histOcc` — history's full
    * (doc_id, pos, h1, h2) posting index, the distributed stand-in for
    * Lee'22's suffix array — and `histStats` — per-fingerprint
    * (min_doc, max_doc) over history. Per micro-batch: row-local
    * tokenize + 128-bit gram fingerprints → stream-static LEFT join
    * against `histStats` (the probe: does this gram already exist in
    * history? — only the index is touched, never the corpus text) →
    * per-fingerprint mergeable state (min_doc, max_doc, max hist_hit)
    * over the fresh occurrences, update-mode RocksDB upserts (each
    * component is monotone under the monoid, so the batch-side
    * min/max/max collapse of the upsert stream lands on exactly the
    * final state and micro-batch splits cannot change it).
    *
    * Assembly (batch-side, over the sink + the at-rest index): a
    * fingerprint is corpus-wide duplicated iff ≥2 distinct docs carry
    * it — histStats says mn≠mx (history-only dups), the fresh state
    * says mn≠mx (fresh-only dups) or hist_hit (the cross-boundary case,
    * which RETROACTIVELY invalidates the single history occurrence:
    * that history doc's positions surface as hits through the same
    * semi-join, so its scrub updates — the CDC-shaped property unique
    * to span dedup among the dedup stages; segment dedup's history
    * owners can never change, span dedup's history spans can). Hits =
    * (histOcc ∪ fresh occ) ⋉ dup fingerprints → gaps-and-islands span
    * merge → d17's scrubSpans verbatim. At 100 TB the scrub UPDATE
    * would be restricted to the docs whose span set changed (a keyed
    * read of the affected history docs — point lookups, not a corpus
    * scan); the bounded-replay gate emits every doc because the oracle
    * checks the whole corpus.
    */
  private[graft] def streamSpanScrub(s: SparkSession, docs: DataFrame,
      fresh: DataFrame, hist: DataFrame, src: String,
      filesPerTrigger: Option[Int] = None,
      histKey: Option[String] = None): DataFrame = {
    val (histOcc, histStats) = histKey match {
      case Some(k) => histSpanTables(s, hist, k)
      case None =>
        val occ = Dedup.spanOcc(hist)
          .repartition(col("h1"), col("h2"))
          .transform(graft.ops.Checkpoints.partitioned)
        val stats = occ.groupBy("h1", "h2")
          .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
          .localCheckpoint(true)
        (occ, stats)
    }
    val reader0 = s.readStream.schema(segStageSchema)
    val reader = filesPerTrigger.fold(reader0)(n =>
      reader0.option("maxFilesPerTrigger", n.toString))
    val freshOcc = Dedup.spanOcc(reader.parquet(src))
    // the per-batch probe: flag each fresh occurrence whose gram already
    // exists in history (presence is enough — one history occurrence +
    // one fresh occurrence = two distinct docs, since the ingest cut
    // makes the id sets disjoint)
    val probed = freshOcc.join(
        histStats.select(col("h1"), col("h2"), lit(1L).as("hist_hit")),
        Seq("h1", "h2"), "left")
      .select(col("doc_id"), col("h1"), col("h2"),
        coalesce(col("hist_hit"), lit(0L)).as("hh"))
    val upserts = runToTable(s,
      probed.groupBy("h1", "h2")
        .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"),
          max(col("hh")).as("hh")),
      "update", rocksDbState = true)
    val freshStats = upserts.groupBy("h1", "h2")
      .agg(min(col("mn")).as("mn"), max(col("mx")).as("mx"), max(col("hh")).as("hh"))
    val dupFresh = freshStats
      .filter(col("mn") =!= col("mx") || col("hh") === 1L)
      .select("h1", "h2")
    val dupHist = histStats.filter(col("mn") =!= col("mx")).select("h1", "h2")
    val dupAll = dupHist.unionByName(dupFresh).distinct()
    // fresh occ recomputed batch-side for the hit set (the n29 totals
    // pattern — "tonight's batch" is the small side by contract); the
    // history side reads the at-rest index, never the text.
    // Union-then-one-semi-join, DELIBERATELY: the r15 A/B tried
    // semi-joining each side separately (semi-join distributes over
    // union, and the split would let the bucketed histOcc side meet
    // dupAll exchange-free) — same-day sf10 passes showed shuffle
    // bytes IDENTICAL (950 MB steady either way: the dominant writer
    // is the per-batch probe/state aggregate, not this join) and the
    // split arm's steady wall 3x WORSE (153 -> 477 s, exec_run
    // 2418 -> 7397 s — two consumers of dupAll and two join sorts).
    // Reverted per the d12 same-day-A/B rule; SCALING.md r15 has the
    // numbers.
    val occAll = histOcc.select("doc_id", "pos", "h1", "h2")
      .unionByName(Dedup.spanOcc(fresh))
    val hits = occAll.join(dupAll, Seq("h1", "h2"), "left_semi")
      .select("doc_id", "pos")
    Dedup.scrubSpans(docs, Dedup.mergeSpans(hits)).orderBy("doc_id")
  }

  /** n30's at-rest history fingerprint index as session-cached BUCKETED
    * tables (posting index + per-fingerprint stats), keyed by `key` —
    * the same contract and rationale as [[histSegmentTables]]: built
    * once per session (the ingest pipeline maintains this index, a
    * query does not rebuild it), bucketed by (h1, h2) so the stats
    * aggregate and every fingerprint-keyed join read it exchange-free.
    */
  private def histSpanTables(s: SparkSession, hist: DataFrame,
      key: String): (DataFrame, DataFrame) = {
    val base = "graft_n30_hist_" + key.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val occT = base + "_occ"
    val statsT = base + "_stats"
    histTableLock.synchronized {
      if (!s.catalog.tableExists(occT) || !s.catalog.tableExists(statsT)) {
        dropStaleLocation(s, occT); dropStaleLocation(s, statsT)
        val nb = atRestBuckets(hist, floorWidth = true)
        Dedup.spanOcc(hist)
          .repartition(nb, col("h1"), col("h2"))
          .write.mode("overwrite").bucketBy(nb, "h1", "h2").saveAsTable(occT)
        s.table(occT).groupBy("h1", "h2")
          .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
          .write.mode("overwrite").bucketBy(nb, "h1", "h2").saveAsTable(statsT)
      }
    }
    (s.table(occT), s.table(statsT))
  }

  /** n32's plan, factored so the spec can drive its own staging/batch
    * splits. At-rest state (built once per session under `histKey`):
    * `histBands` — history's (doc_id, band, bsig) LSH band index,
    * bucketed by (band, bsig); `histStats` — per-key history occupancy
    * (band, bsig, hbn); `histSh` — history's distinct-shingle sets for
    * the verify join, bucketed by doc_id. Per micro-batch: row-local
    * d02 signatures → stream-static LEFT join against `histStats` (the
    * probe: how many history docs already sit in this bucket? — only
    * the stats are touched, never the corpus) → per-(band, bsig)
    * mergeable state {bounded min-(maxBucket+1) id set, max hbn} as
    * update-mode RocksDB upserts. The min-k set is the same monoid
    * shape as the KMV sketch (n21): exact membership while the bucket
    * can still pair (≤ maxBucket members), a saturated set as the
    * over-cap signal, O(maxBucket) state per key however hot the key.
    *
    * Assembly (batch-side over the sink + the at-rest index): d02's
    * corpus-wide bucket cap re-derived from hist+fresh occupancy
    * (full-outer of histStats and the merged state — keys 2 ≤ bn ≤
    * maxBucket survive), members of surviving keys = histBands ⋉ keys
    * ∪ the state's exact id sets, pairs = per-key self-join, verify =
    * exact Jaccard against histSh ∪ tonight's batch re-shingled
    * (the n29/n30 "tonight's batch is the small side" pattern). The
    * retroactive property: fresh arrivals both CREATE cross-boundary
    * pairs and KILL whole buckets by tipping them over the cap —
    * spec-asserted (MinhashStreamSpec). At 100 TB the assembly is
    * restricted to keys whose state CHANGED this ingest window — the
    * IMPLEMENTED `changedOnly` form (broadcast point-lookup into the
    * band index, spec-asserted scan collapse); the bounded-replay gate
    * runs the full form because the oracle checks the whole corpus.
    */
  private[graft] def streamMinhash(s: SparkSession, fresh: DataFrame,
      hist: DataFrame, src: String,
      filesPerTrigger: Option[Int] = None,
      histKey: Option[String] = None,
      maxBucket: Int = 64,
      changedOnly: Boolean = false,
      probeScan: Boolean = false): DataFrame = {
    import graft.operators.Dedup
    val (histBands, histStats, histSh) = histKey match {
      case Some(k) => histMinhashTables(s, hist, k)
      case None =>
        val sh = Dedup.minhashSignatures(hist).localCheckpoint(true)
        val bands = Dedup.bandTable(sh)
          .repartition(col("band"), col("bsig"))
          .transform(graft.ops.Checkpoints.partitioned)
        val stats = bands.groupBy("band", "bsig")
          .agg(count(lit(1)).as("hbn")).localCheckpoint(true)
        (bands, stats, sh.select("doc_id", "sh"))
    }
    val reader0 = s.readStream.schema(segStageSchema)
    val reader = filesPerTrigger.fold(reader0)(n =>
      reader0.option("maxFilesPerTrigger", n.toString))
    val freshBands = Dedup.bandTable(Dedup.minhashSignatures(reader.parquet(src)))
    val probed = freshBands.join(
        histStats.select(col("band"), col("bsig"), col("hbn")),
        Seq("band", "bsig"), "left")
      .select(col("doc_id"), col("band"), col("bsig"),
        coalesce(col("hbn"), lit(0L)).as("hbn"))
    val minK = udaf(new Dedup.MinKIdsAgg(maxBucket + 1),
      org.apache.spark.sql.Encoders.scalaLong)
    val upserts = runToTable(s,
      probed.groupBy("band", "bsig")
        .agg(minK(col("doc_id")).as("docs"), max("hbn").as("hbn")),
      "update", rocksDbState = true)
    // merge the upsert stream: the union of per-batch min-k sets is a
    // superset of the final min-k members (every final member appears
    // in the last upsert), so re-applying sort+slice lands on exactly
    // the state-store's final value — batch-split invariant
    val freshState = upserts
      .select(col("band"), col("bsig"), explode(col("docs")).as("doc_id"),
        col("hbn"))
      .groupBy("band", "bsig")
      .agg(slice(sort_array(collect_set(col("doc_id"))), 1, maxBucket + 1).as("docs"),
        max("hbn").as("hbn"))
      .localCheckpoint(true)

    // d02's corpus-wide cap over the UNION occupancy: fresh-touched
    // keys read the history count from the STATE's probed hbn (the
    // probe value the per-batch stream stored — the per-key state is
    // genuinely {min-k ids, history occupancy}, and this is where the
    // occupancy half is consumed: ADVICE r15 flagged it as dead bytes
    // when this join re-read histStats instead); hist-only keys fall
    // back to the at-rest stats. For fresh-touched keys hbn == the
    // histStats value by construction (the probe is a left join
    // against those stats), so the two sources agree where both exist.
    // In changedOnly mode the assembly keeps only freshState's keys
    // (the okKeys semi-join below), so hist-only keyCounts rows are
    // dead work — restrict the per-key stats to the changed keys FIRST
    // (broadcast semi-join against the batch-bounded freshState) so
    // the stats table is point-read per window too, not scanned
    // corpus-wide (ADVICE r16: the "100 TB point-read" claim now holds
    // for BOTH at-rest tables, band index and stats)
    val statsSrc = if (changedOnly)
      histStats.join(broadcast(freshState.select("band", "bsig")),
        Seq("band", "bsig"), "left_semi")
    else histStats
    val keyCounts = statsSrc.select(col("band"), col("bsig"), col("hbn").as("hn"))
      .join(freshState.select(col("band"), col("bsig"),
          size(col("docs")).cast("long").as("fn"), col("hbn").as("fhn")),
        Seq("band", "bsig"), "full_outer")
      .select(col("band"), col("bsig"),
        (coalesce(col("fhn"), col("hn"), lit(0L))
          + coalesce(col("fn"), lit(0L))).as("bn"))
    val okKeys0 = keyCounts.filter(col("bn") >= 2 && col("bn") <= maxBucket)
      .select("band", "bsig")
    // The 100 TB assembly form (`changedOnly` — r15 verdict #5,
    // demonstrated by MinhashStreamSpec): restrict the assembly to keys
    // whose state CHANGED this ingest window — exactly freshState's
    // keys, batch-bounded by construction — so the at-rest band index
    // is POINT-READ through a BROADCAST semi-join instead of scanned
    // corpus-wide. Every pair a fresh arrival creates OR kills lives in
    // a changed bucket, so the delta view is complete for this window;
    // hist-only buckets are untouched and their pairs were emitted by
    // prior windows. The catalog gate runs the full form because the
    // d02 oracle checks the whole corpus.
    val okKeys = if (changedOnly)
      okKeys0.join(freshState.select("band", "bsig"), Seq("band", "bsig"), "left_semi")
    else okKeys0
    val histMem = histBands.join(
        if (changedOnly) broadcast(okKeys) else okKeys,
        Seq("band", "bsig"), "left_semi")
      .select("band", "bsig", "doc_id")
    if (probeScan) lastScanRowsTl.set(histMem.count())
    val freshMem = freshState.join(okKeys, Seq("band", "bsig"), "left_semi")
      .select(col("band"), col("bsig"), explode(col("docs")).as("doc_id"))
    val mem = histMem.unionByName(freshMem)
    val a = mem.alias("a"); val b = mem.alias("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify: history shingles from the at-rest index, tonight's batch
    // re-shingled batch-side (small side by contract; the corpus text
    // is never re-read). Restrict BOTH shingle sources to candidate
    // ids FIRST (broadcast semi-join — the id set is dup-density-
    // sized): un-restricted, the verify join ships every history
    // doc's shingle array — measured corpus-linear 823 MB steady
    // shuffle at sf10 vs the ~cand-sized tens of MB after; the at-rest
    // index must be point-read by candidates, never bulk-shipped
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    val shingles = histSh.unionByName(
        Dedup.minhashSignatures(fresh).select("doc_id", "sh"))
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
    Dedup.jaccardVerify(cand, shingles, "doc_id", minJaccard = 0.05)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** n32's at-rest history index as session-cached BUCKETED tables
    * (band index + per-key occupancy + shingle sets), keyed by `key` —
    * the [[histSegmentTables]]/[[histSpanTables]] contract: built once
    * per session (the ingest pipeline maintains it, queries do not
    * rebuild it); band tables bucketed by (band, bsig) so the
    * occupancy aggregate and every key-keyed join read them
    * exchange-free, shingles bucketed by doc_id for the verify join.
    */
  private def histMinhashTables(s: SparkSession, hist: DataFrame,
      key: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.operators.Dedup
    val base = "graft_n32_hist_" + key.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val bandsT = base + "_bands"
    val statsT = base + "_stats"
    val shT = base + "_sh"
    histTableLock.synchronized {
      if (!s.catalog.tableExists(bandsT) || !s.catalog.tableExists(statsT) ||
          !s.catalog.tableExists(shT)) {
        dropStaleLocation(s, bandsT); dropStaleLocation(s, statsT)
        dropStaleLocation(s, shT)
        val nb = atRestBuckets(hist)
        val sh = Dedup.minhashSignatures(hist).localCheckpoint(true)
        sh.select("doc_id", "sh")
          .repartition(nb, col("doc_id"))
          .write.mode("overwrite").bucketBy(nb, "doc_id").saveAsTable(shT)
        Dedup.bandTable(sh)
          .repartition(nb, col("band"), col("bsig"))
          .write.mode("overwrite").bucketBy(nb, "band", "bsig").saveAsTable(bandsT)
        s.table(bandsT).groupBy("band", "bsig")
          .agg(count(lit(1)).as("hbn"))
          .write.mode("overwrite").bucketBy(nb, "band", "bsig").saveAsTable(statsT)
      }
    }
    (s.table(bandsT), s.table(statsT), s.table(shT))
  }

  /** n29's at-rest history index as session-cached BUCKETED tables
    * (segments + owner), keyed by `key` (callers pass the dataset dir —
    * the history split is a pure function of it). Built once per
    * session: the d18 per-run rebuild (segmentize + co-partition +
    * checkpoint of the full 50M-row history at sf10) was the gate
    * harness's dominant repeated cost, and checkpoint blocks don't
    * survive the bench's session reset — catalog tables do. Bucketed by
    * `h` ([[atRestBuckets]] — size-derived since r18) so the owner
    * aggregate and every h-keyed join read the layout exchange-free,
    * the same property the checkpoint pattern bought. Stale-data note:
    * like `Similarity.ivfIndexFor`, rewriting the files under `key`
    * mid-session requires dropping the tables.
    */
  private val histTableLock = new Object

  /** At-rest bucket count for the session-cached history indexes,
    * derived from the indexed source's size instead of the fixed 32
    * (r17 deferred #3): one bucket per ~16 MB of compressed source
    * bytes, clamped to [8, 4096]. At sf0.1 (documents ≈ 0.6 MB) and
    * sf10 (60 MB) this derives the 8 floor for the SMALL indexes
    * (minhash bands/stats/shingles, segment owner) — measured win at
    * sf0.1 (the assembly scans stop paying a 33-task stage of this
    * host's fixed per-task floor) and wash-or-better at sf10
    * (OPTIMIZATION_r18 #2) — and a 100 TB history derives the 4096 cap
    * (a deployment re-buckets as the corpus grows; the bucket count
    * only sets layout, never results — the d02/d18 oracles gate that).
    * sizeInBytes is the relation estimate (no action), the same signal
    * AQE sizes exchanges with.
    *
    * `floorWidth`: the span-position occ index expands its source ~36x
    * (measured at sf10: 60 MB documents → 2.2 GB index witness) and a
    * bucketed scan CANNOT split buckets, so a corpus-scale index with
    * fewer buckets than cores starves every steady-pass scan — the
    * sf10 A/B measured n30 at 240 s on 8 buckets vs 101 s on 32.
    * Tables flagged floorWidth never derive fewer buckets than
    * defaultParallelism (the executor width of THIS session; scales
    * with the deployment instead of hard-coding 32).
    *
    * A source without statistics (an RDD-backed frame, say) reports
    * `spark.sql.defaultSizeInBytes` — Long.MaxValue unless set — which
    * would silently derive the 4096 cap. Any size at or above that
    * sentinel takes the floor instead, and the decision is logged.
    */
  private[graft] def atRestBuckets(src: DataFrame, floorWidth: Boolean = false): Int = {
    val plan = src.queryExecution.optimizedPlan
    val bytes = plan.stats.sizeInBytes
    val floor =
      (if (floorWidth) src.sparkSession.sparkContext.defaultParallelism else 8).max(8)
    if (bytes >= plan.conf.defaultSizeInBytes) {
      System.err.println(s"[graft] atRestBuckets: source has no size statistics " +
        s"(sizeInBytes $bytes), using the $floor-bucket floor")
      floor
    } else (bytes / (16L * 1024 * 1024)).min(BigInt(4096)).max(BigInt(floor)).toInt
  }

  /** The in-memory catalog doesn't survive process restarts but the
    * warehouse FILES do — a table absent from the catalog whose location
    * lingers from a previous run fails CREATE with
    * LOCATION_ALREADY_EXISTS. Sweep the stale dir before creating.
    */
  private def dropStaleLocation(s: SparkSession, table: String): Unit =
    if (!s.catalog.tableExists(table)) {
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val uri = java.net.URI.create(wh.replace(" ", "%20"))
      if (uri.getScheme == null || uri.getScheme == "file") {
        val root = if (uri.getScheme == null) java.nio.file.Paths.get(wh)
                   else java.nio.file.Paths.get(uri)
        deleteRecursively(root.resolve(table))
      }
    }

  private def histSegmentTables(s: SparkSession, hist: DataFrame,
      key: String): (DataFrame, DataFrame) = {
    val base = "graft_n29_hist_" + key.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val segsT = base + "_segs"
    val ownerT = base + "_owner"
    histTableLock.synchronized {
      if (!s.catalog.tableExists(segsT) || !s.catalog.tableExists(ownerT)) {
        dropStaleLocation(s, segsT); dropStaleLocation(s, ownerT)
        val nb = atRestBuckets(hist)
        Dedup.segmentize(hist)
          .repartition(nb, col("h"))
          .write.mode("overwrite").bucketBy(nb, "h").saveAsTable(segsT)
        s.table(segsT).groupBy("h")
          .agg(min(struct(col("doc_id"), col("seg_idx"))).as("own"))
          .write.mode("overwrite").bucketBy(nb, "h").saveAsTable(ownerT)
      }
    }
    (s.table(segsT), s.table(ownerT))
  }

  private val cdcStageSchema = StructType(Seq(
    StructField("o_custkey", LongType),
    StructField("o_orderdate", TimestampNTZType),
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)))

  /** n26's streaming retrieval plan; nprobe = 0 means all cells (the
    * gate's exact arm by the e14 property), otherwise the production
    * nearest-nprobe probe.
    */
  private def streamAnn(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    import s.implicits._
    val emQ = Tables.embeddings(s, d)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.quantize(col("embedding")).as("embedding"))
    val path = graft.sources.TmpDirs.scratch(
      s"/tmp/graft_stream_ann/p${ProcessHandle.current().pid()}")
    val index = graft.operators.Similarity.buildIvfIndex(
      emQ, nlist = 16, atRestPath = Some(path))
    val queries = emQ.filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("qv"))
    withStaged(s, queries, "n26") { src =>
      val bc = s.sparkContext.broadcast(index.centers)
      val probes = s.readStream.schema(annStageSchema).parquet(src)
        .as[(Long, Array[Double])]
        .flatMap { case (id, qv) =>
          val cs = bc.value
          val cells =
            if (nprobe <= 0 || nprobe >= cs.length) cs.indices.toSeq
            else cs.indices.map { i =>
              var dd = 0.0
              var j = 0
              while (j < qv.length) {
                val t = qv(j) - cs(i)(j); dd += t * t; j += 1
              }
              (dd, i)
            }.sorted.take(nprobe).map(_._2)
          cells.map(c => (id, c, qv))
        }
        .toDF("query_id", "cell", "qv")
      graft.plans.GraftExtensions.register(s)
      val scored = probes.join(index.assigned, "cell")
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          call_function("cosine_sim", col("qv"), col("v")).as("cos"))
      val topk = udaf(new graft.operators.Similarity.TopCosAgg(5),
        org.apache.spark.sql.Encoders.product[(Double, Long)])
      val agg = scored.groupBy("query_id")
        .agg(topk(col("cos"), col("neighbor_id")).as("top"))
      runToTable(s, agg, "complete")
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col._2").as("neighbor_id"), round(col("col._1"), 6).as("cos"))
        .orderBy("query_id", "rank")
    }
  }

  private val annStageSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("qv", ArrayType(DoubleType))))

  private val deconStageSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType), StructField("ts_s", LongType)))

  private val qgStageSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("ts_s", LongType)))

  /** n24's streaming leg: HLL registers as watermarked windowed
    * aggregation state, estimator finish batch-side over the sink's
    * register table. Shared by the gate fn (which joins the exact
    * per-window distincts) and the benchFn (sketch path only).
    *
    * APPEND mode + a sentinel advancing the final watermark (the n17
    * pattern), so the 1 h watermark actually bounds state: a 12 h
    * window's 256 registers are EMITTED AND EVICTED once the watermark
    * passes its end — state is 256 rows per OPEN window, not per window
    * ever seen (in complete mode the watermark is inert and the store
    * keeps every window for the stream's lifetime). The sentinel sits
    * 14 h past the corpus max (>= last real window end + the 1 h
    * delay), so every real window closes under AvailableNow; the
    * sentinel's own still-open window is never emitted.
    */
  private def streamHllEstimate(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select(expr("ts div 1000").as("ts_us"), col("user_id"))
    val sentinel = base.agg(max("ts_us").as("m"))
      .select((col("m") + 14L * 3600L * 1000000L).as("ts_us"),
        lit(-1L).as("user_id"))
    withStaged(s, base.unionByName(sentinel), "n24") { src =>
      val ev = s.readStream.schema(hllStageSchema).parquet(src)
        .select(timestamp_micros(col("ts_us")).as("ts"), col("user_id"))
      val proj = graft.operators.Sketches.hllProject(ev, "user_id", col("ts"))
        .withWatermark("ts", "1 hour")
      val regs = proj.groupBy(window(col("ts"), "12 hours"), col("bucket"))
        .agg(max(col("rho")).as("reg"))
      hllFinish(runToTable(s, regs, "append"))
    }
  }

  /** Batch-side estimator finish over a (window, bucket, reg) register
    * table (one output row per window).
    */
  private def hllFinish(registers: DataFrame): DataFrame =
    registers
      .groupBy(col("window"))
      .agg(count(lit(1)).as("n_present"),
        sum(expr("cast(power(2, 57 - reg) as decimal(38,0))")).as("s_present"))
      .select(col("window"),
        (lit(256L) - col("n_present")).as("n_zero"),
        (lit(graft.operators.Sketches.hllAlphaMM) /
          ((col("s_present") + (lit(256L) - col("n_present"))
            * expr("cast(144115188075855872 as decimal(38,0))")).cast("double")
            / 1.44115188075855872e17)).as("est_raw"))
      .select(col("window"), col("n_zero"),
        round(when(col("est_raw") <= 640.0 && col("n_zero") > 0,
            lit(256.0) * log(lit(256.0) / col("n_zero")))
          .otherwise(col("est_raw")), 2).as("hll_estimate"))

  private val hllStageSchema = StructType(Seq(
    StructField("ts_us", LongType), StructField("user_id", LongType)))

  private val sessionSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts_us", LongType),
    StructField("v", LongType)))

  private val ssjSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("ts_us", LongType), StructField("event_type", StringType)))

  private val detsSchema = StructType(Seq(
    StructField("stream_id", LongType), StructField("frame", LongType),
    StructField("x1", DoubleType), StructField("y1", DoubleType),
    StructField("x2", DoubleType), StructField("y2", DoubleType),
    StructField("score", DoubleType)))

  private val chunksSchema = StructType(Seq(
    StructField("stream_id", LongType), StructField("chunk_id", LongType),
    StructField("s0", DoubleType), StructField("s1", DoubleType),
    StructField("s2", DoubleType)))

  private val framesSchema = StructType(Seq(
    StructField("stream_id", LongType), StructField("frame", LongType),
    StructField("format", StringType), StructField("width", IntegerType),
    StructField("height", IntegerType), StructField("data", BinaryType)))

  /** Stage a batch-derived adapter frame as parquet files for the
    * file-stream source to tail (unique dir per call — Bench runs each
    * query twice), run `body` against the staged dir, then DELETE the dir:
    * by the time `body` returns, runToTable's memory sink has fully
    * materialized, so nothing reads the files again. The staged write is
    * part of the measured query: a production tracker pays exactly this
    * landing-zone write on the detector side.
    */
  /** Read back a per-batch parquet sink that may not exist when the
    * staged source yielded zero data-bearing micro-batches (foreachBatch
    * never ran — ADVICE r15): a schema-supplied empty frame keeps
    * degenerate fixtures failing on assertions, not path-not-found.
    */
  private def readOrEmpty(s: SparkSession, dir: String,
      schema: StructType): DataFrame =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
      s.read.schema(schema).parquet(dir)
    else s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  private def withStaged(s: SparkSession, df: DataFrame, tag: String)
                        (body: String => DataFrame): DataFrame = {
    val dir = s"/tmp/graft_stream_stage/$tag-${ProcessHandle.current().pid()}-${ctr.incrementAndGet()}"
    df.write.mode("overwrite").parquet(dir)
    try body(dir)
    finally deleteRecursively(java.nio.file.Paths.get(dir))
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      // close the walk stream (directory handle) — one leaked fd per
      // staged streaming query adds up over a bench sweep
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { ws =>
        ws.iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
}
