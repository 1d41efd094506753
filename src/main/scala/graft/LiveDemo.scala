package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** WALL-CLOCK live mode: the reference's only runnable path is a paced
  * simulation loop over 2 s chunks of 30 fps video
  * (`code/src/simulations/simulate.py:7` SWITCHER_TIME_INTERVAL = 2, and
  * the per-chunk iteration at `simulate.py:32`). The batch/AvailableNow
  * twins (m05, n23, VetlPipelineSpec) prove the SEMANTICS; this demo
  * proves the PACING: a `rate` source emits 30 frames/s/stream in real
  * time, the V-ETL pipeline (detect stub → SORT tracking → 2 s
  * event-time quality windows) runs under `Trigger.ProcessingTime(2s)`,
  * and the closed windows are asserted to align to the 2 s chunk grid
  * with the full 30 fps × 2 s = 60 frames per stream per chunk.
  *
  * What "live" adds over AvailableNow: micro-batches fire on the WALL
  * clock (one per 2 s chunk cadence, verified from query progress
  * timestamps), with the tracker's FMGWS state carrying across paced
  * batches — the property a camera-fleet deployment actually runs on.
  */
object LiveDemo {

  final case class Report(closedWindows: Long, offGridWindows: Long,
                          interiorWindows: Long, fullInteriorWindows: Long,
                          batches: Int, medianBatchGapMs: Long)

  def run(spark: SparkSession, seconds: Int = 12, nStreams: Int = 2): Report = {
    import spark.implicits._
    val fps = 30

    // rate source: value is a global counter at fps*nStreams rows/s —
    // round-robin to (stream_id, frame) keeps each stream at exactly
    // 30 fps of wall time; the payload is the same LCG fake the batch
    // twin synthesizes (Multimodal.syntheticFrames), so the detect stub
    // sees identical bytes-per-frame structure
    val frames = spark.readStream.format("rate")
      .option("rowsPerSecond", fps * nStreams).load()
      .select((col("value") % nStreams).as("stream_id"),
        expr(s"value div $nStreams").as("frame"), col("value").as("seed"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        it.map { case (sid, frame, seed) =>
          val data = new Array[Byte](64)
          data(0) = 'G'; data(1) = 'F'; data(2) = 'T'; data(3) = '0'
          var i = 4
          var s = seed * 6364136223846793005L + 1442695040888963407L
          while (i < 64) {
            s = s * 6364136223846793005L + 1442695040888963407L
            data(i) = (s >>> 56).toByte
            i += 1
          }
          graft.operators.Multimodal.FrameRow(sid, frame, "gft", 1280, 720, data)
        }
      }.toDF()

    val tracks = graft.streaming.VetlPipeline.tracksFromFrames(frames)
    // 2 s delay (not the batch twin's 10 s): the rate source is strictly
    // in-order, so the watermark only needs to trail enough for windows
    // to close while the demo is still running
    val quality = tracks
      .withColumn("ts", graft.streaming.VetlPipeline.frameTime(col("frame")))
      .withWatermark("ts", "2 seconds")
      .groupBy(window(col("ts"), "2 seconds"), col("stream_id"))
      .agg(approx_count_distinct(col("track_id")).as("n_tracks"),
        count(lit(1)).as("n_boxes"))

    val name = s"live_demo_${System.nanoTime()}"
    val q = quality.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("2 seconds"))
      .start()
    Thread.sleep(seconds * 1000L)
    q.stop()
    q.awaitTermination()

    val batchTimes = q.recentProgress.toSeq
      .filter(_.numInputRows > 0) // empty bookkeeping batches don't pace chunks
      .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli).sorted
    val gaps = batchTimes.sliding(2).collect { case Seq(a, b) => b - a }.toSeq.sorted
    val medianGap = if (gaps.isEmpty) 0L else gaps(gaps.length / 2)

    val epochSec = graft.streaming.VetlPipeline.epochMs / 1000
    val rows = spark.table(name)
      .select(col("window.start").cast("long").as("start_sec"),
        col("stream_id"), col("n_tracks"), col("n_boxes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val offGrid = rows.count { case (start, _, _, _) => (start - epochSec) % 2 != 0 }
    // the first chunk pays tracker confirmation warm-up (minHits); every
    // later chunk must carry the full chunk payload: frameTime's 33 ms
    // grid puts 60 or 61 frames in a 2000 ms window (2000/33 = 60.6), so
    // x objectsPerStream = 120 or 122 boxes per stream per chunk
    val interior = rows.filter(_._1 > epochSec)
    val fullInterior = interior.count { case (_, _, nTracks, nBoxes) =>
      (nBoxes == 120L || nBoxes == 122L) && nTracks == 2
    }
    Report(rows.length.toLong, offGrid.toLong, interior.length.toLong,
      fullInterior.toLong, batchTimes.length, medianGap)
  }

  def main(args: Array[String]): Unit = {
    val seconds = args.headOption.map(_.toInt).getOrElse(14)
    val spark = Sessions.local(8)
    val r = run(spark, seconds)
    println(s"[live-demo] ${seconds}s wall @ Trigger.ProcessingTime(2s): " +
      s"paced_batches=${r.batches} median_gap_ms=${r.medianBatchGapMs} " +
      s"closed_windows=${r.closedWindows} off_grid=${r.offGridWindows} " +
      s"interior_full=${r.fullInteriorWindows}/${r.interiorWindows}")
    require(r.offGridWindows == 0, "windows off the 2 s chunk grid")
    require(r.fullInteriorWindows == r.interiorWindows && r.interiorWindows >= 2,
      "interior chunks must carry the full 60-frame/2-track payload")
    require(r.medianBatchGapMs >= 1500 && r.medianBatchGapMs <= 3000,
      s"batches not paced at the 2 s trigger: median gap ${r.medianBatchGapMs} ms")
    spark.stop()
  }
}
