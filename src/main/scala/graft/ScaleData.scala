package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes a larger scale factor from an existing testdata dir by
  * unioning `factor` key-shifted copies — the sf>=1 evidence run the
  * round-6 verdict asked for ("the 100 TB design claims deserve one
  * sf>=1 run of the heavy queries").
  *
  * Copy semantics keep scaling CLEAN — each copy is disjoint from the
  * others, so per-query work should grow ~linearly with `factor`:
  *   - documents: doc_id shifted; every token prefixed with `cpI` so
  *     copies share no grams/fingerprints (within-copy dup structure is
  *     preserved exactly; cross-copy candidate pairs would otherwise
  *     grow quadratically in `factor` and measure dup DENSITY, not the
  *     engine).
  *   - embeddings: vec_id shifted; the vector circularly rotated by I
  *     dims (norms/labels preserved, coordinates stay in range, copies
  *     are distinct points).
  *   - events: event_id/user_id shifted, ts advanced by I timeline
  *     spans (more streams and more sessions, same per-stream density).
  *   - lineitem/orders: order keys shifted in lockstep (joins stay
  *     consistent); dimension tables pass through unchanged (dims stay
  *     broadcast-sized at any SF, as at 100 TB).
  *
  * Usage: runMain graft.ScaleData <srcSfDir> <outDir> <factor>
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    val spark = Sessions.local()
    // legacy testdata wrote events.ts as parquet TIMESTAMP(NANOS),
    // readable only as a long of nanoseconds (same setting graft.Tables
    // applies); current testdata is timestamp[us], normalized below
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scale] $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }
    def copies(src: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => f(src, i)).reduce(_ unionByName _)

    // dimension tables pass through
    Seq("region", "nation", "part", "supplier", "customer")
      .foreach(t => write(read(t), t))

    val docs = read("documents")
    val docShift = docs.agg(max("doc_id")).head().getLong(0) + 1
    write(copies(docs) { (d, i) =>
      if (i == 0) d
      else d.withColumn("doc_id", col("doc_id") + lit(i * docShift))
        .withColumn("text", regexp_replace(col("text"), "([A-Za-z0-9]+)", s"cp$i$$1"))
    }, "documents")

    val emb = read("embeddings")
    val vecShift = emb.agg(max("vec_id")).head().getLong(0) + 1
    write(copies(emb) { (e, i) =>
      if (i == 0) e
      else e.withColumn("vec_id", col("vec_id") + lit(i * vecShift))
        .withColumn("embedding", expr(
          s"concat(slice(embedding, ${i % 64} + 1, 64 - ${i % 64}), slice(embedding, 1, ${i % 64}))"))
    }, "embeddings")

    // shift in the ns-long domain (Tables contract), then write back as
    // timestamp[us] NTZ so scaled dirs match the driver testdata format
    val ev = graft.Tables.withTsNanos(read("events"))
    val evRow = ev.agg(max("event_id"), max("user_id"), max("ts"), min("ts")).head()
    val (evShift, userShift) = (evRow.getLong(0) + 1, evRow.getLong(1) + 1)
    val tsSpan = evRow.getLong(2) - evRow.getLong(3) + 3600L * 1000000000L
    write(copies(ev) { (e, i) =>
      if (i == 0) e
      else e.withColumn("event_id", col("event_id") + lit(i * evShift))
        .withColumn("user_id", col("user_id") + lit(i * userShift))
        .withColumn("ts", col("ts") + lit(i * tsSpan))
    }.withColumn("ts",
      timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")), "events")

    val ord = read("orders")
    val okShift = ord.agg(max("o_orderkey")).head().getLong(0) + 1
    write(copies(ord) { (o, i) =>
      if (i == 0) o
      else o.withColumn("o_orderkey", col("o_orderkey") + lit(i * okShift))
    }, "orders")
    write(copies(read("lineitem")) { (l, i) =>
      if (i == 0) l
      else l.withColumn("l_orderkey", col("l_orderkey") + lit(i * okShift))
    }, "lineitem")

    spark.stop()
  }
}
