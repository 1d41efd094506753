package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The 10⁹-vector deployment form of n26's streaming ANN: queries
  * arrive as a stream and each micro-batch is served through
  * `foreachBatch` → `Similarity.probeIvf`, which collects THAT batch's
  * probed cells and prunes the partitionBy(cell) at-rest layout to
  * exactly those files — the corpus never reshuffles, the scan is
  * bounded by the batch's probe set. (n26's continuous plan gates the
  * state/agg semantics; this main is the runnable serving recipe its
  * scaladoc points to.)
  *
  * Run: sbt "runMain graft.AnnServeDemo [sfDir]"
  */
object AnnServeDemo {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local(8)

    val emQ = Tables.embeddings(spark, d)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.quantize(col("embedding")).as("embedding"))
    val path = graft.sources.TmpDirs.scratch(
      s"/tmp/graft_ann_serve/p${ProcessHandle.current().pid()}")
    val index = graft.operators.Similarity.buildIvfIndex(
      emQ, nlist = 16, atRestPath = Some(path))

    // stage the query stream (3 files => several micro-batches)
    val stage = s"$path/queries"
    emQ.filter(col("vec_id") < 100).repartition(3)
      .write.mode("overwrite").parquet(stage)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(LongType))))

    val served = new java.util.concurrent.atomic.AtomicLong(0)
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val res = graft.operators.Similarity
          .probeIvf(index, batch, k = 5, nprobe = 4)
        val n = res.count()
        served.addAndGet(n)
        batches.incrementAndGet()
        println(s"[annserve] batch $id served ${batch.count()} queries, $n result rows")
      }
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()

    val nq = emQ.filter(col("vec_id") < 100).count()
    assert(served.get() == nq * 5,
      s"expected ${nq * 5} result rows, served ${served.get()}")
    assert(batches.get() >= 2, "expected multiple micro-batches")
    println(s"[annserve] OK: ${batches.get()} micro-batches, " +
      s"${served.get()} result rows (= $nq queries x k=5), " +
      "each batch probe pruned to its own cells")
    spark.stop()
  }
}
