package graft.streaming

import graft.{SparkSpec, Tables}
import graft.functions.VectorFunctions.quantize
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** n26's streaming retrieval (stream-static cell join + the mergeable
  * TopCosAgg bounded top-k state) must reproduce the BATCH probe's
  * window-ranked top-k bit-for-bit on the same at-rest index — the
  * streaming==batch contract for the ANN family. (The DuckDB gate
  * separately pins both against an independent exact kNN, so this spec
  * closes the triangle.)
  */
class StreamAnnSpec extends SparkSpec {

  test("n26 streaming full-probe equals the batch exact probe (sf0.001)") {
    val out = graft.queries.StreamingQueries.all
      .find(_.name == "n26_stream_ann").get
      .fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq

    val emQ = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), quantize(col("embedding")).as("embedding"))
    val path = graft.sources.TmpDirs.scratch(
      s"/tmp/graft_stream_ann_spec/p${ProcessHandle.current().pid()}")
    val index = Similarity.buildIvfIndex(emQ, nlist = 16, atRestPath = Some(path))
    val batch = Similarity
      .probeIvf(index, emQ.filter(col("vec_id") < 100), k = 5, nprobe = 16)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq

    assert(out === batch)
    assert(out.nonEmpty)
    // production arm sanity: nprobe=4 rows are a subset-ranked list of
    // legal neighbors (every neighbor it returns scores within the
    // exact arm's candidate universe — ids exist and self is excluded)
    val prod = graft.queries.StreamingQueries.all
      .find(_.name == "n26_stream_ann").get
      .benchFn.get(spark, sfDir).collect()
    assert(prod.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("foreachBatch serving: per-batch probed-cell FILE pruning + parity with batch probeIvf") {
    // The 10⁹-vector deployment form of n26: a query STREAM is
    // served through foreachBatch → probeIvf against the partitionBy(cell)
    // at-rest layout. Each micro-batch must (a) read only its own probed
    // cells' partition directories and (b) return exactly what the batch
    // probe returns for the same queries — union over batches == one
    // batch probe over the whole query set.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

    val emQ = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), quantize(col("embedding")).as("embedding"))
    val root = graft.sources.TmpDirs.scratch(
      s"/tmp/graft_annserve_spec/p${ProcessHandle.current().pid()}")
    val index = Similarity.buildIvfIndex(emQ, nlist = 16,
      atRestPath = Some(s"$root/index"))
    val stage = s"$root/queries"
    emQ.filter(col("vec_id") < 12).repartition(3)
      .write.mode("overwrite").parquet(stage)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(LongType))))

    // every FileSourceScanExec under a plan, descending through AQE
    // wrappers and materialized query stages (TreeNode.collect alone
    // stops at QueryStageExec leaves)
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case s: FileSourceScanExec    => Seq(s)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val pruning = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(stage)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.localCheckpoint(true) // consumed by cells AND probe
        if (b.count() > 0) {
          val cells = Similarity.probedCells(index, b, nprobe = 2).toSet
          val res = Similarity.probeIvf(index, b, k = 5, nprobe = 2)
            .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
          val rows = res.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          val indexScans = scans(res.queryExecution.executedPlan)
            .filter(_.relation.location.rootPaths.exists(_.toString.contains("/index")))
          val parts = indexScans.map(_.selectedPartitions.partitionCount).sum
          this.synchronized {
            got ++= rows
            pruning += ((parts, cells.size))
          }
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

    assert(pruning.length >= 2, "expected multiple micro-batches")
    // (a) THE SERVED PLAN ITSELF read only the batch's probed cells'
    // partition dirs — strictly fewer than the 16 cells in the layout
    pruning.foreach { case (parts, nCells) =>
      assert(parts == nCells && parts < 16,
        s"batch scan read $parts partition dirs, probed $nCells of 16")
    }
    // (b) union over micro-batches == one batch probe over all queries
    val batchAll = Similarity
      .probeIvf(index, emQ.filter(col("vec_id") < 12), k = 5, nprobe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.sorted.toSeq == batchAll.sorted.toSeq)
    assert(got.nonEmpty)
  }
}
