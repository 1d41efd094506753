package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class AtRestBucketsSpec extends SparkSpec {

  test("atRestBuckets: a source without statistics takes the floor, and says so") {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "a b"), Row(2L, "c d"))), schema)
    val plan = src.queryExecution.optimizedPlan
    assert(plan.stats.sizeInBytes >= plan.conf.defaultSizeInBytes,
      "an RDD-backed source must report the no-statistics sentinel")
    val log = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(log, true))
    val (narrow, wide) =
      try (StreamingQueries.atRestBuckets(src),
        StreamingQueries.atRestBuckets(src, floorWidth = true))
      finally System.setErr(saved)
    assert(narrow == 8)
    assert(wide == math.max(8, spark.sparkContext.defaultParallelism))
    assert(log.toString.contains("atRestBuckets: source has no size statistics"), log.toString)
    // a source with statistics still sizes from its bytes (tiny -> floor)
    assert(StreamingQueries.atRestBuckets(spark.range(10).toDF()) == 8)
  }
}
