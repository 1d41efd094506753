package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference forms of production kernels. Each one was an A/B
  * counter-arm that lost its measurement (SCALING.md records the
  * numbers and the last commit that could still select it in
  * production); specs pin the production path byte-identical against
  * it.
  */
object References {

  /** [[Dedup.reassembleKeptTyped]]'s reference: the per-doc
    * collect_list + array_sort + concat_ws + md5 aggregate it replaced.
    */
  def reassembleKeptAgg(kept: DataFrame): DataFrame =
    kept.groupBy("doc_id").agg(
      count(lit(1)).cast("long").as("kept_segments"),
      md5(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s("seg")))).as("cleaned_hash"))

  /** [[Similarity.lshKnnMulti]]'s per-group kernel form — slower than
    * the pair join at sf10 (see the lshKnnMulti doc): one
    * vector-bearing explode, per-(table,bucket,salt) exact top-k in the
    * lshKnn typed kernel, global top-k over the deduped union (provably
    * exact under the strict (cos desc, id asc) order).
    */
  def lshKnnMultiKernel(vectors: DataFrame, k: Int, tables: Int = 4,
      bitsPerTable: Int = 0, maxBucket: Int = 4096,
      targetBucket: Int = 64): DataFrame = {
    val (emb, bucketArr) =
      Similarity.multiTableBuckets(vectors, tables, bitsPerTable, targetBucket).get
    val spark = vectors.sparkSession
    import spark.implicits._
    // vectors ride the explode ONCE (L·n rows); checkpointed — feeds the
    // size aggregate and the kernel input (multi-consumer class)
    val tagged = emb
      .select(col("vec_id"), posexplode(bucketArr), col("v"))
      .select(col("vec_id"), concat_ws("#", col("pos"), col("col")).as("tkey"), col("v"))
      .localCheckpoint(true)
    val sizes = tagged.groupBy("tkey").agg(count(lit(1)).as("bn"))
    val grouped = tagged.join(sizes, "tkey")
      .select(col("vec_id"),
        concat_ws("#", col("tkey"),
          when(col("bn") <= maxBucket, lit(0L))
            .otherwise(pmod(xxhash64(col("vec_id")),
              ceil(col("bn") / maxBucket).cast("long")))).as("gkey"),
        col("v"))
    // the lshKnn kernel, verbatim: per-group exact (cos desc, id asc)
    // top-k with the same scalar loop as the codegen'd cosine_sim
    val perGroup = grouped
      .as[(Long, String, Array[Double])]
      .groupByKey(_._2)
      .flatMapGroups { (_, it) =>
        val members = it.map { case (id, _, v) => (id, v) }.toArray
        def cos(a: Array[Double], b: Array[Double]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var i = 0
          while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
          dot / (math.sqrt(na) * math.sqrt(nb))
        }
        members.iterator.flatMap { case (qid, qv) =>
          members.iterator
            .collect { case (nid, nv) if nid != qid => (nid, cos(qv, nv)) }
            .toArray.sortBy { case (nid, c) => (-c, nid) }
            .take(k)
            .map { case (nid, c) => (qid, nid, c) }
        }
      }
      .toDF("query_id", "neighbor_id", "cos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    perGroup
      // cross-table repeats carry identical cos (same pair, same
      // arithmetic) — dropping any one of them is deterministic
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }
}
