package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Partitioning strategies for hostile key distributions at scale.
  *
  * AQE's skew-join splitting handles most skew automatically; `saltedJoin`
  * is the explicit fallback for the pathological case (one key owning a
  * double-digit percentage of a fact table — e.g. every frame of a single
  * viral stream landing on one reducer). Bucketing (see PartitioningSpec)
  * removes the shuffle entirely for repeated joins on a stable key — the
  * profiles/detections tables in this engine would be bucketed by
  * stream_id at ingest.
  */
object Partitioning {

  /** Skew-safe inner equi-join: the (skewed) left side gets a
    * deterministic salt in [0, numSalts); the right side is replicated
    * once per salt. The join key becomes (key, salt), spreading a hot key
    * over `numSalts` reducers. Result set identical to a plain inner join.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String, numSalts: Int): DataFrame = {
    require(numSalts > 0)
    // salt derived from the whole left row so it is deterministic and
    // uniform even when all columns collide except hidden ones
    val salted = left.withColumn("__salt",
      pmod(xxhash64(struct(left.columns.map(col).toIndexedSeq: _*)), lit(numSalts)).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(array((0 until numSalts).map(lit): _*)))
    salted.join(replicated,
        salted(key) === replicated(key) && salted("__salt") === replicated("__salt"))
      .drop(replicated(key)).drop("__salt")
  }

  /** Z-order (Morton) key: interleave the low `bits` bits of each input
    * column so multi-dimensional locality survives a 1-D range partition.
    * Sorting/range-partitioning the at-rest layout by this key gives every
    * file a tight bounding box in ALL dimensions at once, so parquet
    * min/max row-group stats prune multi-dimensional box predicates —
    * the layout trick behind Delta/Iceberg Z-ORDER clustering, as a plain
    * column expression (shift/mask only: codegen'd, no UDF).
    *
    * Inputs must already be non-negative and < 2^bits (callers mod/clamp);
    * with k columns the key occupies k*bits bits.
    */
  def zorderKey(bits: Int, cols: Column*): Column = {
    require(bits * cols.size <= 63, "z-key must fit a signed long")
    val terms = for {
      (c, dim) <- cols.zipWithIndex
      b <- 0 until bits
    } yield shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)),
      b * cols.size + dim)
    terms.reduce(_ + _)
  }
}
