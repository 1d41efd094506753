package graft.queries

import graft.{Sessions, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Scratch: print the deterministic trained constants as
  * full-precision DuckDB literals for the frozen-constant live oracles
  * (n05 ledger, n09/n10 MLP weights — the only frozen gates left; the
  * e05/n07 kmeans oracles replay their Lloyd fits LIVE since r15, like
  * e08/e10 since r14). Not in the catalog. The PQBOOKS/SEM sections
  * remain as cross-check aids only.
  */
object DebugFreeze {
  private def lit1(a: Array[Double]): String =
    a.map(java.lang.Double.toString).mkString("[", ", ", "]")
  private def lit2(a: Array[Array[Double]]): String =
    a.map(lit1).mkString("[", ",\n ", "]")
  private def lit3(a: Array[Array[Array[Double]]]): String =
    a.map(lit2).mkString("[", ",\n\n", "]")

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local(8)
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)

    println("=== PQBOOKS (8 x 16 x 8) ===")
    println(lit3(Similarity.pqCodebooks(emb)))

    println("=== SEM (autoNlist x 64, semDedup iters 10) ===")
    val train = emb.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>").as("v"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(10000)
      .as[(Long, Array[Double])].collect().map(_._2)
    val k = Similarity.autoNlist(emb.count())
    println(s"k=$k")
    println(lit2(Similarity.lloydCenters(train, k, iters = 10)))
    // n09/n10 forecast MLP weights (8→24→12→3: 555 doubles, layer-major;
    // each affine layer = W column-major [numOut×numIn] then bias —
    // spark.ml FeedForwardModel's breeze unroll order). Deterministic
    // single-partition seeded fits, same code path as the queries.
    println("=== N09 weights (555, label = round(fut_avg)) ===")
    println(lit1(OfflineQueries.fitForecast(
      OfflineQueries.forecastFeatures(OfflineQueries.forecastRaw(spark, d))
        .withColumn("label", round(col("fut_avg")).cast("double"))).weights.toArray))
    println("=== N10 weights (555, soft replication targets, maxIter 400) ===")
    println(lit1(OfflineQueries.fitForecast(
      OfflineQueries.softForecastTrainset(
        OfflineQueries.forecastFeatures(OfflineQueries.forecastRaw(spark, d))),
      maxIter = 400, sortCols = Seq("stream_id", "chunk_id", "label")).weights.toArray))
    println("=== N05 candidates (cand_id, runtime, cost) ===")
    val base = graft.ops.TaskSim.detectToTrack(10, 60)
    val g = base.copy(tasks = base.tasks.map(t =>
      t.copy(inBytes = 200000, outBytes = 80000, rtCloud = t.rtSingle * 0.6)))
    graft.operators.KnobTuning.placementCandidates(g.tasks.length, 64).foreach {
      case (candId, placement) =>
        val gg = g.copy(tasks = g.tasks.zipWithIndex.map { case (t, i) =>
          t.copy(placement = placement(i)) })
        println(s"($candId, ${java.lang.Double.toString(gg.simulateRt(4))}, " +
          s"${java.lang.Double.toString(gg.simulateCost)}),")
    }
    spark.stop()
  }
}
