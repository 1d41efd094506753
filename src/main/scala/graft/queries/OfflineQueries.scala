package graft.queries

import graft.{Q, Tables}
import graft.operators.KnobTuning
import graft.ops.TaskSim
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Offline-phase catalog (SURVEY §2.9): placement search over the runtime
  * simulator, hill-climbing knob tuning with batch frontier evaluation,
  * KMeans content categorization, and the forecast training-set builder.
  */
object OfflineQueries {

  /** Per-chunk score vectors (shared adapter, see ControlQueries):
    * stream count scales with data volume — count/2500 streams, ~2500
    * chunks each at every SF.
    *
    * Scene-block regime structure: the reference's chunk scores are video
    * quality scores, which are strongly scene-correlated (content persists
    * across consecutive chunks — covid_measures.py's per-chunk score series);
    * a memoryless adapter makes the forecast task (n08-n10) vacuous, since
    * no model can predict iid noise (measured Bayes MAE floor 0.177 on the
    * round-3 white-noise adapter). Here each 32-chunk scene takes its base
    * level from the scene's first raw score and each chunk adds 10%
    * per-chunk variation: s0 = (9·baseq + rq)/1000 ∈ [0, 0.99], lag-1
    * autocorrelation ≈ 0.9. Integer arithmetic end-to-end (rq, baseq are
    * longs; one final division) keeps s0 bit-identical across engines and
    * partitionings.
    */
  private[queries] def chunkScores(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val nStreams = math.max(Tables.eventCount(s, d) / 2500L, 1L)
    val w = Window.partitionBy("stream_id").orderBy("event_id")
    val wScene = Window.partitionBy(col("stream_id"), expr("chunk_id div 32"))
      .orderBy("chunk_id")
    Tables.events(s, d)
      .select((col("user_id") % nStreams).as("stream_id"), col("event_id"),
        (round(col("value")) % 100).cast("long").as("rq"))
      .withColumn("chunk_id", row_number().over(w).cast("long") - 1)
      .withColumn("baseq", first("rq").over(wScene))
      .select(col("stream_id"), col("chunk_id"),
        ((col("baseq") * 9 + col("rq")) / 1000.0).as("s0"))
      .select(col("stream_id"), col("chunk_id"),
        col("s0"), (col("s0") * 0.8 + 0.1).as("s1"), (col("s0") * 0.5).as("s2"))
  }
  private val chunkScoresSql =
    """WITH ev AS (
      |  SELECT user_id % ns AS stream_id, event_id,
      |    CAST(round(value) % 100 AS BIGINT) AS rq,
      |    row_number() OVER (PARTITION BY user_id % ns ORDER BY event_id) - 1 AS chunk_id
      |  FROM events, (SELECT greatest(count(*) // 2500, 1) AS ns FROM events) nrm),
      |sc AS (
      |  SELECT stream_id, chunk_id,
      |    (first_value(rq) OVER (PARTITION BY stream_id, chunk_id // 32 ORDER BY chunk_id) * 9 + rq) / 1000.0 AS s0
      |  FROM ev)
      |SELECT stream_id, chunk_id, s0, s0 * 0.8 + 0.1 AS s1, s0 * 0.5 AS s2 FROM sc""".stripMargin

  /** Shared forecast-sample builder for n09/n10 (and DebugFreeze's
    * weight-freeze regen): trailing-8 history windows plus BOTH label
    * protocols' ingredients (fut_avg for n09's rounded-mean label,
    * a0-a2 future-category frequencies for n10's dominant label + MAE
    * targets). Values per column are identical to the pre-refactor
    * per-query builds, so the seeded fits are unchanged.
    */
  private[graft] def forecastRaw(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val wHist = Window.partitionBy("stream_id").orderBy("chunk_id").rowsBetween(-8, -1)
    val wFut = Window.partitionBy("stream_id").orderBy("chunk_id").rowsBetween(1, 4)
    val cat = when(col("s0") < 0.35, 0).when(col("s0") < 0.65, 1).otherwise(2)
    chunkScores(s, d)
      .withColumn("category", cat)
      .withColumn("s0q", round(col("s0") * 1000).cast("long"))
      .select(col("stream_id"), col("chunk_id"),
        collect_list(col("s0")).over(wHist).as("history"),
        sum(col("s0q")).over(wHist).as("hist_sum_q"),
        sum(col("s0q") * col("s0q")).over(wHist).as("hist_sq_q"),
        count(lit(1)).over(wFut).as("n_future"),
        avg(col("category")).over(wFut).as("fut_avg"),
        (sum(when(col("category") === 0, 1).otherwise(0)).over(wFut) / 4.0).as("a0"),
        (sum(when(col("category") === 1, 1).otherwise(0)).over(wFut) / 4.0).as("a1"),
        (sum(when(col("category") === 2, 1).otherwise(0)).over(wFut) / 4.0).as("a2"))
      .filter(size(col("history")) === 8 && col("n_future") === 4)
  }

  /** Feature standardization (x − μ)/σ with μ,σ from EXACT integer
    * sums (s0 = k/1000, so the k and k² longs sum partition-order-
    * independently) — bit-stable across runs. The reference's global
    * X /= ||X||_F (knob_plan.py:225-226) is calibrated to its
    * 1200-sample matrix; on a 10k-sample corpus the same scalar
    * squashes every feature to ~1e-2 and the 25-iteration MLP
    * collapses to the majority class (round-3 verdict). Centered
    * unit-variance features keep the scale corpus-size-invariant.
    */
  private[graft] def forecastFeatures(raw: DataFrame): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val r = raw.agg(sum("hist_sum_q"), sum("hist_sq_q"), count(lit(1))).head()
    val n8 = r.getLong(2).toDouble * 8.0
    val mu = r.getLong(0).toDouble / n8 / 1000.0
    val sigma = math.sqrt(
      math.max(r.getLong(1).toDouble / n8 / 1e6 - mu * mu, 1e-12))
    raw.withColumn("features",
      array_to_vector(transform(col("history"),
        x => (x - lit(mu)) / lit(sigma))))
  }

  /** Shared CTE chain for the n09/n10 live oracles: recomputes the
    * forecast data plane — chunk scores, trailing-8 history windows,
    * exact-integer standardization (same operation order as
    * `forecastFeatures`, so μ/σ are bit-identical), and the MLP
    * forward pass (sigmoid hidden layers, per-layer index arithmetic
    * over the flat 555-weight array, see FrozenModels) — live from
    * the raw parquet. Only the trained weights are frozen; `zt` ends
    * with per-sample logits `z` (argmax z = argmax softmax(z), so n09
    * needs no softmax) plus both label protocols' ingredients.
    */
  private def forecastOracleCtes(weightsSql: String): String =
    s"""chunks AS ($chunkScoresSql),
       |cat AS (
       |  SELECT stream_id, chunk_id, s0,
       |    CAST(round(s0 * 1000, 0) AS BIGINT) AS s0q,
       |    CASE WHEN s0 < 0.35 THEN 0 WHEN s0 < 0.65 THEN 1 ELSE 2 END AS category
       |  FROM chunks),
       |w AS (
       |  SELECT stream_id, chunk_id,
       |    list(s0) OVER wh AS history,
       |    count(s0q) OVER wh AS hist_cnt,
       |    sum(s0q) OVER wh AS hist_sum_q,
       |    sum(s0q * s0q) OVER wh AS hist_sq_q,
       |    count(*) OVER wf AS n_future,
       |    avg(category) OVER wf AS fut_avg,
       |    sum(CASE WHEN category = 0 THEN 1 ELSE 0 END) OVER wf / 4.0 AS a0,
       |    sum(CASE WHEN category = 1 THEN 1 ELSE 0 END) OVER wf / 4.0 AS a1,
       |    sum(CASE WHEN category = 2 THEN 1 ELSE 0 END) OVER wf / 4.0 AS a2
       |  FROM cat
       |  WINDOW
       |    wh AS (PARTITION BY stream_id ORDER BY chunk_id ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING),
       |    wf AS (PARTITION BY stream_id ORDER BY chunk_id ROWS BETWEEN 1 FOLLOWING AND 4 FOLLOWING)),
       |f AS (SELECT * FROM w WHERE hist_cnt = 8 AND n_future = 4),
       |ms AS (
       |  SELECT sum(hist_sum_q) / (count(*) * 8.0) / 1000.0 AS mu,
       |    sqrt(greatest(sum(hist_sq_q) / (count(*) * 8.0) / 1e6
       |      - (sum(hist_sum_q) / (count(*) * 8.0) / 1000.0)
       |        * (sum(hist_sum_q) / (count(*) * 8.0) / 1000.0), 1e-12)) AS sigma
       |  FROM f),
       |wt AS (SELECT $weightsSql::DOUBLE[] AS w),
       |feat AS (
       |  SELECT f.fut_avg, f.a0, f.a1, f.a2,
       |    list_transform(f.history, v -> (v - ms.mu) / ms.sigma) AS x
       |  FROM f, ms),
       |h1t AS (
       |  SELECT fut_avg, a0, a1, a2,
       |    list_transform(range(24), r -> 1.0 / (1.0 + exp(-(wt.w[193 + r]
       |      + list_sum(list_transform(range(8), c -> wt.w[c * 24 + r + 1] * x[c + 1])))))) AS h1
       |  FROM feat CROSS JOIN wt),
       |h2t AS (
       |  SELECT fut_avg, a0, a1, a2,
       |    list_transform(range(12), r -> 1.0 / (1.0 + exp(-(wt.w[505 + r]
       |      + list_sum(list_transform(range(24), c -> wt.w[217 + c * 12 + r] * h1[c + 1])))))) AS h2
       |  FROM h1t CROSS JOIN wt),
       |zt AS (
       |  SELECT fut_avg, a0, a1, a2,
       |    list_transform(range(3), r -> wt.w[553 + r]
       |      + list_sum(list_transform(range(12), c -> wt.w[517 + c * 3 + r] * h2[c + 1]))) AS z
       |  FROM h2t CROSS JOIN wt)""".stripMargin

  /** Seeded 8→24→12→3 MLP fit on ONE sorted partition: LBFGS
    * partial-gradient aggregation order varies with partitioning, and
    * over 200 iterations the float drift amplifies into different
    * confusion counts — a single sorted partition makes the fit
    * bit-deterministic. The distributed part (window feature build over
    * the full corpus) stays distributed; the sample matrix an MLP
    * trains on is small by design.
    */
  private[graft] def fitForecast(data: DataFrame, maxIter: Int = 200,
                                 sortCols: Seq[String] = Seq("stream_id", "chunk_id"))
      : org.apache.spark.ml.classification.MultilayerPerceptronClassificationModel =
    new org.apache.spark.ml.classification.MultilayerPerceptronClassifier()
      .setLayers(Array(8, 24, 12, 3)).setSeed(42).setMaxIter(maxIter)
      .fit(data.repartition(1).sortWithinPartitions(sortCols.map(col): _*))

  /** n10's training set: the SOFT-target replication of the reference's
    * distribution targets — one row per future chunk's category (a_c·4
    * copies of label c), so the cross-entropy optimum is the per-chunk
    * categorical p(x) = E[a_c | x], the distribution the MAE metric
    * scores. (The earlier hard-dominant-label protocol learns
    * P(dominant = c | x) instead, which systematically over-sharpens
    * fractional futures — measured 0.0898 raw vs this protocol's
    * 0.0876/0.0630 under the L1 rule, vs the 0.0443 feature floor;
    * SCALING.md round 11.) Rows are replicated
    * with an exact integer sequence (a_c·4 ∈ {0..4}), and the fit sort
    * adds `label` so duplicated samples sit in a deterministic order —
    * identical rows make the single-partition LBFGS iteration sequence,
    * and therefore the weights, bit-stable.
    */
  private[graft] def softForecastTrainset(data: DataFrame): DataFrame =
    data
      .withColumn("reps",
        array(struct(lit(0.0).as("label"), (col("a0") * 4).as("w")),
          struct(lit(1.0).as("label"), (col("a1") * 4).as("w")),
          struct(lit(2.0).as("label"), (col("a2") * 4).as("w"))))
      .select(col("stream_id"), col("chunk_id"), col("features"),
        explode(col("reps")).as("r"))
      .select(col("stream_id"), col("chunk_id"), col("features"),
        col("r.label").as("label"), col("r.w").as("w"))
      .filter(col("w") > 0)
      .withColumn("rep", explode(sequence(lit(1), col("w").cast("int"))))
      .drop("w", "rep")

  val all: Seq[Q] = Seq(

    // X1+X5+D3: placement search — 64 deterministic candidate placements
    // of a 66-task detect-to-track graph with network transfers, evaluated
    // on executors, Pareto-filtered on (runtime, cost).
    Q("n05_placement_pareto",
      (s, d) => {
        val base = TaskSim.detectToTrack(10, 60)
        val g = base.copy(tasks = base.tasks.map(t =>
          t.copy(inBytes = 200000, outBytes = 80000, rtCloud = t.rtSingle * 0.6)))
        KnobTuning.placementSearch(g, cores = 4, numCandidates = 64)
          .select(col("cand_id"), round(col("runtime"), 2).as("runtime"),
            round(col("cost"), 2).as("cost"), size(col("placement")).as("n_tasks"))
          .orderBy("runtime")
      },
      // LIVE oracle since round 9 (was a frozen frontier snapshot): only
      // the 64 candidate (runtime, cost) evaluations are frozen
      // (FrozenModels.n05CandidatesSql, full precision — the TaskSim
      // ledger carries a bit-exact-vs-reference spec); the Pareto
      // FILTER — the antichain selection this query claims as its
      // operator (X5/D3) — is recomputed independently by DuckDB over
      // the unrounded points. 66 = the graph's task count (structural).
      Some(s"""WITH cand(cand_id, runtime, cost) AS (VALUES
              |${FrozenModels.n05CandidatesSql})
              |SELECT c.cand_id, round(c.runtime, 2) AS runtime,
              |  round(c.cost, 2) AS cost, 66 AS n_tasks
              |FROM cand c WHERE NOT EXISTS (
              |  SELECT 1 FROM cand o WHERE o.runtime <= c.runtime AND o.cost <= c.cost
              |    AND (o.runtime < c.runtime OR o.cost < c.cost))
              |ORDER BY runtime""".stripMargin),
      ),

    // X4: hill climbing over a 2-knob cadence space; each round's frontier
    // is evaluated in ONE Spark aggregation pass (the distributed analog
    // of the reference's memoized batch eval, knob_tuner.py:291-406).
    Q("n06_hill_climb",
      (s, d) => {
        val events = Tables.events(s, d).select(col("event_id"), col("value")).cache()
        val total = events.count().toDouble
        val domains = Seq(Seq(1, 2, 3, 4, 5, 6, 8, 10), Seq(1, 2, 3, 4, 5, 6, 8, 10))
        def evaluate(configs: Seq[Seq[Int]]): Map[Seq[Int], Double] = {
          val aggs = configs.zipWithIndex.map { case (c, i) =>
            sum(when(col("event_id") % c.head === 0 || col("event_id") % c(1) === 0,
              col("value"))).as(s"q$i")
          }
          val row = events.agg(aggs.head, aggs.tail: _*).collect()(0)
          configs.zipWithIndex.map { case (c, i) =>
            val quality = row.getDouble(i) / total
            val cost = 30.0 / c.head + 18.0 / c(1) // denser sampling costs more
            c -> (quality - cost)
          }.toMap
        }
        val (best, score, evals) = KnobTuning.hillClimb(
          domains, evaluate, starts = Seq(Seq(10, 10), Seq(1, 1), Seq(4, 4)))
        s.createDataFrame(Seq((best.head, best(1), math.rint(score * 10000) / 10000, evals)))
          .toDF("k1", "k2", "score", "n_evals")
      },
      // LIVE oracle since round 9 (was a literal snapshot): DuckDB
      // recomputes the 8x8 objective grid from the raw events (the
      // sum-where-divisible quality aggregate minus the cadence cost)
      // and replays the hill-climb fold — start election, +-1-position
      // neighbors, first-max tie-breaks, distinct-eval counting — as a
      // recursive CTE, one iteration per climb step.
      Some("""WITH RECURSIVE
             |dom(pos, k) AS (VALUES (0,1),(1,2),(2,3),(3,4),(4,5),(5,6),(6,8),(7,10)),
             |grid AS MATERIALIZED (
             |  SELECT a.k AS k1, a.pos AS p1, b.k AS k2, b.pos AS p2, a.k * 100 + b.k AS cid,
             |    (SELECT sum(CASE WHEN event_id % a.k = 0 OR event_id % b.k = 0 THEN value END) FROM events)
             |      / (SELECT count(*) FROM events)
             |    - 30.0 / a.k - 18.0 / b.k AS score
             |  FROM dom a, dom b
             |),
             |init AS (
             |  SELECT g.k1, g.k2, g.p1, g.p2, g.score, 0 AS iter, 3 AS evals,
             |    [1010, 101, 404] AS seen, true AS improved
             |  FROM (VALUES (10,10,0),(1,1,1),(4,4,2)) s(k1,k2,ord)
             |  JOIN grid g ON g.k1 = s.k1 AND g.k2 = s.k2
             |  ORDER BY g.score DESC, s.ord LIMIT 1
             |),
             |climb AS (
             |  SELECT * FROM init
             |  UNION ALL
             |  SELECT
             |    CASE WHEN g.score > z.score THEN g.k1 ELSE z.k1 END,
             |    CASE WHEN g.score > z.score THEN g.k2 ELSE z.k2 END,
             |    CASE WHEN g.score > z.score THEN g.p1 ELSE z.p1 END,
             |    CASE WHEN g.score > z.score THEN g.p2 ELSE z.p2 END,
             |    CASE WHEN g.score > z.score THEN g.score ELSE z.score END,
             |    z.iter + 1,
             |    z.evals + len(list_distinct(z.nbs || z.seen)) - len(list_distinct(z.seen)),
             |    list_distinct(z.seen || z.nbs),
             |    g.score > z.score
             |  FROM (
             |    SELECT c.*,
             |      (SELECT list(n.cid) FROM (
             |        SELECT d.k * 100 + c.k2 AS cid FROM dom d WHERE d.pos IN (c.p1 - 1, c.p1 + 1)
             |        UNION ALL SELECT c.k1 * 100 + d.k FROM dom d WHERE d.pos IN (c.p2 - 1, c.p2 + 1)
             |      ) n) AS nbs,
             |      (SELECT n.cid FROM (
             |         SELECT d.k * 100 + c.k2 AS cid,
             |           10 + (CASE WHEN d.pos < c.p1 THEN 0 ELSE 1 END) AS o
             |         FROM dom d WHERE d.pos IN (c.p1 - 1, c.p1 + 1)
             |         UNION ALL
             |         SELECT c.k1 * 100 + d.k,
             |           20 + (CASE WHEN d.pos < c.p2 THEN 0 ELSE 1 END)
             |         FROM dom d WHERE d.pos IN (c.p2 - 1, c.p2 + 1)) n
             |       JOIN grid g2 ON g2.cid = n.cid
             |       ORDER BY g2.score DESC, n.o LIMIT 1) AS nbc
             |    FROM climb c WHERE c.improved AND c.iter < 10
             |  ) z
             |  JOIN grid g ON g.cid = z.nbc
             |)
             |SELECT k1, k2, round(score, 4) AS score, evals AS n_evals
             |FROM climb ORDER BY iter DESC LIMIT 1""".stripMargin),
      ),

    // M10: KMeans content categorization over per-chunk quality vectors
    // (the reference's categories_3.npy — knob_plan.py:279-281). Since
    // r15 the GATED fit is the engine's own deterministic Lloyd
    // (xxhash64-sampled order, first-k-distinct init, 20 iterations,
    // k=3 — buildIvfIndex's trainer on the 3-dim score vectors), so the
    // oracle replays the ENTIRE fit live and no trained constants
    // remain (the e08/e10/e05 conversion; spark.ml parity on a
    // separated fixture is a spec). benchFn keeps timing the spark.ml
    // fit — the published number tracks the ML-lib integration path
    // (stated policy, BENCH.md) and cross-round continuity holds.
    Q("n07_categories",
      (s, d) => {
        import s.implicits._
        val scores = chunkScores(s, d)
        val train = scores
          .orderBy(xxhash64(col("stream_id") * 4294967296L + col("chunk_id")),
            col("stream_id"), col("chunk_id"))
          .limit(10000)
          .select(col("s0"), col("s1"), col("s2"))
          .as[(Double, Double, Double)].collect()
          .map(t => Array(t._1, t._2, t._3))
        val c = graft.operators.Similarity.lloydCenters(train, 3, iters = 20)
        def dl(k: Int) =
          (col("s0") - c(k)(0)) * (col("s0") - c(k)(0)) +
            (col("s1") - c(k)(1)) * (col("s1") - c(k)(1)) +
            (col("s2") - c(k)(2)) * (col("s2") - c(k)(2))
        val cat = when(dl(0) <= dl(1) && dl(0) <= dl(2), lit(0))
          .when(dl(1) <= dl(2), lit(1)).otherwise(lit(2))
        val sizes = scores.select(cat.as("category"))
          .groupBy("category").count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        // half-up at 3 dp (floor(x·1000 + 0.5)/1000) — the same closed
        // form the oracle computes, so both engines round identically
        def r3(x: Double): Double = math.floor(x * 1000 + 0.5) / 1000
        s.createDataFrame((0 until 3).map { i =>
          (i, r3(c(i)(0)), r3(c(i)(1)), r3(c(i)(2)), sizes.getOrElse(i, 0L))
        }).toDF("category", "center_s0", "center_s1", "center_s2", "n_chunks")
          .orderBy("category")
      },
      // FULL-REPLAY live oracle since r15 (was: frozen spark.ml
      // centroids + live assignment): DuckDB re-derives the xxhash64
      // sample order over (stream_id, chunk_id), re-fits the
      // 20-iteration k=3 Lloyd as a recursive CTE, re-assigns every
      // chunk, and centers + sizes must hash-match — SF-independent.
      Some(s"""WITH RECURSIVE
              |chunks AS ($chunkScoresSql),
              |keys AS (SELECT (stream_id * 4294967296 + chunk_id)::HUGEINT AS v FROM chunks),
              |${TextQueries.xxh64LongDuck},
              |sgn AS (SELECT v, CASE WHEN hu >= 9223372036854775808::HUGEINT
              |                       THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS hs FROM hsh),
              |corp AS (SELECT c.stream_id, c.chunk_id, [c.s0, c.s1, c.s2] AS ev,
              |           row_number() OVER (ORDER BY g.hs, c.stream_id, c.chunk_id) AS pos
              |         FROM chunks c JOIN sgn g
              |           ON g.v = (c.stream_id * 4294967296 + c.chunk_id)::HUGEINT),
              |smp AS (SELECT pos, ev FROM corp WHERE pos <= 10000),
              |init AS (SELECT pos, ev FROM smp s
              |         WHERE NOT EXISTS (SELECT 1 FROM smp s2 WHERE s2.pos < s.pos AND s2.ev = s.ev)
              |         ORDER BY pos LIMIT 3),
              |ll(step, cents) AS (
              |  SELECT 0, (SELECT list(ev ORDER BY pos) FROM init)
              |  UNION ALL
              |  SELECT g2.step + 1,
              |    list_transform(range(len(g2.cents)), c ->
              |      CASE WHEN list_contains(g2.bests, c) THEN g2.means[list_position(g2.bests, c)]
              |           ELSE g2.cents[c + 1] END)
              |  FROM (
              |    SELECT g.step, first(g.cents) AS cents,
              |           list(g.best ORDER BY g.best) AS bests,
              |           list(g.m ORDER BY g.best) AS means
              |    FROM (
              |      SELECT gi.step, gi.cents, gi.best,
              |        list_transform(range(3), i ->
              |          list_sum(list_transform(gi.pts, p -> p[i + 1])) / gi.cnt) AS m
              |      FROM (
              |        SELECT x2.step, first(x2.cents) AS cents, x2.best, count(*) AS cnt,
              |          list(x2.ev ORDER BY x2.pos) AS pts
              |        FROM (
              |          SELECT x1.*, CAST(list_position(x1.dl, list_min(x1.dl)) - 1 AS BIGINT) AS best
              |          FROM (
              |            SELECT l.step, l.cents, s.pos, s.ev,
              |              list_transform(range(len(l.cents)), c ->
              |                list_sum(list_transform(range(3), i ->
              |                  (s.ev[i + 1] - l.cents[c + 1][i + 1])
              |                  * (s.ev[i + 1] - l.cents[c + 1][i + 1])))) AS dl
              |            FROM ll l, smp s
              |            WHERE l.step < 20
              |          ) x1
              |        ) x2
              |        GROUP BY x2.step, x2.best
              |      ) gi
              |    ) g
              |    GROUP BY g.step
              |  ) g2),
              |cfin AS (SELECT cents FROM ll WHERE step = 20),
              |asg AS (
              |  SELECT CAST(list_position(dl, list_min(dl)) - 1 AS INT) AS category
              |  FROM (
              |    SELECT list_transform(range(len(f.cents)), cc ->
              |        list_sum(list_transform(range(3), i ->
              |          (ev[i + 1] - f.cents[cc + 1][i + 1])
              |          * (ev[i + 1] - f.cents[cc + 1][i + 1])))) AS dl
              |    FROM corp CROSS JOIN cfin f
              |  )),
              |cnt AS (SELECT category, count(*)::BIGINT AS n FROM asg GROUP BY 1)
              |SELECT r.k::INT AS category,
              |  floor(f.cents[CAST(r.k + 1 AS INT)][1] * 1000 + 0.5) / 1000 AS center_s0,
              |  floor(f.cents[CAST(r.k + 1 AS INT)][2] * 1000 + 0.5) / 1000 AS center_s1,
              |  floor(f.cents[CAST(r.k + 1 AS INT)][3] * 1000 + 0.5) / 1000 AS center_s2,
              |  coalesce(c.n, 0)::BIGINT AS n_chunks
              |FROM range(0, 3) AS r(k) CROSS JOIN cfin f
              |LEFT JOIN cnt c ON c.category = r.k
              |ORDER BY 1""".stripMargin),
      benchFn = Some((s, d) => {
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.functions.array_to_vector
        val scores = chunkScores(s, d)
          .select(array_to_vector(array(col("s0"), col("s1"), col("s2"))).as("features"))
        val model = new KMeans().setK(3).setSeed(42).setMaxIter(20).fit(scores)
        val centers = model.clusterCenters.zipWithIndex.map { case (c, i) =>
          (i, math.rint(c(0) * 1000) / 1000, math.rint(c(1) * 1000) / 1000,
            math.rint(c(2) * 1000) / 1000)
        }
        val sizes = model.transform(scores).groupBy("prediction").count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        s.createDataFrame(centers.toSeq.map { case (i, c0, c1, c2) =>
          (i, c0, c1, c2, sizes.getOrElse(i, 0L))
        }).toDF("category", "center_s0", "center_s1", "center_s2", "n_chunks")
          .orderBy("category")
      })),

    // M12: forecast training-set builder — input = trailing 8-chunk score
    // history, label = category histogram over the next 4 chunks, both via
    // range windows (knob_plan.py:181-228 re-expressed relationally),
    // normalized per the reference protocol (knob_plan.py:225-227):
    // X /= ||X||_F (ONE global Frobenius norm over the whole sample
    // matrix — a broadcast scalar, not a shuffle) and each y row
    // normalized to a distribution. Pure window aggregates — no arrays
    // are materialized, so it is also the DuckDB-oracle-checkable form.
    Q("n08_forecast_trainset",
      (s, d) => {
        // nearest-center categorization (argmin |center - s0|, ties to the
        // lower-indexed center — numpy argmin semantics)
        val d0 = abs(col("s0") - 0.2); val d1 = abs(col("s0") - 0.5); val d2 = abs(col("s0") - 0.8)
        val cat = when(d0 <= d1 && d0 <= d2, 0).when(d1 <= d2, 1).otherwise(2)
        val wHist = Window.partitionBy("stream_id").orderBy("chunk_id").rowsBetween(-8, -1)
        val wFut = Window.partitionBy("stream_id").orderBy("chunk_id").rowsBetween(1, 4)
        // integer history sums: s0 is k/1000 by construction, so summing
        // k (= s0*1000, a long) keeps every window sum AND the global
        // Frobenius norm exact — a whole-corpus double sum varies in the
        // last ulp with partition order, and round(·, 6) on ~10k rows
        // WILL eventually flip a digit across engines (the a05 lesson at
        // corpus scale); the /1000 scale factors cancel in x_sum_norm
        val samples = chunkScores(s, d)
          .withColumn("category", cat)
          .withColumn("s0q", round(col("s0") * 1000).cast("long"))
          .select(col("stream_id"), col("chunk_id"),
            count(col("s0q")).over(wHist).as("hist_cnt"),
            sum(col("s0q")).over(wHist).as("hist_sum_q"),
            sum(col("s0q") * col("s0q")).over(wHist).as("hist_sq_q"),
            count(lit(1)).over(wFut).as("n_future"),
            sum(when(col("category") === 0, 1).otherwise(0)).over(wFut).as("f0"),
            sum(when(col("category") === 1, 1).otherwise(0)).over(wFut).as("f1"),
            sum(when(col("category") === 2, 1).otherwise(0)).over(wFut).as("f2"))
          .filter(col("hist_cnt") === 8 && col("n_future") === 4)
        val xnorm = samples.agg(sqrt(sum(col("hist_sq_q"))).as("xnorm_q"))
        samples.crossJoin(broadcast(xnorm))
          .select(col("stream_id"), col("chunk_id"), col("hist_cnt").as("input_len"),
            round(col("hist_sum_q") / col("xnorm_q"), 6).as("x_sum_norm"),
            round(col("f0") / (col("f0") + col("f1") + col("f2")), 4).as("y0"),
            round(col("f1") / (col("f0") + col("f1") + col("f2")), 4).as("y1"),
            round(col("f2") / (col("f0") + col("f1") + col("f2")), 4).as("y2"))
          .orderBy("stream_id", "chunk_id")
      },
      Some(s"""WITH chunks AS ($chunkScoresSql),
              |cat AS (
              |  SELECT *, CAST(round(s0 * 1000, 0) AS BIGINT) AS s0q, CASE
              |    WHEN abs(s0-0.2) <= abs(s0-0.5) AND abs(s0-0.2) <= abs(s0-0.8) THEN 0
              |    WHEN abs(s0-0.5) <= abs(s0-0.8) THEN 1 ELSE 2 END AS category
              |  FROM chunks),
              |w AS (
              |  SELECT stream_id, chunk_id,
              |    count(s0q) OVER wh AS hist_cnt,
              |    sum(s0q) OVER wh AS hist_sum_q,
              |    sum(s0q*s0q) OVER wh AS hist_sq_q,
              |    count(*) OVER wf AS n_future,
              |    CAST(sum(CASE WHEN category = 0 THEN 1 ELSE 0 END) OVER wf AS BIGINT) AS f0,
              |    CAST(sum(CASE WHEN category = 1 THEN 1 ELSE 0 END) OVER wf AS BIGINT) AS f1,
              |    CAST(sum(CASE WHEN category = 2 THEN 1 ELSE 0 END) OVER wf AS BIGINT) AS f2
              |  FROM cat
              |  WINDOW
              |    wh AS (PARTITION BY stream_id ORDER BY chunk_id
              |           ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING),
              |    wf AS (PARTITION BY stream_id ORDER BY chunk_id
              |           ROWS BETWEEN 1 FOLLOWING AND 4 FOLLOWING)),
              |f AS (SELECT * FROM w WHERE hist_cnt = 8 AND n_future = 4),
              |nrm AS (SELECT sqrt(sum(hist_sq_q)) AS xnorm_q FROM f)
              |SELECT stream_id, chunk_id, hist_cnt AS input_len,
              |  round(hist_sum_q / xnorm_q, 6) AS x_sum_norm,
              |  round(f0 / CAST(f0+f1+f2 AS DOUBLE), 4) AS y0,
              |  round(f1 / CAST(f0+f1+f2 AS DOUBLE), 4) AS y1,
              |  round(f2 / CAST(f0+f1+f2 AS DOUBLE), 4) AS y2
              |FROM f, nrm ORDER BY stream_id, chunk_id""".stripMargin)),

    // M11: forecast model — MLP classifier over flattened history windows
    // predicting the next-interval dominant category (the reference's
    // Keras input->16->8->|C| softmax net, knob_plan.py:289-317).
    Q("n09_forecast_mlp",
      (s, d) => {
        val data = forecastFeatures(forecastRaw(s, d))
          .withColumn("label", round(col("fut_avg")).cast("double"))
        val model = fitForecast(data)
        model.transform(data)
          .groupBy(col("label").cast("long").as("label"),
            col("prediction").cast("long").as("prediction"))
          .agg(count(lit(1)).as("n"))
          .orderBy("label", "prediction")
      },
      // LIVE oracle since round 10 (was a literal confusion snapshot):
      // only the 555 trained weights are frozen (FrozenModels
      // .n09WeightsSql); DuckDB recomputes the windows, the exact-integer
      // standardization, the full sigmoid forward pass, the argmax
      // predictions (= argmax of the logits — softmax is monotone), the
      // round-half-up labels (floor(x+0.5): DuckDB's round() is
      // banker's on doubles, Spark's is HALF_UP — fut_avg hits exact
      // halves) and the confusion counts live from the raw parquet.
      // Accuracy 0.909 with all three classes predicted; cell-for-cell
      // equal to Spark's model.transform at sf0.01.
      Some(s"""WITH ${forecastOracleCtes(FrozenModels.n09WeightsSql)}
              |SELECT label, prediction, count(*)::BIGINT AS n FROM (
              |  SELECT CAST(floor(fut_avg + 0.5) AS BIGINT) AS label,
              |         CAST(list_position(z, list_max(z)) - 1 AS BIGINT) AS prediction
              |  FROM zt)
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      // driver-side iterative MLP training (~40 s at sf0.1): gated for
      // correctness, excluded from the per-round bench by the BENCH.md rule
      bench = false),

    // M11 evaluation: forecast MAE — mean |predicted distribution −
    // actual future category frequencies| (the paper's Table 5 metric,
    // supp. I.3), computed over the same windowed samples.
    Q("n10_forecast_mae",
      (s, d) => {
        import org.apache.spark.ml.functions.vector_to_array
        val data = forecastFeatures(forecastRaw(s, d)).localCheckpoint(true)
        // soft-target replication fit (see softForecastTrainset) + the
        // L1-Bayes decision rule: the metric scores |pred − a_c| where
        // a_c is a 4-draw frequency, so the optimal prediction from a
        // softmax p is the MEDIAN of Binomial(4, p_c)/4 = round(4p)/4
        // (floor(x+0.5) half-up, matching the oracle). `mae_prob` keeps
        // the raw-softmax number for comparability with earlier rounds.
        val model = fitForecast(softForecastTrainset(data), maxIter = 400,
          sortCols = Seq("stream_id", "chunk_id", "label"))
        def l1(c: org.apache.spark.sql.Column) = floor(c * 4 + 0.5) / 4.0
        model.transform(data)
          .withColumn("p", vector_to_array(col("probability")))
          .select(
            abs(element_at(col("p"), 1) - col("a0")).as("e0"),
            abs(element_at(col("p"), 2) - col("a1")).as("e1"),
            abs(element_at(col("p"), 3) - col("a2")).as("e2"),
            abs(l1(element_at(col("p"), 1)) - col("a0")).as("q0"),
            abs(l1(element_at(col("p"), 2)) - col("a1")).as("q1"),
            abs(l1(element_at(col("p"), 3)) - col("a2")).as("q2"))
          .agg(count(lit(1)).as("n_samples"),
            round(avg((col("q0") + col("q1") + col("q2")) / 3.0), 4).as("mae"),
            round(avg((col("e0") + col("e1") + col("e2")) / 3.0), 4).as("mae_prob"))
      },
      // LIVE oracle since round 10 (was a literal snapshot): only the
      // 555 trained weights are frozen (FrozenModels.n10WeightsSql);
      // DuckDB recomputes the windows, standardization, forward pass,
      // the max-subtracted softmax (Spark's SoftmaxLayerModel form),
      // the L1 decision rule, the future-frequency targets and the
      // Table-5-protocol MAE live from the raw parquet. Round 11: soft
      // replication targets + round(4p)/4 put MAE at 0.0630 ≤ the
      // paper's 0.042-0.064 band (supp. I.3 Table 5, 2-day horizon);
      // the measured Bayes floor of the synthetic task is 0.0365
      // (oracle state) / 0.0443 (history features) — SCALING.md r11.
      Some(s"""WITH ${forecastOracleCtes(FrozenModels.n10WeightsSql)},
              |p AS (
              |  SELECT a0, a1, a2, list_transform(ez, v -> v / list_sum(ez)) AS p
              |  FROM (SELECT a0, a1, a2, list_transform(z, v -> exp(v - list_max(z))) AS ez FROM zt) s)
              |SELECT count(*)::BIGINT AS n_samples,
              |  round(avg((abs(floor(p[1] * 4 + 0.5) / 4.0 - a0)
              |           + abs(floor(p[2] * 4 + 0.5) / 4.0 - a1)
              |           + abs(floor(p[3] * 4 + 0.5) / 4.0 - a2)) / 3.0), 4) AS mae,
              |  round(avg((abs(p[1] - a0) + abs(p[2] - a1) + abs(p[3] - a2)) / 3.0), 4) AS mae_prob
              |FROM p""".stripMargin),
      // driver-side iterative MLP training (~36 s at sf0.1): gated for
      // correctness, excluded from the per-round bench by the BENCH.md rule
      bench = false)
  )
}
