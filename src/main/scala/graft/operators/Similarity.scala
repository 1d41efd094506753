package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: the query side is always the small side — it is collected
  * and broadcast, and the corpus streams through a typed mapPartitions
  * kernel (tight JVM loops; Spark's higher-order array expressions are
  * interpreted, ~50x slower for per-pair dot products). The corpus is never
  * shuffled; per-partition top-k heaps bound the traffic to
  * |queries|·k·partitions rows before the final global rank. `lshKnn`
  * buckets both sides by sign-bit LSH first, turning all-pairs into a
  * per-bucket equi-join; recall trades via the number of hyperplane bits.
  */
object Similarity {

  /** Integer-quantized corpus rows: (vec_id, floor(x*1000) vector).
    * Exact integer dots + one IEEE double division make results
    * bit-identical across engines (see SimilarityQueries).
    */
  private def quantized(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").cast("long"), quantize(col("embedding")).as("qv"))

  private def cosQ(a: Array[Long], b: Array[Long]): Double = {
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** All (query, corpus) pairs with quantized cosine ≥ threshold. */
  def cosineThreshold(corpus: DataFrame, queryPred: Column, threshold: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = quantized(corpus)
    val queries = q.filter(queryPred).as[(Long, Array[Long])].collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(queries)
    q.as[(Long, Array[Long])]
      .mapPartitions { it =>
        val qs = bc.value
        it.flatMap { case (vb, cv) =>
          qs.iterator.flatMap { case (va, qv) =>
            if (va == vb) None
            else {
              val c = cosQ(qv, cv)
              if (c >= threshold) Some((va, vb, c)) else None
            }
          }
        }
      }
      .toDF("va", "vb", "cos")
  }

  /** Exact top-k quantized-cosine neighbors per query (brute force over
    * the corpus, heap-bounded per partition).
    */
  def quantizedKnn(corpus: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = quantized(corpus)
    val queries = q.filter(queryPred).as[(Long, Array[Long])].collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(queries)
    val candidates = q.as[(Long, Array[Long])]
      .mapPartitions { it =>
        val qs = bc.value
        // per-query bounded min-heaps: (cos asc, neighbor desc) at head
        val ord = Ordering.by[(Double, Long), (Double, Long)](p => (-p._1, p._2))
        val heaps = Array.fill(qs.length)(scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord))
        it.foreach { case (vb, cv) =>
          var qi = 0
          while (qi < qs.length) {
            val (va, qv) = qs(qi)
            if (va != vb) {
              val c = cosQ(qv, cv)
              val h = heaps(qi)
              if (h.size < k) h.enqueue((c, vb))
              else {
                val (hc, hn) = h.head
                if (c > hc || (c == hc && vb < hn)) { h.dequeue(); h.enqueue((c, vb)) }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (c, vb) => (qs(qi)._1, vb, c) }
        }
      }
      .toDF("query_id", "neighbor_id", "cos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    candidates.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
  }

  /** Maximal Marginal Relevance rerank (Carbonell & Goldstein, SIGIR'98):
    * per query, greedily pick k of its top-n cosine candidates maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — the diversified
    * retrieval pass a RAG pipeline runs after ANN candidate generation.
    *
    * Exactness: relevance and candidate-candidate similarities are
    * micro-quantized (`floor(cos·1e6)`, cos from the same exact-integer
    * dot + IEEE sqrt/divide sequence as e01/e02) and λ=0.7 is applied as
    * the integer pair 7/3, so every argmax compares integers — the greedy
    * trace is bit-reproducible across engines and partitionings.
    *
    * Scale shape: candidate generation reuses `quantizedKnn` (broadcast
    * queries, corpus never shuffled); the rerank itself is one shuffle of
    * n rows per query to its group and an O(n²·d) local kernel per group
    * (n=20, d=64 ⇒ ~25k multiplies) — embarrassingly parallel across
    * queries, nothing global. At 100 TB swap the candidate generator for
    * `probeIvf`: the rerank consumes any (query_id, neighbor_id) frame.
    */
  def mmrRerank(corpus: DataFrame, queryPred: Column, n: Int, k: Int): DataFrame =
    mmrRerankCandidates(
      quantizedKnn(corpus, queryPred, n)
        .select(col("query_id"), col("neighbor_id"),
          floor(col("cos") * 1e6).cast("long").as("rel")),
      corpus, k)

  /** The rerank stage alone, decoupled from candidate generation: `cands`
    * is any (query_id, neighbor_id, rel) frame — quantizedKnn's exact
    * top-n, probeIvf's approximate candidates, or a hybrid — and `corpus`
    * supplies the vectors for within-candidate similarities. e16 gates the
    * IVF-fed composition bit-exactly via the e14 full-probe property.
    */
  def mmrRerankCandidates(cands: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val withVec = cands
      .join(quantized(corpus).withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("qv"))
      .as[(Long, Long, Long, Array[Long])]
    withVec.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cs = it.toArray.sortBy { case (_, nid, rel, _) => (-rel, nid) }
        val m = cs.length
        val sim = Array.ofDim[Long](m, m)
        var i = 0
        while (i < m) {
          var j = i + 1
          while (j < m) {
            val s = math.floor(cosQ(cs(i)._4, cs(j)._4) * 1e6).toLong
            sim(i)(j) = s; sim(j)(i) = s
            j += 1
          }
          i += 1
        }
        val selected = Array.fill(m)(false)
        val out = Seq.newBuilder[(Long, Long, Long, Long)]
        var pick = 1
        while (pick <= math.min(k, m)) {
          var best = -1; var bestScore = Long.MinValue
          var c = 0
          while (c < m) {
            if (!selected(c)) {
              var maxSim = Long.MinValue
              var s = 0
              while (s < m) {
                if (selected(s) && sim(c)(s) > maxSim) maxSim = sim(c)(s)
                s += 1
              }
              // pick 1 has no selected set: pure relevance
              val score = if (pick == 1) 7L * cs(c)._3 else 7L * cs(c)._3 - 3L * maxSim
              if (score > bestScore ||
                  (score == bestScore && best >= 0 && cs(c)._2 < cs(best)._2)) {
                best = c; bestScore = score
              }
            }
            c += 1
          }
          selected(best) = true
          out += ((qid, pick.toLong, cs(best)._2, bestScore))
          pick += 1
        }
        out.result().iterator
      }
      .toDF("query_id", "pick", "neighbor_id", "mmr_micro")
      .orderBy("query_id", "pick")
  }

  /** Float-cosine brute-force top-k (non-quantized baseline API). The
    * scoring runs as the native codegen'd `cosine_sim` expression — one
    * fused loop per pair inside whole-stage codegen.
    */
  def bruteKnn(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    graft.plans.GraftExtensions.register(queries.sparkSession)
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        call_function("cosine_sim", col("qv"), col("cv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
  }

  /** IVF index: KMeans centroids + cell-assigned corpus. Built once and
    * reused across probe calls. When built at rest (`path` set) the
    * corpus is WRITTEN partitioned by `cell`, and probes filter on the
    * probed cells' literal values — partition pruning means a probe reads
    * nprobe/nlist of the files, the property that makes IVF worth it at
    * billion-vector scale.
    *
    * `nVectors` is the MATERIALIZED corpus size (-1 = unknown): build
    * and path-append set it from the at-rest/persisted frame (metadata
    * count, no data scan), and the probe's broadcast-vs-shuffle
    * crossover uses it instead of the nlist² sizing-law estimate — the
    * law is ~781x off for a fixed-nlist index over a grown corpus (the
    * e14 shape at sf10), putting the probe on the corpus-shuffling side
    * exactly where a 10⁹-vector read path must not shuffle.
    */
  final case class IvfIndex(centers: Array[Array[Double]], assigned: DataFrame,
                            path: Option[String] = None, nVectors: Long = -1L)

  /** nlist for a corpus of n vectors: ~√n (the classic IVF sizing — cells
    * of ~√n vectors balance centroid-scan and cell-scan cost), clamped to
    * [4, 4096]. The 4096 ceiling is a FIT-feasibility clamp (the bounded
    * driver-side Lloyd sample can't support more centroids than it has
    * rows), NOT the cell-size bound: past ~16.7M vectors cells would grow
    * past √n, so `enforceMaxCell` recursively splits any cell above
    * `defaultMaxCell` — cell SIZE is capped even where cell COUNT is
    * clamped, keeping per-cell work (IVF probe scans, SemDeDup's Σ|cell|²
    * pair search) bounded at any corpus size.
    */
  def autoNlist(n: Long): Int =
    math.max(4L, math.min(4096L, math.round(math.sqrt(n.toDouble)))).toInt

  /** Default cell-size cap for IVF / SemDeDup cells — the paper band
    * (SemDeDup runs ~10⁴-10⁵-vector clusters over LAION). Never binds at
    * the test SFs (≤200k vectors → √n cells of ~√n each), so small-scale
    * results are byte-identical to the uncapped path; at 10⁹⁺ vectors it
    * is the difference between Σ|cell|² staying ≤ n·maxCell (linear) and
    * degrading to n²/4096.
    */
  val defaultMaxCell: Int = 1 << 16

  /** SplitMix64 finalizer — the salt for degenerate (indivisible) cells.
    * Any deterministic mix of vec_id works here: the salt path never
    * feeds a cross-engine oracle (the default cap can't bind at oracle
    * SFs), it only has to be partitioning-independent.
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** How each oversized cell splits in one `enforceMaxCell` round:
    * either real sub-centroids (Lloyd on a bounded per-cell sample) or a
    * hash salt (degenerate cells Lloyd cannot separate — e.g. one value
    * repeated 10⁶ times). `childIds(0)` reuses the parent's slot so the
    * centers array only grows, never renumbers.
    */
  private final case class CellSplit(salt: Boolean, childIds: Array[Int],
                                     childCenters: Array[Array[Double]])

  /** Enforce a maximum cell size on a MATERIALIZED assignment table
    * (columns `vec_id, cell, v` and optionally `cdist`): cells above
    * `maxCell` are recursively split — sub-centroids fit by the same
    * deterministic fixed-iteration Lloyd as the top-level build, on a
    * bounded per-cell sample (≤ `subSample` rows per oversized cell,
    * xxhash64-ordered so the fit is partitioning-independent), members
    * reassigned to their nearest sub-centroid in one typed pass over the
    * oversized cells only. The per-cell fits run DISTRIBUTED
    * (`groupByKey(cell).mapGroups`, each group re-sorted by the same
    * (xxhash64, vec_id) key before fitting, so the arithmetic order — and
    * hence the centers — is bit-identical to a driver-side fit): the
    * driver only ever collects the FITTED SUB-CENTROIDS, ≤64·dim doubles
    * per oversized cell, which is exactly the growth of the
    * driver-resident `centers` array this call must return anyway. Driver
    * memory on the split path is therefore bounded by the index-metadata
    * floor (~n/maxCell centroids), never by `oversizedCells × subSample`
    * samples — at 10⁹-10¹⁰ vectors a round-2 split touches ~10⁵ cells,
    * whose samples would be a >100 GB driver collect but whose centroids
    * are the same few GB the final index ships to every probe.
    * Rounds repeat until every cell fits or `maxRounds` is
    * exhausted; the last two rounds (and any cell whose sample Lloyd
    * cannot separate — fewer than 2 distinct sampled vectors) fall back
    * to a SplitMix64 hash salt with the parent centroid replicated, which
    * always makes progress (salt rounds skip the sampling job entirely —
    * the salt needs only the cell SIZE, already in hand from the size
    * check). Branch factor per round is capped at 64 so
    * one huge cell grows the centers array geometrically across rounds
    * rather than in one jump.
    *
    * 100 TB shape: the common case (no oversized cell) costs ONE
    * 1-row-per-cell aggregate over the materialized assignment — no extra
    * corpus pass, no shuffle of in-cap rows. Each split round touches
    * only the oversized cells' rows (filter → window-sample → per-cell
    * distributed fit → typed reassign, localCheckpoint'd so the next
    * round's size check doesn't
    * re-execute). Final leaf count is ~n/maxCell — that is flat IVF's
    * inherent metadata floor (FAISS answers it with a coarse quantizer
    * over the centroids; at 10¹¹ vectors raise `maxCell`, or put an
    * ANN index over the centers — out of scope here).
    *
    * Recall note (probe side): a salt-split replicates the parent
    * centroid, so a probe ranks the replicas adjacently and scans the
    * first `nprobe` of them — within-cell recall trades exactly like
    * e04's hot-bucket guard. Lloyd splits refine geometry, so for them
    * nearest-centroid probing is strictly sharper, not lossy.
    *
    * Returns (refined assignment, grown centers). When nothing splits the
    * input frame is returned `eq`-identical so callers can skip their
    * re-layout.
    */
  private[graft] def enforceMaxCell(assigned: DataFrame,
                                        centers: Array[Array[Double]],
                                        maxCell: Int,
                                        subSample: Int = 2048,
                                        maxRounds: Int = 6): (DataFrame, Array[Array[Double]]) = {
    if (maxCell <= 0) return (assigned, centers)
    val spark = assigned.sparkSession
    import spark.implicits._
    val hasDist = assigned.columns.contains("cdist")
    // explicit int cast: the atRestPath branch feeds a parquet PARTITION
    // column whose read-back type depends on
    // spark.sql.sources.partitionColumnTypeInference.enabled — without the
    // cast, inference off would hand this function a StringType cell and
    // the size-check collect would ClassCastException
    val cols =
      if (hasDist) Seq(col("vec_id"), col("cell").cast("int").as("cell"), col("cdist"), col("v"))
      else Seq(col("vec_id"), col("cell").cast("int").as("cell"), col("v"))
    var cur = assigned.select(cols: _*)
    val cents = scala.collection.mutable.ArrayBuffer(centers: _*)
    var round = 0
    var clean = false
    while (round < maxRounds && !clean) {
      // 1 row per oversized cell — bounded by the leaf count (index
      // metadata scale, same order as the centers array itself)
      val oversized = cur.groupBy("cell").agg(count(lit(1)).as("n"))
        .filter(col("n") > maxCell)
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      if (oversized.isEmpty) clean = true
      else {
        val overIds = oversized.map(_._1)
        val inOver = col("cell").isin(overIds.map(Integer.valueOf): _*)
        val saltRound = round >= maxRounds - 2
        // Distributed per-cell sub-fits: the window bounds each cell's
        // sample (≤ subSample rows, (xxhash64, vec_id)-ordered so the SET
        // is partitioning-independent), mapGroups re-sorts each group by
        // the same key so the Lloyd input ORDER is too, and only the
        // fitted sub-centroids come back to the driver — Array.empty marks
        // a cell the sample cannot separate (< 2 distinct vectors). Salt
        // rounds never reach here: the salt needs only the cell size.
        val fitted: Map[Int, Array[Array[Double]]] =
          if (saltRound) Map.empty
          else {
            val sizes = spark.sparkContext.broadcast(oversized.toMap)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("cell").orderBy(xxhash64(col("vec_id")), col("vec_id"))
            val mc = maxCell
            val out = cur.filter(inOver)
              .withColumn("rn", row_number().over(w)).filter(col("rn") <= subSample)
              .select(col("cell"), xxhash64(col("vec_id")).as("h"), col("vec_id"),
                col("v").cast("array<double>"))
              .as[(Int, Long, Long, Array[Double])]
              .groupByKey(_._1)
              .mapGroups { (c, it) =>
                val pts = it.toArray.sortBy { case (_, h, id, _) => (h, id) }.map(_._4)
                val distinct2 = pts.exists(p => !java.util.Arrays.equals(p, pts.head))
                if (!distinct2) (c, Array.empty[Array[Double]])
                else {
                  val s = sizes.value(c)
                  val b = math.min(64L, math.max(2L, (s + mc - 1) / mc)).toInt
                  (c, lloyd(pts, b, iters = 10))
                }
              }
              .collect().map { case (c, sub) => c -> sub }.toMap
            sizes.destroy()
            out
          }
        val splits: Map[Int, CellSplit] = oversized.map { case (c, s) =>
          val sub0 = fitted.getOrElse(c, Array.empty[Array[Double]])
          if (saltRound || sub0.isEmpty) {
            // indivisible (or out of Lloyd rounds): replicate the parent
            // centroid and salt members — 2× headroom over the exact
            // quotient absorbs hash imbalance
            val b = math.min(64L, math.max(2L, 2L * ((s + maxCell - 1) / maxCell))).toInt
            val ids = Array(c) ++ Array.fill(b - 1)(0)
            var i = 1
            while (i < b) { cents += cents(c).clone(); ids(i) = cents.length - 1; i += 1 }
            c -> CellSplit(salt = true, ids, Array.fill(b)(cents(c)))
          } else {
            val sub = sub0
            cents(c) = sub(0)
            val ids = Array(c) ++ sub.drop(1).map { sc0 => cents += sc0; cents.length - 1 }
            c -> CellSplit(salt = false, ids, sub)
          }
        }.toMap
        val bcS = spark.sparkContext.broadcast(splits)
        val refined =
          if (hasDist)
            cur.select(col("vec_id").cast("long"), col("cell"), col("cdist"),
                col("v").cast("array<double>"))
              .as[(Long, Int, Double, Array[Double])]
              .map { case (id, cell, cd, v) =>
                bcS.value.get(cell) match {
                  case None => (id, cell, cd, v)
                  case Some(sp) if sp.salt =>
                    (id, sp.childIds(java.lang.Math.floorMod(mix64(id), sp.childIds.length.toLong).toInt), cd, v)
                  case Some(sp) =>
                    var best = 0; var bd = Double.MaxValue; var i = 0
                    while (i < sp.childCenters.length) {
                      val d = dist2(v, sp.childCenters(i))
                      if (d < bd) { bd = d; best = i }; i += 1
                    }
                    (id, sp.childIds(best), bd, v)
                }
              }.toDF("vec_id", "cell", "cdist", "v")
          else
            cur.select(col("vec_id").cast("long"), col("cell"),
                col("v").cast("array<double>"))
              .as[(Long, Int, Array[Double])]
              .map { case (id, cell, v) =>
                bcS.value.get(cell) match {
                  case None => (id, cell, v)
                  case Some(sp) if sp.salt =>
                    (id, sp.childIds(java.lang.Math.floorMod(mix64(id), sp.childIds.length.toLong).toInt), v)
                  case Some(sp) =>
                    var best = 0; var bd = Double.MaxValue; var i = 0
                    while (i < sp.childCenters.length) {
                      val d = dist2(v, sp.childCenters(i))
                      if (d < bd) { bd = d; best = i }; i += 1
                    }
                    (id, sp.childIds(best), v)
                }
              }.toDF("vec_id", "cell", "v")
        // materialize per round: the next round's size check and sample
        // both consume it (the multi-consumer re-execution class)
        cur = refined.localCheckpoint(true)
        round += 1
      }
    }
    if (round == 0) (assigned, centers) else (cur, cents.toArray)
  }

  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Build the inverted file: train centroids on a BOUNDED deterministic
    * sample (hash-ordered top-N — centroid quality is insensitive to the
    * sample once it's a few hundred per cell, and a full-corpus fit would
    * be 10 passes over 100 TB), then assign every vector to its nearest
    * cell (typed kernel, centers broadcast — ONE pass over the corpus).
    *
    * `nlist <= 0` derives ~√n cells from the corpus size (`autoNlist`).
    * With `atRestPath` set, the assignment is WRITTEN partitioned by
    * `cell` and read back — the inverted file as a persisted artifact
    * whose probe reads only the probed cells' files; otherwise it is
    * memory/disk-persisted for the session.
    */
  def buildIvfIndex(vectors: DataFrame, nlist: Int = 0, seed: Long = 42,
                    trainSample: Int = 10000,
                    atRestPath: Option[String] = None,
                    maxCell: Int = defaultMaxCell): IvfIndex = {
    val spark = vectors.sparkSession
    import spark.implicits._

    val feats = vectors.select(col("vec_id").cast("long"),
      col("embedding").cast("array<double>").as("v"))
    val k = if (nlist > 0) nlist else autoNlist(feats.count())
    // xxhash64 order = deterministic pseudo-random sample; TakeOrdered
    // ships only trainSample rows per partition to one reducer. Centroids
    // are fit by the same driver-side fixed-iteration Lloyd as the PQ
    // codebooks: the sample is bounded by contract (√n · ~100s of rows),
    // the fit is sequential arithmetic — bit-stable across any cluster
    // layout AND ~5x faster cold than a distributed KMeans on a sample
    // this size (measured 5.4 s → <4 s cold e06; a 10-pass spark.ml fit
    // only pays off when the training set itself cannot fit one node).
    val train = feats.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(trainSample)
      .as[(Long, Array[Double])].collect().map(_._2)
    val centers = lloyd(train, k, iters = 10)
    val bc = spark.sparkContext.broadcast(centers)
    val assignedRaw = feats.as[(Long, Array[Double])]
      .map { case (id, v) =>
        val cs = bc.value
        var best = 0; var bd = Double.MaxValue
        var i = 0
        while (i < cs.length) { val d = dist2(v, cs(i)); if (d < bd) { bd = d; best = i }; i += 1 }
        (id, best, v)
      }
      .toDF("vec_id", "cell", "v")
    atRestPath match {
      case Some(p) =>
        // repartition on cell first: otherwise every write task emits one
        // file per cell it happens to hold (tasks × cells small files);
        // hash-clustered, the at-rest layout is ~one file per cell, which
        // is both the fast commit path and the layout the pruned probe
        // wants to read. The shuffle is one pass over (id, cell, vec).
        assignedRaw.repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(p)
        val onDisk = spark.read.parquet(p)
        // cell-size cap AFTER the materialization: the no-split common
        // case costs one per-cell count over the written files, nothing
        // else; a split rewrites the refined layout to a sibling dir
        val (refined, cents2) = enforceMaxCell(onDisk, centers, maxCell)
        // parquet metadata count — no data scan
        if (refined eq onDisk) IvfIndex(centers, onDisk, Some(p), onDisk.count())
        else {
          val p2 = p + "-split"
          refined.repartition(col("cell"))
            .write.mode("overwrite").partitionBy("cell").parquet(p2)
          val onDisk2 = spark.read.parquet(p2)
          IvfIndex(cents2, onDisk2, Some(p2), onDisk2.count())
        }
      case None =>
        val persisted =
          assignedRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (refined, cents2) = enforceMaxCell(persisted, centers, maxCell)
        if (refined eq persisted) IvfIndex(centers, persisted, None, persisted.count())
        else {
          // refined is already localCheckpoint-materialized round by round
          persisted.unpersist()
          val kept =
            refined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          IvfIndex(cents2, kept, None, kept.count())
        }
    }
  }

  /** Nearest-centroid classification with INTEGER-exact arithmetic — the
    * labeled-embedding companion to the IVF assignment kernel: per-label
    * centroids are integer means of dimension-wise quantized coordinates
    * (floor((x+1)·10⁶) — the +1 shift keeps every value positive so
    * truncating and flooring division agree across engines), and every
    * vector is assigned to the centroid with the smallest exact integer
    * squared distance, ties to the smallest label. One corpus-scale
    * shuffle (the centroid groupBy); classification itself is a
    * broadcast-kernel pass with NO shuffle — the k×dim centroid matrix
    * (~640 longs here) rides the closure exactly like the IVF centers.
    * Every quantity is a pure integer function of the data, so a SQL
    * oracle reproduces the confusion matrix cell-for-cell.
    *
    * Returns (label, predicted, n) — the confusion matrix in long form.
    */
  def centroidClassify(vectors: DataFrame, quantScale: Long = 1000000L): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val q = vectors
      .select(col("vec_id").cast("long"), col("label").cast("int"),
        posexplode(col("embedding").cast("array<double>")))
      .toDF("vec_id", "label", "i", "e")
      // the +1 shift only de-signs coordinates >= -1; below that the
      // quantized value goes negative, where Spark's `div` (truncate)
      // and DuckDB's `//` (floor) disagree — fail loudly instead of
      // silently diverging from the oracle. assert_true is NULL on pass,
      // so folding it into v via coalesce keeps it un-prunable.
      .withColumn("v",
        (floor((col("e") + lit(1.0)) * lit(quantScale)) +
          coalesce(expr("assert_true(e >= -1.0D, 'centroidClassify: embedding " +
            "coordinate < -1 breaks Spark/DuckDB integer-division parity')"),
            lit(0.0))).cast("long"))
    // k×dim integer centroid matrix — sketch-sized, contractual collect
    val centRows = q.groupBy("label", "i")
      .agg(expr("sum(v) div count(1)").as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val labels = centRows.map(_._1).distinct.sorted
    val dim = centRows.map(_._2).max + 1
    val cents: Array[(Int, Array[Long])] = labels.map { l =>
      val arr = new Array[Long](dim)
      centRows.foreach { case (ll, i, c) => if (ll == l) arr(i) = c }
      (l, arr)
    }
    val bc = spark.sparkContext.broadcast(cents)
    vectors
      .select(col("label").cast("int"), col("embedding").cast("array<double>"))
      .as[(Int, Array[Double])]
      .map { case (label, emb) =>
        val cs = bc.value
        val v = new Array[Long](emb.length)
        var i = 0
        while (i < emb.length) {
          // the +1 shift only keeps the quantized value nonnegative (where
          // Spark's `div` and DuckDB's `//` agree) for coordinates >= -1;
          // fail loudly instead of silently diverging from the oracle
          require(emb(i) >= -1.0,
            s"centroidClassify requires every embedding coordinate >= -1.0 " +
              s"(got ${emb(i)} at dim $i): integer division parity breaks below -1")
          v(i) = math.floor((emb(i) + 1.0) * quantScale).toLong; i += 1
        }
        var bestLabel = cs(0)._1
        var bestDist = Long.MaxValue
        cs.foreach { case (l, c) =>
          var d = 0L; var j = 0
          while (j < v.length) { val x = v(j) - c(j); d += x * x; j += 1 }
          if (d < bestDist || (d == bestDist && l < bestLabel)) { bestDist = d; bestLabel = l }
        }
        (label, bestLabel)
      }
      .toDF("label", "predicted")
      .groupBy("label", "predicted").agg(count(lit(1)).as("n"))
  }

  /** Incremental APPEND — the nightly-ingest path: assign new vectors to
    * the EXISTING centroids (one typed pass, the same nearest-cell kernel
    * as the build) and add them to the inverted file, leaving the trained
    * centroids untouched. At-rest indexes append new files into the
    * existing cell directories (`mode=append` under the same
    * `partitionBy(cell)` layout, so the probe's partition pruning keeps
    * working unchanged); in-memory indexes union the assignment frames.
    * Centroid drift is the standard IVF trade: appended data the training
    * distribution didn't cover degrades cell balance, so re-train when
    * the max/median cell-size skew crosses a threshold — the append
    * itself never requires touching the existing files. Probe results
    * are EXACTLY those of a one-pass assignment of the full corpus under
    * the same centers (SimilaritySpec asserts equality).
    */
  def appendToIvf(index: IvfIndex, vectors: DataFrame): IvfIndex = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(index.centers)
    val assignedNew = vectors
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        val cs = bc.value
        var best = 0; var bd = Double.MaxValue
        var i = 0
        while (i < cs.length) { val d = dist2(v, cs(i)); if (d < bd) { bd = d; best = i }; i += 1 }
        (id, best, v)
      }
      .toDF("vec_id", "cell", "v")
    index.path match {
      case Some(p) =>
        assignedNew.repartition(col("cell"))
          .write.mode("append").partitionBy("cell").parquet(p)
        val onDisk = spark.read.parquet(p)
        index.copy(assigned = onDisk, nVectors = onDisk.count())
      case None =>
        if (index.nVectors >= 0L) {
          // carry the materialized count FORWARD instead of dropping to
          // -1: resetting would put an appended fixed-nlist in-memory
          // index back on the nlist² sizing law — the exact e14-class
          // underestimate the nVectors field exists to fix (corpus grows,
          // nlist fixed, probe parks on the corpus-shuffle side). The
          // appended side is the small one by contract; checkpointing it
          // makes the count here and the union's probe-time reads share
          // ONE materialization, so nothing re-executes per append.
          val mat = assignedNew.localCheckpoint(true)
          index.copy(assigned = index.assigned.unionByName(mat),
            nVectors = index.nVectors + mat.count())
        } else
          // unknown base count stays unknown — the fully-lazy form falls
          // back to the nlist² law at probe time (right for
          // autoNlist-sized indexes, the in-memory case)
          index.copy(assigned = index.assigned.unionByName(assignedNew),
            nVectors = -1L)
    }
  }

  /** The distinct cells a probe of `queries` touches (nprobe nearest
    * centroids per query) — the literal values the corpus scan is pruned
    * to. Computed distributed (queries may be the whole corpus in
    * self-ANN); only ≤ nlist cell ids come back to the driver.
    */
  def probedCells(index: IvfIndex, queries: DataFrame, nprobe: Int): Array[Int] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(index.centers)
    queries.select(col("embedding").cast("array<double>").as("qv"))
      .as[Array[Double]]
      .flatMap { v =>
        val cs = bc.value
        cs.indices.map(i => (dist2(v, cs(i)), i)).sorted.take(nprobe).map(_._2)
      }
      .distinct().collect().sorted
  }

  /** 64 MB cap for broadcasting a probe/candidate side — the local-mode
    * analog of a sane executor broadcast budget (matches the session's
    * autoBroadcastJoinThreshold in Bench).
    */
  private val maxProbeBroadcastBytes = 64L << 20

  /** Broadcast the probe side only when the corpus it would otherwise
    * shuffle dwarfs it. Measured at sf10 local[32] (200k vectors, the
    * gate's 10k-query fixed-fraction slice, median-of-3): corpus ≈ 5×
    * probe bytes → the shuffle join wins (2.99 s vs 3.93 s — locally a
    * ~100 MB corpus shuffle is a memory copy while the broadcast build
    * is ~1 s of fixed driver work). On a cluster the corpus shuffle is
    * network-bound and grows with n while the probe broadcast cost is
    * constant, so once corpusBytes ≥ 16× probeBytes the broadcast is
    * the plan you want — production batches (small |queries|, 10⁹-
    * vector corpus) sit far past the crossover; the recall gates' exact
    * nprobe=nlist arm (probe side = queries×nlist, over the 64 MB cap)
    * and the sf10 gate slice (ratio ~5) stay on the shuffle join.
    */
  private val probeBroadcastRatio = 16L

  private[operators] def maybeBroadcastProbe(probes: DataFrame, dim: Int,
                                             nlist: Int, nVectors: Long = -1L): DataFrame = {
    val rowBytes = dim * 8L + 24L // qv doubles + (query_id, cell) + overhead
    val probeBytes = probes.count() * rowBytes // cheap: eager checkpoint
    // corpus size: the index's materialized count when it carries one
    // (r13 — a FIXED-nlist index over a grown corpus breaks the law
    // below by the corpus/nlist² ratio: e14 at sf10 is 200k vectors in
    // 16 cells, 781x, which parked its full probe on the corpus-shuffle
    // side); else the IVF sizing law nlist ≈ √n — exact enough for
    // autoNlist-sized indexes, and the 4096 clamp only UNDERestimates
    // huge corpora, which errs toward broadcast, the side that's right
    // there
    val corpusBytesEst =
      if (nVectors >= 0) nVectors * rowBytes
      else nlist.toLong * nlist * rowBytes
    if (probeBytes <= maxProbeBroadcastBytes &&
        corpusBytesEst >= probeBroadcastRatio * probeBytes) broadcast(probes)
    else probes
  }

  /** Probe the index: each query ranks candidates from its nprobe nearest
    * cells only — the recall/throughput dial for billion-vector corpora.
    * The corpus side is filtered to the probed cells' LITERAL values, so
    * a cell-partitioned at-rest index gets static partition pruning (the
    * scan reads nprobe/nlist of the files — asserted in SimilaritySpec).
    */
  def probeIvf(index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(index.centers)
    // checkpointed so the centroid ranking runs ONCE over the query side —
    // it feeds both the probed-cell list and the candidate join (the
    // query side is the small side by contract, so the materialized size
    // is bounded by |queries|·nprobe rows). localCheckpoint over persist:
    // the cells collect() below forces it immediately anyway, and the
    // blocks are released with the frame instead of sitting in the
    // session cache until an unpersist nobody owns
    val probes = queries
      .select(col("vec_id").cast("long").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        val cs = bc.value
        cs.indices.map(i => (dist2(v, cs(i)), i)).sorted.take(nprobe)
          .map { case (_, cell) => (id, cell, v) }
      }
      .toDF("query_id", "cell", "qv")
      .localCheckpoint(true)

    // prune the corpus scan to the probed cells (a no-op reduction when
    // every cell is probed, a file-skipping literal filter otherwise)
    val cells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    val corpus =
      if (cells.length == index.centers.length) index.assigned
      else index.assigned.filter(col("cell").isin(cells.map(Integer.valueOf): _*))

    // scoring via the native codegen'd cosine_sim expression: the join
    // output stays in Tungsten rows (no Dataset encode/decode boundary)
    // and the dot+norms run as one fused generated loop; arithmetic order
    // matches the former typed kernel, so results are bit-identical
    graft.plans.GraftExtensions.register(spark)
    // BROADCAST the probe side when it is genuinely small (the
    // production contract: |queries|·nprobe rows): hash-joining on cell
    // would shuffle the CORPUS, the one thing a 10^9-vector read path
    // must never do per query batch. With the broadcast the candidate
    // scan is shuffle-free; the only exchange left in the probe is the
    // per-query top-k window. The guard (see maybeBroadcastProbe) keeps
    // the recall gates' exact nprobe=nlist arm and low-corpus/probe-
    // ratio slices on the shuffle join, where measurement says it wins.
    val probeSide = maybeBroadcastProbe(probes,
      index.centers.headOption.map(_.length).getOrElse(64), index.centers.length,
      index.nVectors)
    val scored = probeSide.join(corpus, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        call_function("cosine_sim", col("qv"), col("v")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
  }

  /** Self-ANN convenience: build + probe in one call. */
  def ivfKnn(vectors: DataFrame, k: Int, nlist: Int = 0, nprobe: Int = 4,
             seed: Long = 42): DataFrame =
    probeIvf(buildIvfIndex(vectors, nlist, seed), vectors, k, nprobe)

  /** SemDeDup (Abbas et al., arXiv:2303.09540) — semantic dedup at corpus
    * scale: k-means-cluster the embeddings, search for near-duplicate
    * pairs ONLY within each cluster, collapse the pair graph to
    * connected components, and keep one representative per component.
    * The within-cluster restriction is the whole point: it turns the
    * all-pairs O(n²) cosine join (the e01/d07 shape, fine for a small
    * query side, fatal for corpus-vs-corpus) into Σ|cell|² work — with
    * `nlist` sized so cells hold ~10⁴-10⁵ vectors (the paper runs 50k
    * clusters over LAION), each cell's pair search fits one task and the
    * corpus is touched by exactly one shuffle (on `cell`). Recall is the
    * standard SemDeDup trade: near-dups that k-means separates are
    * missed; dial `nlist` down (bigger cells) to trade cost for recall.
    * `maxCell` (see `enforceMaxCell`) recursively splits any cell above
    * the cap, so the candidate volume stays ≤ n·maxCell — linear —
    * even where autoNlist's fit-feasibility clamp would let cells grow
    * with the corpus.
    *
    * Keep rule: within each near-dup component the member FARTHEST from
    * its cluster centroid survives (the paper's low-centroid-similarity
    * representative — it keeps the outlier and drops the redundant core),
    * ties broken by min vec_id. Vectors in no component keep themselves.
    *
    * Clustering reuses the deterministic bounded-sample Lloyd fit of the
    * IVF index (bit-stable across any partitioning), so the output is a
    * pure function of the data — goldenable.
    *
    * Returns (vec_id, cell, group_id, keep).
    */
  def semDedup(vectors: DataFrame, threshold: Double, nlist: Int = 0,
               seed: Long = 42, trainSample: Int = 10000,
               maxCell: Int = defaultMaxCell): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val feats = vectors.select(col("vec_id").cast("long"),
      col("embedding").cast("array<double>").as("v"))
    val k = if (nlist > 0) nlist else autoNlist(feats.count())
    val train = feats.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(trainSample)
      .as[(Long, Array[Double])].collect().map(_._2)
    val centers = lloyd(train, k, iters = 10)
    val bc = spark.sparkContext.broadcast(centers)
    // one pass: nearest cell + distance to own centroid (the keep key)
    val assigned0 = feats.as[(Long, Array[Double])]
      .map { case (id, v) =>
        val cs = bc.value
        var best = 0; var bd = Double.MaxValue
        var i = 0
        while (i < cs.length) { val d = dist2(v, cs(i)); if (d < bd) { bd = d; best = i }; i += 1 }
        (id, best, bd, v)
      }
      .toDF("vec_id", "cell", "cdist", "v")
      // pre-partition on the pair-join key and checkpoint WITH the
      // partitioning kept (Checkpoints.partitioned, the r10 AQE find):
      // the within-cell self-join below then consumes both sides from
      // one cell-partitioned materialization — zero exchanges in the
      // Σ|cell|² candidate scan, the operator's dominant work
      .repartition(col("cell"))
      .transform(graft.ops.Checkpoints.partitioned) // feeds both join sides + the keep ranking
    // cell-size cap: Σ|cell|² ≤ n·maxCell keeps the candidate scan
    // linear at any corpus size (the autoNlist 4096 clamp alone lets it
    // degrade to n²/4096 past ~16.7M vectors). No-split common case is
    // one per-cell count over the checkpoint; a split updates cdist to
    // the LEAF centroid (the paper's keep key is distance to the
    // member's own cluster centroid, which after refinement is the leaf)
    val (refined, _) = enforceMaxCell(assigned0, centers, maxCell)
    val assigned =
      if (refined eq assigned0) assigned0
      else refined.repartition(col("cell")).transform(graft.ops.Checkpoints.partitioned)
    graft.plans.GraftExtensions.register(spark)
    val pairs = assigned.select(col("vec_id").as("doc_a"), col("cell"), col("v").as("va"))
      .join(assigned.select(col("vec_id").as("doc_b"), col("cell"), col("v").as("vb")), "cell")
      .filter(col("doc_a") < col("doc_b"))
      .filter(call_function("cosine_sim", col("va"), col("vb")) >= threshold)
      .select("doc_a", "doc_b")
    val groups = Dedup.dupClusters(pairs)
      .withColumnRenamed("doc_id", "vec_id")
      .withColumnRenamed("cluster_id", "group_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id").orderBy(col("cdist").desc, col("vec_id").asc)
    assigned.select("vec_id", "cell", "cdist")
      .join(groups, Seq("vec_id"), "left")
      .withColumn("group_id", coalesce(col("group_id"), col("vec_id")))
      .withColumn("keep", row_number().over(w) === 1)
      .select("vec_id", "cell", "group_id", "keep")
  }

  /** Johnson-Lindenstrauss random projection to `outDims` dimensions with
    * a deterministic Rademacher (±1) matrix: sign(i,j) = parity of the
    * first 16 bits of md5("i_j") — arithmetic, not stored, so any engine
    * (and any executor) reproduces the identical matrix from nothing.
    * Inputs are integer-quantized (floor(x*1000)) first, making every
    * output coordinate an exact BIGINT dot product — live-oracle-able.
    *
    * Scale shape: one narrow map pass over the corpus (matrix broadcast,
    * ~dims² longs); no shuffle. At 100 TB this is the cheap first stage
    * that cuts downstream ANN/dedup cost by d/outDims while preserving
    * pairwise distances to (1±ε) with high probability (the JL lemma).
    *
    * Returns (vec_id, j, val) — one row per output coordinate.
    */
  def randomProjection(vectors: DataFrame, outDims: Int = 16): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val inDims = vectors.select(size(col("embedding"))).first().getInt(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    def sgn(i: Int, j: Int): Long = {
      val h = md.digest(s"${i}_${j}".getBytes("UTF-8"))
      val v = ((h(0) & 0xff) << 8) | (h(1) & 0xff) // first 4 hex chars
      if (v % 2 == 0) 1L else -1L
    }
    val mat = Array.tabulate(inDims, outDims)(sgn)
    val bc = spark.sparkContext.broadcast(mat)
    quantized(vectors).as[(Long, Array[Long])]
      .flatMap { case (id, qv) =>
        val m = bc.value
        (0 until outDims).iterator.map { j =>
          var s = 0L
          var i = 0
          while (i < qv.length && i < m.length) { s += qv(i) * m(i)(j); i += 1 }
          (id, j, s)
        }
      }
      .toDF("vec_id", "j", "val")
  }

  private val indexCache =
    scala.collection.concurrent.TrieMap.empty[(Int, String, Int, Long), IvfIndex]

  /** Build-once / probe-many form: the index for (key, nlist, seed) is
    * built on first use and reused for the session — the production
    * shape: the inverted file is written to `atRestDir` partitioned by
    * `cell`, and a query only pays the nprobe/nlist probe (with file
    * pruning, see probeIvf).
    *
    * Cache safety: the key includes the session identity, and a hit is
    * only served when its `assigned` still belongs to the calling
    * session — an index built by a stopped session is rebuilt, never
    * served stale. Every build writes to a UNIQUE immutable subdirectory
    * (session identity + a monotone build counter in the path), so a
    * second session — or even another process, the counter is seeded
    * from the PID — rebuilding the same key can never overwrite files a
    * live index's lazily-evaluated probes still read; superseded build
    * dirs are cheap parquet left for tmp cleanup (production would fence
    * and garbage-collect via the object store's versioning).
    * `invalidateIvfIndex` drops an entry when the files under `key`
    * change mid-session. The per-cache-key lock only dedups concurrent
    * same-session builds.
    */
  private val buildLocks =
    scala.collection.concurrent.TrieMap.empty[(Int, String, Int, Long), Object]
  private val buildCounter = new java.util.concurrent.atomic.AtomicLong(0)

  def ivfIndexFor(vectors: DataFrame, key: String, nlist: Int = 0,
                  seed: Long = 42,
                  atRestDir: String = "/tmp/graft_ivf"): IvfIndex = {
    val session = vectors.sparkSession
    val ck = (System.identityHashCode(session), key, nlist, seed)
    def fresh(idx: IvfIndex): Boolean = idx.assigned.sparkSession eq session
    def cached: Option[IvfIndex] = indexCache.get(ck).filter(fresh)
    cached.getOrElse {
      val lock = buildLocks.getOrElseUpdate(ck, new Object)
      lock.synchronized {
        cached.getOrElse { // double-checked: a racer may have built it
          indexCache.remove(ck)
          // sweep entries owned by stopped sessions (and their lock
          // objects): a long-lived JVM cycling many sessions otherwise
          // accumulates dead locks and stale IvfIndex entries that `fresh`
          // filters but never evicts. Our own ck's session is live, so the
          // sweep can't remove the lock we hold.
          indexCache.foreach { case (k, idx) =>
            if (idx.assigned.sparkSession.sparkContext.isStopped) {
              indexCache.remove(k)
              buildLocks.remove(k)
            }
          }
          val pid = ProcessHandle.current().pid()
          val path = s"$atRestDir/${key.replaceAll("[^A-Za-z0-9._-]", "_")}-$nlist-$seed/" +
            s"build-$pid-${System.identityHashCode(session)}-${buildCounter.incrementAndGet()}"
          val built = buildIvfIndex(vectors, nlist, seed, atRestPath = Some(path))
          indexCache.put(ck, built)
          built
        }
      }
    }
  }

  /** Drop a cached index (e.g. the dataset under `key` was rewritten). */
  def invalidateIvfIndex(key: String, nlist: Int = 0, seed: Long = 42): Unit =
    indexCache.filterKeys { case (_, k, n, sd) => k == key && n == nlist && sd == seed }
      .keys.foreach { ck =>
        indexCache.remove(ck).foreach { idx =>
          if (idx.path.isEmpty) idx.assigned.unpersist()
        }
      }

  /** Evenly-spread LSH coordinate ladder for `inDims`-dimensional
    * vectors: 8 stride-spaced coordinates, then their midpoints, then the
    * quarter-points, eighth-points, … — any PREFIX of the ladder is
    * itself an evenly-spread coordinate set, so growing the bit count
    * REFINES buckets without reshuffling the leading bits (an 8-bit
    * bucket is the prefix of the same vector's 16-bit bucket). The first
    * 8 entries reproduce the historical fixed default (1,9,…,57 at 64
    * dims), which keeps every sub-524k-vector result byte-identical to
    * rounds ≤ 11.
    *
    * Offsets walk the van der Corput (binary bit-reversal) sequence
    * scaled by the stride — 0, s/2, s/4, 3s/4, s/8, 5s/8, 3s/8, 7s/8, …
    * — whose first four terms ARE the pre-r13 hand-written offset list,
    * so the ladder's first 32 entries (at 64 dims) are unchanged and
    * every historical result stays byte-identical. The deeper levels
    * (r13) extend the ladder to EVERY coordinate (64 entries at 64
    * dims): at 12+ occupancy-law bits the multi-table OR-construction
    * (e18) now fits 4+ disjoint slices instead of saturating at 2 —
    * the recall lever stays live exactly where approximate search
    * needs it (the round-12 verdict's one named quality gap).
    */
  def lshDimLadder(inDims: Int): Seq[Int] = {
    val stride = math.max(1, inDims / 8)
    // enumerate radical inverses num/den for every den up to 2x the next
    // power of two >= stride: their floor(.*stride) values cover every
    // offset in [0, stride) because consecutive fractions are spaced
    // under 1/stride apart; distinct keeps first-occurrence (coarsest-
    // level) order, which is what makes every prefix evenly spread
    val offsets = (0 until 2 * Integer.highestOneBit(math.max(stride, 1)) * 2)
      .map { i =>
        var num = 0L; var den = 1L; var x = i
        while (x > 0) { num = num * 2 + (x & 1); den *= 2; x >>= 1 }
        ((num * stride) / den).toInt
      }
      .distinct.filter(_ < stride)
    for (off <- offsets; j <- 0 until 8; d = j * stride + off + 1 if d <= inDims)
      yield d
  }

  /** The autoNlist analog for LSH: enough sign bits that the EXPECTED
    * bucket occupancy n/2^bits stays ≈ `targetBucket`, clamped to
    * [8, min(24, ladder length)]. Fixed bits made the per-bucket exact
    * scan occupancy-quadratic in n (measured 3.1× then 8.8× per decade at
    * 2⁸ buckets — SCALING.md's one accelerating curve); under the law the
    * expected per-bucket work is constant and the total linear. Pure
    * integer arithmetic (smallest b with targetBucket·2^b ≥ n, via the
    * bit length of ceil(n/target)−1) so DuckDB replays it exactly —
    * no log2 ulp seam. The default target 64 is ~12× e04's k=5 (ample
    * exact-rerank candidates for a single-table LSH) while keeping
    * total work n·occupancy ≈ 64n; ≤ 16384 vectors → the 8-bit floor,
    * byte-identical to the historical default (every oracle SF).
    */
  def autoLshBits(n: Long, inDims: Int, targetBucket: Int = 64): Int = {
    val m = (math.max(n, 1L) + targetBucket - 1) / targetBucket // ceil(n/target)
    val needed = if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    // both clamp ends respect the ladder: an embedding narrower than 8
    // dims caps the floor too (every coordinate used), instead of
    // reporting 8 bits a 4-coordinate ladder cannot supply
    val cap = math.min(24, lshDimLadder(inDims).length)
    math.max(math.min(8, cap), math.min(cap, needed))
  }

  /** LSH-bucketed ANN: candidates share the sign-bit bucket; per-bucket
    * top-k via a typed groupByKey kernel (the scale path — buckets
    * partition the corpus, so no all-pairs blow-up). With `dims` empty
    * (the default) the bit count is derived from the corpus size by
    * `autoLshBits` over the `lshDimLadder` prefix — the engine turns the
    * occupancy dial itself instead of documenting it as a deployment
    * knob; the salt guard stays as the backstop for individual hot
    * buckets the expected-occupancy law cannot see.
    *
    * Hot-bucket guard: a bucket larger than `maxBucket` is split by a
    * secondary hash of vec_id into ceil(n/maxBucket) sub-buckets, so one
    * dense sign-bucket can neither OOM its task (the kernel buffers one
    * group) nor go quadratic — the worst group is maxBucket², at the cost
    * of hot-bucket queries only seeing their sub-bucket's candidates
    * (recall within an already-coarse bucket; asserted in
    * SimilaritySpec). Buckets at or under the cap keep salt 0 and are
    * byte-identical to the unguarded path.
    */
  def lshKnn(vectors: DataFrame, k: Int, dims: Seq[Int] = Nil,
             maxBucket: Int = 4096, targetBucket: Int = 64): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // ONE materialization of the (id, vector) projection up front (the
    // lshKnnMulti layout): the law's count + dims probe, the bucket hash,
    // the size aggregation and the join probe side all read these blocks —
    // the upstream plan executes exactly once however many consumers
    // follow (pre-r13 the auto-dims path ran it three times: count(),
    // first(), then the bucketed scan). This also makes the builder EAGER
    // even with explicit dims — documented behavior since the auto-dims
    // default landed (r12): callers needing laziness pass dims explicitly
    // to a pre-materialized frame. localCheckpoint over persist so the
    // blocks don't accumulate in the session cache. The sign bits are
    // computed on the double-cast vector — sign is exact under widening,
    // so buckets are byte-identical to hashing the raw column.
    val proj = vectors
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(true)
    val useDims =
      if (dims.nonEmpty) dims
      else {
        // the count/dims probes read checkpoint blocks, not the upstream
        // plan; an empty frame short-circuits to any valid dims (the
        // result is empty anyway) — first() on it would throw.
        val n = proj.count()
        if (n == 0) Seq(1)
        else {
          val inDims = proj.select(size(col("v"))).first().getInt(0)
          lshDimLadder(inDims).take(autoLshBits(n, inDims, targetBucket))
        }
      }
    // derived from the checkpointed blocks — re-evaluating the bucket
    // hash per consumer is a row-local pass over local blocks, so no
    // second checkpoint is needed
    val bucketed = proj
      .select(col("vec_id"), signBucket(col("v"), useDims).as("bucket"), col("v"))
    // one row per non-empty bucket — joined back on the same key the
    // group-by shuffles on, so no extra partitioning axis is introduced
    val sizes = bucketed.groupBy("bucket").agg(count(lit(1)).as("bn"))
    bucketed.join(sizes, "bucket")
      .withColumn("salt",
        when(col("bn") <= maxBucket, lit(0L))
          .otherwise(pmod(xxhash64(col("vec_id")), ceil(col("bn") / maxBucket).cast("long"))))
      .select(col("vec_id"), concat_ws("#", col("bucket"), col("salt")).as("gkey"), col("v"))
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
            .take(k).zipWithIndex
            .map { case ((nid, c), r) => (qid, nid, (r + 1).toLong, c) }
        }
      }
      .toDF("query_id", "neighbor_id", "rank", "cos")
  }

  /** Multi-table sign-bit LSH ANN — the standard recall lever over e04's
    * single table (the classic L-table OR-construction): table t buckets
    * on the DISJOINT `lshDimLadder` coordinate slice
    * [t·bitsPerTable, (t+1)·bitsPerTable), a candidate pair is any pair
    * sharing ANY table's bucket, and the union is exactly reranked by
    * cosine. Table 0's slice IS e04's 8-bit prefix, so the candidate set
    * is a SUPERSET of the single-table one — recall@k is ≥ e04's by
    * construction (spec-pinned), at L× the bucket-join work.
    *
    * Plan: the corpus explodes to L table-tagged rows, ONE self-join on
    * the composite (table, bucket) key yields every table's directed
    * candidate pairs, distinct-by-(query, neighbor) dedups cross-table
    * repeats, and the vectors re-attach BY ID for the exact rerank (two
    * hash joins on vec_id — candidate rows carry 16 bytes of ids, never
    * duplicated vector payloads, so the L-fold explosion ships keys, not
    * embeddings). Candidate volume ≤ L · occupancy per query; the e04
    * hot-bucket salt guard applies per (table, bucket) key.
    *
    * COUNTER-EXAMPLE kept for the record (the d08/d12 discipline): a
    * per-group typed-kernel form — vectors ride the explode once, each
    * (table, bucket, salt) group resolves its exact top-k in the lshKnn
    * kernel, global top-k over the deduped union of per-group top-ks
    * (provably byte-identical under the strict (cos desc, id asc)
    * order; spec-pinned equal) — measured SLOWER same-day interleaved
    * at sf10: kernel 15.7/24.9 s vs pair join 14.1/14.3/9.7 s
    * (dedicated medians). The Dataset encode/decode boundary and the
    * per-group member-array materialization cost more than the
    * codegen'd join pipeline saves — d08's mapPartitions lesson in
    * multi-table costume. The pair join is spec-pinned byte-identical
    * against it (References.lshKnnMultiKernel).
    *
    * With `bitsPerTable <= 0` (the default) the PER-TABLE bit count
    * follows the same `autoLshBits` occupancy law as e04, and the table
    * count yields to it: tables = min(requested, ladder/bits). The
    * recall/cost dial therefore trades TABLES, never occupancy — a
    * fixed-bits L-table form measured 258.6 s at sf10 (4 tables x the
    * occupancy-squared knee the e04 law removed) vs the law's bounded
    * per-bucket work. Table 0's slice is ALWAYS e04-auto's prefix, so
    * the candidate-superset property holds at every scale.
    */
  def lshKnnMulti(vectors: DataFrame, k: Int, tables: Int = 4,
                  bitsPerTable: Int = 0, maxBucket: Int = 4096,
                  targetBucket: Int = 64): DataFrame =
    multiTableBuckets(vectors, tables, bitsPerTable, targetBucket) match {
      case Some((emb, bucketArr)) =>
        multiPairJoin(vectors.sparkSession, emb, bucketArr, k, maxBucket)
      case None =>
        vectors.sparkSession.emptyDataFrame
          .withColumn("query_id", lit(0L)).withColumn("neighbor_id", lit(0L))
          .withColumn("rank", lit(0L)).withColumn("cos", lit(0.0))
          .limit(0)
    }

  /** [[lshKnnMulti]]'s set-up, shared with the test-scope kernel
    * reference: the materialized (vec_id, v) projection and the
    * per-table bucket-key array column, or None for an empty corpus.
    */
  private[graft] def multiTableBuckets(vectors: DataFrame, tables: Int,
      bitsPerTable: Int, targetBucket: Int): Option[(DataFrame, Column)] = {
    // ONE materialization of the (id, vector) projection: the law's
    // count, the bucket build, and BOTH rerank join sides read it —
    // without this the upstream corpus plan re-executes up to 4x (the
    // d08/q46 multi-consumer class this file checkpoints everywhere)
    val emb = vectors.select(col("vec_id").cast("long"),
      col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(true)
    val n = emb.count()
    if (n == 0) return None
    val inDims = emb.select(size(col("v"))).first().getInt(0)
    val ladder = lshDimLadder(inDims)
    val bits =
      if (bitsPerTable > 0) bitsPerTable
      else autoLshBits(n, inDims, targetBucket)
    val effTables = math.max(1, math.min(tables, ladder.length / bits))
    require(effTables * bits <= ladder.length,
      s"$effTables x $bits bits exceed the ${ladder.length}-coordinate ladder")
    val bucketArr = array((0 until effTables).map(t =>
      signBucket(col("v"),
        ladder.slice(t * bits, (t + 1) * bits))): _*)
    Some((emb, bucketArr))
  }

  /** The pair-join plan of [[lshKnnMulti]] (see its doc).
    * `emb` must be the materialized (vec_id, v) projection and
    * `bucketArr` the per-table bucket-key array column.
    */
  private def multiPairJoin(spark: SparkSession, emb: DataFrame,
      bucketArr: Column, k: Int, maxBucket: Int): DataFrame = {
    // keys only past this point; checkpointed — feeds the size aggregate
    // and both self-join sides (multi-consumer class)
    val bucketed = emb
      .select(col("vec_id"), posexplode(bucketArr))
      .select(col("vec_id"), concat_ws("#", col("pos"), col("col")).as("tkey"))
      .localCheckpoint(true)
    val sizes = bucketed.groupBy("tkey").agg(count(lit(1)).as("bn"))
    val salted = bucketed.join(sizes, "tkey")
      .withColumn("gkey", concat_ws("#", col("tkey"),
        when(col("bn") <= maxBucket, lit(0L))
          .otherwise(pmod(xxhash64(col("vec_id")),
            ceil(col("bn") / maxBucket).cast("long")))))
      .select(col("vec_id"), col("gkey"))
    val a = salted.alias("a"); val b = salted.alias("b")
    val cand = a.join(b,
        col("a.gkey") === col("b.gkey") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"))
      .distinct()
    graft.plans.GraftExtensions.register(spark)
    val scored = cand
      .join(emb.select(col("vec_id").as("query_id"), col("v").as("qv")), "query_id")
      .join(emb.select(col("vec_id").as("neighbor_id"), col("v").as("nv")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        call_function("cosine_sim", col("qv"), col("nv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Scalar int8 quantization of an embedding column — the 4× memory
    * cut that makes a billion-vector ANN corpus fit executor RAM (codes
    * ship over the shuffle; reconstruction happens at score time). One
    * typed-kernel pass per vector: per-vector (min, max) → 255-step
    * scale → codes, plus the integer-quantized reconstruction error
    * (floor(|x − recon|·1e7)) so quality is auditable with exact
    * cross-engine arithmetic (every op — sub, div, round, mul, abs,
    * floor — is IEEE-exact, so DuckDB reproduces the sums bit-for-bit).
    * Degenerate constant vectors quantize to all-zero codes.
    *
    * Returns (vec_id, code_sum, code_max, err_q) — the audit projection;
    * production would carry the code array itself.
    */
  def int8Quantize(vectors: DataFrame): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        var mn = Float.MaxValue; var mx = Float.MinValue
        var i = 0
        while (i < v.length) { val x = v(i); if (x < mn) mn = x; if (x > mx) mx = x; i += 1 }
        if (v.isEmpty || mx <= mn) (id, 0L, 0L, 0L)
        else {
          val mnD = mn.toDouble
          val scale = (mx.toDouble - mnD) / 255.0
          var codeSum = 0L; var codeMax = 0L; var errQ = 0L
          i = 0
          while (i < v.length) {
            val x = v(i).toDouble
            val code = math.round((x - mnD) / scale)
            val recon = mnD + code * scale
            codeSum += code
            if (code > codeMax) codeMax = code
            errQ += math.floor(math.abs(x - recon) * 1e7).toLong
            i += 1
          }
          (id, codeSum, codeMax, errQ)
        }
      }
      .toDF("vec_id", "code_sum", "code_max", "err_q")
  }

  /** Product quantization (Jégou et al., TPAMI'11): the vector is split
    * into `m` subvectors and each is replaced by the index of its
    * nearest per-subspace centroid — m bytes/vector instead of 4·d,
    * the compression layer under IVF-PQ at billion-vector scale.
    *
    * Codebooks are fit on the driver over a BOUNDED deterministic
    * sample (xxhash64-ordered top-N — the same sampling contract as
    * buildIvfIndex) with stride init + fixed-iteration Lloyd, so the
    * fit is sequential arithmetic over a partitioning-independent
    * sample: the codebooks — and therefore every code — are bit-stable
    * across any cluster layout, unlike a distributed KMeans whose
    * reduction order floats. m·k·(d/m) doubles of codebook broadcast;
    * encoding is ONE pass over the corpus in a typed kernel.
    *
    * Output audit per vector (gate-hashable integers, the e07 recipe):
    * code_sum = Σ codes, code_hash = Σ (j+1)·code_j (order-sensitive),
    * err_q = floor(Σ_j ||sub_j − c_{code_j}||² · 1e6).
    */
  /** Fit the `m` per-subspace PQ codebooks — see pqEncode for the
    * sampling and determinism contract.
    */
  def pqCodebooks(vectors: DataFrame, m: Int = 8, k: Int = 16,
                  trainSample: Int = 2000): Array[Array[Array[Double]]] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val sample = vectors.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>").as("v"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(trainSample)
      .as[(Long, Array[Double])].collect().map(_._2)
    require(sample.nonEmpty, "empty training sample")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val sub = d / m
    Array.tabulate(m) { j =>
      lloyd(sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)), k)
    }
  }

  def pqEncode(vectors: DataFrame, m: Int = 8, k: Int = 16,
               trainSample: Int = 2000): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val feats = vectors.select(col("vec_id").cast("long"),
      col("embedding").cast("array<double>").as("v"))
    val books = pqCodebooks(vectors, m, k, trainSample)
    val bc = spark.sparkContext.broadcast(books)
    feats.as[(Long, Array[Double])]
      .map { case (id, v) =>
        val bs = bc.value
        var codeSum = 0L; var codeHash = 0L; var err = 0.0
        var j = 0
        while (j < bs.length) {
          val cs = bs(j)
          val off = j * (v.length / bs.length)
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < cs.length) {
            var s = 0.0; var i = 0
            while (i < cs(c).length) { val t = v(off + i) - cs(c)(i); s += t * t; i += 1 }
            if (s < bd) { bd = s; best = c } // strict <: ties keep lowest index
            c += 1
          }
          codeSum += best; codeHash += (j + 1).toLong * best; err += bd
          j += 1
        }
        (id, codeSum, codeHash, math.floor(err * 1e6).toLong)
      }
      .toDF("vec_id", "code_sum", "code_hash", "err_q")
  }

  /** IVF-PQ probe — the production billion-vector ANN read path: IVF
    * prunes the corpus to each query's nprobe cells, PQ asymmetric
    * distance ranks the candidates from their m-subspace codes (the
    * ranking scan carries codes, never raw vectors — the memory shape
    * that fits 10^9 vectors on a cluster), and only the top `rerank`
    * candidates per query are re-scored exactly with the codegen'd
    * cosine. Composition of the proven pieces: probeIvf's cell pruning,
    * pqCodebooks' deterministic fit, e02's windowed top-k.
    *
    * Determinism: codes and ADC are per-row arithmetic over broadcast
    * codebooks; every ranking breaks ties by neighbor_id.
    */
  def probeIvfPq(index: IvfIndex, books: Array[Array[Array[Double]]],
                 queries: DataFrame, kNn: Int, nprobe: Int = 4,
                 rerank: Int = 32): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bcB = spark.sparkContext.broadcast(books)
    val bcC = spark.sparkContext.broadcast(index.centers)

    // one pass over the inverted file: attach the m-byte code word
    val coded = index.assigned
      .select(col("vec_id").cast("long"), col("cell").cast("int"),
        col("v").cast("array<double>"))
      .as[(Long, Int, Array[Double])]
      .map { case (id, cell, v) => (id, cell, pqCode(v, bcB.value)) }
      .toDF("vec_id", "cell", "codes")

    // nprobe nearest cells per query (same shape as probeIvf, incl. the
    // checkpoint: the frame feeds the pruning collect AND the join)
    val probes = queries
      .select(col("vec_id").cast("long").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        val cs = bcC.value
        cs.indices.map(i => (dist2(v, cs(i)), i)).sorted.take(nprobe)
          .map { case (_, cell) => (id, cell, v) }
      }
      .toDF("query_id", "cell", "qv")
      .localCheckpoint(true)
    val cells = probes.select("cell").distinct().collect().map(_.getInt(0))
    val corpus =
      if (cells.length == index.centers.length) coded
      else coded.filter(col("cell").isin(cells.map(Integer.valueOf): _*))

    // ADC ranking from codes only; exact re-rank of the survivors.
    // cap-guarded broadcast(probes) with NO ratio test, unlike probeIvf:
    // measured at sf10 (median passes) the broadcast ADC join runs 4.9 s
    // vs 7.6 s for the shuffle form even though the coded corpus is
    // small — the broadcast keeps the scan→join→ADC-map pipeline in one
    // stage with no exchange/sort boundary before the per-query window
    val dim = index.centers.headOption.map(_.length).getOrElse(64)
    val probeBytes = probes.count() * (dim * 8L + 24L)
    val adcProbeSide =
      if (probeBytes <= maxProbeBroadcastBytes) broadcast(probes) else probes
    val adcScored = adcProbeSide.join(corpus, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("qv"), col("vec_id"), col("codes"))
      .as[(Long, Array[Double], Long, Array[Int])]
      .map { case (qid, qv, vid, codes) => (qid, qv, vid, adc(qv, codes, bcB.value)) }
      .toDF("query_id", "qv", "neighbor_id", "adc")
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc").asc, col("neighbor_id").asc)
    val candidates = adcScored
      .withColumn("r", row_number().over(wAdc)).filter(col("r") <= rerank)
      .drop("r", "adc")

    graft.plans.GraftExtensions.register(spark)
    val raw = index.assigned.select(col("vec_id").cast("long").as("neighbor_id"),
      col("v").cast("array<double>"))
    // size-guarded broadcast(candidates): |queries|·rerank rows vs the
    // full inverted file — the re-rank fetch must not shuffle the corpus
    // either. The candidate frame is not materialized, so the guard uses
    // the known bound |queries|×rerank (|queries| = probe rows / cells
    // probed per query, exact by construction) instead of a count.
    val nQueries = probes.count() / math.max(1, math.min(nprobe, index.centers.length))
    val exactLeft =
      if (nQueries * rerank * (dim * 8L + 24L) <= maxProbeBroadcastBytes)
        broadcast(candidates)
      else candidates
    val exact = exactLeft.join(raw, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        call_function("cosine_sim", col("qv"), col("v")).as("cos"))
    val wCos = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(wCos).cast("long"))
      .filter(col("rank") <= kNn)
  }

  private def residualOf(v: Array[Double], c: Array[Double]): Array[Double] = {
    val r = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { r(i) = v(i) - c(i); i += 1 }
    r
  }

  /** Residual PQ codebooks — IVFADC proper (Jégou et al. TPAMI'11 §IV,
    * the form FAISS ships as IVF-PQ): the m per-subspace codebooks are
    * fit on RESIDUALS v − center[cell] of the index's own assignment,
    * not raw vectors. The coarse quantizer has removed each cell's
    * mean, so residuals concentrate near 0 with far less variance and
    * the same m×k code budget buys a finer quantization — when the
    * corpus IS clustered: the spec asserts total reconstruction error
    * under HALF of raw-vector PQ's on a 32-cluster fixture (modes
    * outnumber codes, the published regime), while on unstructured
    * random embeddings the two paths measure the same (ivfpqrecall
    * probe). Sampling and determinism contract identical to
    * [[pqCodebooks]]: xxhash64-ordered bounded sample, driver-side
    * fixed-iteration Lloyd — bit-stable across any cluster layout.
    */
  def pqCodebooksResidual(index: IvfIndex, m: Int = 8, k: Int = 16,
                          trainSample: Int = 2000): Array[Array[Array[Double]]] = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val centers = index.centers
    val sample = index.assigned
      .select(col("vec_id").cast("long"), col("cell").cast("int"),
        col("v").cast("array<double>"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(trainSample)
      .as[(Long, Int, Array[Double])].collect()
      .map { case (_, cell, v) => residualOf(v, centers(cell)) }
    require(sample.nonEmpty, "empty training sample")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val sub = d / m
    Array.tabulate(m) { j =>
      lloyd(sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)), k)
    }
  }

  /** [[pqEncode]]'s residual sibling: encode each vector's residual to
    * its assigned coarse centroid with residual codebooks, emitting the
    * same integer audit projection (vec_id, code_sum, code_hash,
    * err_q). The per-vector err_q is the quantity the residual form
    * exists to shrink — the spec pins it strictly below raw PQ's on a
    * clustered corpus.
    */
  def pqEncodeResidual(index: IvfIndex, m: Int = 8, k: Int = 16,
                       trainSample: Int = 2000): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val books = pqCodebooksResidual(index, m, k, trainSample)
    val bcB = spark.sparkContext.broadcast(books)
    val bcC = spark.sparkContext.broadcast(index.centers)
    index.assigned
      .select(col("vec_id").cast("long"), col("cell").cast("int"),
        col("v").cast("array<double>"))
      .as[(Long, Int, Array[Double])]
      .map { case (id, cell, v) =>
        val r = residualOf(v, bcC.value(cell))
        val bs = bcB.value
        var codeSum = 0L; var codeHash = 0L; var err = 0.0
        var j = 0
        while (j < bs.length) {
          val cs = bs(j)
          val off = j * (r.length / bs.length)
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < cs.length) {
            var s = 0.0; var i = 0
            while (i < cs(c).length) { val t = r(off + i) - cs(c)(i); s += t * t; i += 1 }
            if (s < bd) { bd = s; best = c }
            c += 1
          }
          codeSum += best; codeHash += (j + 1).toLong * best; err += bd
          j += 1
        }
        (id, codeSum, codeHash, math.floor(err * 1e6).toLong)
      }
      .toDF("vec_id", "code_sum", "code_hash", "err_q")
  }

  /** [[probeIvfPq]]'s residual sibling — the full IVFADC read path:
    * cells pruned by IVF, candidates ranked by ADC over RESIDUAL codes
    * (both sides relative to the candidate's cell centroid: the code
    * word encodes v − c_cell, and the query-side lookup uses
    * qv − c_cell — the centroid cancels, so ADC approximates the true
    * query-vector distance with the residual quantizer's finer grid),
    * exact cosine re-rank of the top `rerank`. Plan shape identical to
    * probeIvfPq: codes-only candidate scan, cap-guarded probe
    * broadcast, windowed top-k with id tie-breaks.
    */
  def probeIvfPqResidual(index: IvfIndex, books: Array[Array[Array[Double]]],
                         queries: DataFrame, kNn: Int, nprobe: Int = 4,
                         rerank: Int = 32): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bcB = spark.sparkContext.broadcast(books)
    val bcC = spark.sparkContext.broadcast(index.centers)

    // one pass over the inverted file: attach the m-byte RESIDUAL code
    val coded = index.assigned
      .select(col("vec_id").cast("long"), col("cell").cast("int"),
        col("v").cast("array<double>"))
      .as[(Long, Int, Array[Double])]
      .map { case (id, cell, v) =>
        (id, cell, pqCode(residualOf(v, bcC.value(cell)), bcB.value))
      }
      .toDF("vec_id", "cell", "codes")

    val probes = queries
      .select(col("vec_id").cast("long").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        val cs = bcC.value
        cs.indices.map(i => (dist2(v, cs(i)), i)).sorted.take(nprobe)
          .map { case (_, cell) => (id, cell, v) }
      }
      .toDF("query_id", "cell", "qv")
      .localCheckpoint(true)
    val cells = probes.select("cell").distinct().collect().map(_.getInt(0))
    val corpus =
      if (cells.length == index.centers.length) coded
      else coded.filter(col("cell").isin(cells.map(Integer.valueOf): _*))

    val dim = index.centers.headOption.map(_.length).getOrElse(64)
    val probeBytes = probes.count() * (dim * 8L + 24L)
    val adcProbeSide =
      if (probeBytes <= maxProbeBroadcastBytes) broadcast(probes) else probes
    // the ADC map keeps the cell column: the query-side residual is
    // against the CANDIDATE's cell centroid, per row
    val adcScored = adcProbeSide.join(corpus, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("qv"), col("cell"), col("vec_id"), col("codes"))
      .as[(Long, Array[Double], Int, Long, Array[Int])]
      .map { case (qid, qv, cell, vid, codes) =>
        (qid, qv, vid, adc(residualOf(qv, bcC.value(cell)), codes, bcB.value))
      }
      .toDF("query_id", "qv", "neighbor_id", "adc")
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc").asc, col("neighbor_id").asc)
    val candidates = adcScored
      .withColumn("r", row_number().over(wAdc)).filter(col("r") <= rerank)
      .drop("r", "adc")

    graft.plans.GraftExtensions.register(spark)
    val raw = index.assigned.select(col("vec_id").cast("long").as("neighbor_id"),
      col("v").cast("array<double>"))
    val nQueries = probes.count() / math.max(1, math.min(nprobe, index.centers.length))
    val exactLeft =
      if (nQueries * rerank * (dim * 8L + 24L) <= maxProbeBroadcastBytes)
        broadcast(candidates)
      else candidates
    val exact = exactLeft.join(raw, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        call_function("cosine_sim", col("qv"), col("v")).as("cos"))
    val wCos = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(wCos).cast("long"))
      .filter(col("rank") <= kNn)
  }

  private def pqCode(v: Array[Double], books: Array[Array[Array[Double]]]): Array[Int] = {
    val m = books.length
    val sub = v.length / m
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cs = books(j)
      var best = 0; var bd = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        var s = 0.0; var i = 0
        while (i < sub) { val t = v(j * sub + i) - cs(c)(i); s += t * t; i += 1 }
        if (s < bd) { bd = s; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    out
  }

  private def adc(q: Array[Double], codes: Array[Int],
                  books: Array[Array[Array[Double]]]): Double = {
    val m = books.length
    val sub = q.length / m
    var s = 0.0
    var j = 0
    while (j < m) {
      val c = books(j)(codes(j))
      var i = 0
      while (i < sub) { val t = q(j * sub + i) - c(i); s += t * t; i += 1 }
      j += 1
    }
    s
  }

  /** Fixed-iteration Lloyd — deterministic: init = first k DISTINCT
    * points of the (hash-shuffled) sample (duplicate seeds would merge
    * clusters and leave dead codes), stride-filled when the sample has
    * fewer distinct points; sequential sums, ties to the lowest centroid
    * index, empty clusters keep their previous center.
    */
  /** Oracle-freeze hook: the deterministic lloyd centers the operators
    * train (pqCodebooks' subspace books, semDedup's cells), exposed so
    * scratch tooling can print them as full-precision SQL literals for
    * the frozen-constant live oracles (e05/e08/e10 pattern).
    */
  private[graft] def lloydCenters(pts: Array[Array[Double]], k: Int,
                                  iters: Int = 15): Array[Array[Double]] =
    lloyd(pts, k, iters)

  private def lloyd(pts: Array[Array[Double]], k: Int,
                    iters: Int = 15): Array[Array[Double]] = {
    val n = pts.length
    val kk = math.min(k, n)
    val init = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var p0 = 0
    while (p0 < n && init.length < kk) {
      if (!init.exists(c => java.util.Arrays.equals(c, pts(p0))))
        init += pts(p0).clone()
      p0 += 1
    }
    var f = 0
    while (init.length < kk) { // fewer distinct points than codes
      init += pts((f.toLong * n / kk).toInt).clone(); f += 1
    }
    val centers = init.toArray
    val dims = pts.head.length
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk, dims)(0.0)
      val counts = new Array[Long](kk)
      var p = 0
      while (p < n) {
        val v = pts(p)
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < kk) { val dd = dist2(v, centers(c)); if (dd < bd) { bd = dd; best = c }; c += 1 }
        var i = 0
        while (i < dims) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
        p += 1
      }
      var c = 0
      while (c < kk) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dims) { centers(c)(i) = sums(c)(i) / counts(c); i += 1 }
        }
        c += 1
      }
    }
    centers
  }

  /** Contrastive training-pair mining (the DPR/SimCSE dataset-construction
    * step, Karpukhin et al. 2020 §4.2's hard negatives): for every anchor,
    * the best POSITIVE (highest cosine ≥ threshold — a semantic match)
    * and the best HARD NEGATIVE (highest cosine BELOW the threshold —
    * the near-miss that teaches the margin). Anchors lacking either side
    * produce no triple. All comparisons run on micro-quantized integer
    * cosines (rel = floor(cos·1e6), the e15 convention), so the output
    * is integer-exact end-to-end and ties break on smaller id.
    *
    * Scale shape: ONE pass over the (anchor × candidate) stream — both
    * argmaxes are conditional struct-max aggregates in a single
    * map-side-combined groupBy (shuffle = 2 structs per anchor per
    * partition; no window sort, no second consumer of the pair stream).
    * The brute candidate generation is the gate's bounded-contract
    * broadcast arm (the e01 shape); at corpus scale feed the same
    * aggregate from probeIvf's candidates instead — a hard negative is
    * by definition a top-ranked non-match, which is exactly what the
    * probed cells return.
    */
  def contrastivePairs(corpus: DataFrame, anchorPred: Column,
                       relThreshold: Long): DataFrame = {
    val spark = corpus.sparkSession
    graft.plans.GraftExtensions.register(spark)
    val q = quantized(corpus)
    val anchors = q.filter(anchorPred)
      .select(col("vec_id").as("anchor_id"),
        col("qv").cast("array<double>").as("av"))
    val scored = q
      .select(col("vec_id"), col("qv").cast("array<double>").as("v"))
      .join(broadcast(anchors), col("anchor_id") =!= col("vec_id"))
      .select(col("anchor_id"), col("vec_id"),
        floor(call_function("cosine_sim", col("av"), col("v")) * 1e6)
          .cast("long").as("rel"))
    // argmax-with-tiebreak as struct max: (rel, -vec_id) orders by rel
    // then by SMALLER id on ties (vec_id >= 0 by table contract)
    scored.groupBy("anchor_id")
      .agg(
        max(when(col("rel") >= relThreshold,
          struct(col("rel"), (-col("vec_id")).as("nid")))).as("p"),
        max(when(col("rel") < relThreshold,
          struct(col("rel"), (-col("vec_id")).as("nid")))).as("n"))
      .filter(col("p").isNotNull && col("n").isNotNull)
      .select(col("anchor_id"),
        (-col("p.nid")).as("pos_id"), col("p.rel").as("pos_rel"),
        (-col("n.nid")).as("neg_id"), col("n.rel").as("neg_rel"))
  }

  /** Bounded top-k (cos DESC, id ASC) as a MERGEABLE aggregation — the
    * streaming retrieval state (n26): k (cos, neighbor_id) pairs per
    * query regardless of candidate volume, product-encoded (no kryo).
    * Merge is a sorted-merge-take-k of two bounded lists — associative,
    * commutative, idempotent-under-distinct-candidates — so the result
    * is independent of micro-batch splits and partition order; the
    * tie-break (equal cos -> smaller id) matches probeIvf's window
    * rank, and the cos doubles come from the identical cosine_sim
    * arithmetic, so streaming == batch == oracle bit-for-bit.
    */
  final class TopCosAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    private def top(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
      (a ++ b).sortBy(p => (-p._1, p._2)).take(k)
    override def zero: Seq[(Double, Long)] = Seq.empty
    override def reduce(b: Seq[(Double, Long)], a: (Double, Long)): Seq[(Double, Long)] =
      top(b, Seq(a))
    override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
      top(a, b)
    override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }
}
