package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operators for training-data pipelines.
  *
  * Scale design: every path reduces the O(n²) pair space to per-key groups
  * BEFORE any join — exact dedup groups on a 128-bit content hash, MinHash
  * groups on LSH band signatures, SimHash groups on fingerprint prefixes.
  * All joins are therefore shuffled equi-joins on uniformly-distributed
  * hash keys (no skew, no cross join anywhere), which is what lets the same
  * code run at 100 TB: pair candidates grow with the duplicate density,
  * not with n².
  */
object Dedup {

  /** Exact dedup on normalized content: keeps the smallest id per
    * fingerprint (deterministic representative — knob_tuner.py:189-196's
    * `seen`-set semantics).
    */
  def exact(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    docs
      .withColumn("fp", fingerprint(col(text)))
      .groupBy("fp")
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash-LSH near-duplicate candidate pairs + exact Jaccard verify.
    *
    * k seeds, bands of `rowsPerBand`; docs sharing any band signature are
    * candidates; candidates are then verified with exact shingle-set
    * Jaccard (|A∩B| / (|A| + |B| - |A∩B|)) and filtered at `minJaccard`.
    * Returns (doc_a, doc_b, jaccard).
    *
    * Everything per-doc stays an ARRAY column — the minhash signature is
    * computed in one scan with no explode/groupBy, so the only shuffles
    * are the (tiny) band-bucket join and the candidate-verify join. At
    * 100 TB the shuffled band table is numBands rows per doc of ~100
    * bytes; candidates scale with duplicate density, never n².
    */
  def minhashNearDups(
      docs: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      minJaccard: Double = 0.05,
      maxBucket: Int = 64): DataFrame = {

    // shingle arrays + signatures computed ONCE in a typed kernel and
    // kept for reuse by the band join (tiny projection) and the verify
    // join.
    // localCheckpoint, not persist: same materialize-once (MEMORY_AND_DISK)
    // semantics for the double use below, but the blocks are freed by the
    // context cleaner when the result frame is dropped — a persist() here
    // registers in the CacheManager and accumulates for the session unless
    // every caller remembers to unpersist
    val withSh = minhashSignatures(docs, id, text, shingleN, numHashes)
      .localCheckpoint(true)
    val bands = bandTable(withSh, id, numHashes, rowsPerBand)

    // hot-bucket cap (the d09 maxDf / lshKnn maxBucket guard, applied to
    // the band self-join): one boilerplate string duplicated 100k× at
    // corpus scale puts 100k rows on one (band, bsig) key → 10^10 pairs
    // from a single key. Keys are kept only when 2 <= size <= maxBucket —
    // singleton buckets cannot pair, and docs in an over-cap bucket are
    // near-identical boilerplate already collapsed by exact dedup (their
    // full 4-band signature collides at that multiplicity), so pruning
    // bounds every join key's fan-out at maxBucket² without losing the
    // near-dup pairs this operator exists to find (planted-boilerplate
    // bound asserted in DedupSpec).
    val okKeys = bands.groupBy("band", "bsig").agg(count(lit(1)).as("bn"))
      .filter(col("bn") >= 2 && col("bn") <= maxBucket)
      .select("band", "bsig")
    val pruned = bands.join(okKeys, Seq("band", "bsig"))
    val a = pruned.alias("a"); val b = pruned.alias("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("doc_a"), col(s"b.$id").as("doc_b"))
      .distinct()

    // verify join: candidates scale with duplicate density (small) — fetch
    // each side's shingle set and compute exact Jaccard
    jaccardVerify(cand,
      withSh.select(col(id), col("sh")), id, minJaccard)
  }

  /** (id, sh, sig): distinct shingle array + `numHashes` minhash
    * signature per doc, ONE typed-kernel scan (tight JVM md5 loop — the
    * equivalent column expression is interpreted and dominates the
    * query; semantics identical: min over shingles of lowercase-hex
    * md5("seed#shingle"), asserted in DedupSpec). Shared by d02's batch
    * pipeline and n32's streaming leg, which must produce byte-equal
    * signatures for the shared oracle to hold.
    */
  private[graft] def minhashSignatures(docs: DataFrame,
      id: String = "doc_id", text: String = "text",
      shingleN: Int = 3, numHashes: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(id).cast("long"), col(text)).as[(Long, String)]
      .mapPartitions { it =>
        val wordRe = java.util.regex.Pattern.compile("[a-z0-9]+")
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = "0123456789abcdef".toCharArray
        def md5hex(s: String): String = {
          md.reset()
          val b = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val out = new Array[Char](32)
          var i = 0
          while (i < 16) {
            out(2 * i) = hex((b(i) >> 4) & 0xf); out(2 * i + 1) = hex(b(i) & 0xf)
            i += 1
          }
          new String(out)
        }
        it.flatMap { case (docId, t) =>
          val toks = {
            val m = wordRe.matcher(t.toLowerCase(java.util.Locale.ROOT))
            val buf = scala.collection.mutable.ArrayBuffer.empty[String]
            while (m.find()) buf += m.group()
            buf
          }
          if (toks.length < shingleN) None
          else {
            val seen = scala.collection.mutable.LinkedHashSet.empty[String]
            var i = 0
            while (i + shingleN <= toks.length) {
              seen += toks.slice(i, i + shingleN).mkString(" ")
              i += 1
            }
            val sh = seen.toArray
            val sig = Array.tabulate(numHashes) { seed =>
              var best: String = null
              sh.foreach { s =>
                val h = md5hex(s"$seed#$s")
                if (best == null || h < best) best = h
              }
              best
            }
            Some((docId, sh, sig))
          }
        }
      }
      .toDF(id, "sh", "sig")
  }

  /** (id, band, bsig) band table off a [[minhashSignatures]] frame —
    * carries only ~100 bytes/doc/band into the self-join, never the
    * shingle arrays. NOT statically partitioned on the band key:
    * pre-prune, hot boilerplate buckets are unbounded, and a static
    * layout removes the exchanges AQE would skew-split (the d12
    * lesson); the projection off a checkpointed withSh is trivial to
    * recompute per consumer.
    */
  private[graft] def bandTable(withSh: DataFrame, id: String = "doc_id",
      numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val numBands = numHashes / rowsPerBand
    withSh.select(
      col(id),
      explode(array((0 until numBands).map { b =>
        val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(s => element_at(col("sig"), s + 1))
        struct(lit(b).as("band"), concat(least(cols: _*), greatest(cols: _*)).as("bsig"))
      }: _*)).as("bs"))
      .select(col(id), col("bs.band").as("band"), col("bs.bsig").as("bsig"))
  }

  /** Exact-Jaccard verify of (doc_a, doc_b) candidate pairs against a
    * (id, sh) shingle source; returns (doc_a, doc_b, jaccard) at
    * `minJaccard`+. Shared tail of d02 and n32.
    */
  private[graft] def jaccardVerify(cand: DataFrame, shingles: DataFrame,
      id: String = "doc_id", minJaccard: Double = 0.05): DataFrame = {
    val sha = shingles.select(col(id).as("doc_a"), col("sh").as("sha"))
    val shb = shingles.select(col(id).as("doc_b"), col("sh").as("shb"))
    cand.join(sha, "doc_a").join(shb, "doc_b")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard",
        col("common").cast("double") / (size(col("sha")) + size(col("shb")) - col("common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Bounded min-k set of doc ids — n32's per-(band, bsig) streaming
    * bucket state. The same mergeable-monoid shape as Sketches' KMV
    * min-k aggregator: keep the k SMALLEST ids seen. With
    * k = maxBucket + 1, the merged state reads as exact membership for
    * any bucket that can still pair (≤ maxBucket members — nothing was
    * ever evicted) and a saturated set (size == k > maxBucket) is the
    * over-cap death signal, so per-key state stays O(maxBucket) no
    * matter how hot a boilerplate bucket runs at 100 TB.
    */
  final class MinKIdsAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Long, java.util.TreeSet[java.lang.Long], Seq[Long]] {
    private def ins(st: java.util.TreeSet[java.lang.Long], v: Long): Unit =
      if (st.size < k) { st.add(v); () }
      else if (v < st.last && st.add(v)) { st.pollLast(); () }
    override def zero: java.util.TreeSet[java.lang.Long] =
      new java.util.TreeSet[java.lang.Long]()
    override def reduce(b: java.util.TreeSet[java.lang.Long], a: Long)
        : java.util.TreeSet[java.lang.Long] = { ins(b, a); b }
    override def merge(b1: java.util.TreeSet[java.lang.Long],
                       b2: java.util.TreeSet[java.lang.Long])
        : java.util.TreeSet[java.lang.Long] = { b2.forEach(v => ins(b1, v)); b1 }
    override def finish(r: java.util.TreeSet[java.lang.Long]): Seq[Long] = {
      val out = Seq.newBuilder[Long]
      r.forEach(v => out += v)
      out.result()
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[java.util.TreeSet[java.lang.Long]] =
      org.apache.spark.sql.Encoders.kryo[java.util.TreeSet[java.lang.Long]]
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Distinct word-n-gram posting table (doc_id, gram) in a typed kernel —
    * the interpreted higher-order shingle expression is ~10x slower on
    * this path (measured at sf0.1: 19 s vs 2 s for the 8-gram case), as
    * with d02's minhash kernel. Same gram semantics as
    * `TextFunctions.shingles(tokens(text), n)`.
    */
  private[graft] def gramTable(docs: DataFrame, id: String = "doc_id",
                               text: String = "text", n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(id).cast("long"), col(text)).as[(Long, String)]
      .mapPartitions { it =>
        val wordRe = java.util.regex.Pattern.compile("[a-z0-9]+")
        it.flatMap { case (docId, t) =>
          val toks = {
            val m = wordRe.matcher(t.toLowerCase(java.util.Locale.ROOT))
            val buf = scala.collection.mutable.ArrayBuffer.empty[String]
            while (m.find()) buf += m.group()
            buf
          }
          if (toks.length < n) Iterator.empty
          else {
            val seen = scala.collection.mutable.LinkedHashSet.empty[String]
            var i = 0
            while (i + n <= toks.length) {
              seen += toks.slice(i, i + n).mkString(" ")
              i += 1
            }
            seen.iterator.map(g => (docId, g))
          }
        }
      }
      .toDF(id, "gram")
  }

  /** Per-document term frequencies (doc_id, token, tf) in a typed kernel
    * (same tokenization as gramTable; non-distinct, counts multiplicity —
    * the TF side of TF-IDF-style term weighting).
    */
  private[graft] def tokenCounts(docs: DataFrame, id: String = "doc_id",
                                 text: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(id).cast("long"), col(text)).as[(Long, String)]
      .mapPartitions { it =>
        val wordRe = java.util.regex.Pattern.compile("[a-z0-9]+")
        it.flatMap { case (docId, t) =>
          val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
          val m = wordRe.matcher(t.toLowerCase(java.util.Locale.ROOT))
          while (m.find()) {
            val w = m.group()
            counts.update(w, counts.getOrElse(w, 0L) + 1L)
          }
          counts.iterator.map { case (tok, n) => (docId, tok, n) }
        }
      }
      .toDF(id, "token", "tf")
  }

  /** Adjacent token pairs WITH multiplicity — the BPE merge-candidate
    * statistic (tokenizer training step 1: rank candidate merges by
    * total corpus pair frequency). Unlike `gramTable` the pairs are NOT
    * per-doc deduped: BPE counts every occurrence. Same tokenization as
    * gramTable/tokenCounts. Scale shape: one flatMap pass, and the
    * downstream groupBy(pair).count gets Spark's map-side partial
    * aggregation for free — the shuffle carries one row per distinct
    * pair per partition, not per occurrence.
    */
  private[graft] def adjacentPairs(docs: DataFrame, id: String = "doc_id",
                                   text: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(id).cast("long"), col(text)).as[(Long, String)]
      .mapPartitions { it =>
        val wordRe = java.util.regex.Pattern.compile("[a-z0-9]+")
        it.flatMap { case (docId, t) =>
          val toks = {
            val m = wordRe.matcher(t.toLowerCase(java.util.Locale.ROOT))
            val buf = scala.collection.mutable.ArrayBuffer.empty[String]
            while (m.find()) buf += m.group()
            buf
          }
          (0 until math.max(0, toks.length - 1)).iterator
            .map(i => (docId, toks(i) + " " + toks(i + 1)))
        }
      }
      .toDF(id, "pair")
  }

  /** Connected-component duplicate clusters from a pair table
    * (doc_a < doc_b): each doc labelled with the minimum id of its
    * component — the step that turns pairwise near-dup hits into "keep
    * one per cluster".
    *
    * Precondition: pairs relate two DISTINCT docs. Self-pairs (a,a) are
    * dropped during canonicalization and contribute no output row — a
    * doc with no true pair is simply absent (treat absence as "its own
    * cluster"), matching every candidate generator here (all emit
    * doc_a < doc_b strictly).
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): each round
    * rewires nodes to the minimum of their neighborhood, so convergence
    * is O(log diameter) rounds — not diameter rounds like plain min-label
    * propagation (a 16-chain converges in 3 rounds vs 15; asserted in
    * DedupSpec). Each round is two groupBy+join passes on the canonical
    * (child > parent) edge table; the convergence test is a count+sum
    * checksum folded into one lightweight agg on the round output (no
    * extra join job), and lineage is truncated with `localCheckpoint`
    * EVERY round — measured on this box, an un-truncated loop spends
    * seconds per round in Catalyst re-analysis of the growing tree (a
    * checksum agg over 263 cached edges took 4.2 s by round 2), so flat
    * per-round plans are what keep deep-component runs O(rounds).
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
                  smallGraphEdges: Long = 2000000L): DataFrame = {
    // size-dependent physical strategy (the AQE-broadcast analog for an
    // iterative op): a near-dup pair table is normally orders of
    // magnitude smaller than the corpus — when the canonical edge set
    // fits the driver comfortably, path-compressed union-find resolves
    // it in milliseconds, versus O(log d) distributed rounds each paying
    // multi-job scheduling overhead. The contraction loop remains the
    // path for genuinely huge pair tables (and stays spec-covered via
    // dupClustersWithStats).
    val canon = pairs
      .filter(col("doc_a") =!= col("doc_b"))
      .select(greatest(col("doc_a"), col("doc_b")).cast("long").as("src"),
        least(col("doc_a"), col("doc_b")).cast("long").as("dst"))
      .distinct()
      .localCheckpoint(true)
    if (canon.count() <= smallGraphEdges) {
      val spark = canon.sparkSession
      val edges = canon.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        // min-root union: the component label IS the minimum member id
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val rows = parent.keysIterator.map(k => (k, find(k))).toSeq.sortBy(_._1)
      spark.createDataFrame(rows).toDF("doc_id", "cluster_id")
    } else {
      contractionLoop(canon, maxIter)._1
    }
  }

  /** dupClusters plus the number of contraction rounds executed (for
    * convergence tests and ops visibility).
    */
  private[graft] def dupClustersWithStats(pairs: DataFrame, maxIter: Int = 20): (DataFrame, Int) = {
    // canonical parent edges: (src, dst) with src > dst
    val canon = pairs
      .filter(col("doc_a") =!= col("doc_b"))
      .select(greatest(col("doc_a"), col("doc_b")).cast("long").as("src"),
        least(col("doc_a"), col("doc_b")).cast("long").as("dst"))
      .distinct()
      .localCheckpoint(true)
    contractionLoop(canon, maxIter)
  }

  /** Distributed star-contraction rounds over a canonical (src > dst)
    * edge table — the large-pair-table path of [[dupClusters]].
    */
  private def contractionLoop(canon: DataFrame, maxIter: Int): (DataFrame, Int) = {
    var ee = canon
    var iter = 0
    var prev: Option[(Long, BigDecimal, BigDecimal, BigDecimal)] = None
    var done = false
    while (!done && iter < maxIter) {
      // large-star: every strictly-larger neighbor of u re-points to the
      // minimum of u's full neighborhood (incl. u itself)
      val sym = ee.union(ee.select(col("dst").as("src"), col("src").as("dst")))
      val mnL = sym.groupBy("src").agg(min("dst").as("mnd"))
        .select(col("src").as("u"), least(col("mnd"), col("src")).as("m"))
      val large = sym.join(mnL, sym("src") === mnL("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      // small-star: u and all its smaller neighbors re-point to the
      // minimum of those smaller neighbors
      val mnS = large.groupBy("src").agg(min("dst").as("m"))
      val small = large.join(mnS, "src")
        .select(col("dst"), col("m"))
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mnS.select(col("src"), col("m").as("dst")))
        .distinct()
      // truncate lineage every round: round plans stay O(1)-deep, and the
      // checkpointed edge table is what the next round (and the final
      // labels projection) read; superseded checkpoint blocks are freed by
      // the context cleaner once dereferenced
      val next = small.localCheckpoint(true)
      // convergence checksum in ONE agg over the checkpointed round
      // output: (count, sum(src), sum(dst), sum(xxhash64(src,dst))) —
      // the order-independent edge-set hash makes a collision between
      // two DISTINCT consecutive edge sets effectively impossible (the
      // plain count/sum triple alone could collide). Sums run in
      // decimal(38,0): a long sum of 64-bit hashes overflows under ANSI
      val row = next.agg(count(lit(1)),
        sum(col("src").cast("decimal(38,0)")),
        sum(col("dst").cast("decimal(38,0)")),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).head()
      def nz(i: Int): BigDecimal =
        if (row.isNullAt(i)) BigDecimal(0) else BigDecimal(row.getDecimal(i))
      val cur = Some((row.getLong(0), nz(1), nz(2), nz(3)))
      done = cur == prev
      prev = cur
      ee = next
      iter += 1
    }
    if (!done)
      System.err.println(s"[graft] dupClusters: star contraction hit maxIter=$maxIter " +
        "without stationarity — cluster labels may be incomplete (raise maxIter; " +
        "chains converge in O(log diameter) rounds)")
    val labels = ee.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
      .union(ee.select(col("dst").as("doc_id"), col("dst").as("cluster_id")))
      .distinct()
    (labels, iter)
  }

  /** SimHash fingerprint table: 64-bit fingerprint per doc, computed in a
    * typed mapPartitions kernel (tight JVM loop; the equivalent column
    * expression — TextFunctions.simhash64 — is interpreted and ~50x
    * slower; both produce identical fingerprints, asserted in DedupSpec).
    */
  def simhashTable(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    docs.select(col(id).cast("long"), col(text)).as[(Long, String)]
      .mapPartitions { it =>
        val wordRe = java.util.regex.Pattern.compile("[a-z0-9]+")
        it.map { case (docId, t) =>
          val sums = new Array[Int](64)
          val m = wordRe.matcher(t.toLowerCase(java.util.Locale.ROOT))
          while (m.find()) {
            val h = XxHash64Function.hash(UTF8String.fromString(m.group()), StringType, 42L)
            var j = 0
            while (j < 64) {
              if (((h >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
              j += 1
            }
          }
          var fp = 0L
          var j = 0
          while (j < 64) {
            if (sums(j) >= 0) fp |= (1L << j)
            j += 1
          }
          (docId, fp)
        }
      }
      .toDF(id, "simhash")
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken:
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03 — the MOSS algorithm): Rabin-Karp rolling hashes over
    * character k-grams of the normalized token stream, then the minimum
    * hash of each w-window is selected (rightmost minimum on ties, per
    * the paper), positions deduplicated. Guarantees: any shared
    * substring of length ≥ w+k-1 yields a shared fingerprint, and the
    * gap between consecutive selections is < w — so fingerprint density
    * is ~2/(w+1) regardless of document size, the property that lets
    * 100 TB of text reduce to a joinable fingerprint table.
    *
    * Returns (id, fps ARRAY<BIGINT>) — selected fingerprints in position
    * order. Typed kernel: the rolling hash is one multiply+add per
    * character (a column-expression equivalent would rebuild each k-gram).
    */
  def winnowFingerprints(docs: DataFrame, id: String = "doc_id", text: String = "text",
                         k: Int = 8, w: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(id).cast("long"), col(text)).as[(Long, String)]
      .mapPartitions { it =>
        val wordRe = java.util.regex.Pattern.compile("[a-z0-9]+")
        val B = 1000003L // polynomial base (spot-check prime)
        it.map { case (docId, t) =>
          // normalized stream: tokens joined by single spaces
          val sb = new java.lang.StringBuilder
          val m = wordRe.matcher(t.toLowerCase(java.util.Locale.ROOT))
          while (m.find()) {
            if (sb.length > 0) sb.append(' ')
            sb.append(m.group())
          }
          val s = sb.toString
          val n = s.length
          val fps =
            if (n < k) Array.empty[Long]
            else {
              // Rabin-Karp: h(i+1) = (h(i) - s(i)·B^(k-1))·B + s(i+k)
              var pow = 1L
              var j = 0
              while (j < k - 1) { pow *= B; j += 1 }
              val hs = new Array[Long](n - k + 1)
              var h = 0L
              var i = 0
              while (i < k) { h = h * B + s.charAt(i); i += 1 }
              hs(0) = h
              i = 1
              while (i <= n - k) {
                h = (h - s.charAt(i - 1) * pow) * B + s.charAt(i + k - 1)
                hs(i) = h
                i += 1
              }
              // winnow: rightmost minimum of each w-window, dedup positions
              val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
              var lastPos = -1
              var wi = 0
              val nw = math.max(hs.length - w + 1, 1)
              while (wi < nw) {
                var best = wi
                var p = wi
                val end = math.min(wi + w, hs.length)
                while (p < end) { if (hs(p) <= hs(best)) best = p; p += 1 }
                if (best != lastPos) { sel += hs(best); lastPos = best }
                wi += 1
              }
              sel.toArray
            }
          (docId, fps)
        }
      }
      .toDF(id, "fps")
  }

  /** Winnowing near-dup candidates: pairs of docs sharing >= `minShared`
    * selected fingerprints, from an equi-self-join of the exploded
    * (doc, fp) posting table — the blocker winnowing exists for (shared
    * substrings of length >= w+k-1 guarantee a shared fingerprint, so
    * candidates surface from an equi-join, never an all-pairs scan).
    *
    * The posting table is df-pruned exactly like [[ngramJaccardDups]]:
    * only fingerprints with 2 <= df <= maxDf generate candidates, so a
    * boilerplate string repeated 100k× at corpus scale (100k docs on one
    * fp key → 10^10 pairs) is bounded at maxDf² pairs per key. Docs whose
    * every shared fingerprint is over-cap are near-identical boilerplate
    * already collapsed by exact dedup; the planted-boilerplate bound is
    * asserted in DedupSpec.
    *
    * `idsBounded = true` promises every id is in [0, 2³¹) and skips the
    * packed-key guard's 1-row min/max probe job (see the packing note
    * below) — the integral-TYPE gate still applies.
    *
    * Returns (doc_a, doc_b, n_shared >= minShared).
    */
  def winnowCandidates(docs: DataFrame, id: String = "doc_id", text: String = "text",
                       k: Int = 8, w: Int = 4, minShared: Int = 4,
                       maxDf: Int = 64, idsBounded: Boolean = false): DataFrame = {
    // The posting table feeds THREE consumers (df aggregate + both
    // self-join sides); without materialization the planner re-executes
    // the whole scan+kernel+explode+distinct per consumer — measured at
    // sf10: 4 parquet scans, ZERO ReusedExchange, 210 s for a pipeline
    // whose parts sum to ~40 s. One checkpoint pays the posting
    // materialization once and every consumer reads shuffle-local rows
    // (the r9 "exchange is reused" note held at sf1 only; r10 made the
    // checkpoint unconditional: sf0.1/sf1 parity (1.1/5.7 s), sf10
    // steady 143->122 s and cold 624->187 s — the steady remainder is
    // the real 259M-row capped pair join, see SCALING.md).
    val e = winnowFingerprints(docs, id, text, k, w)
      .select(col(id), explode(col("fps")).as("fp")).distinct()
      // pre-partitioned on fp and checkpointed WITH the partitioning
      // kept: the df aggregate, the prune join and the capped self-join
      // all consume the one fp-keyed layout exchange-free. Unlike d12's
      // raw gram table, the winnow fp table's per-key multiplicity is
      // moderate and the heavy stage (the 259M-row pair join) is
      // df-capped, so the static layout cannot concentrate unbounded
      // work — same-day A/B at sf10: 157.0 s with a plain checkpoint
      // vs 101.6 s with this layout (1.55x).
      .repartition(col("fp"))
      .transform(graft.ops.Checkpoints.partitioned)
    val ok = e.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("fp")
    val pruned = e.join(ok, "fp")
    val a = pruned.alias("a"); val b = pruned.alias("b")
    val joined = a.join(b, col("a.fp") === col("b.fp") && col(s"a.$id") < col(s"b.$id"))
    // The pair aggregate is this operator's dominant stage at scale (the
    // capped pair join emits ~in-band-fps × C(df,2) rows — 7M surviving
    // pairs from ~10⁸ pair rows at sf10). Packing the pair into ONE long
    // (doc_a<<32 | doc_b) halves the shuffled row and lets the codegen
    // hash aggregate key on a primitive: same-day interleaved A/B at
    // sf10, medians of 3 — two-col key 120.4 s, packed 43.4 s (2.8×,
    // and far lower variance: 39-50 s vs 42-134 s). The packing needs
    // ids in [0, 2³¹) — one 1-row aggregate on the posting table checks
    // it, and wider ids fall back to the two-column plan. COUNTER-EXAMPLE
    // kept for the record (the d12 discipline): a manual mapPartitions
    // LongMap pre-sum before the shuffle — the literal "pre-combine
    // within fp partitions" idea — measured 190.9 s median, WORSE than
    // both: the typed Dataset boundary (encode/decode out of Tungsten
    // rows) costs more than the pre-sum saves, and the codegen partial
    // aggregate was already doing the combining. SCALING.md names the
    // commit whose ScaleProbes d08ab still reproduces all three arms.
    // Packing is offered to INTEGRAL id columns only: a string-typed
    // numeric id would aggregate min/max lexicographically (max('50e8',
    // '9') = '9' passes the range check while the value overflows 32
    // bits), and a leading-zero id ('007') would round-trip through the
    // pack as '7' — both silent corruptions the type gate removes. The
    // range check itself runs cast-BEFORE-aggregate on the CHECKPOINTED
    // posting table (superset of pruned's ids — conservative), not the
    // pruned join: aggregating the join here would execute the
    // df-aggregate and fp-join once for this 1-row collect and AGAIN in
    // the returned plan. Both gates key on the CALLER's id type, not
    // `e`'s: the fingerprint kernel carries every id as a long, so `e`
    // would read integral for a string id and the output would come
    // back long instead of in the input type.
    val idType = docs.schema(id).dataType
    val integralId = idType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    // `idsBounded = true` is the caller's PROMISE that every id already
    // sits in [0, 2³¹) — it skips the 1-row min/max probe job entirely
    // (one fewer scan of the checkpointed posting table per call; the
    // synthetic-corpus catalog entry and any pipeline whose ids are
    // assigned by a bounded sequence know this statically). The integral
    // TYPE gate is not waivable — packing a string id stays broken no
    // matter what the caller promises, so the flag only short-circuits
    // the RANGE probe.
    val packable = integralId &&
      (idsBounded || {
        val idRange = e.agg(min(col(id).cast("long")), max(col(id).cast("long")))
          .collect().head
        !idRange.isNullAt(0) &&
          idRange.getLong(0) >= 0 && idRange.getLong(1) < (1L << 31)
      })
    if (packable)
      // output ids cast back to the INPUT id type so both arms agree on
      // schema (exact for integral ids in [0, 2^31) by the gate above) —
      // callers see one column type regardless of which arm ran
      joined
        .select(shiftleft(col(s"a.$id").cast("long"), 32)
          .bitwiseOR(col(s"b.$id").cast("long")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
        .select(shiftright(col("pk"), 32).cast(idType).as("doc_a"),
          col("pk").bitwiseAND(lit(0xffffffffL)).cast(idType).as("doc_b"),
          col("n_shared"))
    else
      joined
        .groupBy(col(s"a.$id").as("doc_a"), col(s"b.$id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
        .select(col("doc_a").cast(idType).as("doc_a"), col("doc_b").cast(idType).as("doc_b"),
          col("n_shared"))
  }

  /** Direct n-gram Jaccard near-duplicates via a document-frequency-pruned
    * inverted index (no hashing; the exact-set complement to MinHash).
    *
    * Candidates come from an equi-self-join of the (doc, gram) posting
    * table restricted to grams with 2 <= df <= maxDf — the df cap bounds
    * the fan-out of every join key at maxDf² pairs, which is what kills
    * the hot-key (stop-gram) skew that would otherwise make the inverted
    * index quadratic at 100 TB. The Jaccard itself is then computed over
    * the FULL gram sets of each candidate pair (shared counts via the
    * posting table, per-doc sizes from a groupBy), so the score is exact;
    * the df pruning only affects recall (a pair sharing exclusively
    * ubiquitous grams is never surfaced — the standard inverted-index
    * dedup tradeoff, and those pairs are the least duplicate-like).
    *
    * Returns (doc_a, doc_b, jaccard >= minJaccard).
    */
  def ngramJaccardDups(
      docs: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      n: Int = 5,
      maxDf: Int = 20,
      minJaccard: Double = 0.05): DataFrame = {
    // default n=5: gram distinctiveness is the entire scale story of an
    // inverted index. Measured at sf0.1 (5000 docs, ~30-word vocabulary):
    // trigrams are near-universal (df 6-20 grams alone contribute 1.2M
    // raw pairs -> 1.12M distinct candidates, 21 s); 5-grams are 90%
    // df=1 -> 1460 candidates, sub-second. Size n to the corpus's
    // vocabulary entropy, not to a fixed convention.
    // materialize-once WITHOUT a static gram layout: a raw posting
    // table has unbounded-hot keys (boilerplate grams), and pinning
    // them to single partitions removes the exchanges AQE would
    // skew-split — the d12 lesson (34 -> 89 s at sf10 with a static
    // layout). The df-capped stages below are cheap either way; the
    // exchanges stay AQE-managed.
    val sh = gramTable(docs, id, text, n)
      .localCheckpoint(true)
    // posting lists capped at maxDf: df=1 grams cannot form a pair, and
    // df>maxDf grams are skew (near-stopword n-grams) — dropped for
    // candidate generation only
    val rare = sh.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("gram")
    val idx = sh.join(rare, "gram")
    val a = idx.alias("a"); val b = idx.alias("b")
    val cand = a.join(b, col("a.gram") === col("b.gram") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verify over full gram sets: per-doc gram ARRAYS joined to the
    // (bounded) candidate list, intersection sized per pair — two doc_id-
    // keyed joins whose shuffle is |cand| + |docs| rows, instead of the
    // former gram-keyed double re-join of the full posting table (two
    // corpus-scale shuffles with |grams(doc_a)|-fold row expansion)
    val sets = sh.groupBy("doc_id")
      .agg(collect_list("gram").as("grams"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"),
        col("grams").as("ga"), col("n").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"),
        col("grams").as("gb"), col("n").as("nb")), "doc_b")
      .withColumn("common", size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Directional n-gram containment: |A∩B| / min(|A|, |B|) — catches a
    * document CONTAINED in a larger one (quotes, boilerplate wrappers,
    * page-of-pages) that symmetric Jaccard under-scores when the size
    * ratio is large (inter/union → 0 while inter/|A| → 1). Same
    * df-capped inverted-index candidate generation as ngramJaccardDups —
    * the posting cap keeps every join key's fan-out at maxDf², the 100 TB
    * shape — then an exact verify over full gram sets. Ratios are kept as
    * exact integer milli-units (no cross-engine double division).
    */
  def ngramContainment(docs: DataFrame, id: String = "doc_id",
                       text: String = "text", n: Int = 5, maxDf: Int = 20,
                       minMilli: Long = 500): DataFrame = {
    // NOT pre-partitioned on gram (unlike ngramJaccardDups): d12's
    // verify stage re-joins the FULL posting table on (doc_b, gram), and
    // a static gram layout pins the hot boilerplate grams of a high-dup
    // corpus to single partitions that AQE can no longer re-split at
    // join time — measured at sf10 (100% dup density): 89.5 s with the
    // static layout vs 34-42 s leaving the exchanges to AQE
    val sh = gramTable(docs, id, text, n).localCheckpoint(true)
    val rare = sh.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("gram")
    val idx = sh.join(rare, "gram")
    val a = idx.alias("a"); val b = idx.alias("b")
    val cand = a.join(b, col("a.gram") === col("b.gram") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val nGrams = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("gram")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("gram")), Seq("doc_b", "gram"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    common
      .join(nGrams.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(nGrams.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("cont_milli", expr("common * 1000 div least(na, nb)"))
      .filter(col("cont_milli") >= minMilli)
      .select(col("doc_a"), col("doc_b"), col("common"), col("na"), col("nb"),
        col("cont_milli"))
  }

  /** Cross-corpus near-dup: which `newDocs` are near-duplicates of
    * ANYTHING in `histDocs` — the incremental-ingest shape (tonight's
    * batch vs the historical corpus; no new×new, no old×old re-work).
    * Same df-capped inverted index as ngramJaccardDups, with the df
    * computed over the UNION (a gram common in history must prune even
    * if rare in the batch); candidates are restricted to new×hist at
    * the index join. Returns (doc_a = new id, doc_b = hist id, jaccard).
    */
  def ngramJaccardAgainst(newDocs: DataFrame, histDocs: DataFrame,
                          id: String = "doc_id", text: String = "text",
                          n: Int = 5, maxDf: Int = 20,
                          minJaccard: Double = 0.5): DataFrame = {
    val shNew = gramTable(newDocs, id, text, n).localCheckpoint(true)
    val shHist = gramTable(histDocs, id, text, n).localCheckpoint(true)
    val union = shNew.unionByName(shHist)
    val rare = union.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("gram")
    val cand = shNew.join(rare, "gram").select(col(id).as("doc_a"), col("gram"))
      .join(shHist.join(rare, "gram").select(col(id).as("doc_b"), col("gram")), "gram")
      .select("doc_a", "doc_b").distinct()
    val nNew = shNew.groupBy(id).agg(count(lit(1)).as("n"))
    val nHist = shHist.groupBy(id).agg(count(lit(1)).as("n"))
    val common = cand
      .join(shNew.select(col(id).as("doc_a"), col("gram")), "doc_a")
      .join(shHist.select(col(id).as("doc_b"), col("gram")), Seq("doc_b", "gram"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    common
      .join(nNew.select(col(id).as("doc_a"), col("n").as("na")), "doc_a")
      .join(nHist.select(col(id).as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  def simhashCandidates(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    // checkpoint: the band self-join would otherwise run the hash kernel
    // twice (localCheckpoint over persist so the blocks don't outlive the
    // result frame in the session cache)
    val t = simhashTable(docs, id, text)
      .localCheckpoint(true)
    val banded = t.select(col(id), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
      .select(col(id), col("simhash"), col("bk.band"), col("bk.key"))
    val a = banded.alias("a"); val b = banded.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("doc_a"), col(s"b.$id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
  }

  /** Exact duplicated-substring spans — the span-level dedup pass of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): for each document, every maximal token range
    * covered by some `spanTokens`-token substring that also occurs in
    * at least one OTHER document. Doc-level dedup (exact/minhash)
    * misses these — boilerplate, licenses, and quoted passages
    * duplicate at the span level inside otherwise-unique documents.
    *
    * The paper builds a corpus-wide suffix array (sequential, memory-
    * bound); the distributed re-expression is an inverted gram index:
    * one length-L token window per position (linear in corpus tokens),
    * grouped by the gram string to find cross-document grams, then a
    * left-semi join back and a per-document gaps-and-islands merge of
    * overlapping windows (windows whose starts differ by <= L cover a
    * contiguous duplicated region). Returns
    * (doc_id, span_start, span_end, span_tokens) in token offsets.
    *
    * Scale: the only shuffles are the gram groupBy and the left-semi
    * join back — both keyed on the gram, both linear in corpus tokens;
    * the island merge is a per-document window. A hot gram (shared
    * boilerplate in millions of docs) costs its occurrence count, never
    * a pair count: nothing here is quadratic. The shuffle key is a
    * 128-bit gram fingerprint (since r16 a rolling polynomial over
    * per-token xxh64 values — see [[spanOcc]]; previously two xxhash64
    * calls over materialized gram strings), not the gram string: ~16
    * bytes instead of ~6-8 bytes/token, a ~3x shuffle-width cut
    * (measured at sf10's 240M-position worst case), with a false-span
    * probability of ~n_grams²/2^128 (~1e-13 at 10^13 corpus grams).
    * The DuckDB oracle intentionally keeps EXACT gram strings, so the
    * fingerprint/string equivalence is itself cross-checked at every
    * gated SF.
    */
  def dupSpans(
      docs: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      spanTokens: Int = 8): DataFrame = {
    val L = spanTokens
    val occ = spanOcc(docs, id, text, L)
      // occ feeds BOTH the dup-gram aggregate and the hit join (the
      // d08/q46 multi-consumer class: the scan+tokenize+gram hashing ran
      // twice), and both consumers key on (h1, h2) — pre-partition once
      // and checkpoint WITH the partitioning kept (the semDedup/e10
      // pattern), so the aggregate and both join sides run exchange-free
      // off one materialization. At sf10 this was also the spread
      // mechanism: two independent full shuffles of the ~60M-row gram
      // stream doubled the shuffle volume whose cleanup/page-cache
      // contention produced the 19-100 s pass spread.
      .repartition(col("h1"), col("h2"))
      .transform(graft.ops.Checkpoints.partitioned)
    // grams occurring in >= 2 distinct documents: min(doc) != max(doc)
    // is the same predicate as countDistinct(doc) >= 2 but map-side-
    // combines in ONE aggregation pass (countDistinct would expand to a
    // two-shuffle distinct plan); the oracle keeps the count(DISTINCT)
    // formulation, so the equivalence is itself cross-checked. The
    // left-semi join keeps hit positions without duplicating rows for
    // multi-partner grams.
    val dup = occ.groupBy("h1", "h2")
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("h1", "h2")
    val hits = occ.join(dup, Seq("h1", "h2"), "left_semi").select("doc_id", "pos")
    mergeSpans(hits, L)
  }

  /** [[dupSpans]]'s row-local half, shared with the streaming leg (n30):
    * one fingerprinted L-token window per token position —
    * (doc_id, pos, h1, h2), where (h1, h2) is a 128-bit gram
    * fingerprint. ZERO shuffle, a stateless row-local pass, so it runs
    * on batch AND streaming frames; the caller picks the layout (d16
    * co-partitions and checkpoints, n30 feeds a file stream where any
    * shuffle would be per-batch).
    *
    * Since r16 the fingerprint is a ROLLING polynomial over per-token
    * xxh64 values instead of xxhash64 over materialized gram strings
    * (r15 verdict #3): the old column kernel allocated one ~50-byte
    * concatenated string per token position and hashed it twice — the
    * measured 401 s task-GC wall at sf10 (the d16/n31-named
    * allocation class). Here each token is hashed ONCE per seed and
    * each window costs four long multiply-adds, with no per-window
    * allocation at all. The fingerprint is an equality proxy for the
    * gram (the oracle checks span semantics on the gram STRINGS, so
    * only the equivalence relation matters): equal windows hash equal
    * by construction; unequal windows collide w.p. ~2^-128 across the
    * (h1, h2) pair — the same standard the previous double-xxhash64
    * carried. Tokenization is gramTable's kernel (same semantics as
    * TextFunctions.tokens).
    */
  /** spanOcc output row — a case class so the four long fields stay
    * PRIMITIVE (a Tuple4[Long,...] boxes all four: 5 allocations per
    * gram position, which at sf10's ~60M positions is its own GC
    * storm).
    */
  private[graft] final case class SpanFp(doc_id: Long, pos: Long, h1: Long, h2: Long)

  private[graft] def spanOcc(docs: DataFrame, id: String = "doc_id",
      text: String = "text", spanTokens: Int = 8): DataFrame = {
    val L = spanTokens
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(id).cast("long"), col(text)).as[(Long, String)]
      .mapPartitions { it =>
        import org.apache.spark.sql.catalyst.expressions.XXH64
        import org.apache.spark.unsafe.Platform
        val wordRe = java.util.regex.Pattern.compile("[a-z0-9]+")
        // odd 64-bit multipliers (golden gamma / xxh prime2): the two
        // polynomial streams stay independent because the TOKEN hashes
        // use different seeds, the bases just decorrelate runs
        val B1 = 0x9E3779B97F4A7C15L; val B2 = 0xC2B2AE3D27D4EB4FL
        // B^(L-1) for the rolling subtract (wrapping arithmetic)
        def pow(b: Long, e: Int): Long = {
          var r = 1L; var i = 0; while (i < e) { r *= b; i += 1 }; r
        }
        val p1 = pow(B1, L - 1); val p2 = pow(B2, L - 1)
        it.flatMap { case (docId, t) =>
          val toks = {
            // null text == no tokens, as the old tokens()-based kernel
            // (size(NULL) = -1 fell to the < L filter)
            val m = wordRe.matcher(
              (if (t == null) "" else t).toLowerCase(java.util.Locale.ROOT))
            val buf = scala.collection.mutable.ArrayBuffer.empty[String]
            while (m.find()) buf += m.group()
            buf
          }
          val n = toks.length
          if (n < L) Iterator.empty
          else {
            val th1 = new Array[Long](n); val th2 = new Array[Long](n)
            var i = 0
            while (i < n) {
              val b = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
              th1(i) = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
              th2(i) = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 0x64313662L)
              i += 1
            }
            // first window, then roll: H(i+1) = (H(i) - th(i)*B^(L-1))*B + th(i+L)
            var h1 = 0L; var h2 = 0L
            i = 0
            while (i < L) { h1 = h1 * B1 + th1(i); h2 = h2 * B2 + th2(i); i += 1 }
            val first = SpanFp(docId, 0L, h1, h2)
            Iterator.single(first) ++ (1 to n - L).iterator.map { p =>
              h1 = (h1 - th1(p - 1) * p1) * B1 + th1(p + L - 1)
              h2 = (h2 - th2(p - 1) * p2) * B2 + th2(p + L - 1)
              SpanFp(docId, p.toLong, h1, h2)
            }
          }
        }
      }
      .toDF()
  }

  /** [[dupSpans]]'s merge half, shared with the streaming leg: hit
    * positions (doc_id, pos) merged into maximal spans — window
    * [p, p+L-1] overlaps or touches the previous span iff p - prev <= L
    * (gaps-and-islands per document). Returns
    * (doc_id, span_start, span_end, span_tokens).
    */
  private[graft] def mergeSpans(hits: DataFrame, spanTokens: Int = 8): DataFrame = {
    val L = spanTokens
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > L, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + L - 1).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** CCNet-style corpus-level segment dedup (Wenzek et al. 2019,
    * arXiv:1911.00359 §2: paragraph-hash dedup, the pipeline stage ahead
    * of the t28 perplexity buckets): the token stream is cut into fixed
    * `segTokens`-token aligned segments, each segment is hashed, and only
    * the FIRST occurrence corpus-wide — min (doc_id, seg_idx) — of each
    * distinct segment survives; every later copy (cross-doc boilerplate
    * or within-doc repetition) is cut out, and the surviving text is
    * fingerprinted like d17's scrub (md5 of kept segments in order) so
    * the oracle checks the surgery itself, not just counts.
    *
    * 100 TB shape: segmentation is row-local (one pass, no shuffle); the
    * segment stream is hash-co-partitioned ONCE and checkpointed with
    * partitioning kept, so the first-owner aggregate (a mergeable
    * min-struct — map-side combined, one row per DISTINCT segment on the
    * shuffle) and the owner join both consume it exchange-free (the
    * d08/d16 pattern; per-hash join fan-out is multiplicity × 1 — linear,
    * no df-cap needed). Reassembly is one doc-keyed aggregate. Nothing
    * is quadratic in corpus size and no driver-side state exists.
    */
  def segmentDedup(docs: DataFrame, id: String = "doc_id", text: String = "text",
                   segTokens: Int = 10): DataFrame = {
    val segs = segmentize(docs, id, text, segTokens)
      // one hash-keyed layout feeds the owner aggregate, the owner join
      // AND the per-doc totals — co-partition + partitioning-preserving
      // checkpoint (multi-consumer class; the keyed consumers are
      // exchange-free and the corpus is tokenized exactly ONCE)
      .repartition(col("h"))
      .transform(graft.ops.Checkpoints.partitioned)
    val owner = segs.groupBy("h")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("own"))
    val kept = segs.join(owner, "h")
      .filter(col("doc_id") === col("own.doc_id") &&
        col("seg_idx") === col("own.seg_idx"))
    reassembleSegments(docs.select(col(id).as("doc_id")), segs, kept)
  }

  /** [[segmentDedup]]'s row-local half: the token stream cut into
    * aligned `segTokens`-token windows (the last one truncated), one row
    * per (doc_id, seg_idx, seg, h = md5(seg)). ZERO shuffle — the caller
    * picks the layout (d18 hash-co-partitions once; the streaming leg
    * n29 feeds it a file stream, where any shuffle would be per-batch).
    * Works on batch AND streaming frames (nothing but projections).
    */
  private[graft] def segmentize(docs: DataFrame, id: String = "doc_id",
      text: String = "text", segTokens: Int = 10): DataFrame = {
    // null text == empty text on BOTH engines (the oracle coalesces the
    // same way) — without this, size(NULL tk) = -1 slips past the
    // empty-doc guard and sequence(0, -1) steps backwards (the d17
    // lesson, null edition)
    val toks = docs.select(col(id).as("doc_id"),
      tokens(coalesce(col(text), lit(""))).as("tk"))
    val nSeg = ceil(size(col("tk")) / lit(segTokens.toDouble)).cast("long")
    val segArr = when(size(col("tk")) === 0,
        array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), (nSeg - 1).cast("int")),
        i => array_join(slice(col("tk"), i * segTokens + 1, lit(segTokens)), " ")))
    toks
      .select(col("doc_id"), posexplode(segArr))
      .withColumnRenamed("pos", "seg_idx")
      .withColumnRenamed("col", "seg")
      .withColumn("h", md5(col("seg")))
  }

  /** [[segmentDedup]]'s reassembly half, shared with the streaming leg:
    * per-doc summary (doc_id, n_segments, kept_segments,
    * removed_segments, cleaned_hash) from the full segment stream
    * (totals — max seg_idx + 1, NOT a second tokenize pass) and the
    * surviving segments (cleaned_hash = md5 of kept segments in order —
    * the surgery fingerprint the oracle recomputes). Zero-segment docs
    * (empty/null text) have no `segs` rows and coalesce to 0 via the
    * left joins from `docIds`.
    */
  private[graft] def reassembleSegments(docIds: DataFrame, segs: DataFrame,
      kept: DataFrame): DataFrame = {
    // r18 (r17 deferred #4, the scrubSpans lesson): the per-doc
    // collect_list + array_sort + concat_ws + md5 is an
    // ObjectHashAggregate that materializes every doc's segment array
    // AND its full concatenated string per row — the stages probe
    // charged n29's two assembly stages 4.5-4.9 s of task GC each at
    // sf0.1. The typed arm shuffles the SAME (doc_id, seg_idx, seg)
    // rows but sorts within partitions and streams each doc's segments
    // straight into one MessageDigest (no array, no concatenated
    // string, one digest + counter per doc). seg_idx is unique per doc,
    // so sorting by (doc_id, seg_idx) reproduces
    // array_sort(struct(seg_idx, seg)) exactly. The typed walk is
    // spec-pinned against that aggregate (References.reassembleKeptAgg),
    // and the d18/n29 oracles recompute cleaned_hash independently.
    val perDoc = reassembleKeptTyped(kept)
    val totals = segs.groupBy("doc_id")
      .agg((max(col("seg_idx")) + 1).cast("long").as("n_segments"))
    docIds
      .join(totals, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("kept_segments"), lit(0L)).as("kept_segments"),
        (coalesce(col("n_segments"), lit(0L)) - coalesce(col("kept_segments"), lit(0L)))
          .as("removed_segments"),
        coalesce(col("cleaned_hash"), md5(lit(""))).as("cleaned_hash"))
  }

  /** [[reassembleSegments]]'s per-doc summary as a typed sorted
    * pointer-walk (the scrubSpans pattern): same shuffle bytes, a sort
    * instead of an object-aggregate buffer, zero per-doc array or
    * concatenated-string allocation. Byte-identical output to the
    * collect_list + array_sort + concat_ws + md5 aggregate (spec-pinned
    * against that form; the oracle recomputes the md5 independently at
    * every gated SF).
    *
    * Every input column must be non-null: segments come from an
    * array_join, so a null is an upstream bug. It fails the job with
    * an error naming the column rather than an NPE in the encoder
    * (doc_id, seg_idx) or in `getBytes` (seg). On non-nullable inputs
    * the optimizer folds the check away. */
  private[graft] def reassembleKeptTyped(kept: DataFrame): DataFrame = {
    val spark = kept.sparkSession
    import spark.implicits._
    def nonNull(c: String, t: String): Column = when(col(c).isNull,
      raise_error(lit(s"reassembleKeptTyped: null $c"))).otherwise(col(c)).cast(t).as(c)
    kept
      .select(nonNull("doc_id", "long"), nonNull("seg_idx", "int"), nonNull("seg", "string"))
      .repartition(col("doc_id"))
      .sortWithinPartitions("doc_id", "seg_idx")
      .as[(Long, Int, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = "0123456789abcdef".toCharArray
        val bit = it.buffered
        new Iterator[(Long, Long, String)] {
          def hasNext: Boolean = bit.hasNext
          def next(): (Long, Long, String) = {
            val doc = bit.head._1
            md.reset()
            var n = 0L
            while (bit.hasNext && bit.head._1 == doc) {
              val seg = bit.next()._3
              if (n > 0L) md.update(' '.toByte)
              md.update(seg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              n += 1L
            }
            val dig = md.digest()
            val sb = new java.lang.StringBuilder(32)
            var i = 0
            while (i < 16) {
              val b = dig(i) & 0xff
              sb.append(hex(b >> 4)); sb.append(hex(b & 15)); i += 1
            }
            (doc, n, sb.toString)
          }
        }
      }
      .toDF("doc_id", "kept_segments", "cleaned_hash")
  }

  /** Span scrub — the REMOVAL step that completes Lee et al. 2022's
    * span-level dedup: given the duplicated-span table ([[dupSpans]]
    * output, token offsets), cut every covered token from each document
    * and emit the cleaned corpus summary
    * (doc_id, n_tokens, kept_tokens, removed_tokens, cleaned_hash)
    * where cleaned_hash is md5 of the surviving tokens joined by single
    * spaces — a content fingerprint of the cleaned text that the oracle
    * recomputes independently, so the surgery itself (not just the
    * counts) is cross-checked. Every document appears in the output,
    * including span-free ones and ones shorter than the gram width.
    *
    * Scale: spans-per-doc is bounded by doc_len / spanWidth, so the
    * collected span ARRAY is a per-row column, never a driver
    * structure; the only shuffles are the span groupBy(doc_id) (tiny —
    * span rows only) and one equi-join of the corpus on doc_id. At
    * 100 TB both sides of the doc_id join come bucketed by doc_id from
    * the same upstream layout.
    *
    * Since r16 the cut itself is a TYPED per-partition sweep (the t29
    * lesson): the previous per-token `exists`-over-spans higher-order
    * expression is CodegenFallback — interpreted, allocating a struct
    * per token — and at sf10 it dominated d17's wall (measured
    * exec_run ~2,000 s over the d16 sub-plan's ~424 s, SCALING r16).
    * The spans of one doc are disjoint and sorted by construction
    * (mergeSpans' islands), so the kernel walks tokens once with a
    * span pointer — O(tokens) with one StringBuilder + one MessageDigest
    * per doc. The md5-of-kept-tokens fingerprint is byte-identical to
    * the old `md5(concat_ws(" ", ...))` (the oracle recomputes it
    * independently, so the equivalence is cross-checked at every gated
    * SF).
    */
  def scrubSpans(
      docs: DataFrame,
      spans: DataFrame,
      id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val perDoc = spans
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs
      .select(col(id).cast("long").as("doc_id"), col(text).as("text"))
      .join(perDoc, Seq("doc_id"), "left")
      .as[(Long, String, Array[SpanRange])]
      .mapPartitions { it =>
        val wordRe = java.util.regex.Pattern.compile("[a-z0-9]+")
        val md = java.security.MessageDigest.getInstance("MD5")
        // per-PARTITION scratch, reused across docs (the allocation
        // class this kernel exists to avoid)
        val sb = new java.lang.StringBuilder(1 << 14)
        val hexDigits = "0123456789abcdef".toCharArray
        val hex = new Array[Char](32)
        it.map { case (docId, t, spansArr) =>
          val toks = {
            val m = wordRe.matcher(
              (if (t == null) "" else t).toLowerCase(java.util.Locale.ROOT))
            val buf = scala.collection.mutable.ArrayBuffer.empty[String]
            while (m.find()) buf += m.group()
            buf
          }
          val sp = if (spansArr == null) Array.empty[SpanRange]
                   else spansArr.sortBy(_.span_start)
          sb.setLength(0)
          var kept = 0L
          var si = 0
          var i = 0
          while (i < toks.length) {
            while (si < sp.length && sp(si).span_end < i) si += 1
            val covered = si < sp.length &&
              i >= sp(si).span_start && i <= sp(si).span_end
            if (!covered) {
              if (kept > 0L) sb.append(' ')
              sb.append(toks(i))
              kept += 1
            }
            i += 1
          }
          md.reset()
          val dig = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          i = 0
          while (i < 16) {
            hex(2 * i) = hexDigits((dig(i) >> 4) & 0xf)
            hex(2 * i + 1) = hexDigits(dig(i) & 0xf)
            i += 1
          }
          ScrubOut(docId, toks.length.toLong, kept, toks.length - kept,
            new String(hex))
        }
      }
      .toDF()
  }

  /** scrubSpans input span / output rows — case classes so the long
    * fields stay primitive and the collect_list struct decodes by
    * field name.
    */
  private[graft] final case class SpanRange(span_start: Long, span_end: Long)
  private[graft] final case class ScrubOut(doc_id: Long, n_tokens: Long,
      kept_tokens: Long, removed_tokens: Long, cleaned_hash: String)
}
