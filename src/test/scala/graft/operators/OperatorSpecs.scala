package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again", "s"),
      (1L, "the quick brown fox jumps over the sleepy dog again and again", "s"), // near-dup of 0
      (2L, "completely different content about spark query engines at scale", "s"),
      (3L, "the quick brown fox jumps over the lazy dog again and again", "s"), // exact dup of 0
      (4L, "tiny", "s")
    ).toDF("doc_id", "text", "source")
  }

  test("exact dedup groups exact duplicates, keeps smallest id") {
    val out = Dedup.exact(docs).collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.contains((0L, 2L))) // docs 0 and 3 share a fingerprint
    assert(out.count(_._2 == 1L) == 3)
  }

  test("adjacentPairs counts every occurrence with gramTable's tokenization") {
    import spark.implicits._
    val df = Seq((1L, "A b a B c"), (2L, "x")).toDF("doc_id", "text")
    val out = Dedup.adjacentPairs(df).groupBy("pair").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // lowercased, multiplicity kept ("a b" twice), single-token doc empty
    assert(out == Map("a b" -> 2L, "b a" -> 1L, "b c" -> 1L))
  }

  test("bigram fluency ranks common-transition docs above rare-transition docs") {
    import spark.implicits._
    // corpus pair counts: "a b" ×2, "c d" ×1 → doc 3 scores half of 1/2
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "c d")).toDF("doc_id", "text")
    val pairs = Dedup.adjacentPairs(df)
    val corpus = pairs.groupBy("pair").agg(count(lit(1)).as("freq"))
    val out = pairs.join(corpus, "pair").groupBy("doc_id")
      .agg(sum("freq").cast("long").as("s"), count(lit(1)).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (2L, 1L) && out(2L) == (2L, 1L) && out(3L) == (1L, 1L))
  }

  test("segmentDedup: first occurrence wins corpus-wide, surgery verified, partition-invariant") {
    import spark.implicits._
    // seg size 3: doc 10 = [a b c][d e f]; doc 11 repeats doc 10's first
    // segment (cross-doc dup) then its own; doc 12 repeats ONE segment
    // twice within itself (within-doc dup); doc 13 is unique; doc 14 is
    // entirely a copy of doc 10 (loses everything)
    val df = Seq(
      (10L, "a b c d e f"),
      (11L, "a b c x y z"),
      (12L, "p q r p q r"),
      (13L, "unique words only here now yes"),
      (14L, "a b c d e f")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, segTokens = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(out(10L)._1 == 2 && out(10L)._2 == 2 && out(10L)._3 == 0)
    assert(out(11L) == (2L, 1L, 1L, md5Hex("x y z")), s"got ${out(11L)}")
    assert(out(12L) == (2L, 1L, 1L, md5Hex("p q r")))
    assert(out(13L)._3 == 0)
    assert(out(14L) == (2L, 0L, 2L, md5Hex("")), s"full-dup doc must lose all: ${out(14L)}")
    // partitioning invariance (the first-owner min must not depend on layout)
    val out7 = Dedup.segmentDedup(df.repartition(7), segTokens = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(out7 == out)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("reassembly typed kernel is byte-identical to the aggregate arm (r18)") {
    import spark.implicits._
    // multi-segment docs, out-of-order seg_idx arrival, multi-byte UTF-8,
    // a gap (seg 1 removed), and a single-segment doc
    val kept = Seq(
      (1L, 2, "c dd"), (1L, 0, "a b"), (1L, 3, "é ü 漢"),
      (2L, 0, "only"),
      (3L, 5, "tail"), (3L, 4, "head x")
    ).toDF("doc_id", "seg_idx", "seg")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val agg = rows(References.reassembleKeptAgg(kept))
    val typed = rows(Dedup.reassembleKeptTyped(kept))
    assert(typed == agg)
    assert(agg(1L) == (3L, md5Hex("a b c dd é ü 漢")))
    assert(agg(3L) == (2L, md5Hex("head x tail")))
    // partition-layout invariance of the typed walk
    assert(rows(Dedup.reassembleKeptTyped(kept.repartition(7))) == agg)
    // a null doc_id or seg is an upstream bug: the typed walk fails the
    // job with an error naming the column, not an NPE in the encoder or
    // in getBytes
    val withNulls = Seq[(java.lang.Long, Int, String)](
      (1L, 0, "a b"), (null, 1, "orphan"), (2L, 0, null)
    ).toDF("doc_id", "seg_idx", "seg")
    for ((label, input) <- Seq(
        ("doc_id", withNulls.filter(col("seg").isNotNull)),
        ("seg", withNulls.filter(col("doc_id").isNotNull)))) {
      val err = intercept[Exception](Dedup.reassembleKeptTyped(input).collect())
      val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toList
      assert(msgs.exists(_.contains(s"reassembleKeptTyped: null $label")),
        s"null $label must fail naming the column, got: ${msgs.headOption}")
    }
  }

  test("repetition signals match hand-computed micro-fractions") {
    import spark.implicits._
    val df = Seq(
      // 6 words, top word "a"×3 → 500000; bigrams: "a a"×2,"a b","b a","b b"? build:
      // tokens a a a b c d → bigrams: aa,aa? no: (a,a),(a,a)? tokens: a a a b c d
      (1L, "a a a b c d"),
      (2L, "w x y z q r s t u v"), // all distinct → zeros
      (3L, "m n m n m n m n m n") // heavy bigram+5gram repetition
    ).toDF("doc_id", "text")
    val out = graft.operators.Repetition.signals(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // doc 1: n=6, top word a×3 → 500000; bigrams (5): aa,aa,ab,bc,cd → top 2/5=400000;
    // 5-grams (2): "a a a b c","a a b c d" distinct → dup 0; keep=0 (both over cuts)
    assert(out(1L) == (6L, 500000L, 400000L, 0L, 0L))
    // doc 2: 10 distinct words → top 1/10=100000; bigrams 9 distinct → 111111;
    // 5-grams 6 distinct → 0; keep=1
    assert(out(2L) == (10L, 100000L, 111111L, 0L, 1L))
    // doc 3: m×5 of 10 → 500000; bigrams: "m n"×5, "n m"×4 of 9 → 555555;
    // 5-grams: 6 occ, 2 distinct ("m n m n m","n m n m n") → dup 4/6=666666; keep=0
    assert(out(3L) == (10L, 500000L, 555555L, 666666L, 0L))
  }

  test("minhash near-dups finds the planted near-duplicate pair, not the distinct doc") {
    val pairs = Dedup.minhashNearDups(docs, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.exists(p => p._1 == 0 && p._2 == 3 && p._3 == 1.0), s"exact pair missing: $pairs")
    assert(pairs.exists(p => p._1 == 0 && p._2 == 1 && p._3 > 0.5), s"near pair missing: $pairs")
    assert(!pairs.exists(p => p._2 == 2 || p._1 == 2), s"false positive with doc 2: $pairs")
  }

  test("ngram Jaccard finds planted near/exact dups with exact scores, no false positives") {
    val pairs = Dedup.ngramJaccardDups(docs, maxDf = 4, minJaccard = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.get((0L, 3L)).contains(1.0), s"exact pair missing: $pairs")
    // doc 1 differs from doc 0 in one word (position 7 of 12): 5 of the 8
    // distinct 5-grams change -> |A∩B| = 3, |A∪B| = 13
    assert(pairs.get((0L, 1L)).exists(j => math.abs(j - 3.0 / 13.0) < 1e-9), s"near pair: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 2 || p._2 == 2), s"false positive: $pairs")
  }

  test("ngram Jaccard df cap drops pairs that share only ubiquitous grams") {
    val s = spark
    import s.implicits._
    // 4 docs opening with the same hot 5-gram; only docs 0/1 share more
    val hot = "alpha beta gamma delta epsilon"
    val corpus = Seq(
      (0L, s"$hot unique rare payload one two three", "s"),
      (1L, s"$hot unique rare payload four five six", "s"),
      (2L, s"$hot totally different matter here now", "s"),
      (3L, s"$hot other unrelated words entirely present", "s")
    ).toDF("doc_id", "text", "source")
    // permissive cap: the hot gram (df=4) pairs everyone
    val loose = Dedup.ngramJaccardDups(corpus, maxDf = 4, minJaccard = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose.exists(p => p._1 >= 2 || p._2 >= 2), s"expected hot-gram pairs: $loose")
    // df cap at 3 drops the hot gram: docs 2/3 share nothing else
    val strict = Dedup.ngramJaccardDups(corpus, maxDf = 3, minJaccard = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict.contains((0L, 1L)))
    assert(!strict.exists(p => p._1 >= 2 || p._2 >= 2), s"hot-gram pair leaked: $strict")
  }

  test("column-API minhash signature matches an independent md5 recompute") {
    import graft.functions.TextFunctions
    val sigRows = docs.filter(col("doc_id") < 3)
      .select(col("doc_id"),
        TextFunctions.minhashSignature(
          TextFunctions.shingles(TextFunctions.tokens(col("text")), 3), 4).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // independent driver-side recompute (same contract as the typed
    // kernel in minhashNearDups)
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) = {
      md.reset()
      md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }
    docs.filter(col("doc_id") < 3).collect().foreach { r =>
      val toks = "[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase(java.util.Locale.ROOT)).toSeq
      val sh = toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
      val expect = (0 until 4).map(seed => sh.map(s => md5hex(s"$seed#$s")).min)
      assert(sigRows(r.getLong(0)) == expect, s"doc ${r.getLong(0)}")
    }
  }

  test("dupClusters collapses chained pairs to the min-id component") {
    val s = spark
    import s.implicits._
    // chain 1-2, 2-3; separate pair 10-11; transitive 5-6, 6-7, 5-7
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("union-find fast path and contraction loop label components identically") {
    val s = spark
    import s.implicits._
    // mixed shapes: chains, a triangle, a star, reversed/duplicate pairs
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (12L, 11L),
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L), (20L, 21L), (20L, 22L),
      (20L, 23L), (2L, 1L), (1L, 2L))).toDF("doc_a", "doc_b")
    def labelSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = labelSet(Dedup.dupClusters(pairs))
    val loop = labelSet(Dedup.dupClustersWithStats(pairs)._1)
    val forcedLoop = labelSet(Dedup.dupClusters(pairs, smallGraphEdges = 0L))
    assert(fast == loop, s"fast=$fast loop=$loop")
    assert(forcedLoop == loop)
  }

  test("dupClusters star contraction is O(log) rounds on a 16-chain, not diameter") {
    val s = spark
    import s.implicits._
    val chain = (0L until 15L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, iters) = Dedup.dupClustersWithStats(chain)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 15L).map(_ -> 0L).toMap)
    // plain min-label propagation needs 15 rounds on this chain; star
    // contraction should close it out (incl. the convergence-detect round)
    // in well under half that
    assert(iters <= 7, s"expected <=7 contraction rounds, took $iters")
  }

  test("winnowing matches a direct (non-rolling) brute force and holds the paper's guarantees") {
    val k = 8; val w = 4
    val got = Dedup.winnowFingerprints(docs, k = k, w = w)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val B = 1000003L
    docs.collect().foreach { r =>
      val s = "[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase(java.util.Locale.ROOT)).mkString(" ")
      val expected =
        if (s.length < k) Array.empty[Long]
        else {
          // direct k-gram hashes (Long overflow == mod 2^64, same as rolling)
          val hs = (0 to s.length - k).map { i =>
            s.substring(i, i + k).foldLeft(0L)((h, c) => h * B + c)
          }.toArray
          val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
          var last = -1
          for (wi <- 0 until math.max(hs.length - w + 1, 1)) {
            val end = math.min(wi + w, hs.length)
            val best = (wi until end).reduceLeft((a, b) => if (hs(b) <= hs(a)) b else a)
            if (best != last) { sel += hs(best); last = best }
          }
          sel.toArray
        }
      assert(got(r.getLong(0)).toSeq == expected.toSeq, s"doc ${r.getLong(0)}")
    }
    // paper guarantee: exact duplicates share ALL fingerprints; the
    // near-dup (one word changed) still shares most; the unrelated doc
    // shares none with doc 0
    assert(got(0L).toSeq == got(3L).toSeq)
    val inter01 = got(0L).toSet.intersect(got(1L).toSet).size.toDouble
    assert(inter01 / got(0L).toSet.size > 0.5, "near-dup shares too few fingerprints")
    assert(got(0L).toSet.intersect(got(2L).toSet).isEmpty)
  }

  test("winnowCandidates idsBounded skips the range-probe job, identical output/schema") {
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
    }
    // count jobs fired DURING the winnowCandidates call (checkpoint +, in
    // the default arm, the packed-key guard's 1-row min/max probe); the
    // returned plan is lazy so downstream execution doesn't pollute it
    def settle(): Int = {
      // listener events post asynchronously — poll until the count is
      // stable for 3 consecutive 100 ms windows (max ~5 s)
      var last = -1; var stable = 0; var waited = 0
      while (stable < 3 && waited < 50) {
        Thread.sleep(100); waited += 1
        val cur = jobCount.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      last
    }
    def jobsDuring[T](body: => T): (T, Int) = {
      spark.sparkContext.addSparkListener(listener)
      val before = settle()
      val out = body
      val after = settle()
      spark.sparkContext.removeSparkListener(listener)
      (out, after - before)
    }
    val (probed, jobsProbed) = jobsDuring(Dedup.winnowCandidates(docs))
    val (promised, jobsPromised) = jobsDuring(Dedup.winnowCandidates(docs, idsBounded = true))
    // the probe is one logical job but AQE may stage it as 2 — assert the
    // flag strictly removes work, not an exact count
    assert(jobsPromised < jobsProbed,
      s"idsBounded should save the probe job(s) ($jobsProbed vs $jobsPromised)")
    // both arms: same schema (packed arm casts back to the input id type)
    // and same rows
    assert(promised.schema == probed.schema)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(promised) == rows(probed))
  }

  test("winnowCandidates two-column fallback: same pairs as the packed path, input id type") {
    import org.apache.spark.sql.types.{LongType, StringType}
    def pairs(df: org.apache.spark.sql.DataFrame, shift: Long = 0L) =
      df.collect().map(r => (r.get(0).toString.toLong - shift,
        r.get(1).toString.toLong - shift, r.getLong(2))).toSet
    val packed = Dedup.winnowCandidates(docs)
    val expected = pairs(packed)
    assert(expected.nonEmpty, "fixture must yield candidate pairs")
    assert(packed.schema("doc_a").dataType == LongType)
    // (a) string ids fail the integral type gate
    val asString = Dedup.winnowCandidates(docs.withColumn("doc_id", col("doc_id").cast("string")))
    assert(asString.schema("doc_a").dataType == StringType)
    assert(asString.schema("doc_b").dataType == StringType)
    assert(pairs(asString) == expected)
    // (b) ids past 2^31 fail the range probe
    val shift = 3L << 31
    val wide = Dedup.winnowCandidates(docs.withColumn("doc_id", col("doc_id") + lit(shift)))
    assert(wide.schema("doc_a").dataType == LongType)
    assert(pairs(wide, shift) == expected)
  }

  test("typed simhash kernel matches the column expression bit-for-bit") {
    val fast = Dedup.simhashTable(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val colV = docs.select(col("doc_id"),
        TextFunctions.simhash64(TextFunctions.tokens(col("text"))).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == colV)
  }

  test("simhash: near-dups within small hamming distance, distinct docs far") {
    val t = Dedup.simhashTable(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(t(0L), t(3L)) == 0)
    assert(ham(t(0L), t(1L)) <= 12)
    assert(ham(t(0L), t(2L)) > 10)
  }
}

class SimilaritySpec extends SparkSpec {

  private lazy val vectors = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0L until 300L).map { i =>
      val base = Array.fill(64)(rnd.nextFloat() * 2 - 1)
      (i, base)
    }.toDF("vec_id", "embedding")
  }

  test("pqEncode recovers exact prototypes and is partitioning-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // vectors drawn EXACTLY from 4 prototypes per 2-dim subspace: a
    // correct 4-code codebook must reach zero reconstruction error and
    // give identical codes to identical vectors
    val protos = Array.fill(4, 8)(rnd.nextGaussian())
    val rows = (0L until 240L).map { i =>
      val p = protos((i % 4).toInt)
      (i, p.map(_.toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.pqEncode(df, m = 4, k = 4, trainSample = 240)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(out.forall(_._3 == 0L), "nonzero reconstruction error on exact prototypes")
    // same prototype -> same code_hash; different prototypes -> distinct
    val byProto = out.groupBy(_._1 % 4).map { case (p, rs) => p -> rs.map(_._2).distinct }
    assert(byProto.values.forall(_.size == 1))
    assert(byProto.values.flatten.toSeq.distinct.size == 4)
    // the code assignment must not depend on the input partitioning
    val out3 = Similarity.pqEncode(df.repartition(3), m = 4, k = 4, trainSample = 240)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(out.toSeq == out3.toSeq)
  }

  test("semDedup keeps one representative per planted dup group, singletons keep themselves") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 60 spread vectors (random 64-dim directions are near-orthogonal:
    // no cross pair reaches the 0.9 threshold) + three planted groups
    val base = (0L until 60L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val protoA = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val protoB = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val planted =
      Seq(100L, 101L, 102L).map(i => (i, protoA.clone())) ++ // exact triple
        Seq((110L, protoB.clone()), (111L, protoB.map(x => x * 1.01f))) // scaled pair
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, threshold = 0.9, nlist = 4, seed = 42)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(out.length == 65)
    val byId = out.map(r => r._1 -> r).toMap
    // exact triple: one component labelled by the min id, exactly one
    // keeper, and the cdist tie broken by min vec_id
    val triple = Seq(100L, 101L, 102L).map(byId)
    assert(triple.forall(_._2 == 100L), s"triple group ids: $triple")
    assert(triple.count(_._3) == 1)
    assert(byId(100L)._3, "exact-copy tie must keep the min id")
    // scaled pair: same component, one keeper
    val pair = Seq(110L, 111L).map(byId)
    assert(pair.forall(_._2 == 110L), s"pair group ids: $pair")
    assert(pair.count(_._3) == 1)
    // every unplanted vector is its own kept singleton
    val rest = out.filter(_._1 < 60L)
    assert(rest.forall(r => r._2 == r._1 && r._3), "false-positive near-dup among spread vectors")
    // pure function of the data: invariant to input partitioning
    val out7 = Similarity.semDedup(df.repartition(7), threshold = 0.9, nlist = 4, seed = 42)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(out.sortBy(_._1).toSeq == out7.sortBy(_._1).toSeq)
  }

  test("enforceMaxCell splits a planted oversized cell; default cap is a byte-identical no-op") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // one dense blob of 520 vectors (tiny jitter around a prototype — one
    // k-means cell swallows all of them) + 80 spread vectors
    val proto = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val blob = (0L until 520L).map(i =>
      (i, proto.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)))
    val spread = (1000L until 1080L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = (blob ++ spread).toDF("vec_id", "embedding")

    val capped = Similarity.buildIvfIndex(df, nlist = 4, maxCell = 128)
    val sizes = capped.assigned.groupBy("cell").count()
      .collect().map(r => r.getLong(1))
    assert(sizes.forall(_ <= 128), s"oversized cell survived: ${sizes.mkString(",")}")
    assert(sizes.sum == 600)
    assert(capped.centers.length > 4, "split must grow the centers array")
    // every member still sits in a real cell of the grown centroid set
    val cellIds = capped.assigned.select("cell").distinct().collect().map(_.getInt(0))
    assert(cellIds.forall(c => c >= 0 && c < capped.centers.length))

    // the default cap must not bind at test scale: byte-identical assignment
    val uncapped = Similarity.buildIvfIndex(df, nlist = 4, maxCell = 0)
    val default = Similarity.buildIvfIndex(df, nlist = 4)
    def snap(ix: Similarity.IvfIndex) = ix.assigned.select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(snap(default) == snap(uncapped))
    assert(default.centers.length == 4)

    // partitioning-invariance survives the split path
    val capped5 = Similarity.buildIvfIndex(df.repartition(5), nlist = 4, maxCell = 128)
    assert(snap(capped5) == snap(capped))
  }

  test("full probe of a SPLIT index still equals brute force (exactness survives the cap)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val proto = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val blob = (0L until 300L).map(i =>
      (i, proto.map(x => x + (rnd.nextFloat() - 0.5f) * 0.3f)))
    val spread = (1000L until 1060L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = (blob ++ spread).toDF("vec_id", "embedding")
    val idx = Similarity.buildIvfIndex(df, nlist = 4, maxCell = 80)
    assert(idx.centers.length > 4, "cap must have split the blob cell")
    // probing EVERY cell of the refined index must reproduce brute-force
    // top-k exactly: splitting re-buckets vectors but never loses one
    val queries = df.filter(col("vec_id") < 5)
    def snap(r: org.apache.spark.sql.DataFrame) = r
      .select("query_id", "neighbor_id", "rank")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    val full = snap(Similarity.probeIvf(idx, queries, k = 5, nprobe = idx.centers.length))
    val brute = snap(Similarity.bruteKnn(queries, df, k = 5))
    assert(full == brute, "split index lost or duplicated a vector")
  }

  test("enforceMaxCell splits HUNDREDS of oversized cells in one round, sub-fits distributed") {
    import spark.implicits._
    // 200 planted cells of 39 vectors each (3 well-separated sub-blobs of
    // 13) fed DIRECTLY to enforceMaxCell with maxCell=16: every cell is
    // oversized at once — the regime the r11 driver-side sub-fit would
    // have paid 200 × sample collects for, now 200 distributed Lloyd fits
    // whose only driver traffic is the fitted sub-centroids
    val rnd = new scala.util.Random(41)
    val dim = 8
    val rows = (0 until 200).flatMap { c =>
      val proto = Array.tabulate(dim)(d => ((c * 7 + d * 3) % 40).toDouble * 10.0)
      (0 until 39).map { j =>
        val sub = j % 3 // 3 separable sub-blobs per cell
        val v = proto.clone()
        v(0) += sub * 4.0
        var d = 0
        while (d < dim) { v(d) += (rnd.nextDouble() - 0.5) * 0.01; d += 1 }
        (c.toLong * 39 + j, c, v)
      }
    }
    val assigned = rows.toDF("vec_id", "cell", "v")
    val centers = Array.tabulate(200)(c =>
      Array.tabulate(dim)(d => ((c * 7 + d * 3) % 40).toDouble * 10.0))
    val (refined, grown) = Similarity.enforceMaxCell(assigned, centers, maxCell = 16)
    val sizes = refined.groupBy("cell").count().collect().map(r => r.getLong(1))
    assert(sizes.sum == 200L * 39, "split lost or duplicated vectors")
    assert(sizes.forall(_ <= 16), s"oversized cell survived: max=${sizes.max}")
    // all 200 cells Lloyd-split in round 1 (b = ceil(39/16) = 3 → ≥2 new
    // centroids per parent); a minority may take a round-2 touch-up when
    // the hash-ordered init seeds land inside one sub-blob, but the salt
    // path (2× headroom → 5 extra per cell → ≥1200 total) must stay cold
    assert(grown.length >= 200 + 2 * 200 && grown.length < 1100,
      s"expected ~600-1000 Lloyd-split centers (no salt), got ${grown.length}")
    // partitioning invariance holds across the mass-split path
    val (refined11, grown11) =
      Similarity.enforceMaxCell(assigned.repartition(11), centers, maxCell = 16)
    assert(grown11.length == grown.length)
    assert(grown.indices.forall(i => java.util.Arrays.equals(grown(i), grown11(i))),
      "distributed sub-fit centers must be partitioning-independent")
    def snap(df: org.apache.spark.sql.DataFrame) = df.select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(snap(refined) == snap(refined11))
  }

  test("enforceMaxCell reads a string-typed cell column (partition-column inference off)") {
    import spark.implicits._
    // the atRestPath branch hands enforceMaxCell a parquet PARTITION
    // column; with partitionColumnTypeInference disabled that column is
    // StringType — the explicit int cast must absorb it
    val rnd = new scala.util.Random(5)
    val rows = (0 until 80).map(i => (i.toLong, "0", Array.fill(4)(rnd.nextDouble())))
    val assigned = rows.toDF("vec_id", "cell", "v")
    assert(assigned.schema("cell").dataType == org.apache.spark.sql.types.StringType)
    val centers = Array(Array.fill(4)(0.5))
    val (refined, grown) = Similarity.enforceMaxCell(assigned, centers, maxCell = 32)
    val sizes = refined.groupBy("cell").count().collect().map(r => r.getLong(1))
    assert(sizes.sum == 80 && sizes.forall(_ <= 32))
    assert(grown.length > 1)
  }

  test("enforceMaxCell salt-splits a cell Lloyd cannot separate (identical vectors)") {
    import spark.implicits._
    val one = Array.fill(16)(0.5f)
    val df = (0L until 300L).map(i => (i, one.clone())).toDF("vec_id", "embedding")
    val idx = Similarity.buildIvfIndex(df, nlist = 2, maxCell = 64)
    val sizes = idx.assigned.groupBy("cell").count().collect().map(r => r.getLong(1))
    assert(sizes.sum == 300)
    assert(sizes.forall(_ <= 64), s"salt split left an oversized cell: ${sizes.mkString(",")}")
    // replicated-parent centroids: every new center equals the original
    assert(idx.centers.forall(_.sameElements(idx.centers.head)))
  }

  test("semDedup under a forced cell split still collapses planted dup groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val proto = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    // 300-member dense blob (oversized at maxCell=64) with an exact dup
    // pair planted INSIDE it, plus spread singletons
    val blob = (0L until 298L).map { i =>
      (i, proto.map(x => x + (rnd.nextFloat() - 0.5f) * 0.4f))
    }
    val planted = Seq((500L, proto.clone()), (501L, proto.clone()))
    val spread = (1000L until 1040L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = (blob ++ planted ++ spread).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, threshold = 0.999, nlist = 4, maxCell = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(out.length == 340)
    // candidate volume is capped: every refined cell fits under maxCell
    val cellSizes = out.groupBy(_._2).view.mapValues(_.length)
    assert(cellSizes.values.forall(_ <= 64),
      s"refined cell over cap: ${cellSizes.toMap}")
    // identical vectors share a leaf cell, so the planted pair is found
    val pair = out.filter(r => r._1 == 500L || r._1 == 501L)
    assert(pair.forall(_._3 == 500L), s"planted pair split across groups: ${pair.toSeq}")
    assert(pair.count(_._4) == 1)
    // partitioning-invariant under the split path too
    val out9 = Similarity.semDedup(df.repartition(9), threshold = 0.999, nlist = 4, maxCell = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(out.sortBy(_._1).toSeq == out9.sortBy(_._1).toSeq)
  }

  test("randomProjection matches a driver-side recompute and ignores partitioning") {
    import spark.implicits._
    val out = Similarity.randomProjection(vectors, outDims = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out.size == 300 * 8)
    // independent driver-side recompute of the md5-parity Rademacher dot
    val md = java.security.MessageDigest.getInstance("MD5")
    def sgn(i: Int, j: Int): Long = {
      val h = md.digest(s"${i}_${j}".getBytes("UTF-8"))
      if ((((h(0) & 0xff) << 8 | (h(1) & 0xff)) % 2) == 0) 1L else -1L
    }
    vectors.limit(5).collect().foreach { r =>
      val id = r.getLong(0)
      val qv = r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong)
      (0 until 8).foreach { j =>
        val expect = qv.indices.map(i => qv(i) * sgn(i, j)).sum
        assert(out((id, j)) == expect, s"vec $id dim $j")
      }
    }
    val out5 = Similarity.randomProjection(vectors.repartition(5), outDims = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out5 == out)
  }

  test("quantizedKnn returns k sorted, distinct neighbors per query") {
    val out = Similarity.quantizedKnn(vectors, col("vec_id") < 5, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(2)))
    assert(out.length == 5 * 4)
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-(_: Double)).toSeq)
      assert(rows.map(_._2).distinct.length == 4)
    }
  }

  test("quantizedKnn matches a driver-side brute force") {
    val data = vectors.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray.map(x => math.floor(x.toDouble * 1000).toLong)))
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) * math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val expected = (for ((qid, qv) <- data.take(3)) yield {
      val nn = data.filter(_._1 != qid).map { case (nid, nv) => (nid, cos(qv, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }.take(3).map(_._1).toSeq
      qid -> nn
    }).toMap
    val got = Similarity.quantizedKnn(vectors, col("vec_id") < 3, 3)
      .orderBy("query_id", "rank").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(3)).map(_.getLong(1)).toSeq).toMap
    assert(got == expected)
  }

  test("centroidClassify is partitioning-invariant and self-consistent on separated labels") {
    val s = spark
    import s.implicits._
    // two well-separated label clouds: classification must be perfect
    val rnd = new scala.util.Random(11)
    val pts = (0L until 200L).map { i =>
      val lab = (i % 2).toInt
      val base = if (lab == 0) -0.4 else 0.4
      (i, Array.fill(16)((base + rnd.nextDouble() * 0.1).toFloat), lab)
    }.toDF("vec_id", "embedding", "label")
    def run(parts: Int) = Similarity.centroidClassify(pts.repartition(parts))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val r1 = run(1)
    assert(r1 == run(7))
    assert(r1 == Seq((0, 0, 100L), (1, 1, 100L)), s"misclassification: $r1")
  }

  test("appendToIvf probes exactly like a one-pass assignment under the same centers") {
    val base = vectors.filter(col("vec_id") % 4 =!= 0)
    val delta = vectors.filter(col("vec_id") % 4 === 0)
    val index = Similarity.buildIvfIndex(base, nlist = 8)
    val appended = Similarity.appendToIvf(index, delta)
    // one-pass reference: assign the FULL corpus under the base-trained
    // centers by appending everything to an empty shell of the same index
    val onePass = Similarity.appendToIvf(index.copy(assigned = index.assigned.limit(0)), vectors)
    def probe(ix: Similarity.IvfIndex) =
      Similarity.probeIvf(ix, vectors.filter(col("vec_id") < 12), k = 4, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(2))).sorted.toSeq
    assert(probe(appended).nonEmpty)
    assert(probe(appended) == probe(onePass))
    // the delta actually landed: appended corpus covers every vector
    assert(appended.assigned.count() == 300L)
  }

  test("probe broadcast crossover: both join strategies return identical neighbors") {
    // few queries over the corpus -> high corpus/probe ratio -> the
    // broadcast path; many queries -> low ratio -> the shuffle path.
    // Results must be bit-identical either way (same cosine kernel, same
    // tie-break) — the guard picks a physical strategy, never semantics.
    val index = Similarity.buildIvfIndex(vectors, nlist = 16)
    def rows(q: org.apache.spark.sql.DataFrame) =
      Similarity.probeIvf(index, q, k = 3, nprobe = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(2))).sorted.toSeq
    val fewQ = vectors.filter(col("vec_id") < 6)      // broadcast side
    val manyQ = vectors                               // shuffle side
    val few = rows(fewQ)
    val many = rows(manyQ).filter(_._1 < 6)
    assert(few.nonEmpty && few == many,
      s"broadcast and shuffle probe plans disagree: $few vs $many")
    // the decision itself: small probe side over a big-corpus estimate
    // broadcasts, the same probe side over a small corpus does not
    val probeLike = fewQ.selectExpr("vec_id as query_id", "0 as cell",
      "cast(embedding as array<double>) as qv").localCheckpoint(true)
    def isBc(nlist: Int) = Similarity.maybeBroadcastProbe(probeLike, 64, nlist)
      .queryExecution.analyzed.toString.contains("Hint")
    // 6 probe rows ≈ 3.2 KB: nlist=4096 estimates a ~9 GB corpus (ratio
    // >> 16, broadcast); nlist=4 estimates ~8.6 KB (ratio < 16, shuffle)
    assert(isBc(4096) && !isBc(4), "broadcast guard crossover misplaced")
  }

  test("ivfKnn: valid ranked output and better recall than nprobe/nlist fraction") {
    val exact = Similarity.quantizedKnn(vectors, col("vec_id") < 20, 5)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val ivf = Similarity.ivfKnn(vectors, k = 5, nlist = 8, nprobe = 3)
      .filter(col("query_id") < 20).collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(ivf.nonEmpty)
    // quantized vs float cosine rank slightly differently; compare as sets
    val recalls = exact.keys.toSeq.map { q =>
      val hits = ivf.getOrElse(q, Set.empty).intersect(exact(q)).size
      hits.toDouble / 5.0
    }
    val meanRecall = recalls.sum / recalls.length
    assert(meanRecall > 3.0 / 8.0,
      f"IVF recall $meanRecall%.2f not better than random cell fraction")
  }

  test("probeIvfPq: valid ranks, IVF-level recall, rerank contains the answer") {
    val exact = Similarity.quantizedKnn(vectors, col("vec_id") < 20, 5)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val index = Similarity.buildIvfIndex(vectors, nlist = 8)
    val books = Similarity.pqCodebooks(vectors, m = 8, k = 16, trainSample = 300)
    val got = Similarity.probeIvfPq(index, books, vectors, kNn = 5, nprobe = 3)
      .filter(col("query_id") < 20).collect()
    val byQ = got.groupBy(_.getLong(0))
    byQ.foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to rows.length), "ranks not dense")
    }
    // PQ candidates + exact re-rank should land near plain-IVF recall:
    // clearly above the random nprobe/nlist fraction
    val recalls = exact.keys.toSeq.map { q =>
      byQ.get(q).map(_.map(_.getLong(1)).toSet.intersect(exact(q)).size).getOrElse(0) / 5.0
    }
    assert(recalls.sum / recalls.length > 3.0 / 8.0,
      f"IVF-PQ recall ${recalls.sum / recalls.length}%.2f at random-fraction level")
  }

  test("lshKnn achieves reasonable recall vs brute force on bucket-mates") {
    val lsh = Similarity.lshKnn(vectors, k = 3).collect()
    assert(lsh.nonEmpty)
    // every reported neighbor must share the query's sign bucket by construction
    val dims = Seq(1, 9, 17, 25, 33, 41, 49, 57)
    val vecs = vectors.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def bucket(v: Array[Float]) = dims.map(i => if (v(i - 1) >= 0) '1' else '0').mkString
    lsh.foreach { r =>
      assert(bucket(vecs(r.getLong(0))) == bucket(vecs(r.getLong(1))))
    }
  }

  test("autoLshBits pins the bits-vs-n law; the ladder prefix is the historical default") {
    // the first 8 ladder coordinates at 64 dims ARE the pre-r12 fixed
    // default, so sub-524k corpora stay byte-identical across rounds
    assert(Similarity.lshDimLadder(64).take(8) == Seq(1, 9, 17, 25, 33, 41, 49, 57))
    // ...and the first 32 ARE the pre-r13 four-level ladder verbatim
    // (every oracle SF and every dims-prefix caller stays byte-identical
    // under the r13 deepening)
    assert(Similarity.lshDimLadder(64).take(32) == Seq(
      1, 9, 17, 25, 33, 41, 49, 57, // stride offsets
      5, 13, 21, 29, 37, 45, 53, 61, // midpoints
      3, 11, 19, 27, 35, 43, 51, 59, // quarter-points
      7, 15, 23, 31, 39, 47, 55, 63)) // three-quarter-points
    // ladder coordinates are distinct, in range, and — since r13 — cover
    // EVERY coordinate at 64 dims (the van der Corput offset walk), so
    // the e18 OR-construction keeps >=4 disjoint 12-bit slices at sf10
    val ladder = Similarity.lshDimLadder(64)
    assert(ladder.distinct.length == ladder.length && ladder.forall(d => d >= 1 && d <= 64))
    assert(ladder.length == 64 && ladder.sorted == (1 to 64))
    // non-power-of-two strides cover every offset too (72 dims, stride 9)
    val l72 = Similarity.lshDimLadder(72)
    assert(l72.distinct.length == l72.length && l72.length == 72 && l72.sorted == (1 to 72))
    // every 8-aligned offset-level prefix is evenly spread: each stride-8
    // block of coordinate space holds exactly level-count entries
    (1 to 8).foreach { lvl =>
      val prefix = ladder.take(8 * lvl)
      (0 until 8).foreach { blk =>
        assert(prefix.count(d => (d - 1) / 8 == blk) == lvl,
          s"level $lvl block $blk uneven: $prefix")
      }
    }
    // the law: smallest b with 64·2^b ≥ n, clamped to [8, 24] — exact
    // integer boundaries (the DuckDB oracle replays the same arithmetic)
    assert(Similarity.autoLshBits(1, 64) == 8)
    assert(Similarity.autoLshBits(16384, 64) == 8) // 64·2^8 exactly
    assert(Similarity.autoLshBits(16385, 64) == 9) // first count past it
    assert(Similarity.autoLshBits(20000, 64) == 9)   // sf1 embeddings
    assert(Similarity.autoLshBits(200000, 64) == 12) // sf10 embeddings
    assert(Similarity.autoLshBits(2000000, 64) == 15)
    assert(Similarity.autoLshBits(Long.MaxValue / 2, 64) == 24) // ceiling clamp
    // occupancy invariant across the decades: n/2^bits ≤ target until clamp
    (8 to 17).foreach { p =>
      val n = 64L << p
      val bits = Similarity.autoLshBits(n, 64)
      assert(n <= 64L * (1L << bits), s"law violated at n=$n bits=$bits")
    }
  }

  test("lshKnn auto bit-count equals the explicit ladder prefix when the law engages") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val df = (0L until 1500L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    // targetBucket=4 → ceil(1500/4)=375 → 9 bits: the law must pick the
    // 9-coordinate ladder prefix and match an explicit-dims run exactly
    val auto = Similarity.lshKnn(df, k = 3, targetBucket = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val explicitDims = Similarity.lshKnn(df, k = 3,
        dims = Similarity.lshDimLadder(64).take(9)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(auto == explicitDims)
    // and at the default target the law stays on 8 bits here (n=1500),
    // i.e. byte-identical to the historical fixed-dims behavior
    val default8 = Similarity.lshKnn(df, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val fixed8 = Similarity.lshKnn(df, k = 3,
        dims = Seq(1, 9, 17, 25, 33, 41, 49, 57)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(default8 == fixed8)
  }

  test("lshKnnMulti: candidates superset of single-table, recall monotonically >= e04's") {
    import spark.implicits._
    // quantized fixture (the e18 gate shape) — single-table = the ladder's
    // first 8 bits = table 0 of the multi-table run, so every single-table
    // bucket-mate pair is also a multi-table candidate by construction
    val q = vectors.select(col("vec_id"),
      graft.functions.VectorFunctions.quantize(col("embedding")).as("embedding"))
      .localCheckpoint(true)
    val single = Similarity.lshKnn(q, k = 5,
        dims = Similarity.lshDimLadder(64).take(8)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val multi = Similarity.lshKnnMulti(q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(multi.nonEmpty)
    // exact ground truth for recall
    val brute = Similarity.quantizedKnn(q, lit(true), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def recall(rows: Array[(Long, Long, Double)]): Double = {
      val byQ = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      val rs = brute.toSeq.map { case (qid, exact) =>
        byQ.getOrElse(qid, Set.empty).intersect(exact).size / 5.0
      }
      rs.sum / rs.length
    }
    val rs = recall(single); val rm = recall(multi)
    assert(rm >= rs, s"multi-table recall $rm below single-table $rs")
    // per-query top-1 similarity can only improve under a candidate superset
    val s1 = single.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
    val m1 = multi.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
    s1.foreach { case (qid, c) =>
      assert(m1.getOrElse(qid, Double.MinValue) >= c - 1e-12,
        s"query $qid: multi top-1 ${m1.get(qid)} below single $c")
    }
  }

  test("LSH family recall floors on the planted-neighborhood fixture") {
    // The e06 pattern for the LSH family (r12 verdict #4): the oracles
    // replay the occupancy LAW, not the QUALITY — a ladder/law/salt
    // change could halve recall with every gate still green. This spec
    // pins recall@5 lower bounds on a DETERMINISTIC planted corpus:
    // 50 well-separated cluster prototypes x 8 jittered members (seed
    // 21; jitter sigma 0.18 flips some near-zero sign bits, so recall
    // is genuinely < 1 and sensitive to bucket machinery), ground truth
    // = exact cosine top-5 under the operator's own tie-break.
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val rows = (0 until 50).flatMap { c =>
      val proto = Array.fill(64)(rnd.nextGaussian())
      (0 until 8).map { m =>
        val v = proto.map(x => (x + 0.18 * rnd.nextGaussian()).toFloat)
        (c * 8L + m, v)
      }
    }
    val df = rows.toDF("vec_id", "embedding").localCheckpoint(true)
    val vecs = rows.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val truth: Map[Long, Set[Long]] = vecs.map { case (q, qv) =>
      q -> vecs.toSeq.collect { case (n, nv) if n != q => (n, cos(qv, nv)) }
        .sortBy { case (n, c) => (-c, n) }.take(5).map(_._1).toSet
    }
    def recall(out: Array[org.apache.spark.sql.Row]): Double = {
      val got = out.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      truth.toSeq.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size / 5.0
      }.sum / truth.size
    }
    val ladder = Similarity.lshDimLadder(64)
    val auto = recall(Similarity.lshKnn(df, k = 5).collect())
    val single12 = recall(Similarity.lshKnn(df, k = 5, dims = ladder.take(12)).collect())
    val multi12 = recall(Similarity.lshKnnMulti(df, k = 5, tables = 4, bitsPerTable = 12).collect())
    info(f"planted recall@5: e04-auto $auto%.3f, 1x12 $single12%.3f, 4x12 $multi12%.3f")
    // e04 shape at the 8-bit law floor (n=400 -> 8 bits). The corpus is
    // FIXED (seeded), so the measured values are constants of the
    // machinery — e04-auto 0.487, 1x12 0.330, 4x12 0.850 — and the
    // floors sit ~0.13 under measured: margin for machinery-preserving
    // refactors only, while a mechanism break (wrong slice, salt
    // misroute, law blow-up) collapses recall to near the
    // random-candidate level, far below every floor.
    assert(auto >= 0.35, f"e04-auto recall@5 $auto%.3f below the 0.35 floor")
    // e18 shape at DEPTH: 4 tables x 12 bits needs 48 ladder coordinates
    // — the r13 deepening (pre-r13 the 32-entry ladder capped this at 2
    // tables). The OR-construction must also beat its own single table
    // by >= 0.25 (measured +0.52) — the lever the deepening keeps live.
    assert(single12 >= 0.20, f"single-12-bit recall@5 $single12%.3f below the 0.20 floor")
    assert(multi12 >= 0.65, f"e18 4x12 recall@5 $multi12%.3f below the 0.65 floor")
    assert(multi12 - single12 >= 0.25,
      f"multi-table lever dead at depth: 4x12 $multi12%.3f vs 1x12 $single12%.3f")
  }

  test("lshKnnMulti: kernel form is byte-identical to the pair-join form") {
    import spark.implicits._
    // the per-group-kernel form (the recorded slower counter-example —
    // References.lshKnnMultiKernel) must be EXACT, not approximate: top-k
    // over the deduped union of per-group top-ks equals top-k over all
    // candidates under the strict (cos desc, id asc) order, and the
    // kernel's scalar cosine matches the codegen'd cosine_sim bit for
    // bit. Quantized fixture (the e18 gate shape) + a float one, both
    // with a forced hot-bucket salt and forced 12-bit depth.
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val q = vectors.select(col("vec_id"),
      graft.functions.VectorFunctions.quantize(col("embedding")).as("embedding"))
      .localCheckpoint(true)
    for ((label, df, mb, bpt) <- Seq(
        ("quantized-default", q, 4096, 0),
        ("float-12bit", vectors, 4096, 12),
        ("quantized-salted", q, 20, 0))) {
      val kernel = rows(References.lshKnnMultiKernel(df, k = 5,
        maxBucket = mb, bitsPerTable = bpt))
      val pair = rows(Similarity.lshKnnMulti(df, k = 5,
        maxBucket = mb, bitsPerTable = bpt))
      assert(kernel == pair, s"$label: kernel and pair-join forms diverge")
    }
  }

  test("residual PQ (IVFADC): finer grid than raw PQ on clustered data; recall holds") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // clustered corpus — the regime IVFADC exists for: MORE cluster
    // modes than the 16 per-subspace codes can cover, so raw PQ must
    // spend its budget on the mode layout while the residual form (the
    // coarse quantizer removed each cell's mean) spends it all on the
    // within-cluster jitter. With 4 clusters the two differ only by the
    // k^(-2/d) code-allocation factor (~1.5x measured); with 32 the
    // residual grid is ~5x finer — the assertion pins the regime where
    // the published form earns its keep.
    val protos = Array.fill(32)(Array.fill(64)(rnd.nextGaussian() * 2))
    val rows = (0L until 384L).map { i =>
      val p = protos((i % 32).toInt)
      (i, p.map(x => (x + 0.3 * rnd.nextGaussian()).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding").localCheckpoint(true)
    val index = Similarity.buildIvfIndex(df, nlist = 32)
    val rawErr = Similarity.pqEncode(df).agg(sum(col("err_q"))).head.getLong(0)
    val resErr = Similarity.pqEncodeResidual(index).agg(sum(col("err_q"))).head.getLong(0)
    info(f"PQ reconstruction err: raw $rawErr vs residual $resErr " +
      f"(${rawErr.toDouble / resErr}%.1fx)")
    assert(resErr < rawErr / 2,
      s"residual PQ error $resErr not well below raw PQ's $rawErr on clustered data")
    // codes are a pure function of the data, not the partitioning
    val a = Similarity.pqEncodeResidual(index).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
    val b = Similarity.pqEncodeResidual(
        index.copy(assigned = index.assigned.repartition(7))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
    assert(a == b, "residual codes changed under repartitioning")
    // the full IVFADC probe: valid ranked output, recall at least at the
    // plain IVF-PQ level on the shared fixture (same cells, finer codes)
    val idx2 = Similarity.buildIvfIndex(vectors, nlist = 8)
    val queries = vectors.filter(col("vec_id") % 4 === 0)
    val exact = Similarity.probeIvf(idx2, queries, k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.toSeq.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size / 5.0
      }.sum / exact.size
    }
    val rRes = recallOf(Similarity.probeIvfPqResidual(idx2,
      Similarity.pqCodebooksResidual(idx2), queries, kNn = 5))
    val rRaw = recallOf(Similarity.probeIvfPq(idx2,
      Similarity.pqCodebooks(vectors), queries, kNn = 5))
    info(f"IVF-PQ recall@5: residual $rRes%.3f vs raw $rRaw%.3f")
    assert(rRes >= rRaw - 0.05,
      f"residual-ADC recall $rRes%.3f fell below the raw path's $rRaw%.3f")
    assert(rRes > 8.0 / 64.0, f"residual recall $rRes%.3f at random-fraction level")
  }

  test("IVF family recall floors on the 32-cluster planted fixture") {
    // The planted-fixture discipline extended to the IVF family (r13
    // verdict next #4, widened in r14): since r14 the catalog gates
    // e06/e09/e12/e19 are ranked-row FULL-REPLAY oracles — DuckDB
    // recomputes the same algorithm, so they pin machinery exactness,
    // not approximation QUALITY. This spec is the family's recall
    // gate: recall@5 ABSOLUTE floors on the clustered fixture (32
    // prototypes x 12 jittered members, seed 17 — the regime IVF/PQ
    // exist for), ground truth = exact cosine top-5 under the
    // operators' own (cos desc, id asc) tie-break, probed at the
    // production nprobe=4 over the auto-nlist index. The corpus is
    // FIXED (seeded), so measured recalls are constants of the
    // machinery; floors sit ~0.13 under measured (the e04/e18 planted-
    // floor convention): headroom for machinery-preserving refactors,
    // while a broken fit, assignment, encode, ADC ranking or re-rank
    // collapses recall far below every floor. MEAN recall is the
    // gateable statistic, never the per-query min: at nprobe=4 a
    // query whose true neighbors all sit outside its probed cells
    // legitimately scores 0 (measured on the corpus tables before the
    // r14 oracle conversion) — exactness of the machinery itself is
    // e14's full-probe equality, not a recall bound's job.
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val protos = Array.fill(32)(Array.fill(64)(rnd.nextGaussian() * 2))
    // jitter 3.5 (vs the err-ratio spec's 0.3) pushes the probes into
    // their SENSITIVE regime: at 0.3-1.1 the exact top-32 re-rank
    // saturates the PQ paths at recall 1.000 (a mild ADC degradation
    // would be invisible); at 3.5 cluster margins shrink until
    // probed-cell selection and ADC candidate ordering decide ranks —
    // measured 0.777 ivf / 0.692 raw / 0.737 residual / 0.829 append,
    // mid-band and residual-favored over raw, the regime IVFADC exists
    // for
    val rows = (0L until 384L).map { i =>
      val p = protos((i % 32).toInt)
      (i, p.map(x => (x + 3.5 * rnd.nextGaussian()).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding").localCheckpoint(true)
    val vecs = rows.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth: Map[Long, Set[Long]] = vecs.collect { case (q, qv) if q % 4 == 0 =>
      q -> vecs.toSeq.collect { case (n, nv) if n != q => (n, cos(qv, nv)) }
        .sortBy { case (n, c) => (-c, n) }.take(5).map(_._1).toSet
    }.toMap
    def recall(out: Array[org.apache.spark.sql.Row]): Double = {
      val got = out.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      truth.toSeq.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size / 5.0
      }.sum / truth.size
    }
    val index = Similarity.buildIvfIndex(df)
    val queries = df.filter(col("vec_id") % 4 === 0)
    val ivf = recall(Similarity.probeIvf(index, queries, k = 5).collect())
    val raw = recall(Similarity.probeIvfPq(index,
      Similarity.pqCodebooks(df), queries, kNn = 5).collect())
    val res = recall(Similarity.probeIvfPqResidual(index,
      Similarity.pqCodebooksResidual(index), queries, kNn = 5).collect())
    // the e12 shape: train on ~75%, append the rest under the frozen
    // centers — append recall must stay in the same band as the
    // full-build probe (centroid drift on a FIXED fixture is bounded)
    val app = recall(Similarity.probeIvf(
      Similarity.appendToIvf(
        Similarity.buildIvfIndex(df.filter(col("vec_id") % 4 =!= 3)),
        df.filter(col("vec_id") % 4 === 3)),
      queries, k = 5).collect())
    info(f"planted recall@5: e06-ivf $ivf%.3f, e09-raw-PQ $raw%.3f, " +
      f"e19-residual-PQ $res%.3f, e12-append $app%.3f")
    // e06's probe (exact cosine within probed cells) upper-bounds both
    // PQ paths by construction — its floor sits above theirs
    assert(ivf >= 0.65, f"IVF nprobe=4 recall@5 $ivf%.3f below the 0.65 floor")
    assert(raw >= 0.55, f"raw IVF-PQ recall@5 $raw%.3f below the 0.55 floor")
    assert(res >= 0.60, f"residual IVF-PQ recall@5 $res%.3f below the 0.60 floor")
    assert(app >= 0.70, f"appended-index recall@5 $app%.3f below the 0.70 floor")
  }

  test("probeIvf broadcast crossover picks the right side in both regimes") {
    // r12 verdict #7: the ratio-guarded probe broadcast, asserted on the
    // executed plan at BOTH regimes. Auto-broadcast is disabled for the
    // duration so the ONLY possible BroadcastHashJoin is the guard's own
    // explicit hint — the assertion tests the guard, not Spark's size
    // estimation.
    import spark.implicits._
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def planOf(df: org.apache.spark.sql.DataFrame): String = {
        df.collect() // finalize AQE
        df.queryExecution.executedPlan.toString
      }
      // broadcast regime: 5000-vector corpus, 10-query full probe —
      // probe 160 rows vs corpus 5000 (ratio ~31 >= 16) -> the corpus
      // must NOT shuffle; the probe side is broadcast
      val rnd = new scala.util.Random(31)
      val big = (0L until 5000L)
        .map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
        .toDF("vec_id", "embedding").localCheckpoint(true)
      val idxB = Similarity.buildIvfIndex(big, nlist = 16)
      assert(idxB.nVectors == 5000L, s"index lost its corpus count: ${idxB.nVectors}")
      val pB = planOf(Similarity.probeIvf(idxB, big.filter(col("vec_id") < 10),
        k = 3, nprobe = 16))
      assert(pB.contains("BroadcastHashJoin"),
        s"probe side not broadcast at corpus/probe ratio ~31:\n$pB")
      // shuffle regime: 300-vector corpus, 100-query full probe — probe
      // 1600 rows vs corpus 300 (ratio < 1) -> broadcasting the probe
      // would ship MORE than the corpus shuffle moves; guard must decline
      val idxA = Similarity.buildIvfIndex(vectors, nlist = 16)
      val pA = planOf(Similarity.probeIvf(idxA, vectors.filter(col("vec_id") < 100),
        k = 3, nprobe = 16))
      assert(!pA.contains("BroadcastHashJoin"),
        s"probe side broadcast below the crossover ratio:\n$pA")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("lshKnn hot-bucket guard splits oversize buckets, leaves small ones exact") {
    // 200 vectors in ONE sign bucket (all-positive on the hashed dims)
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val hot = (0L until 200L).map { i =>
      (i, Array.fill(64)(rnd.nextFloat() * 0.9f + 0.05f))
    }.toDF("vec_id", "embedding")
    val guarded = Similarity.lshKnn(hot, k = 3, maxBucket = 50).collect()
    // every query answered, and only with sub-bucket mates (same salt)
    def salt(id: Long, nsplit: Long): Long = {
      // mirror pmod(xxhash64(vec_id), nsplit)
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        id, org.apache.spark.sql.types.LongType, 42L)
      ((h % nsplit) + nsplit) % nsplit
    }
    val nsplit = math.ceil(200.0 / 50).toLong
    assert(guarded.map(_.getLong(0)).distinct.length == 200)
    guarded.foreach { r =>
      assert(salt(r.getLong(0), nsplit) == salt(r.getLong(1), nsplit),
        s"pair crosses sub-buckets: ${r.getLong(0)} ${r.getLong(1)}")
    }
    // with the cap above the bucket size the output equals the unguarded path
    val loose = Similarity.lshKnn(hot, k = 3, maxBucket = 4096).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val unguarded = Similarity.lshKnn(hot, k = 3, maxBucket = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(loose == unguarded)
  }

  test("etaElection matches a driver-side brute-force election") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = for (vid <- 0L until 3L; idx <- 0L until 20L)
      yield (vid, idx, math.rint(rnd.nextDouble() * 100) / 100,
        0.5 + math.rint(rnd.nextDouble() * 100) / 100)
    val df = rows.toDF("vid", "idx", "acc", "cost")
    val got = KnobTuning.etaElection(df, "vid", "idx", "acc", "cost",
        samplesPerStart = 5, numEtas = 10, minEta = 0.1, maxEta = 10.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force per the reference loop (knob_tuner.py:344-361)
    val expected = rows.groupBy(_._1).flatMap { case (vid, vs) =>
      val n = vs.length
      val etaFac = vs.map(_._3).sum / vs.map(_._4).sum
      def eta(idx: Long) = {
        val e = math.floor(idx.toDouble * 10 / n)
        etaFac * 0.1 + e * (etaFac * 10.0 - etaFac * 0.1) / 9
      }
      vs.groupBy(_._2 / 5).map { case (g, grp) =>
        val best = grp.map(s => (s._2, s._3 - eta(s._2) * s._4))
          .maxBy { case (idx, score) => (score, -idx.toDouble) }
        (vid, g) -> best._1
      }
    }
    assert(got == expected)
  }

  test("at-rest IVF index prunes the probe scan to the probed cells' files") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_spec").toString
    val atRest = Similarity.buildIvfIndex(vectors, nlist = 8, seed = 42,
      atRestPath = Some(s"$dir/index"))
    val mem = Similarity.buildIvfIndex(vectors, nlist = 8, seed = 42)
    val queries = vectors.filter(col("vec_id") < 3)
    val cells = Similarity.probedCells(atRest, queries, nprobe = 2).toSet
    assert(cells.size <= 3 * 2 && cells.size < 8)
    // the literal cell filter must prune the scan to the probed cells'
    // partition directories (inputFiles ignores filters — read the
    // executed scan's selected partitions)
    val pruned = atRest.assigned
      .filter(col("cell").isin(cells.toSeq.map(Integer.valueOf): _*))
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val nParts = scan.selectedPartitions.partitionCount
    assert(nParts == cells.size,
      s"scan read $nParts partition dirs, probed ${cells.size}: $cells")
    assert(nParts < atRest.centers.length)
    // and the at-rest probe returns exactly what the in-memory probe does
    def rows(idx: Similarity.IvfIndex) =
      Similarity.probeIvf(idx, queries, k = 4, nprobe = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    assert(rows(atRest) == rows(mem))
  }

  test("spark.ml kmeans parity: deterministic Lloyd finds the same partition on a separated fixture") {
    // r15: the e05/n07 gates moved from frozen spark.ml centroids to
    // the engine's own deterministic Lloyd with FULL-REPLAY oracles
    // (the last kmeans frozen constants gone — r14 verdict next #3).
    // This spec is where the spark.ml relationship now lives: on a
    // separated fixture (4 prototypes, jitter 0.1 vs inter-cluster
    // distance ~10s) a seeded spark.ml KMeans and lloydCenters must
    // recover the IDENTICAL partition (k-means is unambiguous here —
    // any correct k-means finds it), pinning that the hand-rolled fit
    // is a faithful k-means and not some other clustering. Centroid
    // coordinates then agree to float tolerance as a consequence
    // (both are cluster means of the same partition).
    import spark.implicits._
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val rnd = new scala.util.Random(7)
    val protos = Array.tabulate(4)(c =>
      Array.tabulate(8)(d => ((c * 13 + d * 5) % 23).toDouble * 10.0))
    val pts = (0 until 120).map(i =>
      (i.toLong, protos(i % 4).map(x => x + rnd.nextGaussian() * 0.1)))
    val df = pts.toDF("id", "v").localCheckpoint(true)

    val feats = df.select(col("id"), array_to_vector(col("v")).as("features"))
    val ml = new KMeans().setK(4).setSeed(42).setMaxIter(20).fit(feats)
    val mlGroups = ml.transform(feats).select("id", "prediction").collect()
      .map(r => (r.getLong(0), r.getInt(1))).groupBy(_._2)
      .values.map(_.map(_._1).toSet).toSet

    // train in id order: points 0-3 are one per cluster, so the
    // first-k-distinct init covers every cluster. (Hash-order sampling
    // — the e05/n07 protocol — can seed two points in one cluster and
    // Lloyd then converges to a DIFFERENT local optimum than kmeans||;
    // that is init sensitivity, a property of any k-means, not of the
    // iteration. The parity pinned here is the iteration's: given a
    // covering init, the hand-rolled fit recovers exactly the
    // partition spark.ml does.)
    val train = pts.map(_._2).toArray
    val cs = Similarity.lloydCenters(train, 4, iters = 20)
    def assign(v: Array[Double]): Int = {
      var best = 0; var bd = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        var dd = 0.0; var i = 0
        while (i < v.length) { val t = v(i) - cs(c)(i); dd += t * t; i += 1 }
        if (dd < bd) { bd = dd; best = c }
        c += 1
      }
      best
    }
    val myGroups = pts.map { case (id, v) => (id, assign(v)) }.groupBy(_._2)
      .values.map(_.map(_._1).toSet).toSet
    assert(myGroups == mlGroups,
      s"partition mismatch: lloyd ${myGroups.map(_.size)} vs spark.ml ${mlGroups.map(_.size)}")

    // matched centroids agree to tolerance (means of the same groups)
    val mlCenters = ml.clusterCenters.map(_.toArray)
    cs.foreach { c =>
      val nearest = mlCenters.map(m =>
        m.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum).min
      assert(nearest < 1e-6, s"no spark.ml centroid within 1e-6 of ${c.take(3).mkString(",")}...")
    }
  }
}

class GcnSpec extends graft.SparkSpec {

  test("gcn layer matches a dense driver-side recompute") {
    val s = spark
    import s.implicits._
    val w = Array.tabulate(3, 2)((f, c) => (f + 1) * 0.3 - c * 0.55)
    val feats = Map(
      0L -> Array(1.0, -2.0, 3.0), 1L -> Array(0.5, 0.5, -0.5),
      2L -> Array(-1.0, 4.0, 2.0), 3L -> Array(2.5, 0.0, 1.0),
      4L -> Array(0.0, 0.0, 0.0)) // isolated node: self-loop only
    val edgeList = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
    val nodes = feats.toSeq.map { case (i, f) => (i, f) }.toDF("node_id", "features")
    val edges = edgeList.toDF("src", "dst")

    val got = Gcn.layer(nodes, edges, w).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // dense recompute: quantize X·W per node, mean over N(i)∪{i}, ReLU
    val q = feats.map { case (i, f) =>
      i -> (0 until 2).map(d =>
        math.floor((0 until 3).map(k => f(k) * w(k)(d)).sum * 1e6).toLong)
    }
    val nbrs = feats.keys.map { i =>
      i -> (edgeList.collect { case (a, b) if a == i => b } ++
        edgeList.collect { case (a, b) if b == i => a } ++ Seq(i))
    }.toMap
    val want = feats.keys.map { i =>
      val deg = nbrs(i).size
      val sums = (0 until 2).map(d => nbrs(i).map(j => q(j)(d)).sum)
      i -> ((math.max(sums(0), 0L) / deg, math.max(sums(1), 0L) / deg))
    }.toMap
    assert(got == want, s"got=$got want=$want")
  }

  test("gcn layer is invariant to duplicate and reversed edge rows") {
    val s = spark
    import s.implicits._
    val w = Array.tabulate(2, 2)((f, c) => f * 0.4 + c * 0.2 - 0.3)
    val nodes = (0L until 6L).map(i => (i, Array(i + 0.5, 3.0 - i))).toDF("node_id", "features")
    val edges = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("src", "dst")
    val messy = edges
      .union(edges.select(col("dst"), col("src"))) // already-symmetrized
      .union(edges)                                // plus duplicates
    def rows(e: org.apache.spark.sql.DataFrame) =
      Gcn.layer(nodes, e, w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(edges) == rows(messy))
  }

  test("gcn layer output is stable across input partitionings") {
    val s = spark
    import s.implicits._
    val w = Array.tabulate(2, 2)((f, c) => if (f == c) 1.0 else -0.25)
    val nodes = (0L until 40L).map(i => (i, Array(i * 0.7, 40.0 - i))).toDF("node_id", "features")
    val edges = (0L until 39L).map(i => (i, i + 1)).toDF("src", "dst")
    def run(np: Int) =
      Gcn.layer(nodes.repartition(np), edges.repartition(np), w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(1) == run(7))
  }
}
