package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs the catalog's bench-flagged queries on
  * SPARK_GRAFT_SF_DIR and prints one compact JSON line LAST.
  *
  * Results are forced through the noop sink so the full plan executes
  * (a bare count() lets Catalyst drop unprojected work).
  *
  * Measurement protocol (round 7, after the r6 d11/t03 9x phantom):
  *   - per query: 1 cold pass (plan compile + codegen + OS file cache),
  *     then 3 steady passes; the reported steady time is the MEDIAN of
  *     the NON-storm passes (round 17: the storm rule's flags now feed
  *     the headline median, not just the labels — see steadyMedian) —
  *     one contended pass can no longer fake a regression.
  *   - between queries the session is reset OUTSIDE the timed section:
  *     cached plans dropped, persistent RDDs (localCheckpoint blocks)
  *     unpersisted, and a GC requested so the ContextCleaner releases
  *     dead broadcasts. Without this, ~100 queries of accumulated
  *     checkpoint/broadcast blocks build storage-memory pressure whose
  *     eviction cost lands on whichever query runs next — the most
  *     plausible mechanism for r6's d11/t03 driver-only regressions.
  *   - round 11: the SLOWEST-10 (by sweep median) are RE-MEASURED in a
  *     fresh SparkContext each (stop + rebuild + warmup per query) and
  *     those medians replace the sweep medians in the artifact. The
  *     in-sweep reset retires caches/state stores/shuffle files but not
  *     146 queries of JVM sediment (codegen caches, metaspace, heap
  *     shape) — r10's artifact ran 15% over the repo's standalone
  *     medians with the entire gap concentrated in the slowest queries
  *     (d13 3.89 s in-sweep vs 2.40 standalone; d10 4.50 vs 2.06 —
  *     SCALING.md table). Isolation makes the number of record the
  *     dedicated-session number, which is also what a production job
  *     running ONE query sees. The sweep totals stay in the artifact
  *     (sweep_total / sweep map) — the sweep remains the stress probe
  *     that FINDS adjacency-sensitive plans.
  *
  * Output protocol: the harness keeps only a ~2,000-char tail of stdout,
  * which for 6 rounds truncated the full ~4 KB per-query map mid-line
  * ("parsed": null every round). Now the LAST line is a compact summary
  * (total + slowest-10, well under 1.5 KB); the full per-query maps
  * (cold + each steady pass + median) go to target/bench_latest.json
  * and to an earlier stdout line.
  */
object Bench {

  /** Sitting fingerprint (r14 verdict #1): the r14 driver artifact drifted
    * +38% vs r13 with unchanged plans, and nothing IN the artifact could
    * adjudicate sitting/JIT class vs engine regression. These beans give
    * every future artifact the three discriminators the `passes` probe
    * uses: JIT compilation time (the documented sitting mechanism — a
    * cold JVM spends ~45 s/pass compiling, a warm one ~1 s), GC time
    * (heap-pressure class), and OS load average (contended-host class).
    * All are JVM-wide, which in local mode covers driver AND executors.
    */
  private val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Wall seconds of the fixed warmup noop job — a catalog-independent
    * micro-benchmark of THIS sitting (JVM startup + first codegen + one
    * tiny job). Cross-round, its ratio is a pure sitting probe. */
  @volatile private var lastWarmupSec: Double = 0.0

  /** Per-pass executor-side truth (r15 verdict #4): cumulative task
    * executorRunTime, shuffle bytes and spill bytes, snapshotted around
    * each timed pass like the JIT/GC beans. Run time and read+write
    * shuffle bytes are the two discriminators of the recorded
    * storm-adjudication rule (SCALING.md): a host storm inflates
    * exec_run 2-6x on BYTE-IDENTICAL plans, an engine regression moves
    * the bytes. Listener events drain asynchronously; the post-pass
    * snapshot waits a short settle (outside the timed section), which
    * bounds attribution error to stray milliseconds — harmless against
    * the rule's 2x threshold.
    */
  private object taskProbe extends org.apache.spark.scheduler.SparkListener {
    val execRunMs = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffleWriteBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val spillMemBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val spillDiskBytes = new java.util.concurrent.atomic.AtomicLong(0)
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        execRunMs.addAndGet(m.executorRunTime)
        shuffleBytes.addAndGet(
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillMemBytes.addAndGet(m.memoryBytesSpilled)
        spillDiskBytes.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  /** Streaming state footprint (r14 verdict #7): the last progress of
    * every stream started during a pass carries its state operators'
    * row and byte totals — the byte witness for the "state is
    * sketch-sized / corpus-shaped-but-RocksDB" claims. Keyed by run id,
    * each keeping its maximum; a pass sums them and clears the maps.
    */
  private object stateProbe extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val rows = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]
    val bytes = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]
    val progressEvents = new java.util.concurrent.atomic.AtomicLong(0)
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      progressEvents.incrementAndGet()
      val p = e.progress
      if (p.stateOperators.nonEmpty) {
        // RocksDB providers report ~0 memoryUsedBytes; their footprint
        // lives in the custom metrics (names from
        // RocksDBStateStoreProvider: SST files + pinned blocks)
        val mem = p.stateOperators.map { so =>
          def metric(k: String): Long =
            Option(so.customMetrics.get(k)).map(_.longValue).getOrElse(0L)
          so.memoryUsedBytes + metric("rocksdbSstFileSize") +
            metric("rocksdbPinnedBlocksMemoryUsage")
        }.sum
        rows.merge(p.runId, p.stateOperators.map(_.numRowsTotal).sum, (a, b) => math.max(a, b))
        bytes.merge(p.runId, mem, (a, b) => math.max(a, b))
      }
    }
  }

  private[graft] def buildSession(): SparkSession = {
    val spark = Sessions.local()
    spark.sparkContext.addSparkListener(taskProbe)
    spark.streams.addListener(stateProbe)
    // absorb JVM/session warmup outside the measured section; its wall is
    // recorded as a sitting probe (see lastWarmupSec)
    val w0 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    lastWarmupSec = (System.nanoTime() - w0) / 1e9
    spark
  }

  private val ResetSettleMs = 250L

  /** Drop state a finished query leaves behind, so the next query's
    * measurement is independent of catalog position. Not timed. */
  private[graft] def resetSession(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // unload every loaded state-store provider: each streaming run uses
    // a fresh checkpoint dir, so providers from prior runs are dead
    // weight the maintenance thread keeps scanning — measured on
    // n17/n18: pass-1 ~3.5 s but pass-3 5-10 s without this (the next
    // streaming query restarts maintenance on demand)
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    System.gc() // lets ContextCleaner reclaim dead broadcast/shuffle state
    // the cleaner processes its queue asynchronously: give it a beat so
    // dead shuffle files are actually unlinked before the next timed
    // pass. Shuffle-heavy queries at sf>=1 otherwise measure prior
    // passes' dead shuffle data competing for page cache and cleanup
    // IO landing inside the following pass — d08 at sf1 measured a
    // {6.8, 9.0, 12.8} s steady spread; with the blocking.shuffle
    // conf and this settle the same spread is {6.1, 6.1, 6.4} and the
    // median drops 9.0 -> 6.1 s
    // settle is un-timed but IS wall (~280 s over the 564 resets of a
    // full run at 250 ms). A 100 ms default was tried and rejected:
    // the full sf0.1 catalog measured 107.7 s steady vs 90.6 s at
    // 250 ms — the cleaner genuinely needs the beat at this reset
    // rate.
    Thread.sleep(ResetSettleMs)
    System.gc()
    Thread.sleep(ResetSettleMs)
  }

  /** One pass's wall plus its sitting diagnostics (JIT + GC deltas),
    * its executor-side truth (task exec_run, read+write shuffle MB —
    * the storm rule's byte witness — shuffle write MB, spill MB) and
    * its streaming state footprint. A `failed` pass's query threw: its
    * wall is not a timing. */
  private[graft] case class Pass(wall: Double, jitSec: Double, gcSec: Double,
                                 execSec: Double, shuffleMb: Double,
                                 shuffleWriteMb: Double = 0, spillMemMb: Double = 0,
                                 spillDiskMb: Double = 0, stateRows: Long = 0,
                                 stateMb: Double = 0, failed: Boolean = false)

  /** The recorded storm-adjudication rule (SCALING.md r15, encoded per
    * r15 verdict #4): a steady pass is a STORM pass when its task
    * exec_run exceeds 2x the query's best steady pass on ~identical
    * shuffle bytes (within 10% or 16 MB — same plan, same data). Tiny
    * exec_runs (<0.5 s) never flag: at that scale 2x is scheduler
    * noise, not a storm.
    *
    * Known limitation (documented in BENCH.md): the reference point is
    * the query's own min-exec steady pass, so a storm spanning EVERY
    * pass of a query flags nothing — an unflagged artifact is only
    * quiet-regime-trustworthy when the sitting-level discriminators
    * (load averages, warmup walls, /proc/stat when available) agree.
    */
  private[graft] def stormPasses(steady: Seq[Pass]): Seq[Boolean] = {
    if (steady.isEmpty) return Nil
    val ref = steady.minBy(_.execSec)
    steady.map(p => isStormVs(ref, p))
  }

  /** One pass judged against a reference pass by the recorded rule. */
  private[graft] def isStormVs(ref: Pass, p: Pass): Boolean =
    ref.execSec >= 0.5 && p.execSec > 2 * ref.execSec &&
      math.abs(p.shuffleMb - ref.shuffleMb) <=
        math.max(0.1 * math.max(p.shuffleMb, ref.shuffleMb), 16.0)

  /** Storm-excluded steady median (r16 verdict #1): the headline value
    * the driver compares round-over-round. r16 shipped the labeling but
    * the median still consumed flagged passes — 273.1 s median vs
    * 242.4 s best_total on 12 flags read as a +14% phantom regression.
    * Now the median is computed over NON-storm passes by construction.
    * Regimes: "quiet" (no flag, median of all), "storm_excluded" (some
    * flagged, median of the rest), "all_storm" (every pass flagged —
    * fall back to all passes and say so; trust best + sitting probes).
    */
  private[graft] def steadyMedian(steady: Seq[Pass]): (Double, String) = {
    if (steady.isEmpty) return (0.0, "empty")
    val flags = stormPasses(steady)
    val quiet = steady.zip(flags).collect { case (p, false) => p }
    val (pool, regime) =
      if (quiet.isEmpty) (steady, "all_storm")
      else if (quiet.size == steady.size) (steady, "quiet")
      else (quiet, "storm_excluded")
    (medianPass(pool).wall, regime)
  }

  /** The pass at the median wall. Passes are kept in run order, so
    * every median sorts here. */
  private[graft] def medianPass(passes: Seq[Pass]): Pass =
    passes.sortBy(_.wall).apply(passes.length / 2)

  /** Isolated-vs-sweep adjudication (r18, closing r16 verdict #6's last
    * gap): the dedicated-session re-measure replaces the in-sweep median
    * unconditionally, but the storm rule's reference is the query's OWN
    * min-exec pass — so an isolation phase landing in a host degradation
    * window (every pass uniformly inflated: flat bytes, 2-8x exec) flags
    * nothing and silently publishes the inflated median. The r17 driver
    * artifact did exactly this: q40 printed 12.24 s and n18 14.08 s from
    * the end-of-run isolation phase while their in-sweep medians and
    * same-machine standalone re-measures sat at 4.9-6.0 / ~3.0 s.
    *
    * Fix: pool the sweep and isolated steady passes of the SAME query
    * (same plan, same data, same protocol) and judge each isolated pass
    * against the POOLED min-exec reference. The isolated median is the
    * number of record only when at least one isolated pass survives that
    * test; otherwise the sweep median stands and the regime says so
    * ("iso_degraded+<sweep regime>"). The bias argument is one-sided:
    * sweep sediment and isolation-window degradation both INFLATE, so
    * whichever session holds the quiet pass is the honest reference.
    * Returns (median, regime, useIsolated).
    */
  private[graft] def isoOrSweepMedian(sweepSteady: Seq[Pass],
      isoSteady: Seq[Pass]): (Double, String, Boolean) = {
    if (isoSteady.isEmpty) {
      val (m, r) = steadyMedian(sweepSteady); return (m, r, false)
    }
    val pooled = sweepSteady ++ isoSteady
    val ref = pooled.minBy(_.execSec)
    val isoQuiet = isoSteady.filterNot(p => isStormVs(ref, p))
    if (isoQuiet.nonEmpty) {
      val regime =
        if (isoQuiet.size == isoSteady.size) "quiet"
        else "storm_excluded"
      (medianPass(isoQuiet).wall, regime, true)
    } else {
      val (m, r) = steadyMedian(sweepSteady)
      (m, s"iso_degraded+$r", false)
    }
  }

  /** Post-pass settle: the listener bus drains task-end and stream
    * progress events asynchronously, and a fixed sleep after a heavy
    * pass can let the tail bleed into the NEXT pass's exec/bytes delta
    * (a spurious storm flag, or a masked real one). Poll the probe
    * counters until two consecutive 50 ms reads are unchanged, bounded
    * at 1 s. */
  private def settleProbe(): Unit = {
    def counters() = (taskProbe.execRunMs.get(), taskProbe.shuffleBytes.get(),
      stateProbe.progressEvents.get())
    var prev = counters()
    var stable = 0
    var waited = 0L
    while (stable < 2 && waited < 1000) {
      Thread.sleep(50); waited += 50
      val cur = counters()
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
  }

  /** One timed pass of `q` through the noop sink, with the probe deltas
    * around it. A query that throws is reported on stderr and its pass
    * marked failed. Callers reset the session before each pass. */
  private[graft] def once(spark: SparkSession, q: Q, sfDir: String): Pass = {
    import scala.jdk.CollectionConverters._
    val jit0 = jitBean.getTotalCompilationTime
    val gc0 = gcMillis()
    val exec0 = taskProbe.execRunMs.get()
    val sh0 = taskProbe.shuffleBytes.get()
    val shw0 = taskProbe.shuffleWriteBytes.get()
    val spm0 = taskProbe.spillMemBytes.get()
    val spd0 = taskProbe.spillDiskBytes.get()
    stateProbe.rows.clear(); stateProbe.bytes.clear()
    val t0 = System.nanoTime()
    val failed =
      try {
        q.benchFn.getOrElse(q.fn)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        false
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}"); true
      }
    val wall = (System.nanoTime() - t0) / 1e9
    // outside the timed section: drain the listener-bus tail before
    // snapshotting the per-pass deltas (polled, not a fixed sleep)
    settleProbe()
    def mb(bytes: Long): Double = bytes / 1048576.0
    Pass(wall,
      (jitBean.getTotalCompilationTime - jit0) / 1e3,
      (gcMillis() - gc0) / 1e3,
      (taskProbe.execRunMs.get() - exec0) / 1e3,
      mb(taskProbe.shuffleBytes.get() - sh0),
      shuffleWriteMb = mb(taskProbe.shuffleWriteBytes.get() - shw0),
      spillMemMb = mb(taskProbe.spillMemBytes.get() - spm0),
      spillDiskMb = mb(taskProbe.spillDiskBytes.get() - spd0),
      stateRows = stateProbe.rows.values.asScala.sum,
      stateMb = mb(stateProbe.bytes.values.asScala.sum),
      failed = failed)
  }

  /** One query's full measurement: cold pass, storm-excluded steady
    * median + its regime, and the raw steady passes in run order. */
  private[graft] case class QRes(name: String, cold: Pass, median: Double,
                                 regime: String, steady: Seq[Pass]) {
    def failed: Boolean = (cold +: steady).exists(_.failed)
  }

  /** Splits results into the queries whose every pass ran and the names
    * of those with a failed pass. A failed pass's wall is not a timing,
    * so failed queries stay out of every median and total. */
  private[graft] def dropFailed(results: Seq[QRes]): (Seq[QRes], Seq[String]) = {
    val (failed, ok) = results.partition(_.failed)
    (ok, failed.map(_.name))
  }

  /** 1 cold + `steadyPasses` steady passes with a reset before EVERY
    * pass (not just every query): repeated runs of the same query
    * otherwise accumulate their own dead checkpoint blocks and
    * state-store providers, inflating later passes.
    */
  private def measure(spark: SparkSession, q: Q, sfDir: String,
                      steadyPasses: Int): QRes = {
    resetSession(spark)
    val cold = once(spark, q, sfDir)
    val steady = Seq.fill(steadyPasses) { resetSession(spark); once(spark, q, sfDir) }
    val (median, regime) = steadyMedian(steady)
    QRes(q.name, cold, median, regime, steady)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val steadyPasses = Sessions.intKnob(sys.env, "SPARK_GRAFT_BENCH_PASSES", 3, min = 1)
    // how many of the slowest sweep queries get a dedicated-session
    // re-measurement (0 disables, for quick local sweeps)
    val isolateSlowest = Sessions.intKnob(sys.env, "SPARK_GRAFT_ISOLATE_SLOWEST", 10, min = 0)

    val loadStart = loadAvg()
    val spark = buildSession()
    val warmupSweepSec = lastWarmupSec
    val keep = SparkEntry.onlyFilter
    val benched = SparkEntry.catalog.filter(_.bench).filter(q => keep(q.name))
    val sweepAll = benched.map(q => measure(spark, q, sfDir, steadyPasses))
    spark.stop()
    val (sweep, sweepFailed) = dropFailed(sweepAll)

    // dedicated-session re-measurement of the slowest sweep queries:
    // one fresh SparkContext per query, so the recorded number carries
    // zero sediment from the other 100+ catalog entries. These go
    // through the same measure() path, so their passes carry the same
    // storm flags and storm-excluded medians as the sweep (r16 verdict
    // #6: the isolated entries were where unflagged single-sitting
    // inflation hid — e.g. r16's 13.55 s n25).
    val slowNames = sweep.sortBy(-_.median).take(isolateSlowest).map(_.name)
    val isoWarmups = scala.collection.mutable.ArrayBuffer.empty[Double]
    val (isolated, isoFailed) = dropFailed(
      benched.filter(q => slowNames.contains(q.name)).map { q =>
        val s = buildSession()
        isoWarmups += lastWarmupSec
        try measure(s, q, sfDir, steadyPasses)
        finally s.stop()
      })
    val failedNames = sweepFailed ++ isoFailed
    val loadEnd = loadAvg()
    val isoByName = isolated.map(r => r.name -> r).toMap
    val sweepByName = sweep.map(r => r.name -> r).toMap
    // adjudicate each isolated re-measure against the sweep's passes of
    // the same query (see isoOrSweepMedian): a degraded isolation phase
    // falls back to the sweep median instead of publishing the inflated
    // dedicated-session number
    val results = sweep.filterNot(r => isoFailed.contains(r.name)).map { r =>
      isoByName.get(r.name) match {
        case None => r
        case Some(iso) =>
          val (median, regime, useIso) = isoOrSweepMedian(r.steady, iso.steady)
          if (useIso) iso.copy(median = median, regime = regime)
          else r.copy(median = median, regime = regime)
      }
    }
    val isoFallbacks = results.count(_.regime.startsWith("iso_degraded"))

    def ms(v: Double): String = f"$v%.3f"
    def map(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")

    val total = results.map(_.median).sum
    val sweepTotal = sweep.map(_.median).sum
    val coldTotal = results.map(_.cold.wall).sum
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_latest.json")

    // sitting fingerprint: aggregate JIT/GC over every measured pass,
    // warmup-noop walls, load average — the discriminators that let a
    // cross-round delta be classified (sitting/JIT vs engine) from the
    // artifacts alone (r14 verdict #1)
    val allPasses = (sweep ++ isolated).flatMap(r => r.cold +: r.steady)
    val jitTotal = allPasses.map(_.jitSec).sum
    val gcTotal = allPasses.map(_.gcSec).sum
    val coldJit = results.map(_.cold.jitSec).sum
    val isoWarm =
      if (isoWarmups.isEmpty) 0.0
      else isoWarmups.sorted.apply(isoWarmups.length / 2)
    val sitting = s""""sitting":{"warmup_sweep_sec":${ms(warmupSweepSec)},"warmup_iso_median_sec":${ms(isoWarm)},"load_start":${ms(loadStart)},"load_end":${ms(loadEnd)},"jit_total_sec":${ms(jitTotal)},"jit_cold_sec":${ms(coldJit)},"gc_total_sec":${ms(gcTotal)}}"""

    // full detail: cold map, per-pass steady maps, median map, sweep map
    val coldLine = s"""{"metric":"total_first_pass","value":${ms(coldTotal)},"unit":"sec","first_pass":${map(results.map(r => r.name -> r.cold.wall))}}"""
    val passLines = (0 until steadyPasses).map { i =>
      s"""{"metric":"steady_pass_${i + 1}","unit":"sec","queries":${map(results.map(r => r.name -> r.steady(i).wall))}}"""
    }
    // per-query pass diagnostics: [cold_jit, cold_gc, median-pass_jit,
    // median-pass_gc] seconds — enough to tell "this query's drift is
    // JIT-shaped" per query, not just per run
    val diagLine = {
      val kv = results.map { r =>
        val medPass = medianPass(r.steady)
        "\"" + r.name + s"""\":[${ms(r.cold.jitSec)},${ms(r.cold.gcSec)},${ms(medPass.jitSec)},${ms(medPass.gcSec)}]"""
      }.mkString("{", ",", "}")
      s"""{"metric":"pass_diag","unit":"sec","fields":["cold_jit","cold_gc","med_jit","med_gc"],"queries":$kv}"""
    }
    val sweepLine = s"""{"metric":"sweep_total","value":${ms(sweepTotal)},"unit":"sec","queries":${map(sweep.map(r => r.name -> r.median))},"note":"full-catalog single-session stress sweep, pre-isolation; storm-excluded medians"}"""
    val fullLine = s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":${map(results.map(r => r.name -> r.median))},"sf":"$sfDir","failed":${failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""

    // storm self-labeling + best-pass walls (r15 verdict #4, extended
    // to cold passes per r16 verdict #6): per query, each steady pass's
    // exec_run (s) and shuffle bytes (MB), the storm flags the recorded
    // rule derives from them (exec_run > 2x the best pass on ~identical
    // bytes), the BEST steady wall, the cold pass's exec/mb and its
    // flag (judged against the best steady pass — a flagged cold pass
    // means the cold ledger carries storm-regime numbers too), and the
    // regime the storm-excluded median was computed under. Isolated
    // re-measures flow through the same path, so their entries here
    // carry the same probes.
    val stormByName = results.map(r => r.name -> stormPasses(r.steady)).toMap
    val probeLine = {
      val kv = results.map { r =>
        val st = stormByName(r.name)
        val bestSteady = r.steady.minBy(_.execSec)
        "\"" + r.name + "\":{" +
          s""""exec":[${r.steady.map(p => ms(p.execSec)).mkString(",")}],""" +
          s""""mb":[${r.steady.map(p => ms(p.shuffleMb)).mkString(",")}],""" +
          s""""state_rows":[${r.steady.map(_.stateRows).mkString(",")}],""" +
          s""""state_mb":[${r.steady.map(p => ms(p.stateMb)).mkString(",")}],""" +
          s""""storm":[${st.mkString(",")}],""" +
          s""""cold_exec":${ms(r.cold.execSec)},"cold_mb":${ms(r.cold.shuffleMb)},""" +
          s""""cold_storm":${isStormVs(bestSteady, r.cold)},""" +
          s""""regime":"${r.regime}",""" +
          s""""best":${ms(r.steady.map(_.wall).min)}}"""
      }.mkString("{", ",", "}")
      s"""{"metric":"pass_probe","fields":{"exec":"per-steady-pass task exec_run sec","mb":"per-steady-pass shuffle bytes MB","state_rows":"per-steady-pass streaming state rows (sum over the pass's streams of each one's max)","state_mb":"per-steady-pass streaming state MB (memory + RocksDB SST + pinned blocks, summed the same way)","storm":"per-steady-pass flag: exec_run > 2x best pass on ~identical bytes","cold_exec":"cold pass exec_run sec","cold_mb":"cold pass shuffle MB","cold_storm":"cold pass flagged vs best steady pass (cold JIT inflates exec too - read with cold_jit in pass_diag)","regime":"median regime: quiet | storm_excluded | all_storm","best":"best steady wall sec"},"queries":$kv}"""
    }
    // raw isolated passes + the iso-vs-sweep decision, ALWAYS published
    // even when the sweep median stood — the adjudication must be
    // auditable from the artifact alone
    val isoLine = {
      val kv = isolated.map { r =>
        val sw = sweepByName(r.name)
        val (_, _, useIso) = isoOrSweepMedian(sw.steady, r.steady)
        "\"" + r.name + "\":{" +
          s""""iso_walls":[${r.steady.map(p => ms(p.wall)).mkString(",")}],""" +
          s""""iso_exec":[${r.steady.map(p => ms(p.execSec)).mkString(",")}],""" +
          s""""iso_mb":[${r.steady.map(p => ms(p.shuffleMb)).mkString(",")}],""" +
          s""""sweep_median":${ms(sw.median)},"used":"${if (useIso) "isolated" else "sweep"}"}"""
      }.mkString("{", ",", "}")
      s"""{"metric":"iso_probe","note":"dedicated-session re-measure passes judged against the pooled sweep+iso min-exec reference (isoOrSweepMedian); used=sweep means every isolated pass storm-flagged vs that reference and the in-sweep median stands","queries":$kv}"""
    }
    val bestLine = s"""{"metric":"steady_best","value":${ms(results.map(_.steady.map(_.wall).min).sum)},"unit":"sec","queries":${map(results.map(r => r.name -> r.steady.map(_.wall).min))},"note":"best steady pass per query - the storm-regime number of record"}"""

    // compact summary, printed LAST: guaranteed to fit the harness tail.
    // "queries" holds the slowest 10 (median steady) so the schema the
    // driver expects ({"metric","value","unit","queries","sf"}) holds.
    val slowest = results.sortBy(-_.median).take(10).map(r => r.name -> r.median)
    val bestTotal = results.map(_.steady.map(_.wall).min).sum
    val stormCount = stormByName.valuesIterator.map(_.count(identity)).sum
    val coldStormCount = results.count(r => isStormVs(r.steady.minBy(_.execSec), r.cold))
    val regimeCounts = results.groupBy(_.regime).map { case (k, v) => s""""$k":${v.size}""" }.mkString("{", ",", "}")
    val summary = s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":${map(slowest)},"sf":"$sfDir","n_queries":${results.size},"failed":${failedNames.size},"steady_passes":$steadyPasses,"cold_total":${ms(coldTotal)},"sweep_total":${ms(sweepTotal)},"best_total":${ms(bestTotal)},"storm_pass_count":$stormCount,"cold_storm_count":$coldStormCount,"median_regimes":$regimeCounts,"isolated":${isolated.size},"iso_fallbacks":$isoFallbacks,$sitting,"note":"value = sum of STORM-EXCLUDED per-query steady medians (regime per query in pass_probe); slowest-$isolateSlowest re-measured in dedicated sessions; best_total = storm-regime number of record; full maps in $outPath"}"""

    println(coldLine)
    passLines.foreach(println)
    println(diagLine)
    println(probeLine)
    println(isoLine)
    println(bestLine)
    println(sweepLine)
    println(fullLine)
    println(summary)
    // stdout under sbt carries an "[info] " prefix that breaks strict
    // JSON-line parsers, so the same lines also land in a file
    // (override the path with SPARK_GRAFT_BENCH_OUT)
    try {
      val out = java.nio.file.Paths.get(outPath)
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out,
        ((Seq(coldLine) ++ passLines ++ Seq(diagLine, probeLine, isoLine, bestLine, sweepLine, fullLine, summary)).mkString("\n") + "\n").getBytes("UTF-8"))
    } catch { case e: Exception => System.err.println(s"[bench] write failed: $e") }
  }
}
