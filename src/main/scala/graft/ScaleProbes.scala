package graft

import org.apache.spark.sql.functions._

/** Scale experiments that need more than a wall-clock number — prints
  * the INTERNAL quantities SCALING.md's mechanism notes cite (candidate
  * volumes, cell-size distributions), so the "sub-quadratic" claims are
  * measured, not modeled.
  *
  * Usage: runMain graft.ScaleProbes <probe> <sfDir> [args...]
  *   semdedup <sfDir> <maxCell>  — semDedup cell stats + wall at the cap
  *                                 (maxCell 0 = uncapped)
  *   forecast_floor <sfDir>      — Bayes L1 floor of the n10 forecast
  *                                 task: an oracle predictor that KNOWS
  *                                 the generative state (scene baseq +
  *                                 scene position) still faces 4
  *                                 binomial draws in the future window;
  *                                 its per-group median error is the
  *                                 floor no model can beat
  */
object ScaleProbes {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()

    args.toList match {
      case "passes" :: name :: sfDir :: nPasses :: armRest
          if armRest.isEmpty || armRest == List("gate") =>
        // Per-pass degradation instrument (r12 verdict #2 — d18's 3x
        // intra-session spread; e18-at-4-tables shows the same class):
        // run one catalog query N times in one session with EXACTLY the
        // Bench reset between passes, and report per-pass wall plus the
        // task-metric deltas that tell the mechanisms apart — executor
        // run time (real compute growth?), JVM GC time (heap pressure?),
        // memory/disk spill (execution-memory squeeze?), shuffle bytes
        // (plan drift?), block-manager tmp bytes (leaked blocks?).
        // Optional trailing "gate" measures the correctness-gate `fn`
        // even when a benchFn override exists (r16: n31/n33 gained
        // production-arm benchFns, but their gate-form sf10 bands are
        // tracked too).
        val q0 = SparkEntry.catalog.find(_.name == name)
          .getOrElse(sys.error(s"unknown query $name"))
        val q = if (armRest == List("gate")) q0.copy(benchFn = None) else q0
        val gcT = new java.util.concurrent.atomic.AtomicLong
        val runT = new java.util.concurrent.atomic.AtomicLong
        val spillM = new java.util.concurrent.atomic.AtomicLong
        val spillD = new java.util.concurrent.atomic.AtomicLong
        val shufW = new java.util.concurrent.atomic.AtomicLong
        // streaming state-store footprint (r14 verdict #7): the last
        // progress of every stream started during the pass carries the
        // stateOperators' row/byte totals — the byte witness for the
        // "state is sketch-sized / corpus-shaped-but-RocksDB" claims.
        // Keyed by query runId; a pass sums the per-query maxima.
        val stateRows = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]
        val stateMem = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]
        spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = {
            val p = e.progress
            if (p.stateOperators.nonEmpty) {
              val rows = p.stateOperators.map(_.numRowsTotal).sum
              // memoryUsedBytes covers the on-heap provider; RocksDB
              // providers report their footprint via custom metrics
              // (sst files + mem-table), memoryUsedBytes ~0 there
              val mem = p.stateOperators.map { so =>
                val cm = so.customMetrics
                def cmGet(k: String): Long =
                  Option(cm.get(k)).map(_.longValue).getOrElse(0L)
                // RocksDB providers report ~0 memoryUsedBytes; their
                // footprint lives in the custom metrics (names from
                // RocksDBStateStoreProvider: SST files + pinned blocks)
                so.memoryUsedBytes + cmGet("rocksdbSstFileSize") +
                  cmGet("rocksdbPinnedBlocksMemoryUsage")
              }.sum
              stateRows.merge(p.runId, rows, (a, b) => math.max(a, b))
              stateMem.merge(p.runId, mem, (a, b) => math.max(a, b))
            }
          }
        })
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = te.taskMetrics
            if (m != null) {
              gcT.addAndGet(m.jvmGCTime); runT.addAndGet(m.executorRunTime)
              spillM.addAndGet(m.memoryBytesSpilled); spillD.addAndGet(m.diskBytesSpilled)
              shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            }
          }
        })
        def tmpBytes(): Long = {
          val tmp = java.nio.file.Paths.get(
            sys.props.getOrElse("java.io.tmpdir", "/tmp"))
          import scala.jdk.CollectionConverters._
          // Files.list/walk streams hold an open directory handle until
          // CLOSED — a long `passes` run (this probe's whole purpose)
          // would otherwise leak one fd per spark-/blockmgr- dir per
          // pass, exactly the per-pass degradation it exists to diagnose
          scala.util.Using.resource(java.nio.file.Files.list(tmp)) { ls =>
            ls.iterator().asScala
              .filter(p => p.getFileName.toString.startsWith("blockmgr-") ||
                p.getFileName.toString.startsWith("spark-"))
              .map { d =>
                try scala.util.Using.resource(java.nio.file.Files.walk(d)) { ws =>
                  ws.iterator().asScala
                    .filter(java.nio.file.Files.isRegularFile(_))
                    .map(f => try java.nio.file.Files.size(f) catch { case _: Exception => 0L })
                    .sum
                } catch { case _: Exception => 0L }
              }.sum
          }
        }
        def reset(): Unit = { // Bench.resetSession, replicated
          spark.sharedState.cacheManager.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          org.apache.spark.sql.execution.streaming.state.StateStore.stop()
          System.gc(); Thread.sleep(250); System.gc(); Thread.sleep(250)
        }
        val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
        def codeCacheUsedMb(): Long = {
          import scala.jdk.CollectionConverters._
          java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getName.startsWith("CodeHeap"))
            .map(_.getUsage.getUsed).sum >> 20
        }
        (1 to nPasses.toInt).foreach { p =>
          reset()
          stateRows.clear(); stateMem.clear()
          val (g0, r0, sm0, sd0, sw0) =
            (gcT.get, runT.get, spillM.get, spillD.get, shufW.get)
          val jit0 = jitBean.getTotalCompilationTime
          val t0 = System.nanoTime()
          q.benchFn.getOrElse(q.fn)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          val heap = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) >> 20
          import scala.jdk.CollectionConverters._
          val sRows = stateRows.values.asScala.sum
          val sMemMb = stateMem.values.asScala.sum >> 20
          println(f"""[probe] {"probe":"passes","q":"$name","sf":"$sfDir","pass":$p,""" +
            f""""wall_sec":$wall%.2f,"exec_run_sec":${(runT.get - r0) / 1e3}%.1f,""" +
            f""""gc_sec":${(gcT.get - g0) / 1e3}%.1f,""" +
            f""""spill_mem_mb":${(spillM.get - sm0) >> 20},"spill_disk_mb":${(spillD.get - sd0) >> 20},""" +
            f""""shuffle_write_mb":${(shufW.get - sw0) >> 20},""" +
            f""""tmp_mb":${tmpBytes() >> 20},"heap_used_mb":$heap,""" +
            f""""jit_sec":${(jitBean.getTotalCompilationTime - jit0) / 1e3}%.1f,""" +
            f""""codecache_mb":${codeCacheUsedMb()},""" +
            f""""state_rows":$sRows,"state_mem_mb":$sMemMb}""")
        }
      case "n32delta" :: sfDir :: Nil =>
        // Pruned-vs-full assembly evidence for n32's changed-keys-only
        // form (r15 verdict #5): run the full-corpus assembly and the
        // changedOnly point-read back to back on the SAME staged ingest
        // and report band-index rows entering each assembly, shuffle
        // bytes, and walls. The completeness relation itself is
        // spec-gated (MinhashStreamSpec); this probe is the scale
        // witness.
        import graft.queries.StreamingQueries
        val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
        val cut = docs.agg(coalesce((max(col("doc_id")) + 1) * 3 / 4, lit(0L))
          .cast("long")).head.getLong(0)
        val hist = docs.filter(col("doc_id") < cut)
        val fresh = docs.filter(col("doc_id") >= cut)
        val dir = graft.sources.TmpDirs.scratch(
          s"/tmp/graft_n32delta/p${ProcessHandle.current().pid()}")
        fresh.repartition(8).write.mode("overwrite").parquet(dir)
        val shufW = new java.util.concurrent.atomic.AtomicLong
        val shufListener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = te.taskMetrics
            if (m != null) shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
        }
        spark.sparkContext.addSparkListener(shufListener)
        Seq(("full", false), ("delta", true), ("full2", false), ("delta2", true))
          .foreach { case (label, changed) =>
            val s0 = shufW.get; val t0 = System.nanoTime()
            val n = StreamingQueries.streamMinhash(spark, fresh, hist, dir,
              histKey = Some(sfDir), changedOnly = changed, probeScan = true).count()
            println(f"""[probe] {"probe":"n32delta","sf":"$sfDir","arm":"$label",""" +
              f""""pairs":$n,"scan_rows":${StreamingQueries.lastAssemblyScanRows},""" +
              f""""shuffle_write_mb":${(shufW.get - s0) >> 20},""" +
              f""""wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
          }
        // repeated probe invocations in one session must not accumulate
        // listeners (ADVICE r17)
        spark.sparkContext.removeSparkListener(shufListener)

      case "stages" :: name :: sfDir :: armRest
          if armRest.isEmpty || armRest == List("gate") =>
        // Per-STAGE attribution (r17 — guide §1.1/§7.1, the empirical
        // loop without a UI): run one catalog query twice (cold pass to
        // absorb JIT/codegen, then a steady pass after the Bench reset)
        // and print each stage of the steady pass with its task
        // exec_run, records read/written, and the stage's callsite —
        // i.e. which OPERATOR the exec seconds actually land on. This is
        // the instrument that told q40's 130 exec-seconds apart by
        // iteration stage (see OPTIMIZATION_r17.md).
        val q0 = SparkEntry.catalog.find(_.name == name)
          .getOrElse(sys.error(s"unknown query $name"))
        val q = if (armRest == List("gate")) q0.copy(benchFn = None) else q0
        final case class St(id: Int, name: String, execMs: Long, gcMs: Long,
          inRec: Long, shrRec: Long, shwRec: Long, shrMb: Double, shwMb: Double,
          tasks: Int)
        val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]
        @volatile var record = false
        val stageListener = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
            if (record) {
              val si = sc.stageInfo; val m = si.taskMetrics
              if (m != null) stages.add(St(si.stageId, si.name,
                m.executorRunTime, m.jvmGCTime,
                m.inputMetrics.recordsRead, m.shuffleReadMetrics.recordsRead,
                m.shuffleWriteMetrics.recordsWritten,
                m.shuffleReadMetrics.totalBytesRead / 1048576.0,
                m.shuffleWriteMetrics.bytesWritten / 1048576.0,
                si.numTasks))
            }
        }
        spark.sparkContext.addSparkListener(stageListener)
        def reset(): Unit = {
          spark.sharedState.cacheManager.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          org.apache.spark.sql.execution.streaming.state.StateStore.stop()
          System.gc(); Thread.sleep(250); System.gc(); Thread.sleep(250)
        }
        // cold pass (not recorded): JIT + codegen + page cache
        q.benchFn.getOrElse(q.fn)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        reset()
        record = true
        val t0 = System.nanoTime()
        q.benchFn.getOrElse(q.fn)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // listener drain
        record = false
        // stale listeners otherwise keep firing (and retaining their
        // queues) across repeated probe invocations (ADVICE r17)
        spark.sparkContext.removeSparkListener(stageListener)
        import scala.jdk.CollectionConverters._
        val all = stages.asScala.toSeq.sortBy(-_.execMs)
        println(f"""[probe] {"probe":"stages","q":"$name","sf":"$sfDir","wall_sec":$wall%.2f,"n_stages":${all.size},"exec_total_sec":${all.map(_.execMs).sum / 1e3}%.1f}""")
        all.take(25).foreach { s =>
          println(f"""[probe-stage] {"id":${s.id},"exec_sec":${s.execMs / 1e3}%.2f,"gc_sec":${s.gcMs / 1e3}%.2f,"tasks":${s.tasks},"in_rec":${s.inRec},"shr_rec":${s.shrRec},"shw_rec":${s.shwRec},"shr_mb":${s.shrMb}%.1f,"shw_mb":${s.shwMb}%.1f,"name":"${s.name.replace("\"", "'")}"}""")
        }

      case "ivfpqrecall" :: sfDir :: Nil =>
        // e09 (raw-vector PQ) vs e19 (residual PQ / IVFADC) recall@5
        // against the exact full probe — the unclamped number behind
        // e09's 250-milli gate floor (e19's gate is the r14 full-replay
        // ranked-row oracle; its recall quality is spec-gated on the
        // 32-cluster planted fixture instead).
        val emb = Tables.embeddings(spark, sfDir)
        val index = graft.operators.Similarity.ivfIndexFor(emb, key = sfDir)
        val queries = emb.filter(col("vec_id") % 20 === 0)
        val exact = graft.operators.Similarity
          .probeIvf(index, queries, k = 5, nprobe = index.centers.length)
          .select("query_id", "neighbor_id").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        def recall(label: String, df: org.apache.spark.sql.DataFrame): Unit = {
          val got = df.select("query_id", "neighbor_id").collect()
            .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
          val rs = exact.toSeq.map { case (q, t) =>
            got.getOrElse(q, Set.empty).intersect(t).size / 5.0 }
          println(f"""[probe] {"probe":"ivfpqrecall","sf":"$sfDir","arm":"$label",""" +
            f""""queries":${rs.length},"recall_at5":${rs.sum / rs.length}%.4f}""")
        }
        recall("raw_e09", graft.operators.Similarity.probeIvfPq(index,
          graft.operators.Similarity.pqCodebooks(emb), queries, kNn = 5))
        recall("residual_e19", graft.operators.Similarity.probeIvfPqResidual(index,
          graft.operators.Similarity.pqCodebooksResidual(index), queries, kNn = 5))
      case "semdedup" :: sfDir :: maxCell :: Nil =>
        val emb = Tables.embeddings(spark, sfDir)
        val t0 = System.nanoTime()
        val out = graft.operators.Similarity
          .semDedup(emb, threshold = 0.3, maxCell = maxCell.toInt)
          .localCheckpoint(true)
        val n = out.count()
        val wall = (System.nanoTime() - t0) / 1e9
        // candidate volume = Sigma |cell|^2 over the REFINED cells —
        // the quantity the pair join actually scans
        val stats = out.groupBy("cell").agg(count(lit(1)).as("m"))
          .agg(count(lit(1)).as("cells"), max("m").as("max_cell"),
            sum(expr("m * m")).as("pair_volume"))
          .collect().head
        val dups = out.filter(!col("keep")).count()
        println(f"""[probe] {"probe":"semdedup","sf":"$sfDir","maxCell":$maxCell,""" +
          f""""n":$n,"cells":${stats.getLong(0)},"max_cell":${stats.getLong(1)},""" +
          f""""pair_volume":${stats.getLong(2)},"dropped":$dups,"wall_sec":$wall%.2f}""")
      case "lshrecall" :: sfDir :: Nil =>
        // Recall cost of the e04 auto-bits law: mean top-5 recall vs
        // exact brute force for a deterministic query slice, fixed-8-bit
        // arm vs the occupancy-law arm. Quantifies what the occupancy cut
        // (e.g. 781 -> 48 candidates/query at sf10) trades away.
        import graft.functions.VectorFunctions.quantize
        val emb = Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), quantize(col("embedding")).as("embedding"))
          .localCheckpoint(true)
        val n = emb.count()
        val brute = graft.operators.Similarity
          .quantizedKnn(emb, col("vec_id") % 100 === 0, 5)
          .select("query_id", "neighbor_id").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        def recall(label: String, dims: Seq[Int]): Unit = {
          val bits = if (dims.nonEmpty) dims.length
                     else graft.operators.Similarity.autoLshBits(n, 64)
          val got = graft.operators.Similarity.lshKnn(emb, k = 5, dims = dims)
            .filter(col("query_id") % 100 === 0)
            .select("query_id", "neighbor_id").collect()
            .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
          val rs = brute.toSeq.map { case (q, exact) =>
            got.getOrElse(q, Set.empty).intersect(exact).size / 5.0
          }
          val mean = if (rs.isEmpty) 0.0 else rs.sum / rs.length
          println(f"""[probe] {"probe":"lshrecall","sf":"$sfDir","arm":"$label",""" +
            f""""n":$n,"bits":$bits,"queries":${rs.length},"recall_at5":$mean%.4f}""")
        }
        recall("fixed8", Seq(1, 9, 17, 25, 33, 41, 49, 57))
        recall("auto", Nil)
        // e18's multi-table OR-construction — the recall lever
        val bitsM = graft.operators.Similarity.autoLshBits(n, 64)
        val gotM = graft.operators.Similarity.lshKnnMulti(emb, k = 5)
          .filter(col("query_id") % 100 === 0)
          .select("query_id", "neighbor_id").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        val rsM = brute.toSeq.map { case (q, exact) =>
          gotM.getOrElse(q, Set.empty).intersect(exact).size / 5.0
        }
        val meanM = if (rsM.isEmpty) 0.0 else rsM.sum / rsM.length
        println(f"""[probe] {"probe":"lshrecall","sf":"$sfDir","arm":"multi",""" +
          f""""n":$n,"bits":$bitsM,"queries":${rsM.length},"recall_at5":$meanM%.4f}""")
      case "splitmem" :: nCells :: perCell :: maxCell :: Nil =>
        // Driver-memory bound of the enforceMaxCell split path: plant
        // nCells oversized cells of perCell vectors each (3 separable
        // sub-blobs per cell so Lloyd splits cleanly) and split at
        // maxCell. Reports what the split actually ships to the driver
        // (the fitted sub-centroids == the growth of the centers array,
        // which is driver-resident index metadata by definition) against
        // what the r11 driver-side sub-fit WOULD have collected (the
        // per-cell samples), plus the post-split pair volume vs its
        // n*maxCell linear bound.
        import spark.implicits._
        val nc = nCells.toInt; val pc = perCell.toInt; val mc = maxCell.toInt
        val dim = 16
        val rnd = new scala.util.Random(97)
        val rows = (0 until nc).flatMap { c =>
          val proto = Array.tabulate(dim)(d => ((c * 7 + d * 3) % 101).toDouble * 10.0)
          (0 until pc).map { j =>
            val v = proto.clone(); v(0) += (j % 3) * 4.0
            var d = 0
            while (d < dim) { v(d) += (rnd.nextDouble() - 0.5) * 0.01; d += 1 }
            (c.toLong * pc + j, c, v)
          }
        }
        val assigned = rows.toDF("vec_id", "cell", "v").repartition(32)
          .localCheckpoint(true)
        val centers = Array.tabulate(nc)(c =>
          Array.tabulate(dim)(d => ((c * 7 + d * 3) % 101).toDouble * 10.0))
        val t0 = System.nanoTime()
        val (refined, grown) = graft.operators.Similarity
          .enforceMaxCell(assigned, centers, maxCell = mc)
        val stats = refined.groupBy("cell").agg(count(lit(1)).as("m"))
          .agg(count(lit(1)).as("cells"), max("m").as("max_cell"),
            sum(expr("m * m")).as("pair_volume")).collect().head
        val wall = (System.nanoTime() - t0) / 1e9
        val n = nc.toLong * pc
        val centroidBytes = (grown.length - nc).toLong * dim * 8 // what round trips to the driver now
        val sampleBytes = nc.toLong * math.min(pc, 2048) * dim * 8 // what the r11 path collected in round 1 alone
        println(f"""[probe] {"probe":"splitmem","cells_planted":$nc,"per_cell":$pc,"maxCell":$mc,""" +
          f""""n":$n,"cells_out":${stats.getLong(0)},"max_cell_out":${stats.getLong(1)},""" +
          f""""pair_volume":${stats.getLong(2)},"pair_bound_n_maxCell":${n * mc},""" +
          f""""driver_bytes_now":$centroidBytes,"driver_bytes_r11_path":$sampleBytes,""" +
          f""""wall_sec":$wall%.2f}""")
      case "forecast_floor" :: sfDir :: Nil =>
        import org.apache.spark.sql.expressions.Window
        // rebuild the n08-n10 synthetic generative state WITH its latent
        // variables exposed: baseq (the scene's base level — what an
        // 8-chunk history reveals almost exactly) and pos (position in
        // the 32-chunk scene — how many future chunks cross into the
        // next, unpredictable scene)
        val nStreams = math.max(Tables.eventCount(spark, sfDir) / 2500L, 1L)
        val w = Window.partitionBy("stream_id").orderBy("event_id")
        val wScene = Window.partitionBy(col("stream_id"), expr("chunk_id div 32"))
          .orderBy("chunk_id")
        val wFut = Window.partitionBy("stream_id").orderBy("chunk_id").rowsBetween(1, 4)
        val state = Tables.events(spark, sfDir)
          .select((col("user_id") % nStreams).as("stream_id"), col("event_id"),
            (round(col("value")) % 100).cast("long").as("rq"))
          .withColumn("chunk_id", row_number().over(w).cast("long") - 1)
          .withColumn("baseq", first("rq").over(wScene))
          .withColumn("s0", (col("baseq") * 9 + col("rq")) / 1000.0)
          .withColumn("category",
            when(col("s0") < 0.35, 0).when(col("s0") < 0.65, 1).otherwise(2))
          .select(col("stream_id"), col("chunk_id"), col("baseq"),
            (col("chunk_id") % 32).as("pos"),
            count(lit(1)).over(wFut).as("n_future"),
            (sum(when(col("category") === 0, 1).otherwise(0)).over(wFut) / 4.0).as("a0"),
            (sum(when(col("category") === 1, 1).otherwise(0)).over(wFut) / 4.0).as("a1"),
            (sum(when(col("category") === 2, 1).otherwise(0)).over(wFut) / 4.0).as("a2"))
          // same sample set as forecastRaw: full 8-chunk history + full
          // 4-chunk future
          .filter(col("n_future") === 4 && col("chunk_id") >= 8)
          .localCheckpoint(true)
        // two floors:
        // - oracle: per (baseq, pos) — the COMPLETE generative state;
        //   samples within a group differ only by the future rq draws,
        //   so the L1-optimal constant is the per-component median
        // - history-feature: per (baseq, min(pos, 8)) — what an 8-chunk
        //   history can actually reveal (pos is only identifiable while
        //   the previous scene boundary is inside the window, pos < 8;
        //   beyond that all positions look alike), i.e. the bound for
        //   ANY model on the n09/n10 features
        def floorBy(keys: Seq[org.apache.spark.sql.Column], label: String): Unit = {
          val keyed = state.withColumn("k0", keys.head).withColumn("k1", keys(1))
          val med = keyed.groupBy("k0", "k1")
            .agg(expr("median(a0)").as("m0"), expr("median(a1)").as("m1"),
              expr("median(a2)").as("m2"), avg("a0").as("u0"), avg("a1").as("u1"),
              avg("a2").as("u2"), count(lit(1)).as("gn"))
          val res = keyed.join(med, Seq("k0", "k1"))
            .agg(count(lit(1)).as("n"), avg(
              (abs(col("a0") - col("m0")) + abs(col("a1") - col("m1"))
                + abs(col("a2") - col("m2"))) / 3.0).as("floor_mae"),
              avg((abs(col("a0") - col("u0")) + abs(col("a1") - col("u1"))
                + abs(col("a2") - col("u2"))) / 3.0).as("mean_mae"),
              min("gn").as("min_group"))
            .collect().head
          println(f"""[probe] {"probe":"forecast_floor","kind":"$label","sf":"$sfDir",""" +
            f""""n_samples":${res.getLong(0)},"floor_mae":${res.getDouble(1)}%.4f,""" +
            f""""mean_predictor_mae":${res.getDouble(2)}%.4f,""" +
            f""""min_group_n":${res.getLong(3)}}""")
        }
        floorBy(Seq(col("baseq"), col("pos")), "oracle_state")
        floorBy(Seq(col("baseq"), least(col("pos"), lit(8L))), "history_features")
      case "forecast_mae" :: sfDir :: layersSpec :: maxIter :: soft :: Nil =>
        // architecture/protocol sweep for the n10 MAE-vs-paper gap:
        // layersSpec like "8-24-12-3", soft = "soft" replicates one
        // training row per future chunk's category (targets the
        // per-chunk categorical p, whose mean matches E[a_c]) instead
        // of the hard dominant label
        import org.apache.spark.ml.functions.vector_to_array
        val layers = layersSpec.split("-").map(_.toInt)
        val data = graft.queries.OfflineQueries
          .forecastFeatures(graft.queries.OfflineQueries.forecastRaw(spark, sfDir))
          .localCheckpoint(true)
        val train =
          if (soft == "soft")
            data.withColumn("reps",
                array(struct(lit(0.0).as("label"), (col("a0") * 4).as("w")),
                  struct(lit(1.0).as("label"), (col("a1") * 4).as("w")),
                  struct(lit(2.0).as("label"), (col("a2") * 4).as("w"))))
              .select(col("stream_id"), col("chunk_id"), col("features"),
                explode(col("reps")).as("r"))
              .select(col("stream_id"), col("chunk_id"), col("features"),
                col("r.label").as("label"), col("r.w").as("w"))
              .filter(col("w") > 0)
              .withColumn("n", sequence(lit(1), col("w").cast("int")))
              .withColumn("n", explode(col("n"))) // one row per future chunk
              .drop("w", "n")
          else
            data.withColumn("label",
              when(col("a0") >= col("a1") && col("a0") >= col("a2"), 0.0)
                .when(col("a1") >= col("a2"), 1.0).otherwise(2.0))
        val t0 = System.nanoTime()
        val model = new org.apache.spark.ml.classification.MultilayerPerceptronClassifier()
          .setLayers(layers).setSeed(42).setMaxIter(maxIter.toInt)
          .fit(train.repartition(1).sortWithinPartitions("stream_id", "chunk_id"))
        val fitSec = (System.nanoTime() - t0) / 1e9
        // two decision rules over the same softmax output: raw p (the
        // mean-style estimate) and the L1-Bayes rule round(4p)/4 — the
        // median of Binomial(4, p)/4, i.e. the optimal constant for a
        // 4-draw frequency target under absolute error
        def q(c: org.apache.spark.sql.Column) = floor(c * 4 + 0.5) / 4.0
        val r = model.transform(data)
          .withColumn("p", vector_to_array(col("probability")))
          .select(
            abs(element_at(col("p"), 1) - col("a0")).as("e0"),
            abs(element_at(col("p"), 2) - col("a1")).as("e1"),
            abs(element_at(col("p"), 3) - col("a2")).as("e2"),
            abs(q(element_at(col("p"), 1)) - col("a0")).as("q0"),
            abs(q(element_at(col("p"), 2)) - col("a1")).as("q1"),
            abs(q(element_at(col("p"), 3)) - col("a2")).as("q2"))
          .agg(avg((col("e0") + col("e1") + col("e2")) / 3.0),
            avg((col("q0") + col("q1") + col("q2")) / 3.0)).collect().head
        println(f"""[probe] {"probe":"forecast_mae","sf":"$sfDir","layers":"$layersSpec",""" +
          f""""maxIter":$maxIter,"soft":"$soft","mae":${r.getDouble(0)}%.4f,""" +
          f""""mae_l1rule":${r.getDouble(1)}%.4f,"fit_sec":$fitSec%.1f}""")
      case other =>
        System.err.println(s"unknown probe args: $other")
        sys.exit(2)
    }
    spark.stop()
  }
}
