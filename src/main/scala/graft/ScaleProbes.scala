package graft

import org.apache.spark.sql.SparkSession

/** Per-pass and per-stage instruments for one catalog query. Both run on
  * Bench's session, reset and pass probe (`Bench.once`), so a probe
  * number is measured exactly as the bench measures it. The optional
  * trailing `gate` measures the correctness-gate `fn` even when a
  * `benchFn` override exists.
  *
  * Usage: runMain graft.ScaleProbes <probe> <query> <sfDir> [args...]
  *   passes <query> <sfDir> <n> [gate] — n passes, a reset before each,
  *                                       one `[probe]` line per pass
  *   stages <query> <sfDir> [gate]     — a cold pass, then a recorded
  *                                       pass printed stage by stage
  */
object ScaleProbes {
  def main(args: Array[String]): Unit = args.toList match {
    case "passes" :: name :: sfDir :: n :: gate if gate.isEmpty || gate == List("gate") =>
      withSession(passes(_, query(name, gate), sfDir, n.toInt))
    case "stages" :: name :: sfDir :: gate if gate.isEmpty || gate == List("gate") =>
      withSession(stages(_, query(name, gate), sfDir))
    case other =>
      System.err.println(s"unknown probe args: $other")
      sys.exit(2)
  }

  private def query(name: String, gate: List[String]): Q = {
    val q = SparkEntry.catalog.find(_.name == name)
      .getOrElse(sys.error(s"unknown query $name"))
    if (gate.nonEmpty) q.copy(benchFn = None) else q
  }

  private def withSession(probe: SparkSession => Unit): Unit = {
    val spark = Bench.buildSession()
    try probe(spark) finally spark.stop()
  }

  /** A reset pass that must not fail: a probe line is a timing. */
  private def pass(spark: SparkSession, q: Q, sfDir: String): Bench.Pass = {
    Bench.resetSession(spark)
    val p = Bench.once(spark, q, sfDir)
    if (p.failed) sys.error(s"${q.name} failed; see stderr")
    p
  }

  /** Per-pass degradation instrument (r12 verdict #2 — d18's 3x
    * intra-session spread): the same query n times in one session, and
    * per pass the deltas that tell the mechanisms apart — executor run
    * time (real compute growth?), JVM GC time (heap pressure?), spill
    * (execution-memory squeeze?), shuffle writes (plan drift?) and the
    * streaming state footprint. */
  private def passes(spark: SparkSession, q: Q, sfDir: String,
                     n: Int): Unit =
    (1 to n).foreach { i =>
      val p = pass(spark, q, sfDir)
      val heap = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) >> 20
      println(f"""[probe] {"probe":"passes","q":"${q.name}","sf":"$sfDir","pass":$i,""" +
        f""""wall_sec":${p.wall}%.2f,"exec_run_sec":${p.execSec}%.1f,"gc_sec":${p.gcSec}%.1f,""" +
        f""""spill_mem_mb":${p.spillMemMb}%.1f,"spill_disk_mb":${p.spillDiskMb}%.1f,""" +
        f""""shuffle_write_mb":${p.shuffleWriteMb}%.1f,"heap_used_mb":$heap,""" +
        f""""jit_sec":${p.jitSec}%.1f,"state_rows":${p.stateRows},"state_mem_mb":${p.stateMb}%.1f}""")
    }

  /** Per-STAGE attribution (r17 — the empirical loop without a UI): a
    * cold pass absorbs JIT/codegen, then each stage of a recorded pass
    * is printed with its task exec_run, records read/written and its
    * callsite — i.e. which OPERATOR the exec seconds land on. This is
    * the instrument that told q40's 130 exec-seconds apart by iteration
    * stage (OPTIMIZATION_r17.md). The bench records no stages, so the
    * stage listener is this probe's own. */
  private def stages(spark: SparkSession, q: Q, sfDir: String): Unit = {
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
    pass(spark, q, sfDir) // cold: JIT + codegen + page cache, not recorded
    record = true
    // once() settles the listener bus before returning, and the stage
    // listener shares the bus queue with the bench's task probe
    val wall = pass(spark, q, sfDir).wall
    record = false
    import scala.jdk.CollectionConverters._
    val all = stages.asScala.toSeq.sortBy(-_.execMs)
    println(f"""[probe] {"probe":"stages","q":"${q.name}","sf":"$sfDir","wall_sec":$wall%.2f,"n_stages":${all.size},"exec_total_sec":${all.map(_.execMs).sum / 1e3}%.1f}""")
    all.take(25).foreach { s =>
      println(f"""[probe-stage] {"id":${s.id},"exec_sec":${s.execMs / 1e3}%.2f,"gc_sec":${s.gcMs / 1e3}%.2f,"tasks":${s.tasks},"in_rec":${s.inRec},"shr_rec":${s.shrRec},"shw_rec":${s.shwRec},"shr_mb":${s.shrMb}%.1f,"shw_mb":${s.shwMb}%.1f,"name":"${s.name.replace("\"", "'")}"}""")
    }
  }
}
