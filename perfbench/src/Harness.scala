package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.{InputAdapter, WholeStageCodegenExec}

import graft.{Q, SparkEntry}

/** JVM side of the benchmark. It only calls the catalog's public entry
  * points: `Q.fn`/`Q.benchFn` (the DataFrame build) and the `noop`
  * `DataFrameWriter.save()` (planning plus execution); everything else
  * here is measurement. `run.py` drives it; see README.md.
  *
  * Modes (first argument):
  *   list                      catalog names, bench flag, oracle flag (TSV)
  *   setup                     build the session, run the warm-up job, exit
  *   run <opts>                cold round (with output fingerprints), then
  *                             --rounds timed rounds
  *   reference <opts>          fingerprint every listed query; with --dump,
  *                             also write each output as parquet plus
  *                             oracle_sql.json for scripts/check.py
  * Options: --data DIR --queries a,b,c --seed N --rounds N --trace 0|1
  *          --out FILE --cpus N [--dump DIR]
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val opts = args.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    mode match {
      case "list" =>
        SparkEntry.catalog.foreach(q => println(s"${q.name}\t${q.bench}\t${q.oracle.isDefined}"))
      case "setup" =>
        val spark = session(opts("cpus").toInt)
        ready()
        spark.stop()
      case "run" => run(opts)
      case "reference" => reference(opts)
      case other => sys.error(s"unknown mode $other")
    }
  }

  private def queriesOf(opts: Map[String, String]): Seq[Q] = {
    val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
    opts("queries").split(",").toSeq.map(n =>
      byName.getOrElse(n, sys.error(s"$n is not in SparkEntry.catalog")))
  }

  /** Session as graft.Bench builds it, with every scratch directory
    * Spark owns kept under the benchmark's work dir (java.io.tmpdir). */
  private def session(cpus: Int): SparkSession = {
    val tmp = System.getProperty("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (4L * 1024 * 1024).toString)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "10s")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark
  }

  /** Marks the end of set-up; run.py times JVM launch to this line. */
  private def ready(): Unit = { println("PERFBENCH READY"); System.out.flush() }

  /** The un-timed reset between queries, as graft.Bench does it (one
    * GC and a short settle for the context cleaner instead of its two).
    * The heap still occupied after its full collection is what the run
    * retains across queries; `heapPeak` keeps the largest. */
  private def reset(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    System.gc()
    heapPeak = math.max(heapPeak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    Thread.sleep(50)
  }
  private var heapPeak = 0L

  private def build(q: Q, spark: SparkSession, dir: String): DataFrame =
    q.benchFn.getOrElse(q.fn)(spark, dir)

  // ---------------------------------------------------------------- run

  /** One issue of one query: epoch ms (to place it in the trace tree),
    * nanosecond durations of the build and the execution, and the JIT and
    * GC time the JVM spent while it ran. */
  private case class Issue(round: Int, traced: Boolean, query: String, startMs: Long, buildEndMs: Long,
                           endMs: Long, buildNs: Long, execNs: Long, jitMs: Long, gcMs: Long,
                           error: Option[String])

  private def run(opts: Map[String, String]): Unit = {
    val dir = opts("data")
    val queries = queriesOf(opts)
    val rounds = opts("rounds").toInt
    val trace = opts("trace") == "1"
    val rng = new java.util.Random(opts("seed").toLong)
    val loadStart = loadAvg()
    val spark = session(opts("cpus").toInt)
    ready()

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val issues = ArrayBuffer.empty[Issue]
    val prints = scala.collection.mutable.LinkedHashMap.empty[String, Either[String, Fingerprint]]

    /** Issue one query, closed loop, with the un-timed reset before it. */
    def issue(r: Int, traced: Boolean, q: Q): DataFrame = {
      reset(spark)
      tracer.foreach(_.settle())
      val jit0 = jitMs(); val gc0 = gcMs()
      val s0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      var t1 = t0; var b1 = s0
      var df: DataFrame = null
      val err = try {
        df = build(q, spark, dir)
        t1 = System.nanoTime(); b1 = System.currentTimeMillis()
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val t2 = System.nanoTime()
      if (t1 == t0) { t1 = t2; b1 = System.currentTimeMillis() }
      issues += Issue(r, traced, q.name, s0, b1, System.currentTimeMillis(), t1 - t0, t2 - t1,
        jitMs() - jit0, gcMs() - gc0, err)
      err.foreach(e => System.err.println(s"[perfbench] ${q.name} failed: $e"))
      if (err.isEmpty) df else null
    }

    // Round 0 is the cold round; each output is fingerprinted, un-timed,
    // right after its issue. The timed rounds follow, each in a fresh
    // seeded order. A traced run alternates traced and untraced rounds, so
    // the tracing overhead is measured in the same JVM.
    tracer.foreach(_.attach())
    shuffled(queries, rng).foreach { q =>
      val df = issue(0, trace, q)
      prints(q.name) =
        if (df == null) Left("query failed")
        else try Right(Fingerprint.of(df)) catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    }
    for (r <- 1 to rounds) {
      val traced = trace && r % 2 == 1
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      shuffled(queries, rng).foreach(q => issue(r, traced, q))
    }
    tracer.foreach(_.detach())

    val loadEnd = loadAvg()
    spark.stop()

    val out = new StringBuilder("{")
    out ++= s""""sitting":${sitting(opts, loadStart, loadEnd)},"""
    out ++= s""""live_heap_peak_bytes":$heapPeak,"""
    out ++= s""""issues":${issues.map(issueJson).mkString("[", ",\n", "]")},"""
    out ++= s""""fingerprints":${prints.map { case (n, p) => s"${str(n)}:${p.fold(e => s"""{"error":${str(e)}}""", _.json)}" }.mkString("{", ",", "}")}"""
    tracer.foreach(t => out ++= s""","trace":${t.json}""")
    out ++= "}"
    Files.write(Paths.get(opts("out")), out.toString.getBytes(UTF_8))
  }

  private def issueJson(i: Issue): String =
    s"""{"round":${i.round},"traced":${i.traced},"query":${str(i.query)},"start_ms":${i.startMs},"build_end_ms":${i.buildEndMs},""" +
      s""""end_ms":${i.endMs},"build_ns":${i.buildNs},"exec_ns":${i.execNs},"jit_ms":${i.jitMs},"gc_ms":${i.gcMs}""" +
      i.error.fold("")(e => s""","error":${str(e)}""") + "}"

  private def shuffled(qs: Seq[Q], rng: java.util.Random): Seq[Q] = {
    val a = qs.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  // ---------------------------------------------------------- reference

  private def reference(opts: Map[String, String]): Unit = {
    val dir = opts("data")
    val dump = opts.get("dump")
    val spark = session(opts("cpus").toInt)
    val prints = queriesOf(opts).map { q =>
      reset(spark)
      val df = build(q, spark, dir)
      // the oracle covers `fn`; a benchFn entry's timed plan is another one
      dump.foreach(d => (if (q.benchFn.isEmpty) df else q.fn(spark, dir))
        .coalesce(1).write.mode("overwrite").parquet(s"$d/${q.name}"))
      q.name -> Fingerprint.of(df)
    }
    dump.foreach { d =>
      Files.writeString(Paths.get(s"$d/oracle_sql.json"),
        SparkEntry.oracleSql.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}"))
    }
    spark.stop()
    Files.write(Paths.get(opts("out")),
      prints.map { case (n, p) => s"${str(n)}:${p.json}" }.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
  }

  // ------------------------------------------------------------ sitting

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def sitting(opts: Map[String, String], l0: Double, l1: Double): String =
    s"""{"nproc":${Runtime.getRuntime.availableProcessors},"master":"local[${opts("cpus")}]",""" +
      s""""load_start":$l0,"load_end":$l1,"jvm":${str(System.getProperty("java.vm.name") + " " +
      System.getProperty("java.runtime.version"))},"spark":${str(org.apache.spark.SPARK_VERSION)},""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576},"seed":${opts("seed")}}"""

  private[perfbench] def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Exchange and operator counts of a physical plan, looking through
    * adaptive wrappers, query stages and command wrappers. */
  private[perfbench] def planCounts(p: SparkPlan): (Int, Int) = {
    def nodes(n: SparkPlan): Seq[SparkPlan] = {
      val inner = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children ++ other.innerChildren.collect { case c: SparkPlan => c }
      }
      n +: (inner ++ n.subqueries).flatMap(nodes)
    }
    val all = nodes(p)
    val exchanges = all.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    val operators = all.count {
      case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: WholeStageCodegenExec | _: InputAdapter => false
      case _ => true
    }
    (exchanges, operators)
  }
}

/** Order-insensitive output fingerprint: row count plus the wrapping sum
  * of a 64-bit hash per row. Rows are normalized with scripts/check.py's
  * column order (sorted by name), and doubles are rounded to 9 significant
  * digits and then hashed exactly, where check.py allows a 1e-9 relative
  * difference: a last-bit change that crosses a rounding boundary changes
  * the fingerprint. */
final case class Fingerprint(rows: Long, hash: Long) {
  def json: String = s"""{"rows":$rows,"hash":"${java.lang.Long.toHexString(hash)}"}"""
}

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val parts = df.rdd.mapPartitions { it =>
      var n = 0L; var h = 0L
      it.foreach { row => n += 1; h += rowHash(row, order) }
      Iterator((n, h))
    }.collect()
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def rowHash(row: Row, order: Array[Int]): Long = {
    val sb = new java.lang.StringBuilder
    order.foreach { i => canon(row.get(i), sb); sb.append('\u0001') }
    val s = sb.toString
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x27d4eb2f)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  private def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("\u0000N")
    case d: Double => sb.append(num(d))
    case f: Float => sb.append(num(f.toDouble))
    case s: String => sb.append(s.length).append(':').append(s)
    case b: java.math.BigDecimal => sb.append(b.stripTrailingZeros.toPlainString)
    case b: Array[Byte] => b.foreach(x => sb.append(f"$x%02x"))
    case r: Row => sb.append('{'); (0 until r.length).foreach { i => canon(r.get(i), sb); sb.append(',') }; sb.append('}')
    case m: scala.collection.Map[_, _] =>
      val kv = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder; canon(k, e); e.append("->"); canon(x, e); e.toString
      }.sorted
      sb.append('<'); kv.foreach(e => sb.append(e).append(',')); sb.append('>')
    case s: scala.collection.Seq[_] => sb.append('['); s.foreach { x => canon(x, sb); sb.append(',') }; sb.append(']')
    case other => sb.append(other.toString)
  }

  /** 9 significant digits. */
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString
}
