package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Bench, Verify, Explain, the
  * scale tools, the demos and the specs (on 4 cores) all run under this
  * config, so the correctness oracles gate the same plans the bench
  * times.
  */
object Sessions {

  /** A local session on `cpus` cores with the bench's config. */
  def local(cpus: Int = envCpus()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // size file splits to the data: at sf0.1 every table is <= ~10 MB,
      // so the default 128 MB split leaves each scan single-task; 4 MB
      // lets every core participate (at 100 TB the default is right —
      // this is the local-mode analog of "partitions sized to the SF")
      .config("spark.sql.files.maxPartitionBytes", (4L * 1024 * 1024).toString)
      // ~40 short streaming runs per bench leave dead state-store
      // providers loaded until the maintenance thread notices; the 60 s
      // default lets them pile up across passes — sweep every 10 s
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "10s")
      // shuffle-file removal is fire-and-forget by default; make the
      // cleaner block on it so the bench's reset GC actually retires
      // dead shuffle data between passes instead of during the next one
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count from SPARK_GRAFT_CPUS; unset means every available
    * processor. Pure over `env` so it can be checked without a process
    * environment. */
  def envCpus(env: Map[String, String] = sys.env): Int =
    intKnob(env, "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors, min = 1)

  /** An integer env knob: surrounding blanks are allowed, the value must
    * be at least `min`, and unset gives `default`. Anything else fails
    * at startup with an error naming the variable. */
  def intKnob(env: Map[String, String], name: String, default: => Int, min: Int): Int =
    env.get(name) match {
      case None => default
      case Some(raw) => raw.trim.toIntOption.filter(_ >= min).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be an integer >= $min, got '$raw'"))
    }
}
