package graft

/** Plan inspector: prints the formatted physical plan of catalog
  * queries without executing them — the `.explain("formatted")`
  * feedback loop the scale work runs on.
  *
  * Usage: runMain graft.Explain <sfDir> <queryName> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail
    val spark = Sessions.local()
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
