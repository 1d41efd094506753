package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs that need one: the bench's
  * config (`Sessions.local`) on 4 cores, so specs gate the same plans
  * the bench times. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local(4)
}
