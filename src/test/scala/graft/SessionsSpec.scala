package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The env knobs are a closed, checked set: every SPARK_GRAFT_* name in
  * src/main is on the allow-list, operators and queries read no
  * environment at all, and the integer knobs fail loudly at startup.
  * Sessions and measurement instruments each have one home.
  */
class SessionsSpec extends AnyFunSuite {

  private val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY", "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_BENCH_PASSES", "SPARK_GRAFT_ISOLATE_SLOWEST", "SPARK_GRAFT_BENCH_OUT")

  /** (path, text) of every .scala file under `dir`. */
  private def sources(dir: String): List[(Path, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  test("src/main names exactly the allow-listed SPARK_GRAFT_* knobs") {
    val knob = "SPARK_GRAFT_[A-Z0-9_]+".r
    val found = sources("src/main/scala").flatMap { case (_, t) => knob.findAllIn(t) }.toSet
    assert(found == allowed,
      s"unlisted: ${found -- allowed}; listed but unused: ${allowed -- found}")
  }

  test("operators and queries read no environment") {
    val readers = (sources("src/main/scala/graft/operators") ++
      sources("src/main/scala/graft/queries")).collect {
      case (p, t) if Seq("sys.env", "System.getenv", "SPARK_GRAFT_").exists(t.contains) => p
    }
    assert(readers.isEmpty, s"environment read in $readers")
  }

  test("one SparkSession.builder in src/main, in Sessions") {
    // src/test too, so specs run under the bench's config; this spec's
    // own string literals name the call without making one
    val stringLiteral = "\"(?:[^\"\\\\\n]|\\\\.)*\"".r
    val builders = (sources("src/main/scala") ++ sources("src/test/scala")).collect {
      case (p, t) if (if (p.getFileName.toString == "SessionsSpec.scala")
          stringLiteral.replaceAllIn(t, "") else t).contains("SparkSession.builder") =>
        p.getFileName.toString
    }
    assert(builders == List("Sessions.scala"))
  }

  test("the bench owns the measurement instruments") {
    val main = sources("src/main/scala")
    def filesWith(call: String): Set[String] =
      main.collect { case (p, t) if t.contains(call) => p.getFileName.toString }.toSet
    for (call <- Seq("StateStore.stop", "System.gc", "getCompilationMXBean",
        "streams.addListener"))
      assert(filesWith(call) == Set("Bench.scala"), call)
    // the stages probe keeps its own stage listener: the bench records
    // no stages
    assert(filesWith("addSparkListener") == Set("Bench.scala", "ScaleProbes.scala"))
    val probes = main.collectFirst { case (p, t) if p.endsWith("ScaleProbes.scala") => t }.get
    assert("addSparkListener".r.findAllIn(probes).size == 1)
  }

  test("SPARK_GRAFT_CPUS: a positive integer, unset means every processor") {
    def cpus(v: String) = Sessions.envCpus(Map("SPARK_GRAFT_CPUS" -> v))
    for (bad <- Seq("abc", "0", "-2", "", "4.5")) {
      val e = intercept[IllegalArgumentException](cpus(bad))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
    assert(cpus(" 8 ") == 8)
    assert(Sessions.envCpus(Map.empty) == Runtime.getRuntime.availableProcessors)
  }

  test("intKnob honours its lower bound and default") {
    val env = Map("SPARK_GRAFT_ISOLATE_SLOWEST" -> "0", "SPARK_GRAFT_BENCH_PASSES" -> "0")
    assert(Sessions.intKnob(env, "SPARK_GRAFT_ISOLATE_SLOWEST", 10, min = 0) == 0)
    val e = intercept[IllegalArgumentException](
      Sessions.intKnob(env, "SPARK_GRAFT_BENCH_PASSES", 3, min = 1))
    assert(e.getMessage.contains("SPARK_GRAFT_BENCH_PASSES"))
    assert(Sessions.intKnob(Map.empty, "SPARK_GRAFT_BENCH_PASSES", 3, min = 1) == 3)
  }
}
