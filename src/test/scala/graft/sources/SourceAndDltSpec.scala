package graft.sources

import graft.SparkSpec
import graft.ops.Dlt
import java.nio.file.{Files, Paths}

class SourceAndDltSpec extends SparkSpec {

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  test("sim-scores CSV reads with declared schema") {
    val dir = tmpDir("simcsv")
    Files.writeString(Paths.get(s"$dir/sim.csv"),
      "chunk_id,score_0,score_1,score_2\n0,0.5,0.6,0.3\n1,0.7,0.8,0.4\n")
    val df = CsvSources.simScores(spark, s"$dir/sim.csv", 3)
    assert(df.schema.map(_.dataType.typeName) == Seq("long", "double", "double", "double"))
    assert(df.count() == 2)
    assert(df.filter("chunk_id = 1").select("score_1").head().getDouble(0) == 0.8)
  }

  test("MOT gt CSV clips boxes to the frame") {
    val dir = tmpDir("motgt")
    Files.writeString(Paths.get(s"$dir/gt.txt"),
      "1,7,-10,5,100,100,1,-1,-1,-1\n2,7,1250,700,100,100,1,-1,-1,-1\n")
    val rows = CsvSources.motGroundTruth(spark, s"$dir/gt.txt").collect()
    val r1 = rows.find(_.getLong(0) == 1).get
    assert(r1.getDouble(2) == 0.0) // bb_left clipped to 0
    assert(r1.getDouble(4) == 90.0) // right = -10+100
    val r2 = rows.find(_.getLong(0) == 2).get
    assert(r2.getDouble(4) == 1280.0 && r2.getDouble(5) == 720.0) // clipped to frame
  }

  test("SORT det.txt converts xywh to xyxy and tags the sequence") {
    val dir = tmpDir("sortdet")
    Files.createDirectories(Paths.get(s"$dir/seqA/det"))
    Files.writeString(Paths.get(s"$dir/seqA/det/det.txt"),
      "1,-1,10,20,30,40,0.9\n")
    val r = CsvSources.sortDetections(spark, s"$dir/*/det/det.txt").head()
    assert(r.getString(0) == "seqA")
    assert(r.getDouble(4) == 40.0 && r.getDouble(5) == 60.0) // x2=x+w, y2=y+h
  }

  test("decision-log sink writes the reference header and one row per decision (S8)") {
    val s = spark
    import s.implicits._
    val chunks = (0 until 25).iterator.map(i => (i.toLong, Array(0.2, 0.5, 0.9)))
    val log = graft.control.Replay.static(chunks, config = 2, knobRt = 1.5).toSeq
    val dir = s"${tmpDir("decisionlog")}/log"
    CsvSources.writeDecisionLog(log.map(r => (r.chunkId, r.chosenConfig,
        r.chosenPlacement, r.cloudCost, r.runtimeS, r.score))
      .toDF("chunk_id", "config", "placement", "cloud_cost", "runtime_s", "score"), dir)
    val ls = Files.list(Paths.get(dir))
    val part = try ls.filter(_.toString.endsWith(".csv")).findFirst().get finally ls.close()
    val lines = Files.readAllLines(part)
    val golden = scala.io.Source.fromResource("golden_skyscraper_log.csv")
    try assert(lines.get(0) == golden.getLines().next()) finally golden.close()
    assert(lines.size == log.length + 1)
  }

  test("proc-log cleaner drops malformed rows (P11)") {
    val s = spark
    import s.implicits._
    val raw = Seq(
      ("2021-11-10-09-47-18.mp4", "75", 0, "6.2", 70),
      ("2021-11-10-09-47-18.mp4", "75", 2, "NA", 0),
      ("file_id_header_junk", "75", 0, "1.0", 1)
    ).toDF("file_id", "knob", "sec_offset", "runtime", "score")
    val out = CsvSources.cleanProcLog(raw).collect()
    assert(out.length == 1 && out.head.getDouble(5) == 6.2)
  }
}

class DltSpec extends SparkSpec {

  test("DLT recovers a known projection within sub-pixel error") {
    // synthetic camera: P = K [R|t] with simple geometry
    val p = breeze.linalg.DenseMatrix(
      (800.0, 0.0, 640.0, 100.0),
      (0.0, 800.0, 360.0, 50.0),
      (0.0, 0.0, 1.0, 2.0))
    val world = for (x <- 0 to 2; y <- 0 to 2; z <- 0 to 1)
      yield (x * 1.5, y * 2.0, z * 1.0 + 0.5)
    val pixel = world.map { case (x, y, z) =>
      val v = p * breeze.linalg.DenseVector(x, y, z, 1.0)
      (v(0) / v(2), v(1) / v(2))
    }
    val (est, err) = Dlt.calibrate(world, pixel)
    assert(err < 1e-6, s"reprojection error $err")
    // matrix recovered up to scale (normalized at (2,3))
    val ref = p / p(2, 3)
    assert(breeze.linalg.max(breeze.numerics.abs(est - ref)) < 1e-6)
  }

  test("DLT with noisy observations keeps error bounded") {
    val p = breeze.linalg.DenseMatrix(
      (500.0, 10.0, 320.0, 20.0),
      (5.0, 520.0, 240.0, -10.0),
      (0.0, 0.001, 1.0, 3.0))
    val rnd = new scala.util.Random(11)
    val world = (0 until 20).map(_ =>
      (rnd.nextDouble() * 10, rnd.nextDouble() * 10, rnd.nextDouble() * 5))
    val pixel = world.map { case (x, y, z) =>
      val v = p * breeze.linalg.DenseVector(x, y, z, 1.0)
      (v(0) / v(2) + rnd.nextGaussian() * 0.2, v(1) / v(2) + rnd.nextGaussian() * 0.2)
    }
    val (_, err) = Dlt.calibrate(world, pixel)
    assert(err < 1.0, s"reprojection error $err px")
  }
}
