package graft.obs

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.ml.LdaPipeline
import org.scalatest.funsuite.AnyFunSuite

class QueryProfileSpec extends AnyFunSuite {
  import TestSpark.spark

  private def sc = spark.sparkContext
  private def tag = sc.getLocalProperty(QueryProfile.Property)

  /** One job whose two tasks each sleep `ms`, so its wall is at least `ms`. */
  private def sleepyJob(ms: Long): Long =
    sc.parallelize(1 to 2, 2).map { x => Thread.sleep(ms); x }.count()

  test("phase records the driver wall of its body under its name") {
    val (r, p) = QueryProfile.capture(spark) {
      QueryProfile.phase(spark, "nap") { Thread.sleep(60); 7 }
    }
    assert(r == 7)
    assert(p.phases.map(_._1) == Seq("nap"))
    assert(p.walls("nap").head >= 0.06 && p.walls("nap").head < 5.0)
    assert(p.jobs.isEmpty)
  }

  test("each tagged job's wall is recorded once, in job-id order; untagged jobs are not") {
    val (_, p) = QueryProfile.capture(spark) {
      QueryProfile.phase(spark, "a")(sleepyJob(40))
      sleepyJob(1)
      QueryProfile.phase(spark, "b")(sleepyJob(40))
      QueryProfile.phase(spark, "a")(sleepyJob(40))
    }
    assert(p.jobs.map(_._1) == Seq("a", "b", "a"))
    assert(p.jobs.forall { case (_, s) => s >= 0.04 && s < 5.0 })
    // a job runs inside its phase, so its wall never exceeds the phase's
    assert(p.jobWalls("b").head <= p.walls("b").head + 1e-3)
  }

  test("the phase property is restored after nested phases and after a throw") {
    assert(tag == null)
    val (_, p) = QueryProfile.capture(spark) {
      QueryProfile.phase(spark, "outer") {
        assert(tag == "outer")
        QueryProfile.phase(spark, "inner") {
          assert(tag == "inner")
          sleepyJob(1)
        }
        assert(tag == "outer")
        sleepyJob(1)
      }
    }
    assert(tag == null)
    assert(p.jobs.map(_._1) == Seq("inner", "outer"))
    assert(p.phases.map(_._1) == Seq("inner", "outer"))
    intercept[IllegalStateException] {
      QueryProfile.phase(spark, "boom")(throw new IllegalStateException("boom"))
    }
    assert(tag == null)
    sc.setLocalProperty(QueryProfile.Property, "caller")
    try {
      intercept[IllegalStateException] {
        QueryProfile.phase(spark, "boom")(throw new IllegalStateException("boom"))
      }
      assert(tag == "caller")
    } finally sc.setLocalProperty(QueryProfile.Property, null)
  }

  test("nothing is recorded outside a capture") {
    QueryProfile.phase(spark, "loose")(sleepyJob(1))
    QueryProfile.record("loose", 1.0)
    val (_, p) = QueryProfile.capture(spark)(sleepyJob(1))
    assert(p == QueryProfile(Nil, Nil))
  }

  test("two consecutive captures are disjoint") {
    val (_, p1) = QueryProfile.capture(spark) {
      QueryProfile.phase(spark, "first")(sleepyJob(1))
      QueryProfile.record("first_iter", 0.5)
    }
    val (_, p2) = QueryProfile.capture(spark)(QueryProfile.phase(spark, "second")(sleepyJob(1)))
    assert(p1.phases.map(_._1) == Seq("first", "first_iter") && p1.jobs.map(_._1) == Seq("first"))
    assert(p2.phases.map(_._1) == Seq("second") && p2.jobs.map(_._1) == Seq("second"))
    assert(p1.walls("first_iter") == Seq(0.5))
  }

  test("an online fit yields at least maxIter positive iteration walls") {
    import spark.implicits._
    val docs = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(12)(j => s"w${(i * 7 + j * 3) % 25}"))
    }.toDF("doc_id", "tokens")
    val maxIter = 6
    val (fitted, p) = QueryProfile.capture(spark) {
      LdaPipeline.train(spark, docs,
        LdaPipeline.Params(k = 3, maxIterations = maxIter, algorithm = "online", seed = 7L))
    }
    // 40 docs fit on the driver (under LdaPipeline.DriverFitCap), which
    // records one wall per iteration and submits no fit-phase job
    try {
      val walls = p.walls(LdaPipeline.OnlineIteration)
      assert(walls.size >= maxIter, walls)
      assert(walls.forall(_ > 0.0), walls)
      assert(p.jobWalls(LdaPipeline.OnlineFit).isEmpty)
    } finally fitted.release()
  }

  test("no @volatile var or side channel under src/main, and one SparkListener, in QueryProfile.scala") {
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val volatileVar = """@volatile\s+(?:(?:private|protected)(?:\[\w+\])?\s+)?var\b""".r
    val listener = """(?:extends|with|new)\s+(?:[\w.]+\.)?SparkListener\b""".r
    // the side channels QueryProfile replaced
    val sideChannel = """\b(?:iterTelemetry|buildStageTelemetry|jobTimes|\w*(?:Stage|Iter|Job)Times)\b""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .flatMap { (p: Path) =>
        val src = Files.readString(p)
        def at(i: Int) = s"${root.relativize(p)}:${src.take(i).count(_ == '\n') + 1}"
        (volatileVar.findAllMatchIn(src) ++ sideChannel.findAllMatchIn(src))
          .map(m => s"${at(m.start)} ${m.matched}") ++
          (if (p.getFileName.toString == "QueryProfile.scala") Iterator.empty
           else listener.findAllMatchIn(src).map(m => s"${at(m.start)} ${m.matched}"))
      }.toSeq.sorted
    if (offenders.nonEmpty)
      fail("report timings through graft.obs.QueryProfile, not a global, a " +
        s"listener of its own or a side channel:\n${offenders.mkString("\n")}")
    val profile = Files.readString(root.resolve("scala/graft/obs/QueryProfile.scala"))
    assert(listener.findAllMatchIn(profile).size == 1)
  }
}
