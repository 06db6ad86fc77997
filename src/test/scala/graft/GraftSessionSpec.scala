package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The spec session is built by the same factory as the shipped mains,
  * so every spec plans with the confs Bench and Verify ship. */
class GraftSessionSpec extends AnyFunSuite {
  import TestSpark.spark

  test("the spec session carries every plan-affecting conf of GraftSession.local") {
    // Spark's own default is 4 MB; the mains ship 64 KB
    assert(spark.conf.get("spark.sql.files.openCostInBytes") == "65536")
    GraftSession.planConfs(GraftSession.cpus).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("the spec session has a checkpoint dir and a temp warehouse dir") {
    assert(spark.sparkContext.getCheckpointDir.isDefined)
    assert(spark.conf.get("spark.sql.warehouse.dir").contains("graft_wh"))
  }

  test("only GraftSession builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val offenders = Files.walk(src).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => src.relativize(p).toString)
      .filterNot(_.endsWith("graft/GraftSession.scala"))
      .toSeq.sorted
    assert(offenders.isEmpty, s"$needle outside GraftSession.scala: $offenders")
  }

  test("a scoped session clones the conf without touching the caller's") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val ss = GraftSession.scoped(spark, key -> "3")
    assert(ss.conf.get(key) == "3")
    assert(spark.conf.get(key) == before)
    assert(ss.sparkContext eq spark.sparkContext)
  }
}
