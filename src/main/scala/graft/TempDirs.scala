package graft

/** Temp-dir hygiene for the sessions [[GraftSession]] builds. */
object TempDirs {
  /** Create a temp directory and register its recursive deletion at JVM
    * exit (r17 verdict #3). EM-LDA checkpoints its doc-partitioned block
    * state every `checkpointInterval` (10) iterations into the session's
    * checkpoint dir and each fit keeps its last checkpoint; storage
    * queries write tables into the warehouse dir. A many-pass bench day
    * would otherwise accumulate them, and at real scale an uncleaned
    * dir is a storage leak. The hook runs after the mains' explicit
    * `spark.stop()`, so no live query can still be reading a
    * checkpoint. (Same mechanism as Storage's scratch-dir hook.) */
  def deleteOnExit(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      import java.nio.file.{Files, Path}
      import scala.jdk.CollectionConverters._
      if (Files.exists(p)) {
        val paths = Files.walk(p).iterator().asScala.toSeq
        paths.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_: Path))
      }
    }
    p.toString
  }
}
