package graft

import graft.streaming.Streams
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The streaming shuffle/state width is derived from the replayed
  * events.parquet: one partition per MiB, at least 4, at most the
  * parallelism. */
class StreamWidthSpec extends AnyFunSuite {
  import TestSpark.spark
  private val MiB = 1L << 20

  test("a directory-layout events.parquet over 4 MiB derives a width above 4") {
    val dir = Files.createTempDirectory("graft_stream_width")
    val events = Files.createDirectories(dir.resolve("events.parquet"))
    try {
      Files.write(events.resolve("part-00000-a.snappy.parquet"), new Array[Byte](3 << 20))
      Files.write(events.resolve("part-00001-a.snappy.parquet"), new Array[Byte](3 << 20))
      // Spark's commit marker and Hadoop checksums are not input
      Files.write(events.resolve("_SUCCESS"), Array.emptyByteArray)
      Files.write(events.resolve(".part-00000-a.snappy.parquet.crc"), new Array[Byte](1024))
      val bytes = Streams.inputBytes(spark, events.toString)
      assert(bytes == 6 * MiB)
      assert(Streams.streamWidth(bytes, 32) == 6)
    } finally {
      events.toFile.listFiles().foreach(_.delete())
      Files.delete(events)
      Files.delete(dir)
    }
  }

  test("the graded single-file fixtures still derive 4") {
    val fixtures = new java.io.File(TestSpark.sf).getParent
    Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$fixtures/$sf/events.parquet")
      .filter(p => Files.isRegularFile(java.nio.file.Paths.get(p)))
      .foreach { p =>
        val bytes = Streams.inputBytes(spark, p)
        assert(bytes == Files.size(java.nio.file.Paths.get(p)), p)
        assert(Streams.streamWidth(bytes, 32) == 4, p)
      }
  }

  test("the parallelism cap wins over the floor, and a missing input derives the floor") {
    assert(Streams.streamWidth(100 * MiB, 2) == 2)
    assert(Streams.streamWidth(100 * MiB, 32) == 32)
    assert(Streams.streamWidth(17 * MiB, 32) == 17)
    assert(Streams.inputBytes(spark, "/nonexistent/events.parquet") == 0L)
    assert(Streams.streamWidth(0L, 32) == 4)
  }
}
