package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The memo contract every standing build relies on: one build per
  * (slot, application, dir), LRU-1 eviction scoped to one slot of one
  * application, re-entrant nested builds, no entry from a failed build. */
class MemoSpec extends AnyFunSuite {
  /** A fresh slot over strings that records what it releases. */
  private class Probe(name: String) {
    var released = List.empty[String]
    var builds = 0
    val slot: Memo.Slot[String] = Memo.slot[String](name)(v => released ::= v)
    def get(app: String, dir: String, v: String): String =
      slot.get(app, dir) { builds += 1; v }
    def counts: Memo.Counts = Memo.counts.toMap.apply(name)
  }

  test("a hit does not rebuild and releases nothing") {
    val p = new Probe("spec.hit")
    assert(p.get("app", "dirA", "A") == "A")
    assert(p.get("app", "dirA", "A2") == "A")
    assert(p.builds == 1 && p.released.isEmpty)
    assert(p.counts == Memo.Counts(builds = 1, hits = 1, evictions = 0))
  }

  test("another application's entry is left alone") {
    val p = new Probe("spec.apps")
    p.get("app", "dirA", "A")
    assert(p.get("other", "dirA", "O") == "O")
    assert(p.get("other", "dirB", "O2") == "O2")
    assert(p.released == List("O"))
    // app's entry survived other's eviction: still a hit
    assert(p.get("app", "dirA", "A2") == "A")
    assert(p.builds == 3)
  }

  test("a new dir for the same slot and application evicts only the previous dir") {
    val p = new Probe("spec.lru")
    p.get("app", "dirA", "A")
    p.get("other", "dirA", "O")
    assert(p.get("app", "dirB", "B") == "B")
    assert(p.released == List("A"))
    assert(p.get("app", "dirB", "B2") == "B")
    assert(p.get("other", "dirA", "O2") == "O")
    // the evicted dir builds again, evicting dirB in turn
    assert(p.get("app", "dirA", "A3") == "A3")
    assert(p.released == List("B", "A"))
    assert(p.counts == Memo.Counts(builds = 4, hits = 2, evictions = 2))
  }

  test("evicting in one slot leaves another slot of the same application resident") {
    val a = new Probe("spec.slotA")
    val b = new Probe("spec.slotB")
    a.get("app", "dirA", "A")
    b.get("app", "dirA", "B")
    a.get("app", "dirB", "A2")
    assert(a.released == List("A"))
    assert(b.released.isEmpty)
    assert(b.get("app", "dirA", "B2") == "B")
    assert(b.builds == 1)
  }

  test("a build nested in another build on one thread completes; both stay resident") {
    val outer = new Probe("spec.outer")
    val inner = new Probe("spec.inner")
    val v = outer.slot.get("app", "dir") {
      outer.builds += 1
      "outer(" + inner.get("app", "dir", "inner") + ")"
    }
    assert(v == "outer(inner)")
    assert(outer.get("app", "dir", "x") == "outer(inner)")
    assert(inner.get("app", "dir", "y") == "inner")
    assert(outer.builds == 1 && inner.builds == 1)
    assert(outer.released.isEmpty && inner.released.isEmpty)
  }

  test("a build that throws leaves no entry, and the next call rebuilds") {
    val p = new Probe("spec.throws")
    val e = intercept[IllegalStateException] {
      p.slot.get("app", "dir") { p.builds += 1; throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(p.get("app", "dir", "ok") == "ok")
    assert(p.builds == 2)
    assert(p.counts == Memo.Counts(builds = 1, hits = 0, evictions = 0))
  }

  test("repeated calls, also from several threads, build exactly once") {
    val p = new Probe("spec.once")
    val threads = (1 to 4).map { i =>
      new Thread(() => (1 to 25).foreach(_ => p.get("app", "dir", s"v$i")))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(p.builds == 1)
    assert(p.counts == Memo.Counts(builds = 1, hits = 99, evictions = 0))
  }

  test("clear releases the slot's entries and forces a rebuild; other slots stay") {
    val a = new Probe("spec.clearA")
    val b = new Probe("spec.clearB")
    a.get("app", "dir", "A")
    a.get("other", "dir", "O")
    b.get("app", "dir", "B")
    Memo.clear(a.slot)
    assert(a.released.sorted == List("A", "O"))
    assert(a.get("app", "dir", "A2") == "A2")
    assert(b.get("app", "dir", "B2") == "B" && b.released.isEmpty)
  }

  test("no (application, dir) memo under src/main outside Memo.scala") {
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    // an application-keyed memo key; Tables' file-metadata key
    // (application, path, mtime) is not a standing build
    val key = """applicationId\}\|(?!\$path\|\$stamp)|\$app\|\$d""".r
    val trieMap = """val (\w+)\s*=\s*(?:scala\.collection\.concurrent\.)?TrieMap\s*\.empty\[String""".r
    // caches that hold no application-bound Spark state
    val allowed = Set("Tables.scala" -> "schemaCache", "Tables.scala" -> "rowGroupCache",
      "Storage.scala" -> "scratchDirs", "Streams.scala" -> "stageCache")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .filterNot(_.getFileName.toString == "Memo.scala")
      .flatMap { (p: Path) =>
        val src = Files.readString(p)
        val file = p.getFileName.toString
        def at(i: Int) = s"${root.relativize(p)}:${src.take(i).count(_ == '\n') + 1}"
        key.findAllMatchIn(src).map(m => s"${at(m.start)} key ${m.matched}") ++
          trieMap.findAllMatchIn(src).filterNot(m => allowed(file -> m.group(1)))
            .map(m => s"${at(m.start)} TrieMap ${m.group(1)}")
      }.toSeq.sorted
    if (offenders.nonEmpty)
      fail(s"memoize standing builds through graft.Memo:\n${offenders.mkString("\n")}")
  }
}
