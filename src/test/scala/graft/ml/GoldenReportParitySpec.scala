package graft.ml

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Byte-level golden parity: parse the reference's checked-in report
  * artifact into renderer fixtures, re-render with
  * [[GoldenReport.render]], and require BYTE equality with the original
  * file. This pins every formatting rule — rule-line widths, tab/pipe
  * separators, full-precision Java double rendering, the words line's
  * trailing `", "`, the book-list `", "`/newline-every-3rd rule and its
  * trailing-whitespace trim — not just the structural shape.
  *
  * Fixture: the reference's only byte-level ground truth,
  * `TextClustering/src/main/resources/TestOutput/Result_EN_1591723228815`
  * (layout produced by `LDALoader.scala:111-212`; see GoldenReport's
  * note on the one "List of Books." wording delta vs the current head).
  * Values in the fixture are NOT reproducible (the reference never set
  * an LDA seed — SURVEY.md §7), which is exactly why the parity check
  * round-trips the artifact instead of re-training.
  */
class GoldenReportParitySpec extends AnyFunSuite {

  private val goldenPath = Paths.get(
    "/root/reference/TextClustering/src/main/resources/TestOutput/Result_EN_1591723228815")

  /** Parse the golden artifact into renderer fixtures — shared by the
    * GoldenEra byte round-trip and the committed HeadEra regeneration. */
  private def parseGolden(raw: String)
      : (Int, Seq[GoldenReport.BookResult], Seq[GoldenReport.TopicSummary]) = {
    val lines = raw.split("\n", -1) // -1: keep the final empty element

    val hashRule = "#" * 87
    val starRule = "*" * 87
    val dashRule = "-" * 55

    var i = 0
    def line(): String = { val l = lines(i); i += 1; l }
    def expect(s: String): Unit = {
      val l = line()
      assert(l == s, s"golden line ${i - 1}: got '$l', expected '$s'")
    }

    expect(hashRule)
    val k = "LDA Model with (\\d+) topics".r
      .findFirstMatchIn(line()).get.group(1).toInt
    expect(hashRule)

    val nrRe = "Nr\\.: (\\d+) \t\t\\|\t (.*)".r
    val mainRe =
      "Main topic of the book: Topic Nr\\. \\((\\d+)\\), Weight \\((.*)\\)".r
    val books = Seq.newBuilder[GoldenReport.BookResult]
    while (lines(i) == starRule && lines(i + 1).startsWith("Book's number:")) {
      expect(starRule)
      val num = line().stripPrefix("Book's number: ").toLong
      val name = line().stripPrefix("Book's name: ")
      expect("")
      expect(dashRule)
      expect("Topics Nr. \t|\t Distribution")
      expect(dashRule)
      val dist = Seq.newBuilder[Double]
      var nDist = 0
      while (lines(i).startsWith("Nr.: ")) {
        val m = nrRe.findFirstMatchIn(line()).get
        assert(m.group(1).toInt == nDist, "distribution indices contiguous")
        dist += m.group(2).toDouble
        nDist += 1
      }
      val main = mainRe.findFirstMatchIn(line()).get
      expect("Book most important words")
      expect(dashRule)
      expect("Word. \t|\t TF")
      expect(dashRule)
      val words = line().split(", ").toSeq.filter(_.nonEmpty)
      expect(starRule)
      expect("")
      books += GoldenReport.BookResult(num, name, dist.result(),
        main.group(1).toInt, main.group(2).toDouble, words)
    }

    expect(starRule)
    expect("List of topics")
    expect(starRule)
    val topicRe = "TOPIC (\\d+): top-weighted terms".r
    val topics = Seq.newBuilder[GoldenReport.TopicSummary]
    var nTopics = 0
    while (i < lines.length && lines(i) == dashRule) {
      expect(dashRule)
      val t = topicRe.findFirstMatchIn(line()).get.group(1).toInt
      expect(dashRule)
      val terms = Seq.newBuilder[(String, Double)]
      while (lines(i).nonEmpty) {
        val parts = line().split("\t")
        terms += parts(0) -> parts(1).toDouble
      }
      expect("")
      expect(dashRule)
      val n = line().stripPrefix("Amount of books in the topic: ").toInt
      expect(dashRule)
      expect("List of Books.")
      expect(dashRule)
      // the closing rule is concatenated directly after the list (see
      // GoldenReport.render), so it may arrive as a suffix of the last
      // book line or as a line of its own
      val bl = Seq.newBuilder[String]
      var nb = 0
      var listDone = false
      while (!listDone) {
        var l = line()
        if (l.endsWith(dashRule)) {
          listDone = true
          l = l.substring(0, l.length - dashRule.length)
        }
        val cleaned = l.stripSuffix(" ").stripSuffix(",")
        if (cleaned.nonEmpty) {
          val names = cleaned.split(", ")
          bl ++= names
          nb += names.length
        }
      }
      expect("")
      assert(nb == n, s"topic $t book list count $nb vs declared $n")
      topics += GoldenReport.TopicSummary(t, terms.result(), bl.result())
      nTopics += 1
    }
    expect(starRule)
    expect("")
    expect(hashRule)
    assert(i == lines.length - 1 && lines(i).isEmpty,
      "golden fully consumed up to the trailing newline")
    assert(nTopics == k)
    (k, books.result(), topics.result())
  }

  test("render() reproduces the reference golden byte-for-byte") {
    assume(Files.exists(goldenPath), "reference golden not present")
    val raw = new String(Files.readAllBytes(goldenPath), StandardCharsets.UTF_8)
    val (k, books, topics) = parseGolden(raw)
    val rendered = GoldenReport.render(k, books, topics)
    if (rendered != raw) {
      val d = rendered.zip(raw).indexWhere { case (a, b) => a != b }
      val at = if (d < 0) math.min(rendered.length, raw.length) else d
      fail(s"byte divergence at offset $at: " +
        s"rendered ...${rendered.slice(at - 40, at + 40)}... vs " +
        s"golden ...${raw.slice(at - 40, at + 40)}...")
    }
  }

  test("HeadEra full golden: the complete report re-rendered in the new format") {
    // r5 carryover item 8: a FULL new-format golden, not just the
    // synthetic append-sequence sample below. The same parsed content
    // as the byte round-trip above, rendered with the HeadEra switch and
    // pinned against a committed fixture — so the new-format renderer is
    // locked at real-report scale (17 books, 5 topics, every list-ending
    // shape the corpus produces). Regenerate deliberately with
    // -Dgraft.regen.golden=true after an intentional format change.
    assume(Files.exists(goldenPath), "reference golden not present")
    val raw = new String(Files.readAllBytes(goldenPath), StandardCharsets.UTF_8)
    val (k, books, topics) = parseGolden(raw)
    val rendered = GoldenReport.render(k, books, topics, GoldenReport.HeadEra)
    val fixture = Paths.get("src/test/resources/Result_EN_headera.txt")
    if (sys.props.get("graft.regen.golden").contains("true")) {
      Files.write(fixture, rendered.getBytes(StandardCharsets.UTF_8))
      fail(s"HeadEra golden regenerated at $fixture — commit it and rerun")
    }
    assert(Files.exists(fixture),
      "HeadEra golden fixture missing — regenerate with -Dgraft.regen.golden=true")
    val expected = new String(Files.readAllBytes(fixture), StandardCharsets.UTF_8)
    if (rendered != expected) {
      val d = rendered.zip(expected).indexWhere { case (a, b) => a != b }
      val at = if (d < 0) math.min(rendered.length, expected.length) else d
      fail(s"HeadEra full-golden divergence at offset $at: " +
        s"rendered ...${rendered.slice(at - 40, at + 40)}... vs " +
        s"fixture ...${expected.slice(at - 40, at + 40)}...")
    }
  }

  test("HeadEra renders the reference HEAD's byte sequence (regenerated sample)") {
    // Independent re-derivation of LDALoader HEAD's append sequence
    // (LDALoader.scala:172-207): the booksPerTopicNameVector string is
    // accumulated with a separator after EVERY book ("\n" each 3rd
    // within the topic, ", " otherwise), then the topics section writes
    // rule/TOPIC i/rule, term\tweight lines, blank, rule, Amount, rule,
    // "List of Books:" (COLON at HEAD), rule, list + "\n" + rule + "\n\n"
    // — unconditionally, no golden-era last-topic anomaly. Fixture
    // chosen so topic lists end every way: ", " (1 and 4 books), "\n"
    // (3 books), and empty.
    val hashRule = "#" * 87
    val starRule = "*" * 87
    val dashRule = "-" * 55
    val books = Seq(
      GoldenReport.BookResult(0, "a.txt", Seq(0.8, 0.2, 0.0, 0.0), 0, 0.8, Seq("w1", "w2")),
      GoldenReport.BookResult(1, "b.txt", Seq(0.1, 0.9, 0.0, 0.0), 1, 0.9, Seq("w3")),
      GoldenReport.BookResult(2, "c.txt", Seq(0.0, 0.6, 0.4, 0.0), 1, 0.6, Seq()),
      GoldenReport.BookResult(3, "d.txt", Seq(0.0, 0.7, 0.3, 0.0), 1, 0.7, Seq("w4")),
      GoldenReport.BookResult(4, "e.txt", Seq(0.0, 0.55, 0.45, 0.0), 1, 0.55, Seq()))
    val topics = Seq(
      GoldenReport.TopicSummary(0, Seq("t0" -> 0.5), Seq("a.txt")),
      GoldenReport.TopicSummary(1, Seq("t1" -> 0.4, "t2" -> 0.1),
        Seq("b.txt", "c.txt", "d.txt", "e.txt")),
      GoldenReport.TopicSummary(2, Seq("t3" -> 0.2), Seq("c.txt", "d.txt", "e.txt")),
      GoldenReport.TopicSummary(3, Seq.empty, Seq.empty))
    val sb = new StringBuilder
    sb.append(hashRule).append('\n').append("LDA Model with 4 topics\n").append(hashRule).append('\n')
    books.foreach { b =>
      sb.append(starRule).append('\n')
      sb.append(s"Book's number: ${b.number}\n")
      sb.append(s"Book's name: ${b.name}\n")
      sb.append('\n').append(dashRule).append('\n')
      sb.append("Topics Nr. \t|\t Distribution\n").append(dashRule).append('\n')
      b.distribution.zipWithIndex.foreach { case (w, i) => sb.append(s"Nr.: $i \t\t|\t $w\n") }
      sb.append(s"Main topic of the book: Topic Nr. (${b.mainTopic}), Weight (${b.mainWeight})\n")
      sb.append("Book most important words\n").append(dashRule).append('\n')
      sb.append("Word. \t|\t TF\n").append(dashRule).append('\n')
      b.topWords.foreach(w => sb.append(s"$w, "))
      sb.append('\n').append(starRule).append("\n\n")
    }
    sb.append(starRule).append('\n').append("List of topics\n").append(starRule).append('\n')
    topics.foreach { t =>
      sb.append(dashRule).append('\n').append(s"TOPIC ${t.topic}: top-weighted terms\n")
        .append(dashRule).append('\n')
      t.terms.foreach { case (term, w) => sb.append(s"$term\t$w\n") }
      sb.append('\n').append(dashRule).append('\n')
      sb.append(s"Amount of books in the topic: ${t.books.length}\n").append(dashRule).append('\n')
      sb.append("List of Books:\n").append(dashRule).append('\n')
      t.books.zipWithIndex.foreach { case (name, i) =>
        sb.append(name).append(if ((i + 1) % 3 == 0) "\n" else ", ") }
      sb.append('\n').append(dashRule).append("\n\n")
    }
    sb.append(starRule).append("\n\n").append(hashRule).append('\n')
    val expected = sb.toString
    val rendered = GoldenReport.render(4, books, topics, GoldenReport.HeadEra)
    if (rendered != expected) {
      val d = rendered.zip(expected).indexWhere { case (a, b) => a != b }
      val at = if (d < 0) math.min(rendered.length, expected.length) else d
      fail(s"HEAD-era byte divergence at offset $at: " +
        s"rendered ...${rendered.slice(at - 40, at + 40)}... vs " +
        s"expected ...${expected.slice(at - 40, at + 40)}...")
    }
    // and the two eras differ ONLY in the topics-list block
    val golden = GoldenReport.render(4, books, topics)
    assert(golden != rendered)
    assert(golden.contains("List of Books.") && rendered.contains("List of Books:"))
  }

  test("write encodes the report as UTF-8 whatever the default charset") {
    val books = Seq(GoldenReport.BookResult(1L, "Faust. Eine Tragödie - Goethe.txt",
      Seq(0.25, 0.75), 1, 0.75, Seq("Tragödie", "война")))
    val topics = Seq(GoldenReport.TopicSummary(1, Seq("война" -> 0.5), Seq(books.head.name)))
    val report = GoldenReport.render(2, books, topics)
    val path = Files.createTempFile("graft_report", ".txt")
    try {
      GoldenReport.write(path.toString, report)
      val bytes = Files.readAllBytes(path)
      val read = new String(bytes, StandardCharsets.UTF_8)
      assert(read.contains("Tragödie") && read.contains("война"),
        read.linesIterator.filter(_.contains("Trag")).mkString("\n"))
      assert(java.util.Arrays.equals(bytes, report.getBytes(StandardCharsets.UTF_8)))
    } finally Files.delete(path)
  }
}
