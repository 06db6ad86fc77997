package graft.ml

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end: the reference's two entry points (train → save; load →
  * classify → golden report) on a tiny self-authored corpus. */
class PipelineSpec extends AnyFunSuite {
  import TestSpark.spark

  private lazy val booksDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft_corpus")
    val texts = Map(
      "Cats and Dogs, A Tale - Nobody.txt" ->
        ("The cats chased the dogs across gardens. The dogs barked loudly; " +
          "cats purred quietly. Gardens bloomed while animals played together happily."),
      "Spark Engines - Somebody.txt" ->
        ("Spark engines shuffle partitions across executors. Executors aggregate " +
          "partitions quickly. Shuffling dominates distributed engines entirely."),
      "Mixed Matters - Anyone.txt" ->
        ("Dogs played near spark engines while cats watched executors quietly. " +
          "Animals and engines rarely interact meaningfully together."))
    texts.foreach { case (name, text) =>
      java.nio.file.Files.writeString(dir.resolve(name), text)
    }
    dir.toString
  }

  test("trainOnBooks → save → latestModel → load → classifyBooks → report") {
    val stop = Seq("the", "and", "while", "a")
    val modelRoot = java.nio.file.Files.createTempDirectory("graft_models").toString
    val saveDir = s"$modelRoot/LdaModel_EN_1700000000001"

    val (fitted, topics) = Pipeline.trainOnBooks(spark, booksDir, stop,
      LdaPipeline.Params(k = 2, maxIterations = 10, algorithm = "online",
        checkpointInterval = -1, seed = 11L),
      saveDir = Some(saveDir))
    assert(topics.count() == 2)
    assert(fitted.vocab.nonEmpty)

    // T4 — latest-model pick by timestamp parse
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$modelRoot/LdaModel_EN_1600000000000"))
    assert(Pipeline.latestModel(modelRoot).contains(saveDir))

    val (model, vocab) = LdaPipeline.load(spark, saveDir, "online")
    assert(vocab.toSeq == fitted.vocab.toSeq)
    assert(model.vocabSize == fitted.model.vocabSize)

    val (assigned, report) = Pipeline.classifyBooks(spark, booksDir, stop, fitted)
    assert(assigned.count() == 3)
    // golden-format shape (K3): rules, book blocks, comma-escaped names
    assert(report.startsWith("#" * 87))
    assert(report.contains("LDA Model with 2 topics"))
    assert(report.contains("Book's name: Cats and Dogs? A Tale - Nobody.txt"))
    assert(report.contains("Main topic of the book: Topic Nr. ("))
    assert(report.contains("TOPIC 0: top-weighted terms"))
    assert(report.contains("TOPIC 1: top-weighted terms"))
  }

  test("S6 language dispatch map matches the reference's codes") {
    assert(Pipeline.languageDirs("EN") == "English")
    assert(Pipeline.languageDirs("GE") == "German")
    assert(Pipeline.languageDirs.size == 8)
  }

  test("latestModel skips a directory whose suffix is not a timestamp") {
    val root = java.nio.file.Files.createTempDirectory("graft_models")
    Seq("LdaModel_EN_1600000000000", "LdaModel_EN_1700000000001", "LdaModel_EN_backup")
      .foreach(d => java.nio.file.Files.createDirectory(root.resolve(d)))
    assert(Pipeline.latestModel(root.toString)
      .contains(root.resolve("LdaModel_EN_1700000000001").toString))
  }
}
