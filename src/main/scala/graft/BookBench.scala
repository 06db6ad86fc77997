package graft

import graft.ml._

/** The reference's own training workload (BASELINE.md): EM-LDA, k=5,
  * 50 iterations, English Gutenberg corpus (51 books / 29 MB), run
  * through this engine's pipeline. Reports preprocessing and training
  * separately — the reference's 40 s baseline is the sum of
  * `iterationTimes` (training only; its CoreNLP preprocessing is
  * outside that number).
  *
  * Usage: runMain graft.BookBench [booksDir] [stopwordsFile]; the
  * BASELINE.md protocol runs it with SPARK_GRAFT_CPUS=32.
  */
object BookBench {
  def main(args: Array[String]): Unit = {
    val books = args.headOption.getOrElse(
      "/root/reference/TextClustering/src/main/resources/books/English")
    val stopFile = if (args.length > 1) args(1)
      else "/root/reference/TextClustering/src/main/resources/stopWords_EN.txt"
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val stops = CorpusReader.readStopwords(spark, stopFile)
    val t0 = System.nanoTime()
    val docs = Pipeline.withDocIds(CorpusReader.readBooks(spark, books))
    val tokens = Pipeline.prepTokens(docs, stops).cache()
    val nDocs = tokens.count() // materialize prep
    val tPrep = (System.nanoTime() - t0) / 1e9

    // the shipped training path with the reference's Params (EM, k=5,
    // 50 iterations, seed 42): train_sec covers vectorization and the
    // fit; iter_sum_sec is the sum of the model's iterationTimes, the
    // exact metric the reference's metadata (and BASELINE.md) reports
    val t1 = System.nanoTime()
    val fitted = LdaPipeline.train(spark, tokens, LdaPipeline.Params())
    val tTrain = (System.nanoTime() - t1) / 1e9
    val iters = LdaPipeline.emIterationTimes(fitted).getOrElse(Seq.empty)
    val itersStr = iters.map(t => f"$t%.3f").mkString("[", ",", "]")

    val lang = if (books.contains("German")) "ge" else "en"
    val baseline = if (lang == "ge") 105.2 else 40.8
    println(f"""{"workload":"${lang}_books_em_lda","docs":$nDocs,"vocab":${fitted.vocab.length},"preprocess_sec":$tPrep%.1f,"train_sec":$tTrain%.1f,"iter_sum_sec":${iters.sum}%.1f,"iter_times_sec":$itersStr,"baseline_train_sec":$baseline}""")
    spark.stop()
  }
}
