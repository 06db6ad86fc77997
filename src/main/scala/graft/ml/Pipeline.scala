package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end equivalents of the reference's two entry points
  * (`LDATraining.scala`, `LDALoader.scala`), batched cluster-side.
  */
object Pipeline {

  /** S6 — language → corpus subdirectory dispatch
    * (`LDALoader.scala:46-56`). */
  val languageDirs: Map[String, String] = Map(
    "DU" -> "Dutch", "EN" -> "English", "FR" -> "French", "GE" -> "German",
    "IT" -> "Italian", "RU" -> "Russian", "SP" -> "Spanish", "UKR" -> "Ukrainian")

  /** P6 — deterministic contiguous doc ids: distributed range-sort +
    * zipWithIndex (graft.GlobalIndex) over a stable order — the same
    * RDD mechanism the reference used, but pinned by book name so ids
    * don't depend on partitioning (SURVEY.md §2.3 P6, §7 risk 2). No
    * unpartitioned window anywhere; the repartition keeps the expensive
    * per-document UDF chain downstream running wide. */
  def withDocIds(books: DataFrame, orderCol: String = "book_name"): DataFrame = {
    // the source path joins the order as a unique tiebreak: two books
    // with the same name (e.g. one filename under two language dirs)
    // would otherwise make the range-sort order — and hence doc ids —
    // nondeterministic across lineage recomputations
    val order =
      if (books.columns.contains("path") && orderCol != "path")
        Seq(col(orderCol), col("path"))
      else Seq(col(orderCol))
    graft.GlobalIndex.withGlobalIndex(books, order, "doc_id")
      .repartition(books.sparkSession.sparkContext.defaultParallelism)
  }

  /** The shared prep chain (P2 → P3 → P4 → P7), used identically by
    * training, classification, and benchmarks — one definition so the
    * two entry points can never diverge in tokenization. */
  def prepTokens(books: DataFrame, stopwords: Seq[String]): DataFrame =
    books.select(col("doc_id"), col("book_name"),
      TextPrep.tokenizeFilterStem(
        TextPrep.filterSpecialCharacters(TextPrep.lemmatizeUdf(col("text"))),
        stopwords).as("tokens"))
      .filter(size(col("tokens")) > 0) // P7

  /** T4 — latest-model pick: explicit timestamp-suffix parse instead of
    * the reference's filesystem-order `.last` (`LDALoader.scala:25-37`,
    * SURVEY.md §7 risk 2). A directory whose last `_` field is not a
    * timestamp (e.g. `LdaModel_EN_backup`) is not a model and is skipped. */
  def latestModel(dir: String, prefix: String = "LdaModel_"): Option[String] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    files.filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .flatMap(f => f.getName.split("_").last.toLongOption.map(_ -> f))
      .sortBy(_._1)
      .lastOption.map(_._2.getPath)
  }

  /** The training entry point (`LDATraining` + `LDAClustering.run`):
    * books dir → prep → vectorize → LDA → save; returns fitted + topics
    * (K4 console summary). */
  def trainOnBooks(
      spark: SparkSession,
      booksDir: String,
      stopwords: Seq[String],
      params: LdaPipeline.Params,
      saveDir: Option[String] = None): (LdaPipeline.Fitted, DataFrame) = {
    val books = withDocIds(CorpusReader.readBooks(spark, booksDir))
    val tokens = prepTokens(books, stopwords)
    val fitted = LdaPipeline.train(spark, tokens, params)
    saveDir.foreach(LdaPipeline.save(fitted, _))
    (fitted, LdaPipeline.describeTopics(spark, fitted, 10))
  }

  /** The loader entry point (`LDALoader`), batched: one DataFrame of all
    * books through the shared prep + model.transform, then the golden
    * report — the per-book driver loop of the reference collapsed into
    * one cluster job (SURVEY.md §3.2 boundary note).
    *
    * Classification features are RAW COUNT vectors over the TRAINING
    * vocabulary — the reference's semantics: `BuildCountVector` applies
    * no IDF at inference (SURVEY.md §3.2 step 4a, "3.3 minus IDF") even
    * though training ran on TF·IDF. Reusing the training vocab also
    * keeps classification independent of which other books are in the
    * batch (no train/serve skew from refitting statistics).
    */
  def classifyBooks(
      spark: SparkSession,
      booksDir: String,
      stopwords: Seq[String],
      fitted: LdaPipeline.Fitted): (DataFrame, String) = {
    val books = withDocIds(CorpusReader.readBooks(spark, booksDir))
    val tokens = prepTokens(books, stopwords).cache()
    // P10 — local→global vocab projection: CountVectorizerModel with the
    // TRAINING vocab maps unseen terms to nothing (the reference's
    // indexOf == -1 drop, made total)
    val feat = Vectorize.countVectors(tokens, fitted.vocab, outCol = "features")
    val assigned = LdaPipeline.assignTopics(fitted, feat)

    // T2/T3/E1 — per-book top-100 terms (by tf desc, term asc — the
    // reference's driver sort, pinned) ∩ the main topic's top-300 terms,
    // first 10 shown (LDALoader.scala:86-94,154-155)
    val termCounts = tokens
      .select(col("doc_id"), explode(col("tokens")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("doc_id").orderBy(col("tf").desc, col("term"))
    val top100 = termCounts
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 100)
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(rnk, term))), s -> s.term)")
        .as("doc_terms"))
    val topics300 = LdaPipeline.describeTopics(spark, fitted, 300)
      .select(col("topic").as("main_topic"), col("terms").as("topic_terms"))
    val withWords = assigned
      .join(top100, "doc_id")
      .join(broadcast(topics300), "main_topic")
      .withColumn("top_words",
        slice(array_intersect(col("doc_terms"), col("topic_terms")), 1, 10))

    val topics10 = LdaPipeline.describeTopics(spark, fitted, 10)
    val report = GoldenReport.fromDataFrames(fitted.model.getK, withWords, topics10)
    tokens.unpersist()
    (withWords, report)
  }
}
