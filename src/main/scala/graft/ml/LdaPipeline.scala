package graft.ml

import graft.obs.QueryProfile
import org.apache.spark.ml.clustering.{DistributedLDAModel, GraftMlLdaBridge, LDA, LDAModel, LocalLDAModel}
import org.apache.spark.mllib.clustering.GraftLdaBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LDA topic-clustering pipeline — the reference's core capability
  * (`LDAClustering.scala:20-96`, `LDALoader.scala:11-215`) re-expressed
  * on spark.ml.
  *
  * Parameter mapping (SURVEY.md §2.4 A6):
  *  - optimizer "em" | "online"; online gets the reference's minibatch
  *    robustness tweak `0.05 + 1/corpusSize` (`LDAClustering.scala:43`).
  *  - docConcentration/topicConcentration −1 → mllib auto
  *    (α = 50/k + 1, β = 1.1), same as the persisted reference models.
  *  - checkpointInterval 10 (EM lineage truncation).
  *  - the corpus fed to LDA is the TF·IDF-floored matrix, NOT integer
  *    counts — the reference's quirk (`LDAClustering.scala:23,61`).
  *  - a seed is always pinned (the reference never set one — SURVEY.md
  *    §7 risk 2 — which made its runs irreproducible; we fix that).
  *
  * Scale: a corpus of at most [[DriverFitCap]] nonzero·topic cells
  * iterates on the driver with zero Spark jobs per iteration (EM:
  * [[EmLda]] with `onDriver`; online: [[OnlineLda]]). The driver then
  * holds the corpus and its per-iteration state: EM under 2 × (12/k +
  * 16) bytes per cell, i.e. under 80 MB at the cap for k = 5 (see
  * [[EmLda.fit]]); online 12 bytes per nonzero plus one vector per
  * document, besides the vocabulary × k matrices mllib's driver holds
  * anyway. Above the cap EM iterates on doc-partitioned blocks on the
  * executors (memory ∝ corpus nonzeros there, plus one W×k term-topic
  * matrix on the driver, bounded by the broadcast vocabulary cap) and
  * online is mllib's optimizer, the 100 TB path (minibatched variational
  * updates, corpus never fully materialized per iteration). Either way
  * EM builds the GraphX doc-term graph of mllib's model once, after the
  * last iteration. The loader-side inference is cluster-wide
  * `model.transform`, not the reference's per-book driver loop
  * (SURVEY.md §3.2 boundary note).
  */
object LdaPipeline {

  final case class Params(
      k: Int = 5,
      maxIterations: Int = 50,
      algorithm: String = "em",
      docConcentration: Double = -1,
      topicConcentration: Double = -1,
      vocabSize: Int = 2900000,
      checkpointInterval: Int = 10,
      seed: Long = 42L)

  final case class Fitted(
      model: LDAModel, vocab: Array[String], idf: Array[Double],
      corpus: DataFrame) {
    /** Drop what training left cached: the TF·IDF corpus and, for an EM
      * model, its doc-term graph. Call when done with a model in a
      * long-lived session (e.g. training all 8 language corpora) so
      * cached matrices don't accumulate in storage memory. The model
      * stays usable; a later call recomputes what it needs. */
    def release(): Unit = {
      model match {
        case m: DistributedLDAModel => GraftLdaBridge.unpersistGraph(GraftMlLdaBridge.unwrap(m))
        case _ =>
      }
      corpus.unpersist()
    }
  }

  /** Full train: tokens DataFrame(doc_id, tokens) → fitted LDA + vocab.
    * Mirrors SURVEY.md §3.3's dataflow with Catalyst-planned stages. */
  def train(spark: SparkSession, tokens: DataFrame, params: Params): Fitted = {
    // widened (guide §2.5): the TF·IDF prep (explode + count partial
    // aggs, count-vector build) otherwise fuses into the corpus scan
    // task — one task for a single-row-group corpus file. Counts and
    // vectors are exact per doc_id, so the prep result is
    // partition-independent; fit oracles are invariant-booleans.
    val widened = graft.Tables.widened(tokens, graft.Tables.DenseKernelFloor)
    val nonEmpty = widened.filter(size(col("tokens")) > 0) // P7
    val counts = Vectorize.wordCounts(nonEmpty)
    val vocab = Vectorize.buildVocab(counts, params.vocabSize)
    val tf = Vectorize.countVectors(nonEmpty, vocab)
    val idfModel = Vectorize.fitIdf(tf)
    val corpusSize = idfModel.numDocs
    val idf = idfModel.idf.toArray
    val onDriver = Vectorize.nonzeros(idfModel) * params.k <= DriverFitCap
    // partition count tracks corpus size: EM-LDA runs one stage per
    // iteration, and over-partitioning a small corpus turns the
    // training into pure scheduler overhead (measured 123 s → 74 s on
    // the reference EN corpus going 32 → 8 partitions, when each
    // iteration ran four GraphX stages). At real scale the default
    // parallelism stands. A fit under DriverFitCap runs no per-iteration
    // job, but keeps this partitioning: the partitions seed EM's init
    // and online's minibatch samples, so its model is the one the
    // distributed fit of the same corpus gives.
    val scaled = Vectorize.tfidfWithFloor(spark, tf, idf)
    val online = params.algorithm.equalsIgnoreCase("online")
    // ONLINE partitioning tracks the MINIBATCH, not the corpus (r19,
    // guide §2.6 — fill the scheduler, don't flood it): each of the
    // ~2-3 jobs/iteration aggregates only the sampled minibatch
    // (≈ subsamplingRate × corpus ≈ 0.05·N docs), so per-job task
    // count is fixed cost multiplied by ~3×maxIter. Measured curve
    // (r19 partition sweep): 5k docs (≈250-doc minibatch) runs best at
    // 1 partition (8.9 → 6.0 s warm vs 8), 50k docs (≈2.5k minibatch)
    // at 8 (19.8 s at 2 parts — compute-bound — vs 11.3 at 8); ≈300
    // minibatch docs per task sits on both optima. Corpora ≥100k keep
    // the prep's own partitioning as before (at real scale the
    // minibatch is huge and default parallelism stands).
    val onlineParts =
      math.max(1L, math.min(corpusSize,
        math.ceil((0.05 * corpusSize + 1.0) / 300.0).toLong)).toInt
    val corpus =
      (if (corpusSize < 100000) scaled.coalesce(if (online) onlineParts else 8)
       else scaled).cache()

    // Checkpoint storage cost (r17 verdict #3): with a checkpoint dir
    // set (Bench/Verify/BookBench do — without one the interval is a
    // silent no-op, r16 verdict #3), EM above DriverFitCap writes its
    // doc-side block state (the corpus in CSR form plus the doc-topic
    // counts) to the dir every `checkpointInterval` (10) iterations and
    // deletes the superseded copy; the last one stays, since the
    // model's lineage reads it (`deleteCheckpointFiles` on the model
    // drops it). The runner mains register the dir for deletion at JVM
    // exit (TempDirs.deleteOnExit); a production cluster should point it
    // at scratch storage and clean per job for the same reason.
    val lda = new LDA()
      .setK(params.k)
      .setMaxIter(params.maxIterations)
      .setFeaturesCol("features")
      .setCheckpointInterval(params.checkpointInterval)
      .setSeed(params.seed)
    if (params.docConcentration > 0) lda.setDocConcentration(params.docConcentration)
    if (params.topicConcentration > 0) lda.setTopicConcentration(params.topicConcentration)
    params.algorithm.toLowerCase match {
      case "em" => lda.setOptimizer("em")
      case "online" =>
        lda.setOptimizer("online")
          .setSubsamplingRate(math.min(1.0, 0.05 + 1.0 / corpusSize))
      case other =>
        throw new IllegalArgumentException(s"Only em, online are supported but got $other.")
    }
    // above the cap an online fit is one phase: the optimizer submits a
    // couple of short jobs per iteration (minibatch sample +
    // aggregation), so the tagged jobs' walls decompose the fit into
    // ~2×maxIter uniform samples; under it OnlineLda records each
    // iteration as OnlineIteration (EM records iterationTimes inside the
    // model instead — emIterationTimes below)
    val model =
      if (!online) EmLda.fit(lda, corpus, onDriver)
      else if (onDriver) OnlineLda.fit(lda, corpus)
      else QueryProfile.phase(spark, OnlineFit)(lda.fit(corpus))
    Fitted(model, vocab, idf, corpus)
  }

  /** The largest corpus, in nonzero·topic cells (nonzero document-term
    * entries × k), whose EM or online fit iterates on the driver
    * ([[EmLda]] with `onDriver`, [[OnlineLda]]); a larger one runs one
    * Spark job (EM) or two (online) per iteration. Set at the measured
    * crossover where a driver-side iteration stops being faster than a
    * distributed one. Measured on ml04/ml06's `documents` corpus, k = 5,
    * 20 iterations, seed 42, 4-vCPU VM, `SPARK_GRAFT_CPUS=4`, 3 reps
    * (2 for the sf1 subsets, every 20th doc_id kept in 5, 7 or 9 of
    * 20); seconds per iteration, driver vs distributed (EM: median of
    * the model's iteration times; online: fit wall / 20):
    * {{{
    * corpus            cells   EM driver  EM distributed  online driver  online distributed
    * sf0.01          0.058 M   0.0004     0.050-0.071     0.013-0.016    0.142-0.150
    * sf0.1            0.58 M   0.004      0.054-0.096     0.071-0.081    0.189-0.195
    * sf1, 5/20 docs   1.48 M                              0.204-0.210    0.275-0.395
    * sf1, 7/20 docs   2.08 M                              0.272-0.278    0.312-0.420
    * sf1, 9/20 docs   2.67 M                              0.348-0.365    0.311-0.445
    * sf1              5.94 M   0.040      0.082-0.115     0.745-0.767    0.418-0.516
    * }}}
    * EM on the driver is faster at every size measured; online, whose
    * driver iteration infers the whole minibatch on one core, crosses
    * over between 2.08 M and 2.67 M cells, so the one cap is 2 M. On a
    * box with more cores the distributed side gets faster and the true
    * crossover lower. */
  val DriverFitCap: Long = 2000000L

  /** The phase an online `lda.fit` runs in. */
  val OnlineFit = "online_fit"

  /** The name under which [[OnlineLda]] records each iteration's wall. */
  val OnlineIteration = "online_iteration"

  /** Per-iteration EM training times (seconds) as recorded in the fitted
    * model (mllib's `iterationTimes`, which [[EmLda]] fills with the
    * same definition) — the decomposition that lets a slow ml04 wall
    * time be attributed to iterations × per-iteration cost (a real plan
    * regression) vs a loaded environment (uniform inflation across
    * iterations). Only EM models carry these; online fits return None. */
  def emIterationTimes(fitted: Fitted): Option[Seq[Double]] = fitted.model match {
    case m: DistributedLDAModel =>
      Some(GraftLdaBridge.iterationTimes(GraftMlLdaBridge.unwrap(m)).toIndexedSeq)
    case _ => None
  }

  /** A8 — topic descriptions with term indices resolved through the
    * vocabulary (broadcast lookup, not a driver loop). */
  def describeTopics(spark: SparkSession, fitted: Fitted, maxTermsPerTopic: Int): DataFrame = {
    val vocabB = spark.sparkContext.broadcast(fitted.vocab)
    val resolve = udf((idx: Seq[Int]) => idx.map(vocabB.value(_)))
    fitted.model.describeTopics(maxTermsPerTopic)
      .withColumn("terms", resolve(col("termIndices")))
      .select("topic", "terms", "termWeights")
  }

  /** A10 — argmax with the reference's last-wins tie-break
    * (`LDALoader.scala:131-140` uses `<=`, so the LAST maximal index
    * wins). */
  val argmaxLastWins = udf { (v: org.apache.spark.ml.linalg.Vector) =>
    var best = 0
    var bestW = Double.NegativeInfinity
    v.foreachActive { (i, w) =>
      if (w >= bestW) { best = i; bestW = w } // >= → last max wins
    }
    best
  }

  /** A9+A10 — cluster-side topic assignment for every document. */
  def assignTopics(fitted: Fitted, docs: DataFrame): DataFrame =
    fitted.model.transform(docs)
      .withColumn("main_topic", argmaxLastWins(col("topicDistribution")))

  /** A11 — books-per-topic histogram (the loader's driver arrays as one
    * hash aggregate). */
  def topicHistogram(assigned: DataFrame, nameCol: String): DataFrame =
    assigned
      .groupBy("main_topic")
      .agg(count(lit(1)).as("n_docs"), sort_array(collect_list(col(nameCol))).as("docs"))
      .orderBy("main_topic")

  /** K1/K2 — persistence: ml writer (JSON metadata + parquet, the same
    * layout family as the reference's `models/LdaModel_*`) + vocab text. */
  def save(fitted: Fitted, path: String): Unit = {
    fitted.model.write.overwrite().save(s"$path/model")
    val spark = fitted.corpus.sparkSession
    import spark.implicits._
    Seq(fitted.vocab.mkString(",")).toDF("vocab")
      .coalesce(1).write.mode("overwrite").text(s"$path/vocabulary")
  }

  /** S4/S5 — load a persisted model + vocabulary. */
  def load(spark: SparkSession, path: String, algorithm: String): (LDAModel, Array[String]) = {
    val model = algorithm.toLowerCase match {
      case "em" => DistributedLDAModel.load(s"$path/model")
      case _ => LocalLDAModel.load(s"$path/model")
    }
    val vocab = spark.read.text(s"$path/vocabulary")
      .head().getString(0).split(",")
    (model, vocab)
  }

  /** K1/K2 promoted to FULL staged persistence: the fitted
    * preprocessing (count vectorization over the fitted vocabulary +
    * the TF·IDF zero-floor) and the LDA model bundled as ONE spark.ml
    * `PipelineModel`. `save`/`load` above match the reference's
    * model+vocab contract; this closes the gap they leave — with only
    * model+vocab, a loader must re-wire the floor stage by hand, and a
    * mismatch there silently shifts every inference. The bundle wraps
    * the already-fitted stages (Pipeline.fit over Transformer-only
    * stages fits nothing — it validates schemas and packages), so
    * building it costs no training.
    *
    * The returned artifact re-transforms raw `(doc_id, tokens)` rows
    * end-to-end: tokens → tf → floored tf·idf → topicDistribution,
    * bit-identically to the in-memory `Fitted` chain
    * (StagedPersistenceSpec). */
  def stagedModel(fitted: Fitted, tokens: DataFrame): org.apache.spark.ml.PipelineModel = {
    val floor = new TfIdfFloorModel()
      .setVocab(fitted.vocab).setIdf(fitted.idf)
      .setTokensCol("tokens").setOutputCol("features")
    new org.apache.spark.ml.Pipeline()
      .setStages(Array(floor, fitted.model))
      .fit(tokens.select("doc_id", "tokens"))
  }

  def saveStaged(fitted: Fitted, tokens: DataFrame, path: String): Unit =
    stagedModel(fitted, tokens).write.overwrite().save(path)

  def loadStaged(spark: SparkSession, path: String): org.apache.spark.ml.PipelineModel =
    org.apache.spark.ml.PipelineModel.load(path)
}
