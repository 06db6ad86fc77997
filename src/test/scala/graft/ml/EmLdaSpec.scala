package graft.ml

import graft.TestSpark
import org.apache.spark.ml.clustering.{DistributedLDAModel, GraftMlLdaBridge, LDA}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** EmLda against mllib's own EM optimizer (`LDA.setOptimizer("em").fit`)
  * on one cached multi-partition corpus: same model up to the order of
  * floating-point sums, same params, same persisted form; and
  * `Fitted.release()` leaves no cached RDD behind. */
class EmLdaSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** 60 docs over 45 terms drawn from three planted topics (15 terms
    * each, 80% in-topic), in 3 partitions. */
  private lazy val corpus: DataFrame = {
    val rng = new scala.util.Random(11)
    val docs = (0 until 60).map { d =>
      val topic = d % 3
      val counts = new Array[Double](45)
      (0 until 20 + rng.nextInt(30)).foreach { _ =>
        val t = if (rng.nextDouble() < 0.8) topic else rng.nextInt(3)
        counts(t * 15 + rng.nextInt(15)) += 1.0
      }
      (d.toLong, Vectors.dense(counts).toSparse)
    }
    val df = docs.toDF("doc_id", "features").repartition(3).cache()
    df.count()
    df
  }

  private def estimator(checkpointInterval: Int) = new LDA()
    .setK(3).setMaxIter(15).setOptimizer("em").setSeed(5L)
    .setCheckpointInterval(checkpointInterval)

  private def mainTopics(m: DistributedLDAModel): Map[Long, Int] =
    m.transform(corpus)
      .select(col("doc_id"), LdaPipeline.argmaxLastWins(col("topicDistribution")))
      .as[(Long, Int)].collect().toMap

  private def maxRelDiff(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => math.abs(x - y) / math.abs(x) }.max

  private def checkpointDirs(): Set[String] = {
    val dir = new org.apache.hadoop.fs.Path(spark.sparkContext.getCheckpointDir.get)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).map(_.getPath.getName).toSet
  }

  Seq(3 -> "with checkpoints every 3 updates", -1 -> "without checkpoints").foreach {
    case (interval, label) =>
      test(s"EmLda matches mllib's EM optimizer ($label)") {
        assert(corpus.rdd.getNumPartitions == 3)
        val theirs = estimator(interval).fit(corpus).asInstanceOf[DistributedLDAModel]
        val before = checkpointDirs()
        val lda = estimator(interval)
        val ours = EmLda.fit(lda, corpus)

        assert(ours.vocabSize == theirs.vocabSize)
        val diff = maxRelDiff(theirs.topicsMatrix.toArray, ours.topicsMatrix.toArray)
        assert(diff <= 1e-9, s"topicsMatrix max relative difference $diff")
        assert(mainTopics(ours) == mainTopics(theirs))
        val (llT, llO) = (theirs.logLikelihood(corpus), ours.logLikelihood(corpus))
        assert(math.abs(llT - llO) / math.abs(llT) <= 1e-9, s"logLikelihood $llT vs $llO")
        val (tT, tO) = (theirs.trainingLogLikelihood, ours.trainingLogLikelihood)
        assert(math.abs(tT - tO) / math.abs(tT) <= 1e-9, s"trainingLogLikelihood $tT vs $tO")
        info(f"max relative difference: topicsMatrix $diff%.1e, " +
          f"logLikelihood ${math.abs(llT - llO) / math.abs(llT)}%.1e")

        val times = LdaPipeline.emIterationTimes(
          LdaPipeline.Fitted(ours, Array.empty, Array.empty, corpus))
        assert(times.exists(t => t.length == 15 && t.forall(_ > 0)), s"iteration times $times")

        // the estimator's params, set and default alike, as LDA.fit copies them
        assert(ours.uid == lda.uid && ours.parent == lda)
        def params(m: DistributedLDAModel) =
          m.extractParamMap().toSeq.map(p => p.param.name -> p.value).toMap
        assert(params(ours) == params(theirs))
        assert(ours.params.filter(ours.isSet).map(_.name).toSet ==
          theirs.params.filter(theirs.isSet).map(_.name).toSet)

        // superseded checkpoints deleted; the last one kept for the model
        val kept = checkpointDirs() -- before
        if (interval > 0) {
          assert(ours.getCheckpointFiles.length == 1 && kept.size == 1)
          assert(ours.getCheckpointFiles.head.endsWith(kept.head))
        } else assert(ours.getCheckpointFiles.isEmpty && kept.isEmpty)

        // partials are summed in a fixed order: a pinned seed reproduces the model
        assert(EmLda.fit(estimator(interval), corpus).topicsMatrix.toArray.toSeq ==
          ours.topicsMatrix.toArray.toSeq)

        val dir = java.nio.file.Files.createTempDirectory("em_lda").toString
        ours.write.overwrite().save(dir)
        val loaded = DistributedLDAModel.load(dir)
        assert(loaded.topicsMatrix.toArray.toSeq == ours.topicsMatrix.toArray.toSeq)
        assert(loaded.getK == 3 && loaded.getMaxIter == 15)
      }
  }

  test("the driver path yields the cluster path's model bit for bit, without checkpoints") {
    val sc = spark.sparkContext
    val theirs = new LDA().setK(3).setMaxIter(15).setOptimizer("em").setSeed(5L).fit(corpus)
      .asInstanceOf[DistributedLDAModel]
    val cluster = EmLda.fit(estimator(3), corpus)
    val cached = sc.getPersistentRDDs.keySet
    val before = checkpointDirs()
    val lda = estimator(3)
    val ours = EmLda.fit(lda, corpus, onDriver = true)

    assert(checkpointDirs() == before && ours.getCheckpointFiles.isEmpty)
    assert(ours.topicsMatrix.toArray.toSeq == cluster.topicsMatrix.toArray.toSeq)
    val diff = maxRelDiff(theirs.topicsMatrix.toArray, ours.topicsMatrix.toArray)
    assert(diff <= 1e-9, s"topicsMatrix max relative difference $diff")
    assert(mainTopics(ours) == mainTopics(cluster))
    // the doc vertices too (trainingLogLikelihood is no model state: mllib
    // sums it over the graph in task order, so its last ulp varies)
    def docTopics(m: DistributedLDAModel) = GraftMlLdaBridge.unwrap(m).topicDistributions
      .collect().sortBy(_._1).map { case (id, v) => id -> v.toArray.toSeq }.toSeq
    assert(docTopics(ours) == docTopics(cluster))
    assert(ours.uid == lda.uid && ours.parent == lda)
    val times = LdaPipeline.emIterationTimes(
      LdaPipeline.Fitted(ours, Array.empty, Array.empty, corpus))
    assert(times.exists(t => t.length == 15 && t.forall(_ > 0)), s"iteration times $times")

    // release() drops the graph's RDDs (the fitted corpus here is the
    // spec's shared one, so an empty frame stands in for it)
    def added = sc.getPersistentRDDs.filter { case (id, _) => !cached(id) }
    assert(added.nonEmpty)
    LdaPipeline.Fitted(ours, Array.empty, Array.empty, spark.emptyDataFrame).release()
    assert(added.isEmpty, added.values.mkString("; "))
    assert(GraftMlLdaBridge.unwrap(ours).topicAssignments.count() == 60)
    LdaPipeline.Fitted(cluster, Array.empty, Array.empty, spark.emptyDataFrame).release()
  }

  test("Fitted.release() drops every RDD an EM fit cached") {
    val tokens = Seq(
      (0L, Seq("cat", "sat", "mat", "cat", "purr")),
      (1L, Seq("dog", "bark", "dog", "chase", "cat")),
      (2L, Seq("spark", "shuffle", "partition", "executor")),
      (3L, Seq("spark", "executor", "aggregate", "partition")),
      (4L, Seq("cat", "dog", "garden", "wall", "play"))).toDF("doc_id", "tokens")
    // compared by id: the session's context cleaner may drop other
    // suites' garbage RDDs meanwhile, so a bare count can fall on its own
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    val fitted = LdaPipeline.train(spark, tokens,
      LdaPipeline.Params(k = 2, maxIterations = 10, algorithm = "em",
        checkpointInterval = 3, seed = 7L))
    val model = fitted.model.asInstanceOf[DistributedLDAModel]
    val ll = model.trainingLogLikelihood
    assert(added.nonEmpty)
    fitted.release()
    assert(added.isEmpty, added.values.mkString("; "))
    // still usable: the graph's edges recompute from their lineage (a
    // corpus this small fits on the driver, so it has no checkpoint)
    val old = GraftMlLdaBridge.unwrap(model)
    assert(old.topicAssignments.count() == 5)
    assert(LdaPipeline.describeTopics(spark, fitted, 3).count() == 2 && !ll.isNaN)
  }
}
