package graft.ml

import graft.TestSpark
import org.apache.spark.ml.clustering.{LDA, LocalLDAModel}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.mllib.linalg.{Vector => OldVector, Vectors => OldVectors}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** OnlineLda against mllib's own online optimizer
  * (`LDA.setOptimizer("online").fit`) on cached multi-partition corpora:
  * the same λ and α up to the order of floating-point sums, the same
  * params, the same per-document posteriors — also when a minibatch is
  * empty or holds only all-zero rows. */
class OnlineLdaSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** `docs` spread round-robin over `parts` partitions, cached. */
  private def cached(docs: Seq[Vector], parts: Int): DataFrame = {
    val df = docs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("doc_id", "features").repartition(parts).cache()
    df.count()
    df
  }

  private def zeros(n: Int) = Seq.fill(n)(Vectors.sparse(30, Array.empty[Int], Array.empty[Double]))

  /** 45 docs over 30 terms from three planted topics (10 terms each, 80%
    * in-topic) plus one all-zero row, in 3 partitions. */
  private lazy val corpus: DataFrame = {
    val rng = new scala.util.Random(3)
    val docs = (0 until 45).map { d =>
      val counts = new Array[Double](30)
      (0 until 10 + rng.nextInt(20)).foreach { _ =>
        val t = if (rng.nextDouble() < 0.8) d % 3 else rng.nextInt(3)
        counts(t * 10 + rng.nextInt(10)) += 1.0
      }
      Vectors.dense(counts).toSparse: Vector
    }
    cached(docs ++ zeros(1), 3)
  }

  /** 4 docs among 16 all-zero rows, in 2 partitions. */
  private lazy val mostlyZero: DataFrame = cached(
    Seq.tabulate(4)(d => Vectors.sparse(30, Array(d, d + 10), Array(2.0, 1.0)): Vector) ++
      zeros(16), 2)

  private def estimator(seed: Long, rate: Double, optimizeAlpha: Boolean) = new LDA()
    .setK(3).setMaxIter(12).setOptimizer("online").setSeed(seed)
    .setSubsamplingRate(rate).setOptimizeDocConcentration(optimizeAlpha)

  private def maxRelDiff(a: Array[Double], b: Array[Double]): Double = {
    assert(a.length == b.length)
    a.zip(b).map { case (x, y) => if (x == y) 0.0 else math.abs(x - y) / math.abs(x) }.max
  }

  /** The minibatch of each iteration, drawn in mllib's order: λ's init
    * first, then per iteration the sample seed and, for a non-empty
    * sample, the inference seed. */
  private def minibatches(df: DataFrame, lda: LDA): Seq[Seq[OldVector]] = {
    val parts = df.select("features").rdd.glom().collect()
      .map(_.map(r => OldVectors.fromML(r.getAs[Vector](0))))
    val rng = new java.util.Random(lda.getSeed)
    rng.nextLong()
    Seq.fill(lda.getMaxIter) {
      val batch = OnlineLda.sample(parts, lda.getSubsamplingRate, rng.nextLong()).toSeq.flatten
      if (batch.nonEmpty) rng.nextLong()
      batch
    }
  }

  /** Fits `lda` both ways on `df`; returns the max relative differences
    * of topicsMatrix and docConcentration. */
  private def compare(lda: LDA, df: DataFrame): (Double, Double) = {
    val theirs = lda.fit(df).asInstanceOf[LocalLDAModel]
    val ours = OnlineLda.fit(lda, df)
    assert(ours.vocabSize == theirs.vocabSize)
    assert(ours.uid == lda.uid && ours.parent == lda)
    def params(m: LocalLDAModel) = m.extractParamMap().toSeq.map(p => p.param.name -> p.value).toMap
    assert(params(ours) == params(theirs))
    val topics = maxRelDiff(theirs.topicsMatrix.toArray, ours.topicsMatrix.toArray)
    val alpha = maxRelDiff(theirs.estimatedDocConcentration.toArray,
      ours.estimatedDocConcentration.toArray)
    assert(topics <= 1e-9, s"topicsMatrix max relative difference $topics")
    assert(alpha <= 1e-9, s"docConcentration max relative difference $alpha")
    (topics, alpha)
  }

  test("OnlineLda matches mllib's online optimizer over seeds, with and without α optimization") {
    assert(corpus.rdd.getNumPartitions == 3)
    for (seed <- Seq(1L, 2L, 3L); optimizeAlpha <- Seq(true, false)) {
      val (topics, alpha) = compare(estimator(seed, 0.3, optimizeAlpha), corpus)
      info(f"seed $seed, optimizeDocConcentration $optimizeAlpha: max relative difference " +
        f"topicsMatrix $topics%.1e, docConcentration $alpha%.1e")
    }
  }

  test("the same posteriors per document, and the same model on a re-run") {
    val lda = estimator(7L, 0.3, optimizeAlpha = true)
    val (theirs, ours) = (lda.fit(corpus), OnlineLda.fit(lda, corpus))
    def dist(m: org.apache.spark.ml.clustering.LDAModel) = m.transform(corpus)
      .select("doc_id", "topicDistribution").as[(Long, Vector)].collect().sortBy(_._1)
    dist(theirs).zip(dist(ours)).foreach { case ((i, t), (j, o)) =>
      assert(i == j)
      assert(maxRelDiff(t.toArray, o.toArray) <= 1e-9, s"doc $i: $t vs $o")
    }
    assert(OnlineLda.fit(lda, corpus).topicsMatrix.toArray.toSeq == ours.topicsMatrix.toArray.toSeq)
  }

  test("an empty minibatch skips the update as mllib does") {
    val lda = estimator(5L, 0.02, optimizeAlpha = true)
    val batches = minibatches(corpus, lda)
    assert(batches.exists(_.isEmpty) && batches.exists(_.nonEmpty), batches.map(_.size))
    compare(lda, corpus)
  }

  test("a minibatch of only all-zero rows counts the iteration but updates nothing, as mllib does") {
    for (optimizeAlpha <- Seq(true, false)) {
      val lda = estimator(4L, 0.1, optimizeAlpha)
      val batches = minibatches(mostlyZero, lda)
      assert(batches.exists(b => b.nonEmpty && b.forall(_.numNonzeros == 0)), batches)
      assert(batches.exists(_.exists(_.numNonzeros > 0)), batches)
      compare(lda, mostlyZero)
    }
  }
}
