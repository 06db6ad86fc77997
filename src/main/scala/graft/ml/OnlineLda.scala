package graft.ml

import breeze.linalg.{all, sum, DenseMatrix => BDM, DenseVector => BDV}
import breeze.numerics.{exp, trigamma}
import breeze.stats.distributions.{Gamma, RandBasis}
import graft.obs.QueryProfile
import org.apache.commons.math3.random.MersenneTwister
import org.apache.spark.ml.clustering.{GraftMlLdaBridge, LDA, LocalLDAModel}
import org.apache.spark.ml.linalg.{Vector => MlVector}
import org.apache.spark.mllib.clustering.GraftLdaBridge
import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.util.random.PoissonSampler

/** Online LDA with mllib's `OnlineLDAOptimizer` replayed on the driver,
  * for corpora under [[LdaPipeline.DriverFitCap]].
  *
  * mllib runs two short jobs per iteration (the minibatch's `isEmpty`
  * and a `treeAggregate` of its statistics); on a corpus of a few dozen
  * books each job's scheduler cost is many times the arithmetic. Here
  * the corpus is collected once, partition by partition, and every
  * iteration runs on the driver with mllib's own random draws and
  * updates:
  *  - one `java.util.Random(seed)` draws, in mllib's order, the Gamma
  *    init of λ, then per iteration the sample seed and (for a non-empty
  *    sample) the inference seed, and finally the model's seed;
  *  - the minibatch is `RDD.sample(true, subsamplingRate, seed)` (the
  *    optimizer's default samples with replacement): partition p's
  *    `PoissonSampler` is seeded with the p-th draw of
  *    `new Random(seed)`, over every row, all-zero rows included, and a
  *    row drawn twice is inferred and counted twice;
  *  - each non-empty document is inferred by mllib's
  *    `variationalTopicInference` with seed `seed + p`; statistics are
  *    summed per partition and then in partition order (mllib's
  *    `treeAggregate` sums partitions in task-completion order, so the
  *    models agree up to the order of floating-point sums);
  *  - an empty sample skips the iteration; a sample of only all-zero
  *    rows counts the iteration but updates nothing; λ and α (Newton
  *    step, kept only if every entry stays positive) follow mllib.
  *
  * Each iteration's wall is recorded as [[LdaPipeline.OnlineIteration]].
  *
  * Memory: the driver holds the corpus (12 bytes per nonzero plus one
  * vector per document) and, as mllib's driver already does, λ and
  * exp(E[log β]), each vocabulary × k doubles, plus one k × vocabulary
  * statistics matrix per partition while an iteration runs.
  */
object OnlineLda {

  /** mllib's gamma shape, for λ's init and every document's γ. */
  private val GammaShape = 100.0

  /** Fits `lda` (k, maxIter, seed, the concentrations, learningOffset,
    * learningDecay, subsamplingRate, optimizeDocConcentration,
    * featuresCol) on `corpus` and returns the model
    * `lda.setOptimizer("online").fit(corpus)` returns, with the
    * estimator's params copied to it. */
  def fit(lda: LDA, corpus: DataFrame): LocalLDAModel = {
    lda.transformSchema(corpus.schema)
    // the corpus as mllib's optimizer reads it: partition by partition,
    // rows in order (one job)
    val parts: Array[Array[Vector]] = corpus.select(col(lda.getFeaturesCol)).rdd
      .mapPartitions(rows => Iterator.single(rows.map(r => Vectors.fromML(r.getAs[MlVector](0))).toArray))
      .collect()
    val k = lda.getK
    val corpusSize = parts.iterator.map(_.length.toLong).sum
    val vocabSize = parts.iterator.flatten.nextOption()
      .getOrElse(throw new IllegalArgumentException("online LDA needs a non-empty corpus")).size
    var alpha: BDV[Double] =
      if (!lda.isSet(lda.docConcentration)) BDV.fill(k)(1.0 / k)
      else lda.getDocConcentration match {
        case Array(a) => BDV.fill(k)(a)
        case a =>
          require(a.length == k, s"docConcentration must have length k, got ${a.length}")
          BDV(a)
      }
    val eta = if (lda.isSet(lda.topicConcentration)) lda.getTopicConcentration else 1.0 / k
    val tau0 = lda.getLearningOffset
    val kappa = lda.getLearningDecay
    val fraction = lda.getSubsamplingRate
    val optimizeAlpha = lda.getOptimizeDocConcentration
    val rng = new java.util.Random(lda.getSeed)

    val lambda: BDM[Double] = {
      val basis = new RandBasis(new MersenneTwister(rng.nextLong()))
      val init = new Gamma(GammaShape, 1.0 / GammaShape)(basis).sample(k * vocabSize).toArray
      new BDM[Double](vocabSize, k, init).t
    }
    var iteration = 0
    def rho(): Double = math.pow(tau0 + iteration, -kappa)

    def updateAlpha(logphat: BDV[Double], n: Double): Unit = {
      val weight = rho()
      val a = alpha.copy
      val gradf = n * (-GraftLdaBridge.dirichletExpectation(a) + logphat)
      val c = n * trigamma(sum(a))
      val q = -n * trigamma(a)
      val b = sum(gradf / q) / (1D / c + sum(1D / q))
      val dalpha = -(gradf - b) / q
      if (all((weight * dalpha + a) >:> 0D)) {
        a :+= weight * dalpha
        alpha = a
      }
    }

    (0 until lda.getMaxIter).foreach { _ =>
      val t0 = System.nanoTime()
      val batch = sample(parts, fraction, rng.nextLong())
      if (batch.exists(_.nonEmpty)) {
        iteration += 1
        val expElogbeta = exp(GraftLdaBridge.dirichletExpectation(lambda)).t
        val seed = rng.nextLong()
        val stats = BDM.zeros[Double](k, vocabSize)
        val logphat = if (optimizeAlpha) Some(BDV.zeros[Double](k)) else None
        var n = 0L
        batch.iterator.zipWithIndex.foreach { case (docs, p) =>
          val nonEmpty = docs.filter(_.numNonzeros > 0)
          if (nonEmpty.nonEmpty) {
            val stat = BDM.zeros[Double](k, vocabSize)
            val logphatPart = logphat.map(_ => BDV.zeros[Double](k))
            nonEmpty.foreach { termCounts =>
              val (gammad, sstats, ids) = GraftLdaBridge.variationalTopicInference(
                termCounts, expElogbeta, alpha, GammaShape, k, seed + p)
              stat(::, ids) := stat(::, ids) + sstats
              logphatPart.foreach(_ += GraftLdaBridge.dirichletExpectation(gammad))
            }
            stats += stat
            logphat.foreach(_ += logphatPart.get)
            n += nonEmpty.length
          }
        }
        if (n > 0) {
          val batchResult = stats *:* expElogbeta.t
          // mllib's stand-in for the batch count
          val batchSize = (fraction * corpusSize).ceil.toInt
          val weight = rho()
          lambda := (1 - weight) * lambda +
            weight * (batchResult * (corpusSize.toDouble / batchSize.toDouble) + eta)
          logphat.foreach(_ /= n.toDouble)
          logphat.foreach(updateAlpha(_, n.toDouble))
        }
      }
      QueryProfile.record(LdaPipeline.OnlineIteration, (System.nanoTime() - t0) / 1e9)
    }

    val old = GraftLdaBridge.localModel(lambda, Vectors.dense(alpha.toArray), eta, rng.nextLong())
    GraftMlLdaBridge.wrap(lda, old, corpus.sparkSession)
  }

  /** `RDD.sample(withReplacement = true, fraction, seed)` on the
    * collected partitions: as in `PartitionwiseSampledRDD`, partition p's
    * Poisson sampler is seeded with the p-th draw of `new Random(seed)`. */
  private[ml] def sample(parts: Array[Array[Vector]], fraction: Double, seed: Long): Array[Array[Vector]] = {
    val seeds = new java.util.Random(seed)
    parts.map { rows =>
      val sampler = new PoissonSampler[Vector](fraction)
      sampler.setSeed(seeds.nextLong())
      sampler.sample(rows.iterator).toArray
    }
  }
}
