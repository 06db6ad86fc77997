package org.apache.spark.mllib.clustering

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV, Vector => BV}
import org.apache.spark.graphx.Graph
import org.apache.spark.mllib.linalg.{Matrices, Vector, Vectors}

/** Package bridge to the `private[clustering]` parts of mllib's LDA that
  * graft.ml.EmLda and graft.ml.OnlineLda need: the model constructors (so
  * a fit returns the same `DistributedLDAModel` or `LocalLDAModel`, with
  * its save/load layout, that mllib's own optimizer returns),
  * `iterationTimes` (the per-iteration metric the reference's metadata
  * reports: its sum is BASELINE.md's EM training seconds), the graph (to
  * drop its cached RDDs), and the online optimizer's per-document
  * inference and Dirichlet expectations. No Spark internals are
  * modified.
  */
object GraftLdaBridge {
  def iterationTimes(m: DistributedLDAModel): Array[Double] = m.iterationTimes

  /** The model `EMLDAOptimizer.getLDAModel` builds: symmetric α, the
    * default gamma shape. */
  def distributedModel(
      graph: Graph[BDV[Double], Double], topicTotals: BDV[Double], k: Int,
      vocabSize: Int, alpha: Double, eta: Double, iterationTimes: Array[Double],
      checkpointFiles: Array[String]): DistributedLDAModel =
    new DistributedLDAModel(graph, topicTotals, k, vocabSize,
      Vectors.dense(Array.fill(k)(alpha)), eta, iterationTimes,
      DistributedLDAModel.defaultGammaShape, checkpointFiles)

  /** The model `OnlineLDAOptimizer.getLDAModel` builds from λ (k ×
    * vocabulary): the default gamma shape and a seed drawn from the
    * optimizer's generator. */
  def localModel(lambda: BDM[Double], alpha: Vector, eta: Double, seed: Long): LocalLDAModel =
    new LocalLDAModel(Matrices.fromBreeze(lambda).transpose, alpha, eta).setSeed(seed)

  /** One document's E-step of the online optimizer: (γ_d, its sufficient
    * statistics over the document's terms, those term ids). */
  def variationalTopicInference(
      termCounts: Vector, expElogbeta: BDM[Double], alpha: BV[Double],
      gammaShape: Double, k: Int, seed: Long): (BDV[Double], BDM[Double], List[Int]) =
    OnlineLDAOptimizer.variationalTopicInference(termCounts, expElogbeta, alpha, gammaShape, k, seed)

  def dirichletExpectation(alpha: BDV[Double]): BDV[Double] = LDAUtils.dirichletExpectation(alpha)

  /** Row-wise: each row of `alpha` is one Dirichlet. */
  def dirichletExpectation(alpha: BDM[Double]): BDM[Double] = LDAUtils.dirichletExpectation(alpha)

  /** `Graph.unpersist` drops the edges of the graph's current replicated
    * vertex view, which a triplet job (e.g. `logLikelihood`) replaces
    * with an uncached one; the graph's own cached edges go separately. */
  def unpersistGraph(m: DistributedLDAModel): Unit = {
    m.graph.unpersist(blocking = false)
    m.graph.edges.unpersist(blocking = false)
  }
}
