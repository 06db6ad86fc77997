package org.apache.spark.mllib.clustering

import breeze.linalg.{DenseVector => BDV}
import org.apache.spark.graphx.Graph
import org.apache.spark.mllib.linalg.Vectors

/** Package bridge to the `private[clustering]` parts of mllib's EM model
  * that graft.ml.EmLda needs: the constructor (so the EM fit returns the
  * same `DistributedLDAModel`, with its save/load layout, that mllib's
  * own optimizer returns), `iterationTimes` (the per-iteration metric the
  * reference's metadata reports: its sum is BASELINE.md's EM training
  * seconds) and the graph (to drop its cached RDDs). No Spark internals
  * are modified.
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

  /** `Graph.unpersist` drops the edges of the graph's current replicated
    * vertex view, which a triplet job (e.g. `logLikelihood`) replaces
    * with an uncached one; the graph's own cached edges go separately. */
  def unpersistGraph(m: DistributedLDAModel): Unit = {
    m.graph.unpersist(blocking = false)
    m.graph.edges.unpersist(blocking = false)
  }
}
