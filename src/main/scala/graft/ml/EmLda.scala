package graft.ml

import breeze.linalg.{DenseVector => BDV}
import org.apache.hadoop.fs.Path
import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.ml.clustering.{DistributedLDAModel, GraftMlLdaBridge, LDA}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.mllib.clustering.GraftLdaBridge
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** EM-LDA with mllib's `EMLDAOptimizer` update, run on doc-partitioned
  * blocks instead of a GraphX graph.
  *
  * mllib keeps the doc–term graph for the whole fit and runs four GraphX
  * stages per iteration (routing table, vertex ship, message aggregate,
  * topic-totals fold), a fixed scheduler cost that dwarfs the arithmetic
  * on small corpora. Here each corpus partition becomes one cached CSR
  * [[Block]] holding its documents' topic counts N_jk. An iteration
  * broadcasts the term-topic counts N_wk (W×k) and the totals N_k, runs
  * one narrow map that applies the E-step to every token of the block —
  * new N_jk, plus the block's term partials Σ_j γ_wjk over its own terms
  * only — and sums the partials on the driver in partition order: one
  * stage, no shuffle, and a pinned seed reproduces the model. The GraphX
  * graph is built once, after the last iteration, for mllib's
  * `DistributedLDAModel`, so the model, its save/load layout and every
  * method on it are mllib's own.
  *
  * The math is mllib's: doc ids from `monotonically_increasing_id` over
  * the corpus partitions (`LDA.getOldDataset`); init draws k uniforms per
  * nonzero token from `java.util.Random(partitionIndex + seed)`,
  * L1-normalised and scaled by the token weight; E-step
  * γ_wjk ∝ (N_wk+η−1)(N_jk+α−1)/(N_k+W(η−1)), normalised, times the
  * weight; auto α = 50/k + 1 and η = 1.1. Results match mllib up to the
  * order of floating-point sums.
  *
  * Memory: only the doc-side blocks are cached (CSR, N_jk, and the term
  * partials sparse over the block's own terms). The driver holds one W×k
  * matrix, which `Vectorize.buildVocab`'s `broadcastVocabCap` bounds —
  * except on the driver path (`fit(..., onDriver = true)`, taken under
  * [[LdaPipeline.DriverFitCap]]), where it holds the blocks themselves.
  */
object EmLda {

  /** One corpus partition: documents with at least one nonzero token in
    * CSR form (token e of doc j is at `rowStart(j) until rowStart(j+1)`,
    * term `terms(slot(e))`, weight `weight(e)`), their topic counts
    * `docTopic` (j*k + t) and the block's term partials `termPartial`
    * (slot*k + t). `vocabSize` is the first row's vector size, −1 for an
    * empty partition. The CSR arrays are shared by every iteration's
    * block. */
  private final class Block(
      val docIds: Array[Long], val rowStart: Array[Int], val slot: Array[Int],
      val weight: Array[Double], val terms: Array[Int], val vocabSize: Int,
      val docTopic: Array[Double], val termPartial: Array[Double]) extends Serializable {

    /** One E-step against the broadcast term-topic counts. */
    def next(tt: TermTopics, k: Int, alpha: Double, eta: Double): Block = {
      val eta1 = eta - 1.0
      val alpha1 = alpha - 1.0
      val wEta1 = tt.vocabSize * eta1
      val nextDoc = new Array[Double](docTopic.length)
      val nextPartial = new Array[Double](termPartial.length)
      val g = new Array[Double](k)
      var j = 0
      while (j < docIds.length) {
        val d = j * k
        var e = rowStart(j)
        while (e < rowStart(j + 1)) {
          val w = terms(slot(e)) * k
          val p = slot(e) * k
          var sum = 0.0
          var t = 0
          while (t < k) {
            g(t) = (tt.nWk(w + t) + eta1) * (docTopic(d + t) + alpha1) / (tt.nK(t) + wEta1)
            sum += g(t)
            t += 1
          }
          t = 0
          while (t < k) {
            val x = g(t) / sum * weight(e)
            nextDoc(d + t) += x
            nextPartial(p + t) += x
            t += 1
          }
          e += 1
        }
        j += 1
      }
      new Block(docIds, rowStart, slot, weight, terms, vocabSize, nextDoc, nextPartial)
    }
  }

  private object Block {
    /** mllib's random soft assignment: per nonzero token, in row order and
      * then index order, k uniforms L1-normalised and scaled by the
      * token's weight, summed into its doc and its term. */
    def init(rows: Iterator[Row], k: Int, rng: java.util.Random): Block = {
      val ids = Array.newBuilder[Long]
      val rowStart = Array.newBuilder[Int]
      val term = Array.newBuilder[Int]
      val weight = Array.newBuilder[Double]
      var nnz = 0
      var vocabSize = -1
      rowStart += 0
      rows.foreach { r =>
        val v = r.getAs[Vector](1)
        if (vocabSize < 0) vocabSize = v.size
        val before = nnz
        v.foreachActive { (w, x) => if (x != 0.0) { term += w; weight += x; nnz += 1 } }
        if (nnz > before) { ids += r.getLong(0); rowStart += nnz }
      }
      val termOf = term.result()
      val terms = termOf.distinct.sorted
      val slot = termOf.map(java.util.Arrays.binarySearch(terms, _))
      val docIds = ids.result()
      val starts = rowStart.result()
      val w = weight.result()
      val docTopic = new Array[Double](docIds.length * k)
      val partial = new Array[Double](terms.length * k)
      val g = new Array[Double](k)
      var j = 0
      while (j < docIds.length) {
        var e = starts(j)
        while (e < starts(j + 1)) {
          var norm = 0.0
          var t = 0
          while (t < k) { g(t) = rng.nextDouble(); norm += math.abs(g(t)); t += 1 }
          t = 0
          while (t < k) {
            val x = g(t) / norm * w(e)
            docTopic(j * k + t) += x
            partial(slot(e) * k + t) += x
            t += 1
          }
          e += 1
        }
        j += 1
      }
      new Block(docIds, starts, slot, w, terms, vocabSize, docTopic, partial)
    }
  }

  /** N_wk (w*k + t) and N_k: what every iteration broadcasts. */
  private final case class TermTopics(vocabSize: Int, nWk: Array[Double], nK: Array[Double])

  /** Sums the blocks' term partials in partition order. */
  private def termTopics(
      vocabSize: Int, k: Int, parts: Array[(Int, Array[Int], Array[Double])]): TermTopics = {
    val nWk = new Array[Double](vocabSize * k)
    parts.foreach { case (_, terms, partial) =>
      var i = 0
      while (i < terms.length) {
        val base = terms(i) * k
        var t = 0
        while (t < k) { nWk(base + t) += partial(i * k + t); t += 1 }
        i += 1
      }
    }
    val nK = new Array[Double](k)
    var i = 0
    while (i < nWk.length) { nK(i % k) += nWk(i); i += 1 }
    TermTopics(vocabSize, nWk, nK)
  }

  /** What an iteration loop hands to the model build: the last doc-side
    * state, its term-topic counts, the iteration times and the written
    * checkpoints, oldest first. */
  private final class Iterated(
      val state: RDD[Block], val tt: TermTopics, val iterationTimes: Array[Double],
      val checkpoints: Seq[RDD[Block]])

  /** The vocabulary size, from the first non-empty block. */
  private def vocabSizeOf(parts: Array[(Int, Array[Int], Array[Double])], k: Int): Int = {
    val vocabSize = parts.iterator.map(_._1).find(_ >= 0)
      .getOrElse(throw new IllegalArgumentException("EM-LDA needs a non-empty corpus"))
    require(vocabSize.toLong * k <= Int.MaxValue, s"vocabulary $vocabSize × k $k exceeds one array")
    vocabSize
  }

  private def removeCheckpoint(sc: SparkContext, rdd: RDD[Block]): Unit =
    rdd.getCheckpointFile.foreach { f =>
      val path = new Path(f)
      path.getFileSystem(sc.hadoopConfiguration).delete(path, true)
    }

  /** Fits `lda` (k, maxIter, seed, checkpointInterval, keepLastCheckpoint,
    * featuresCol, the concentrations) on `corpus` with the EM update and
    * returns the model `lda.setOptimizer("em").fit(corpus)` returns, with
    * the estimator's params copied to it.
    *
    * With `onDriver` the blocks are built on the cluster as always, then
    * collected once and iterated on the driver in partition order: the
    * same updates summed in the same order, so the model is bit-identical
    * to the cluster loop's, with no job per iteration and no checkpoint
    * (the state has no lineage to cut). The driver then holds every
    * block twice during an iteration: per nonzero token 12 bytes of CSR
    * plus k doubles of doc and term partials at most, i.e. under
    * 2 × (12 / k + 16) bytes per nonzero·topic cell, plus the W×k
    * term-topic counts. [[LdaPipeline.train]] takes this path only under
    * [[LdaPipeline.DriverFitCap]] cells. */
  def fit(lda: LDA, corpus: DataFrame, onDriver: Boolean = false): DistributedLDAModel = {
    lda.transformSchema(corpus.schema)
    val sc = corpus.sparkSession.sparkContext
    val k = lda.getK
    val alpha =
      if (lda.isSet(lda.docConcentration)) {
        val a = lda.getDocConcentration
        require(a.forall(_ == a.head), "EM-LDA supports only a symmetric docConcentration")
        a.head
      } else 50.0 / k + 1.0
    val eta = if (lda.isSet(lda.topicConcentration)) lda.getTopicConcentration else 1.1
    require(alpha > 1.0, s"EM-LDA needs docConcentration > 1, got $alpha")
    require(eta > 1.0, s"EM-LDA needs topicConcentration > 1, got $eta")
    val seed = lda.getSeed
    val docs = corpus.select(monotonically_increasing_id(), col(lda.getFeaturesCol)).rdd
    val init = docs.mapPartitionsWithIndex((p, rows) =>
      Iterator.single(Block.init(rows, k, new java.util.Random(p + seed))))
    val it =
      if (onDriver) iterateOnDriver(init, k, alpha, eta, lda.getMaxIter)
      else iterateOnCluster(lda, init, k, alpha, eta)
    val state = it.state
    val tt = it.tt
    val vocabSize = tt.vocabSize

    // mllib's graph, built once: doc vertex j → N_jk, term vertex
    // −(1+w) → N_wk, one edge per nonzero token. A vocabulary term with
    // no token in the corpus has no vertex there; token weights are
    // positive, so a term has a token iff its counts are nonzero.
    val fin = sc.broadcast(tt)
    val parts = state.getNumPartitions
    val docVertices = state.flatMap(b => b.docIds.indices.iterator.map(j =>
      (b.docIds(j), BDV(b.docTopic.slice(j * k, (j + 1) * k)))))
    val termVertices = sc.parallelize(0 until vocabSize, parts).flatMap { w =>
      val row = fin.value.nWk.slice(w * k, (w + 1) * k)
      if (row.exists(_ != 0.0)) Some((-(1L + w), BDV(row))) else None
    }
    val edges = state.flatMap(b => b.docIds.indices.iterator.flatMap(j =>
      (b.rowStart(j) until b.rowStart(j + 1)).iterator.map(e =>
        Edge(b.docIds(j), -(1L + b.terms(b.slot(e))), b.weight(e)))))
    val graph = Graph(docVertices.union(termVertices).partitionBy(new HashPartitioner(parts)), edges)
    graph.vertices.count()
    graph.edges.count()

    val checkpointFiles =
      if (lda.getKeepLastCheckpoint) it.checkpoints.flatMap(_.getCheckpointFile).toArray
      else { it.checkpoints.foreach(removeCheckpoint(sc, _)); Array.empty[String] }
    state.unpersist(blocking = false)
    val old = GraftLdaBridge.distributedModel(graph, BDV(tt.nK), k, vocabSize, alpha, eta,
      it.iterationTimes, checkpointFiles)
    GraftMlLdaBridge.wrap(lda, old, corpus.sparkSession)
  }

  /** The blocks collected once and iterated on the driver, in partition
    * order; the final blocks become one partition each again. */
  private def iterateOnDriver(
      init: RDD[Block], k: Int, alpha: Double, eta: Double, maxIter: Int): Iterated = {
    var blocks = init.collect()
    def parts = blocks.map(b => (b.vocabSize, b.terms, b.termPartial))
    val vocabSize = vocabSizeOf(parts, k)
    var tt = termTopics(vocabSize, k, parts)
    // mllib's iterationTimes: the wall time of one whole iteration
    val iterationTimes = Array.fill(maxIter) {
      val t0 = System.nanoTime()
      blocks = blocks.map(_.next(tt, k, alpha, eta))
      tt = termTopics(vocabSize, k, parts)
      (System.nanoTime() - t0) / 1e9
    }
    new Iterated(init.sparkContext.parallelize(blocks.toSeq, blocks.length), tt, iterationTimes, Nil)
  }

  /** One narrow stage per iteration over the cached blocks. */
  private def iterateOnCluster(
      lda: LDA, init: RDD[Block], k: Int, alpha: Double, eta: Double): Iterated = {
    val sc = init.sparkContext
    val interval = lda.getCheckpointInterval
    val checkpointing = interval > 0 && sc.getCheckpointDir.nonEmpty

    // the doc-side state, checkpointed as mllib's PeriodicGraphCheckpointer
    // does its graph: every `interval`-th update (the init counts as the
    // first), superseded checkpoint files deleted once a newer one is
    // written. A broadcast is destroyed only when the newest written
    // checkpoint cuts it out of the lineage: a map's closure stays
    // reachable from its RDD until the RDD after it is checkpointed, and
    // re-serializing a destroyed broadcast fails the next task.
    var state: RDD[Block] = null
    var updates = 0
    val checkpoints = mutable.Queue.empty[(Int, RDD[Block])]
    val broadcasts = mutable.Queue.empty[(Int, Broadcast[TermTopics])]
    def update(next: RDD[Block]): Array[(Int, Array[Int], Array[Double])] = {
      next.persist(StorageLevel.MEMORY_AND_DISK)
      updates += 1
      if (checkpointing && updates % interval == 0) {
        next.checkpoint()
        checkpoints.enqueue(updates -> next)
      }
      val parts = next.map(b => (b.vocabSize, b.terms, b.termPartial)).collect()
      if (state != null) state.unpersist(blocking = false)
      state = next
      checkpoints.lastOption.filter(_._2.isCheckpointed).foreach { case (u, _) =>
        while (checkpoints.size > 1) removeCheckpoint(sc, checkpoints.dequeue()._2)
        while (broadcasts.headOption.exists(_._1 < u)) broadcasts.dequeue()._2.destroy()
      }
      parts
    }

    val first = update(init)
    val vocabSize = vocabSizeOf(first, k)
    var tt = termTopics(vocabSize, k, first)

    // mllib's iterationTimes: the wall time of one whole iteration,
    // checkpoint write included
    val iterationTimes = Array.fill(lda.getMaxIter) {
      val t0 = System.nanoTime()
      val bc = sc.broadcast(tt)
      broadcasts.enqueue((updates + 1) -> bc)
      tt = termTopics(vocabSize, k, update(state.map(_.next(bc.value, k, alpha, eta))))
      bc.unpersist(blocking = false)
      (System.nanoTime() - t0) / 1e9
    }
    new Iterated(state, tt, iterationTimes, checkpoints.map(_._2).toSeq)
  }
}
