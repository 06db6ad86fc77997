package graft.ml

import org.apache.spark.ml.feature.{CountVectorizerModel, IDF, IDFModel}
import org.apache.spark.ml.linalg.{SparseVector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vectorization stage: frequency-ranked vocabulary (T1), count vectors
  * (P8), IDF with minDocFreq=2 (A4), and the reference's TF·IDF scaling
  * with the 0.0001 zero-floor (A5, `LDAClustering.scala:180-192`).
  *
  * Scale notes:
  *  - word counts are one explode + hash agg (map-side partial combine —
  *    the Spark-native form of the reference's `reduceByKey`).
  *  - the vocabulary is a top-k (`orderBy.limit` → TakeOrderedAndProject)
  *    collected to the driver and broadcast via CountVectorizerModel —
  *    exactly the reference's closure-captured Map, made explicit. The
  *    driver-side array is the known ceiling (~tens of millions of
  *    terms); past that the count-vector step becomes a shuffle join of
  *    exploded tokens against the vocab table.
  *  - ties in the frequency ranking break by term (ascending) — the
  *    reference's tie order was partition-dependent (SURVEY.md §7 risk 2);
  *    we pin it for reproducibility.
  */
object Vectorize {

  /** A1 — word counts over a tokens ARRAY<STRING> column. */
  def wordCounts(tokens: DataFrame, tokensCol: String = "tokens"): DataFrame =
    tokens
      .select(explode(col(tokensCol)).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"))

  /** T1 — frequency-ranked vocabulary, index = rank. Fails loudly past
    * the broadcast cap instead of silently attempting a multi-GB driver
    * collect — callers above the cap use [[vocabTable]] +
    * [[countVectorsViaJoin]]. */
  def buildVocab(counts: DataFrame, vocabSize: Int): Array[String] = {
    require(vocabSize <= broadcastVocabCap,
      s"vocabSize=$vocabSize exceeds the driver/broadcast ceiling " +
        s"($broadcastVocabCap); use vocabTable + countVectorsViaJoin for " +
        "the distributed vocabulary path")
    counts
      .orderBy(col("cnt").desc, col("term"))
      .limit(vocabSize)
      .select("term")
      .collect()
      .map(_.getString(0))
  }

  /** P8 — count vectors of dim vocab.length over the tokens column.
    * CountVectorizerModel broadcasts the vocab and emits SparseVector
    * with ascending indices — the reference's representation.
    *
    * This is the BELOW-the-cap path: the vocab lives in one driver/
    * executor array. Past [[broadcastVocabCap]] terms use
    * [[vocabTable]] + [[countVectorsViaJoin]] instead — identical
    * output (VectorizeFallbackSpec proves it), distributed vocab. */
  def countVectors(df: DataFrame, vocab: Array[String],
      tokensCol: String = "tokens", outCol: String = "tf"): DataFrame =
    new CountVectorizerModel(vocab)
      .setInputCol(tokensCol)
      .setOutputCol(outCol)
      .transform(df)

  /** Vocabulary ceiling for the broadcast path: ~4M terms ≈ a few
    * hundred MB of broadcast + hash-map per executor — comfortably
    * inside a normal executor heap, and far below where a driver
    * collect() starts to hurt. A 100 TB multilingual corpus easily
    * exceeds it; callers switch to the join path above this. */
  val broadcastVocabCap: Int = 4 * 1000 * 1000

  /** T1 as a DISTRIBUTED table (term, vid): same frequency ranking and
    * (cnt DESC, term ASC) tie order as [[buildVocab]], but the mapping
    * never leaves the cluster — vid comes from a range-sort +
    * zipWithIndex (graft.GlobalIndex), not a driver collect. */
  def vocabTable(counts: DataFrame, vocabSize: Int): DataFrame =
    graft.GlobalIndex
      .withGlobalIndex(counts, Seq(col("cnt").desc, col("term")), "vid")
      .filter(col("vid") < vocabSize)
      .select(col("term"), col("vid"))

  /** P8 ABOVE the broadcast cap: count vectors via an exploded-token
    * shuffle join against [[vocabTable]] — the scale path when the
    * vocabulary itself no longer fits one array (hundreds of millions
    * of multilingual terms at 100 TB). One shuffle keyed on term (the
    * join), one on doc id (the regroup); out-of-vocab tokens drop in
    * the join; docs with zero in-vocab tokens keep an empty vector via
    * the left join. Output is byte-identical to [[countVectors]]
    * (ascending indices, double counts) — VectorizeFallbackSpec holds
    * both paths equal. */
  def countVectorsViaJoin(df: DataFrame, vocab: DataFrame, vocabCount: Int,
      idCol: String = "doc_id", tokensCol: String = "tokens",
      outCol: String = "tf"): DataFrame = {
    val pairs = df
      .select(col(idCol).as("__cv_doc"), explode(col(tokensCol)).as("term"))
      .join(vocab, "term")
      .groupBy(col("__cv_doc"), col("vid"))
      .agg(count(lit(1)).cast("double").as("c"))
    val lists = pairs
      .groupBy("__cv_doc")
      .agg(sort_array(collect_list(struct(col("vid").cast("int").as("i"), col("c"))))
        .as("__cv_ic"))
    val assemble = udf { ic: Seq[org.apache.spark.sql.Row] =>
      if (ic == null)
        Vectors.sparse(vocabCount, Array.empty[Int], Array.empty[Double])
          : org.apache.spark.ml.linalg.Vector
      else
        Vectors.sparse(vocabCount,
          ic.map(_.getInt(0)).toArray, ic.map(_.getDouble(1)).toArray)
          : org.apache.spark.ml.linalg.Vector
    }
    df.join(lists, df(idCol) === lists("__cv_doc"), "left")
      .withColumn(outCol, assemble(col("__cv_ic")))
      .drop("__cv_doc", "__cv_ic")
  }

  /** A4 — IDF with the reference's minDocFreq=2
    * (`LDAClustering.scala:177`): idf = ln((m+1)/(df+1)), zeroed for
    * terms in fewer than 2 docs. */
  def fitIdf(df: DataFrame, tfCol: String = "tf"): IDFModel =
    new IDF().setMinDocFreq(2).setInputCol(tfCol).setOutputCol("idf_out").fit(df)

  /** The nonzero document-term entries of the count vectors `model` was
    * fitted on, without a pass over them. `docFreq` counts a term's
    * documents but reads 0 below minDocFreq (2); every vocabulary term
    * occurs in some document of the corpus it was built from, so a 0 is
    * a single-document term. */
  def nonzeros(model: IDFModel): Long = model.docFreq.iterator.map(math.max(_, 1L)).sum

  /** A5 — TF·IDF with the zero-floor quirk: where idf == 0.0 the
    * reference substitutes 0.0001 instead of zeroing the term
    * (`LDAClustering.scala:184-187`), so minDocFreq-filtered terms keep
    * a tiny weight. `IDFModel.transform` would multiply by true 0 —
    * hence this custom scaling. */
  def tfidfWithFloor(spark: SparkSession, df: DataFrame, idf: Array[Double],
      tfCol: String = "tf", outCol: String = "features"): DataFrame = {
    val idfB = spark.sparkContext.broadcast(idf)
    val scale = udf { (v: org.apache.spark.ml.linalg.Vector) =>
      val sv = v.toSparse
      val vals = new Array[Double](sv.indices.length)
      var i = 0
      while (i < sv.indices.length) {
        val idfVal = idfB.value(sv.indices(i))
        val f = if (idfVal == 0.0) 0.0001 else idfVal
        vals(i) = sv.values(i) * f
        i += 1
      }
      Vectors.sparse(sv.size, sv.indices, vals): org.apache.spark.ml.linalg.Vector
    }
    df.withColumn(outCol, scale(col(tfCol)))
  }

  /** A3 — the reference's "token count": number of *active* (distinct)
    * terms per doc summed over the corpus (`LDAClustering.scala:197`),
    * not raw occurrences. */
  def activeTermCount(df: DataFrame, vecCol: String = "features"): Long = {
    val numActives = udf((v: org.apache.spark.ml.linalg.Vector) => v.numActives)
    df.agg(sum(numActives(col(vecCol)))).head().getLong(0)
  }
}
