package org.apache.spark.ml.clustering;

import org.apache.spark.ml.param.ParamMap;
import org.apache.spark.sql.SparkSession;

/**
 * Package bridge between graft.ml.EmLda / graft.ml.OnlineLda and the
 * spark.ml LDA wrapper: wraps an mllib EM or online model the way
 * {@code LDA.fit} does, and unwraps an EM model again. Java, not Scala: {@code Params.copyValues} and
 * {@code LDAModel.getModel} are Scala-{@code protected}, which Scala
 * admits only from subclasses, while both compile to public JVM methods.
 * No Spark internals are modified.
 */
public final class GraftMlLdaBridge {
  private GraftMlLdaBridge() {}

  /** The model {@code lda.fit} returns for an EM fit: the estimator's uid,
   * its params copied, the estimator as parent. */
  public static DistributedLDAModel wrap(
      LDA lda, org.apache.spark.mllib.clustering.DistributedLDAModel old,
      SparkSession spark) {
    DistributedLDAModel model =
        new DistributedLDAModel(lda.uid(), old.vocabSize(), old, spark, scala.Option.empty());
    return (DistributedLDAModel) lda.copyValues(model, ParamMap.empty()).setParent(lda);
  }

  /** The model {@code lda.fit} returns for an online fit. */
  public static LocalLDAModel wrap(
      LDA lda, org.apache.spark.mllib.clustering.LocalLDAModel old, SparkSession spark) {
    LocalLDAModel model = new LocalLDAModel(lda.uid(), old.vocabSize(), old, spark);
    return (LocalLDAModel) lda.copyValues(model, ParamMap.empty()).setParent(lda);
  }

  public static org.apache.spark.mllib.clustering.DistributedLDAModel unwrap(
      DistributedLDAModel model) {
    return (org.apache.spark.mllib.clustering.DistributedLDAModel) model.getModel();
  }
}
