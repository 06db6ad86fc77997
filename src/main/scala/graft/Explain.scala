package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan auditor: prints the formatted physical plan of selected queries
  * so scan pushdown (PushedFilters/ReadSchema), join strategies
  * (BroadcastHashJoin vs SortMergeJoin), and WholeStageCodegen coverage
  * can be reviewed. Usage: runMain graft.Explain [sfDir] [name...]
  *
  * `sp11` and `sp12` name the queries' factored admission-chain frames,
  * whose physical shape the specs lock but whose query-level explain
  * hides (the GlobalCumsum localCheckpoints truncate the visible plan to
  * the packing tail).
  */
object Explain {
  private val admissionFrames: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sp11" -> operators.Curation.admittedCuration,
    "sp12" -> multimodal.Multimodal.multimodalAdmitted)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q01_pricing_summary", "q03_revenue_by_customer",
        "q05_local_supplier_revenue", "q19_cohort_symmetric_diff",
        "dd02_ngram_jaccard", "ss01_cosine_topk",
        // round-3 surface: banded LSH, window-free cumsum, pruned
        // sampling, broadcast-asymmetric decontamination, variant
        "dd07_embedding_neardup", "sp01_token_budget",
        "sp02_stratified_sample", "dd09_benchmark_decontamination",
        "q61_variant_json",
        // round-5 surface: injected runtime bloom filter, z-clustered
        // round-trip, window-free terciles
        "q69_bloom_runtime_filter", "q70_zorder_clustering",
        "ta14_quality_buckets")
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val (title, df) = admissionFrames.get(n) match {
        case Some(frame) => (s"$n (admission-chain frame)", frame(spark, sfDir))
        case None => (n, SparkEntry.queries(n)(spark, sfDir))
      }
      println(s"\n========== $title ==========")
      df.explain("formatted")
    }
    spark.stop()
  }
}
