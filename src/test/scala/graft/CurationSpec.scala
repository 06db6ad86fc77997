package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the curation family at sf0.001 (value-level
  * parity is the DuckDB gate; these pin the properties a pipeline
  * relies on). */
class CurationSpec extends AnyFunSuite {
  import TestSpark._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("sp01: selection spends at most half the token budget, greedily") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val total = docs.select(size(split(col("text"), " ")).cast("long").as("nt"))
      .agg(sum("nt")).head().getLong(0)
    val sel = run("sp01_token_budget").collect()
    assert(sel.nonEmpty)
    val spent = sel.map(_.getAs[Long]("nt")).sum
    assert(2 * spent <= total, "budget overspent")
    // greedy: the running sums are exactly the prefix sums of nt
    val cums = sel.map(_.getAs[Long]("cum_tokens"))
    assert(cums.toSeq == sel.map(_.getAs[Long]("nt")).scanLeft(0L)(_ + _).tail.toSeq)
    // quality-ordered: non-increasing quality along the selection
    val qs = sel.map(_.getAs[Double]("quality"))
    assert(qs.zip(qs.tail).forall { case (a, b) => a >= b })
  }

  test("sp02: every sampled doc's bucket is under its language's rate") {
    val rates = Map("en" -> 50, "de" -> 40, "es" -> 30, "fr" -> 20)
    run("sp02_stratified_sample").collect().foreach { r =>
      val rate = rates.getOrElse(r.getAs[String]("lang"), 10)
      assert(r.getAs[Int]("bucket") < rate)
    }
  }

  test("sp03: weights equalize to the smallest stratum") {
    val rows = run("sp03_mixture_weights").collect()
    val target = rows.map(_.getAs[Long]("target_tokens")).distinct
    assert(target.length == 1)
    assert(target.head == rows.map(_.getAs[Long]("tokens")).min)
    rows.foreach { r =>
      val w = r.getAs[Double]("resample_weight")
      assert(w > 0 && w <= 1.0)
      // weight * tokens == target exactly (w = target/tokens)
      assert(math.abs(w * r.getAs[Long]("tokens") - target.head) < 1e-6)
    }
  }

  test("dd08: survivor belongs to its cluster and has its best quality") {
    val clusters = operators.Dedup.dupClusters(spark, sf).collect()
      .groupBy(_.getAs[Long]("cluster_id"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    val survivors = run("dd08_survivor_selection").collect()
    assert(survivors.length == clusters.size)
    survivors.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      assert(clusters(cid).contains(r.getAs[Long]("survivor_id")))
      assert(r.getAs[Long]("n_members") == clusters(cid).size)
    }
  }

  test("dd09: eval docs never appear as contaminated train docs") {
    val contaminated = run("dd09_benchmark_decontamination").collect()
      .map(_.getAs[Long]("train_doc")).toSet
    contaminated.foreach { id =>
      val b = Integer.parseInt(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString)
          .substring(0, 2), 16) % 100
      assert(b < 95, s"eval doc $id leaked into train side")
    }
  }

  test("dd18: planted delta contamination convicted; clean/short admitted; non-delta absent") {
    import spark.implicits._
    def bucket(id: Long): Int = Integer.parseInt(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString)
        .substring(0, 2), 16) % 100
    val evalId = (0L to 10000L).find(bucket(_) >= 95).get
    val deltaIds = (0L to 10000L)
      .filter(i => bucket(i) < 95 && i % 5 == 0 && i != evalId)
    val Seq(cont, clean, shortD) = deltaIds.take(3)
    val nonDelta = (0L to 10000L)
      .find(i => bucket(i) < 95 && i % 5 != 0).get
    val evalText =
      "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (evalId, evalText), // the benchmark doc (standing index)
      (cont, "zz " + evalText), // shares 3 verbatim eval 8-grams
      (clean, "one two three four five six seven eight nine ten"),
      (shortD, "tiny doc"), // < 8 tokens: no evidence possible
      (nonDelta, "yy " + evalText) // contaminated but NOT today's delta
    ).toDF("doc_id", "text")
    val out = operators.Curation.decontaminationDelta(spark, docs).collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // ledger covers exactly the delta slice — eval and non-delta train
    // docs never appear, short delta docs DO (admitted, evidence-free)
    assert(byId.keySet == Set(cont, clean, shortD))
    val c = byId(cont)
    assert(!c.getAs[Boolean]("admitted") &&
      c.getAs[Long]("n_shared_grams") == 3L &&
      c.getAs[Long]("n_eval_docs") == 1L)
    val cl = byId(clean)
    assert(cl.getAs[Boolean]("admitted") &&
      cl.getAs[Long]("n_shared_grams") == 0L &&
      cl.getAs[Long]("n_eval_docs") == 0L)
    assert(byId(shortD).getAs[Boolean]("admitted") &&
      byId(shortD).getAs[Long]("n_shared_grams") == 0L)
  }

  test("ta08: repetition ratios are well-formed") {
    run("ta08_repetition_profile").collect().foreach { r =>
      val nGrams = r.getAs[Long]("n_grams")
      val nDistinct = r.getAs[Long]("n_distinct")
      val maxRep = r.getAs[Long]("max_rep")
      assert(nGrams >= nDistinct && nDistinct >= 1)
      assert(maxRep >= 1 && maxRep <= nGrams - nDistinct + 1)
      val top = r.getAs[Double]("top_gram_ratio")
      assert(top > 0 && top <= 1.0)
      assert(r.getAs[Boolean]("is_repetitive") == (top > 0.05))
    }
  }

  test("ta09: keep equals the conjunction of its rules") {
    run("ta09_quality_rules").collect().foreach { r =>
      val expected = r.getAs[Boolean]("wc_ok") && r.getAs[Boolean]("wlen_ok") &&
        r.getAs[Boolean]("stop_ok") && r.getAs[Boolean]("rep_ok")
      assert(r.getAs[Boolean]("keep") == expected)
    }
  }

  test("ta10: scores are positive and ranked non-increasing") {
    val rows = run("ta10_bm25_retrieval").collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.forall(_ > 0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("sp06: bins are full except the last, and tokens are conserved") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val total = docs.select(size(split(col("text"), " ")).cast("long").as("nt"))
      .agg(sum("nt")).head().getLong(0)
    val bins = run("sp06_sequence_packing").collect()
    assert(bins.nonEmpty)
    // contiguous bin ids from 0
    assert(bins.map(_.getAs[Long]("bin_id")).toSeq == (0L until bins.length).toSeq)
    // every bin except the last holds exactly 2048 tokens
    val fills = bins.map(_.getAs[Long]("fill_tokens"))
    assert(fills.init.forall(_ == 2048L), "interior bin not full")
    assert(fills.last >= 1 && fills.last <= 2048)
    // overlap accounting conserves the corpus token count exactly
    assert(fills.sum == total, s"packed ${fills.sum} of $total tokens")
    // each doc starts in exactly one bin
    assert(bins.map(_.getAs[Long]("docs_starting")).sum == docs.count())
  }

  test("ta12: per-doc bigram stats are well-formed and complete") {
    val rows = run("ta12_bigram_lm_filter").collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val multi = docs.filter(size(split(col("text"), " ")) >= 2).count()
    assert(rows.length == multi, "one row per multi-token doc")
    rows.foreach { r =>
      val (lo, hi) = (r.getAs[Double]("min_p"), r.getAs[Double]("max_p"))
      assert(lo > 0 && lo <= hi && hi < 1, "smoothed probabilities must sit in (0,1)")
      val ratio = r.getAs[Double]("rare_ratio")
      assert(ratio >= 0 && ratio <= 1)
      assert(r.getAs[Long]("rare_bigrams") <= r.getAs[Long]("n_bigrams"))
    }
    // n_bigrams == token_count - 1, doc by doc
    val nt = docs.select(col("doc_id"), (size(split(col("text"), " ")) - 1).cast("long").as("nb"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("nb")).toMap
    rows.foreach(r =>
      assert(r.getAs[Long]("n_bigrams") == nt(r.getAs[Long]("doc_id"))))
  }

  test("sp11: incremental pipeline packs contiguous full bins") {
    val bins = run("sp11_incremental_curation_pipeline").collect()
    assert(bins.nonEmpty, "the curated set must pack at least one bin")
    val ids = bins.map(_.getAs[Long]("bin_id"))
    assert(ids.toSeq == (0L until bins.length).toSeq)
    bins.init.foreach(b => assert(b.getAs[Long]("fill_tokens") == 2048L))
    assert(bins.last.getAs[Long]("fill_tokens") <= 2048L)
    // (no volume relation to sp09 is asserted: sp11's admission filters
    // only the DELTA — corpus-internal exact dups pass here but are
    // deduped by sp09, so neither packed volume bounds the other)
  }

  test("sp12: multimodal pipeline packs contiguous full bins, quarantine ⊆ gate") {
    val bins = run("sp12_multimodal_curation_pipeline").collect()
    assert(bins.nonEmpty, "the curated set must pack at least one bin")
    val ids = bins.map(_.getAs[Long]("bin_id"))
    assert(ids.toSeq == (0L until bins.length).toSeq)
    bins.init.foreach(b => assert(b.getAs[Long]("fill_tokens") == 2048L))
    assert(bins.last.getAs[Long]("fill_tokens") <= 2048L)
    // the admitted set is a subset of the ta09-gated set: every packed
    // doc id must carry keep=true in the standalone gate query
    val admIds = multimodal.Multimodal.multimodalAdmitted(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keep = run("ta09_quality_rules")
      .filter(org.apache.spark.sql.functions.col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admIds.subsetOf(keep), "admission must not resurrect gated-out docs")
  }

  test("sp09: pipeline stages compose monotonically and bins fill") {
    val bins = run("sp09_curation_pipeline").collect()
    assert(bins.nonEmpty, "the curated set must pack at least one bin")
    // bins are contiguous from 0 and every bin except the last is full
    val ids = bins.map(_.getAs[Long]("bin_id"))
    assert(ids.toSeq == (0L until bins.length).toSeq)
    bins.init.foreach(b => assert(b.getAs[Long]("fill_tokens") == 2048L))
    assert(bins.last.getAs[Long]("fill_tokens") <= 2048L)
    // the packed volume respects the half-budget: <= half of the
    // gate+dedup stage's token total
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val gatedTokens = {
      val rules = operators.Curation.ta09.fn(spark, sf)
        .select(col("doc_id"), col("keep"))
      val fp = docs.select(col("doc_id"), md5(col("text")).as("f"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      val g0 = fp.join(rules, "doc_id").filter(col("keep"))
      val surv = g0.groupBy("f").agg(min("doc_id").as("sid"))
      g0.join(surv, g0("f") === surv("f") && g0("doc_id") === surv("sid"))
        .agg(sum("nt")).head().getLong(0)
    }
    val packed = bins.map(_.getAs[Long]("fill_tokens")).sum
    assert(2 * packed <= gatedTokens, s"packed=$packed gated=$gatedTokens")
  }

  test("sp07: seeded shuffle is a balanced permutation, not the identity") {
    val rows = run("sp07_deterministic_shuffle").collect()
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.length == n)
    // positions are exactly 0..n-1 (bijection)
    assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq == (0L until n).toSeq)
    // every doc appears exactly once
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == n)
    // shard = pos % 8 → sizes balanced to ±1 by construction
    val sizes = rows.groupBy(_.getAs[Long]("shard")).map(_._2.length)
    assert(sizes.max - sizes.min <= 1)
    // the hash order is not the natural doc_id order (P(identity) ~ 1/n!)
    val inOrder = rows.sortBy(_.getAs[Long]("pos")).map(_.getAs[Long]("doc_id"))
    assert(inOrder.toSeq != inOrder.sorted.toSeq)
    // deterministic: a second evaluation yields the same permutation
    val again = run("sp07_deterministic_shuffle").collect()
      .sortBy(_.getAs[Long]("pos")).map(_.getAs[Long]("doc_id"))
    assert(inOrder.toSeq == again.toSeq)
  }

  test("sp08: realized keep rate tracks the expected rate") {
    val rows = run("sp08_importance_resampling").collect()
    var total = 0L; var kept = 0L; var expected = 0.0
    rows.foreach { r =>
      val (n, k) = (r.getAs[Long]("n_total"), r.getAs[Long]("n_kept"))
      assert(k >= 0 && k <= n)
      val (kf, ef) = (r.getAs[Double]("kept_frac"), r.getAs[Double]("expected_frac"))
      assert(kf >= 0 && kf <= 1 && ef > 0 && ef <= 1)
      total += n; kept += k; expected += ef * n
    }
    // md5 draws are uniform: corpus-level realized vs expected within 10pp
    assert(math.abs(kept - expected) <= 0.10 * total,
      s"kept=$kept expected=$expected total=$total")
  }
}
