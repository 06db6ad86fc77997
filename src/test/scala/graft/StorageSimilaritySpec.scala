package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StorageSimilaritySpec extends AnyFunSuite {
  import TestSpark._

  test("q38 partitioned read prunes partitions (PartitionFilters)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_part_spec").toString
    Tables.documents(spark, sf).write.mode("overwrite").partitionBy("lang").parquet(tmp)
    val pruned = spark.read.parquet(tmp).filter(col("lang") === "en")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"expected partition pruning in plan:\n$plan")
    // pruned read equals direct filter
    val a = pruned.count()
    val b = Tables.documents(spark, sf).filter(col("lang") === "en").count()
    assert(a == b)
  }

  test("q39 bucketed join plans without shuffle exchanges") {
    val joined = operators.Storage.bucketedJoin(spark, sf)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
  }

  test("q70 z-order layout skips whole files on either dimension") {
    // sf0.01: 60k rows over a 2000×100 key grid → 16 z-range files are
    // compact 2-D blocks; at the suite's sf0.001 the grid (200×10) is
    // too coarse for block structure to emerge reliably.
    val d = "/root/testdata/sf0.01"
    val zdir = operators.Storage.zorderedLayout(spark, d)
    def fileBounds(dir: String) =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min("l_partkey"), max("l_partkey"), min("l_suppkey"), max("l_suppkey")).head
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    val zb = fileBounds(zdir)
    assert(zb.length >= 8, s"expected >=8 z-range files, got ${zb.length}")
    // footer-stat pruning for q70's box, per dimension independently
    val zPrunableSupp = zb.count { case (_, _, smin, smax) => smax < 2 || smin > 5 }
    val zPrunablePart = zb.count { case (pmin, pmax, _, _) => pmax < 16 || pmin > 47 }
    assert(zPrunableSupp > 0 && zPrunablePart > 0,
      s"z layout must bound BOTH dims per file: supp=$zPrunableSupp part=$zPrunablePart of ${zb.length}")
    // the single-key sort baseline: partkey is bounded per file, but
    // every file spans the full suppkey range — suppkey predicates can
    // never skip a file
    val ldir = java.nio.file.Files.createTempDirectory("graft_linear_spec").toString
    Tables.lineitem(spark, d)
      .select(col("l_partkey"), col("l_suppkey"))
      .repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(ldir)
    val lb = fileBounds(ldir)
    val lPrunableSupp = lb.count { case (_, _, smin, smax) => smax < 2 || smin > 5 }
    assert(lPrunableSupp == 0,
      s"sanity: partkey-sorted layout should never bound suppkey, got $lPrunableSupp")
  }

  test("ss05 multi-probe strictly expands single-probe LSH candidates") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(operators.Similarity.ss01.fn(spark, sf))
    val single = pairs(operators.Similarity.ss02.fn(spark, sf))
    val multi = pairs(operators.Similarity.ss05.fn(spark, sf))
    assert((multi & exact).size >= (single & exact).size,
      "nprobe=5 must not lose recall vs nprobe=1")
  }

  test("dd05 clusters are canonical (min-id representative, closed)") {
    val rows = operators.Dedup.dd05.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    rows.foreach { case (doc, cl) => assert(cl <= doc, s"cluster id $cl > member $doc") }
    // every cluster representative is a member of its own cluster
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cl, members) =>
      assert(members.exists(_._1 == cl), s"representative $cl missing from its cluster")
    }
  }

  test("ss04 IVF ANN returns ranked neighbors with sane recall") {
    val ivf = operators.Similarity.ivf(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = operators.Similarity.ss01.fn(spark, sf)
      .filter(col("rank") <= 3)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall > 0.2, s"IVF recall vs exact top-3 too low: $recall")
    // determinism: same seed, same result
    val again = operators.Similarity.ivf(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivf)
  }

  test("ss08 PQ/ADC: all invariant gates hold and the fit is deterministic") {
    val row = SparkEntry.queries("ss08_pq_adc")(spark, sf).head()
    assert(row.getAs[Long]("n_queries") == 10)
    Seq("full_topk_returned", "self_excluded", "cos_in_range",
      "selection_useful", "recon_err_ok").foreach(c =>
      assert(row.getAs[Boolean](c), s"gate $c failed"))
    // seeded codebooks: drop the model caches so the second evaluation
    // actually RE-FITS the k-means (without this the cache returns the
    // same model objects and the assertion is vacuous), and compare the
    // full IVFPQ ranking — scores included — not just gate booleans
    val before = operators.Similarity.ivfpq(spark, sf).collect().toSeq
    Memo.clear(operators.Similarity.coarseMemo, operators.Similarity.pqMemo)
    val after = operators.Similarity.ivfpq(spark, sf).collect().toSeq
    assert(before == after, "seeded k-means re-fit must reproduce the IVFPQ ranking")
    assert(SparkEntry.queries("ss08_pq_adc")(spark, sf).head() == row)
  }

  test("ss09 IVFPQ rerank can only improve on pure-ADC top-3 true cosine") {
    val rows = operators.Similarity.ivfpq(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("qid")).distinct.length == 10)
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3), s"query $q top-3")
      rs.foreach(r => assert(r.getAs[Long]("nid") != q, "self must be excluded"))
    }
  }

  test("ss13 cascade: gates hold and stage membership matches a driver-side recompute") {
    val row = SparkEntry.queries("ss13_ivfpq_cascade_rerank")(spark, sf).head()
    assert(row.getAs[Long]("n_queries") == 10)
    Seq("full_topk_returned", "ranks_complete", "self_excluded",
      "cos_in_range", "cascade_shrinks", "rerank_dominates_trunc").foreach(c =>
      assert(row.getAs[Boolean](c), s"gate $c failed"))
    // independent cascade: recompute stage-2 (top-8 by first-16-dim
    // cosine) and stage-3 (top-3 by full cosine) from the COLLECTED
    // shortlist with a plain Scala left-to-right double fold — the
    // identical accumulation order to vec_dot, so membership is exact
    val (_, short) = operators.Similarity.ivfpqParts(spark, sf)
    val (stage2, fin) = operators.Similarity.cascadeParts(short)
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val sl = short.select("qid", "nid", "qe", "ne", "true_cos").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
        r.getSeq[Float](2), r.getSeq[Float](3), r.getAs[Double]("true_cos")))
    val wantS2 = sl.groupBy(_._1).map { case (q, rs) =>
      q -> rs.map { case (_, nid, qe, ne, tc) =>
        (nid, cos(qe.take(16), ne.take(16)), tc)
      }.sortBy { case (nid, t, _) => (-t, nid) }.take(8).toSeq
    }
    val gotS2 = stage2.select("qid", "nid", "t_cos").collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nid")).toSet }
    assert(gotS2 == wantS2.map { case (q, rs) => q -> rs.map(_._1).toSet },
      "stage-2 membership must match the driver-side truncated top-8")
    val wantFin = wantS2.map { case (q, rs) =>
      q -> rs.sortBy { case (nid, _, tc) => (-tc, nid) }.take(3).map(_._1).toSet
    }
    val gotFin = fin.select("qid", "nid").collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nid")).toSet }
    assert(gotFin == wantFin,
      "stage-3 membership must match the driver-side full-cosine top-3")
  }

  test("dd11 repeated passages really repeat at their reported location") {
    val rows = SparkEntry.queries("dd11_repeated_passages")(spark, sf).collect()
    assert(rows.nonEmpty, "fixture dup clusters must surface repeated 8-grams")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ")).toMap
    rows.foreach { r =>
      val gram = r.getAs[String]("gram")
      assert(gram.split(" ").length == 8, s"not an 8-gram: '$gram'")
      assert(r.getAs[Long]("df") >= 2 && r.getAs[Long]("n_occ") >= r.getAs[Long]("df"))
      // the exemplar (doc, pos) must actually contain the gram
      val t = docs(r.getAs[Long]("example_doc"))
      val pos = r.getAs[Long]("example_pos").toInt
      assert(t.slice(pos, pos + 8).mkString(" ") == gram,
        s"exemplar mismatch at doc=${r.getAs[Long]("example_doc")} pos=$pos")
    }
    // ranking is (df desc, n_occ desc)
    val keys = rows.map(r => (r.getAs[Long]("df"), r.getAs[Long]("n_occ")))
    assert(keys.zip(keys.tail).forall { case ((d1, n1), (d2, n2)) =>
      d1 > d2 || (d1 == d2 && n1 >= n2) })
  }

  test("connectedComponents converges on a depth-100 chain via pointer jumping") {
    // a 101-vertex path has diameter 100 > the 64-round loud-failure cap:
    // phase-1 propagation alone could never converge, so this passing
    // proves the round-8 pointer-jumping fallback engages and collapses
    // the chain in jumpAfter + O(log diameter) rounds
    import spark.implicits._
    val pairs = (0L until 100L).map(i => (i, i + 1)).toDF("da", "db")
    val labels = operators.Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 101)
    assert(labels.forall(_._2 == 0L), "all chain members must collapse to min id 0")
  }

  test("dd13 removes exactly the tokens covered by repeated 8-gram spans") {
    // full driver-side re-derivation from first principles (gram STRINGS,
    // not the engine's 60-bit fingerprints — a fingerprinting bug would
    // diverge here): collect repeated 8-grams, mark covered positions,
    // rebuild each cleaned doc, and compare text + both counts
    val rows = SparkEntry.queries("dd13_passage_removal")(spark, sf).collect()
    // split(_, -1): keep trailing empty tokens, matching Spark's split()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val gramDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    for ((id, t) <- docs; toks = t.split(" ", -1); if toks.length >= 8;
         p <- 0 to toks.length - 8)
      gramDocs.updateWith(toks.slice(p, p + 8).mkString(" "))(
        o => Some(o.getOrElse(Set.empty) + id))
    val repeated = gramDocs.filter(_._2.size >= 2).keySet
    var totalRemoved = 0L
    assert(rows.length == docs.size, "dd13 must emit every document")
    rows.foreach { r =>
      val toks = docs(r.getAs[Long]("doc_id")).split(" ", -1)
      val cov = scala.collection.mutable.Set.empty[Int]
      if (toks.length >= 8)
        for (p <- 0 to toks.length - 8
             if repeated(toks.slice(p, p + 8).mkString(" ")))
          cov ++= (p until p + 8)
      assert(r.getAs[Long]("n_tokens_removed") == cov.size.toLong,
        s"doc ${r.getAs[Long]("doc_id")}: removed-token count mismatch")
      val clean = toks.zipWithIndex.collect {
        case (tok, i) if !cov(i) => tok }.mkString(" ")
      assert(r.getAs[String]("clean_text") == clean)
      assert(r.getAs[Long]("chars_removed") ==
        (docs(r.getAs[Long]("doc_id")).length - clean.length).toLong)
      totalRemoved += cov.size
    }
    assert(totalRemoved > 0, "fixture must contain repeated passages to excise")
  }

  test("dd14 drop set equals a driver-side brute-force SemDeDup") {
    val (scoredDf, _, droppedDf) = operators.Similarity.semDedupParts(spark, sf)
    val scored = scoredDf.collect().map { r =>
      (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray, r.getDouble(3))
    }
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) {
        d += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble
        ny += y(i).toDouble * y(i).toDouble
      }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    // full within-cell pairwise, the quadratic form dd14 avoids writing
    val expectDropped = (for {
      Seq((ca, ida, ea, pa), (cb, idb, eb, pb)) <- scored.toSeq.combinations(2)
      if ca == cb && cos(ea, eb) >= 0.35
    } yield if (pa < pb || (pa == pb && ida < idb)) idb else ida).toSet
    val gotDropped = droppedDf.collect().map(_.getLong(0)).toSet
    assert(gotDropped == expectDropped,
      s"engine drop set ${gotDropped.size} != brute-force ${expectDropped.size}")
    // priority really is the centroid cosine the paper keys on
    val km = operators.Similarity.coarseModel(spark, sf)
    val cents = km.clusterCenters.map(_.toArray)
    scored.take(50).foreach { case (cell, _, e, prio) =>
      val c = cents(cell)
      var d = 0.0; var ne = 0.0; var nc = 0.0
      for (i <- e.indices) {
        d += e(i).toDouble * c(i); ne += e(i).toDouble * e(i); nc += c(i) * c(i)
      }
      assert(math.abs(prio - d / (math.sqrt(ne) * math.sqrt(nc))) < 1e-9)
    }
  }

  test("ss10 margin mining equals a driver-side brute-force reimplementation") {
    // Independent oracle in plain Scala: same left-to-right double
    // accumulation, top-4 means in literal order, argmax by (margin
    // desc, bid asc). Ids and flags must match exactly; margins to 1e-9
    // (both engines compute the identical expression, so in practice
    // they are bit-equal — the epsilon only guards the comparison).
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val A = emb.filter(_._3 == 0).sortBy(_._1)
    val B = emb.filter(_._3 == 1).sortBy(_._1)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        dot += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble
        ny += y(i).toDouble * y(i).toDouble
        i += 1
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    val cosMap = (for { (ai, ax, _) <- A; (bi, bx, _) <- B }
      yield ((ai, bi), cos(ax, bx))).toMap
    def top4(ns: Seq[(Long, Double)]): Double = {
      val t = ns.sortBy { case (id, c) => (-c, id) }.take(4).map(_._2)
      (((t(0) + t(1)) + t(2)) + t(3)) / 4
    }
    val ka = A.map { case (ai, _, _) =>
      ai -> top4(B.map { case (bi, _, _) => (bi, cosMap((ai, bi))) }.toSeq) }.toMap
    val kb = B.map { case (bi, _, _) =>
      bi -> top4(A.map { case (ai, _, _) => (ai, cosMap((ai, bi))) }.toSeq) }.toMap
    val expected = A.map { case (ai, _, _) =>
      val cands = B.map { case (bi, _, _) =>
        (bi, cosMap((ai, bi)) * 2.0 / (ka(ai) + kb(bi))) }
      val (bestB, bestM) = cands.minBy { case (bi, m) => (-m, bi) }
      (ai, bestB, bestM >= 1.02)
    }.toSeq
    val got = operators.Similarity.ss10.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("margin"),
        r.getBoolean(4))).toSeq
    assert(got.map(t => (t._1, t._2, t._4)) == expected.map(t => (t._1, t._2, t._3)))
    val expM = expected.map(_._1).zip(A.map { case (ai, _, _) => ai }).forall(t => t._1 == t._2)
    assert(expM)
    got.zip(expected).foreach { case ((ai, bi, m, _), (eai, ebi, _)) =>
      val em = cosMap((ai, bi)) * 2.0 / (ka(ai) + kb(bi))
      assert(math.abs(m - em) < 1e-9, s"margin mismatch for ($ai,$bi)")
    }
  }

  test("ss10b ANN margin mining: no corpus crossJoin in the plan, sane recall") {
    // plan lock for the r5/r6 verdict item: the production miner must
    // build its pair table from the IVF cell equi-join, never a cross
    // product over the corpus (marginMineExact keeps that form as the
    // ground-truth cross-check only)
    val ann = operators.Similarity.marginMineANN(spark, sf)
    val plan = ann.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "ANN margin miner plans a CartesianProduct")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "ANN margin miner plans a BroadcastNestedLoopJoin")
    // r8 lock: the top-4 normalizers and the per-source top-1 both run
    // through the native map-side top-k aggregates (TopKVals/TopKIds);
    // no Window may sort the candidate pair table anywhere in the miner
    assert(!plan.contains("Window"),
      "ANN margin miner plans a Window sort over the pair table")
    // every source aligned exactly once, and top-1 agreement with the
    // exact miner stays useful at the tiny spec sf (oracle pins >= 0.80
    // at sf0.01; the sf0.001 shards are sparser per cell so the bar
    // here is the sanity floor, not the production one)
    val annRows = ann.collect().map(r => (r.getLong(0), r.getLong(1)))
    val nSrc = Tables.embeddings(spark, sf).filter(col("label") === 0).count()
    assert(annRows.length.toLong == nSrc, "not every source vector aligned")
    assert(annRows.map(_._1).distinct.length == annRows.length)
    val exact = operators.Similarity.marginMineExact(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val agree = annRows.count { case (a, b) => exact(a) == b }.toDouble / nSrc
    assert(agree >= 0.5, f"ANN top-1 agreement $agree%.2f below sanity floor")
  }

  test("prefix-filtered jaccardPairs is lossless at the 0.3 verification floor") {
    // Re-derive the shingle universe and the UNFILTERED co-shingling
    // pair table inline (the pre-r7 formulation), then require the
    // prefix-filtered jaccardPairs to agree exactly on every pair with
    // J >= 0.3 — the AllPairs pigeonhole guarantee, checked on data.
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
    val sh0 = toks.select(col("doc_id"), explode(
        expr("transform(sequence(0, size(t)-3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))")).as("s"))
      .select(col("doc_id"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
    val dfT = sh0.groupBy("h").agg(count(lit(1)).as("df")).filter(col("df") <= 100)
    val sh = sh0.join(dfT, "h").select("doc_id", "h")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val brute = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .withColumn("jaccard", col("c") * lit(1.0) / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= 0.3)
      .select("da", "db", "c", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val got = operators.Dedup.jaccardPairs(spark, sf)
      .filter(col("jaccard") >= 0.3)
      .select("da", "db", "c", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == brute,
      s"prefix filter lost or altered pairs: brute=${brute.size} got=${got.size} " +
        s"missing=${(brute.keySet -- got.keySet).take(5)} extra=${(got.keySet -- brute.keySet).take(5)}")
    assert(brute.nonEmpty, "fixture produced no J>=0.3 pairs — test is vacuous")
  }

  test("dd15 segment filter is lossless on randomized corpora with planted edits") {
    // the PassJoin pigeonhole bound (some 16-char segment of a probe
    // survives <=2 edits and lands within +-2 positions in the match)
    // prunes candidates BEFORE the exact Levenshtein verify — a bug in
    // the window enumeration drops true pairs silently. Drive seeded
    // random corpora with planted 0/1/2-edit variants (substitutions,
    // insertions, deletions — indels are what shift segment positions)
    // through the exact production dataflow and require exact agreement
    // with a driver-side brute force on the padded 48-char keys.
    val s = spark
    import s.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val cur = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = d(i); d(i) = cur
        }
      }
      d(a.length)
    }
    def pad48(t: String): String = {
      val p = t.take(48)
      p + ("\u0001" * (48 - p.length))
    }
    val alpha = "abcdef gh"
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      def randDoc(n: Int) = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
      // corpus ids avoid %17==0; probe ids are multiples of 17
      val corpus = Seq.tabulate(40) { i =>
        ((i * 17 + 1 + rnd.nextInt(16)).toLong, randDoc(20 + rnd.nextInt(50)))
      }
      // probes: edited copies of corpus docs (the true pairs) + noise
      val probes = (0 until 10).map { j =>
        val (_, txt) = corpus(rnd.nextInt(corpus.length))
        val sb = new StringBuilder(txt)
        val edits = rnd.nextInt(3)
        for (_ <- 0 until edits) rnd.nextInt(3) match {
          case 0 if sb.nonEmpty => sb.setCharAt(rnd.nextInt(sb.length),
            alpha(rnd.nextInt(alpha.length)))
          case 1 => sb.insert(rnd.nextInt(sb.length + 1),
            alpha(rnd.nextInt(alpha.length)))
          case _ if sb.length > 1 => sb.deleteCharAt(rnd.nextInt(sb.length))
          case _ => ()
        }
        ((17L * (j + 1)), sb.toString)
      }
      val docs = (corpus ++ probes).toDF("doc_id", "text")
      val got = operators.Dedup.editDistNeardup(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val brute = (for {
        (pid, pt) <- probes
        (cid, ct) <- corpus
        d = lev(pad48(pt), pad48(ct))
        if d <= 2
      } yield (pid, cid) -> d.toLong).toMap
      assert(got == brute,
        s"seed=$seed: got=${got.size} brute=${brute.size} " +
          s"missing=${(brute.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- brute.keySet).take(5)}")
      assert(brute.nonEmpty, s"seed=$seed planted no true pairs — fixture broken")
    }
  }

  test("jaccardPairs losslessness holds on randomized corpora (PPJoin filters property)") {
    // The r8 length/positional filters prune candidates with pigeonhole
    // BOUNDS — a bug there drops true pairs SILENTLY (the fixture spec
    // above can't catch a bound that only bites on shapes the fixture
    // lacks). Drive 8 seeded random corpora — tiny vocab so shingle
    // overlap is dense, mixed doc lengths so the length filter has
    // unequal sizes to bite on, appended near-dups so true pairs exist —
    // through the EXACT production dataflow (shinglesOf → jaccardPairsOf,
    // stats probe + broadcast choice included) and require exact
    // agreement with the unfiltered co-shingling join at the 0.3 floor.
    val s = spark
    import s.implicits._
    val vocab = Array("a", "b", "c", "d", "e", "f", "g")
    var sawPairs = 0L
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val base = Seq.tabulate(30) { i =>
        val n = 3 + rnd.nextInt(25)
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      // near-dups: copy some docs with a one-token edit (true J≥0.3 mass)
      val dups = (0 until 6).map { j =>
        val (_, txt) = base(rnd.nextInt(base.length))
        val t = txt.split(" ")
        t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.length))
        ((100 + j).toLong, t.mkString(" "))
      }
      val docs = (base ++ dups).toDF("doc_id", "text")
      val sh = operators.Dedup.shinglesOf(docs).cache()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val brute = sh.as("a")
        .join(sh.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("c"))
        .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
        .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
        .withColumn("jaccard", col("c") * lit(1.0) / (col("na") + col("nb") - col("c")))
        .filter(col("jaccard") >= 0.3)
        .select("da", "db", "c", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      val got = operators.Dedup.jaccardPairsOf(sh)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(5)))
        .toMap
      sh.unpersist()
      assert(got == brute,
        s"seed=$seed: filters lost/altered pairs: brute=${brute.size} got=${got.size} " +
          s"missing=${(brute.keySet -- got.keySet).take(5)} extra=${(got.keySet -- brute.keySet).take(5)}")
      sawPairs += brute.size
    }
    assert(sawPairs > 0, "no random corpus produced a J>=0.3 pair — property is vacuous")
  }

  test("dd07b adaptive dial: integer-exact clamp(ceil(log2 n)-4, 8, 15), pairs superset of dd07") {
    // the dial drives the oracle-pinned layout, so its boundaries must be
    // exact: r jumps at n = 2^(12+i)+1, never at 2^(12+i) (a float log2
    // could disagree by an ulp exactly there)
    val bits = (n: Long) => operators.Similarity.simhashBits(n)
    assert(bits(1) == 8 && bits(4096) == 8)
    assert(bits(4097) == 9 && bits(8192) == 9)
    assert(bits(8193) == 10)
    assert(bits(60000) == 12)                        // the 30x fixture
    assert(bits(262144) == 14 && bits(262145) == 15)
    assert(bits(Long.MaxValue) == 15)                // clamp holds at any N
    assert((1L to 20L).map(i => bits(1L << i)).forall(r => r >= 8 && r <= 15))
    // at the graded sf (n=500 → r=8, 4 bands over 32 planes) bands 0-1
    // equal dd07's 2×8 layout, so dd07b's candidate set — and therefore
    // its verified pair set — must be a superset of dd07's
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val old = pairs(operators.Similarity.dd07.fn(spark, sf))
    val nu = pairs(operators.Similarity.dd07b.fn(spark, sf))
    assert(old.subsetOf(nu), s"dd07b lost ${old -- nu}")
    val r = operators.Similarity.dd07b.fn(spark, sf).select("r_bits").head.getInt(0)
    assert(r == 8)
  }

  test("simhash_sig: native kernel equals the composed plane-CASE chain") {
    // the native expression exists purely for the JIT (the composed
    // form's generated method exceeds the bytecode ceiling past ~60
    // planes and runs interpreted), so its contract is BIT EQUALITY
    // with the composed chain the DuckDB oracles mirror — checked on
    // 500 random float vectors at every layout the engine signs
    operators.Similarity.regDot(spark)
    val vecs = spark.range(500L).select(
      expr("transform(sequence(0, 63), " +
        "i -> CAST((hash(id, i) % 1000) / 1000.0 AS FLOAT))")
        .as("embedding"))
    for (n <- Seq(16, 30, 60)) {
      val diff = vecs.select(
          expr(operators.Similarity.sigSpark(n, "embedding")).as("composed"),
          expr(s"simhash_sig(embedding, 0, $n)").as("native"))
        .filter(col("composed") =!= col("native")).count()
      assert(diff == 0L, s"n=$n: $diff rows disagree")
    }
    val diffHi = vecs.select(
        expr(operators.Similarity.sigSparkRange(60, 120, "embedding")).as("composed"),
        expr("simhash_sig(embedding, 60, 120)").as("native"))
      .filter(col("composed") =!= col("native")).count()
    assert(diffHi == 0L, s"$diffHi rows disagree on the high word")
    // composed chain signs a non-64-dim vector as 0 (vec_dot nulls on
    // length mismatch, CASE maps null to 0) — the native kernel mirrors
    val short = spark.range(5L).select(
      expr("transform(sequence(0, 62), i -> CAST(id + i AS FLOAT))")
        .as("embedding"))
    val z = short.select(expr("simhash_sig(embedding, 0, 60)").as("s"))
      .filter(col("s") =!= 0L).count()
    assert(z == 0L, "short vectors must sign as 0")
  }

  test("dd07/dd07b wide lane layout past the clamp keeps twins paired") {
    // forced r = 20 at small N (the dial itself crosses only past 2^19
    // vectors): the bands×30-plane lane layout — 2 bands in one
    // signature word, 4 bands across two. A planted exact copy signs
    // identically in every lane, so the verified pair (cos 1.0)
    // survives the mode switch in BOTH band forms.
    val base = spark.range(60L).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), " +
        "i -> CAST((hash(id, i) % 1000) / 1000.0 AS FLOAT))")
        .as("embedding"))
    val dup = base.filter(col("vec_id") === 3L)
      .select(lit(100L).as("vec_id"), col("embedding"))
    val eb = base.union(dup)
    for (bands <- Seq(2, 4)) {
      val pairs = operators.Similarity
        .simhashNeardup(spark, eb, bands, withRBits = false, forceBits = Some(20))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(pairs.exists { case (va, vb, cos) =>
        va == 3L && vb == 100L && math.abs(cos - 1.0) < 1e-9 },
        s"bands=$bands: planted twin lost past the clamp: ${pairs.take(5).toSeq}")
    }
  }

  test("ss10b tie-aware agreement: tied picks count, genuinely-worse picks don't") {
    // pins the metric definition (r8 verdict item #2): agreement =
    // fraction of sources whose ANN pick's EXACT margin is within
    // MarginTieTol (relative, floored at 1.0) of the source's exact
    // optimum — so a margin-equal co-winner counts as agreement even
    // when top-1 identity says miss, and a pick with a real score gap
    // stays a miss
    import spark.implicits._
    functions.TopKIds.register(spark)
    val exactScored = Seq(
      (1L, 10L, 2.0), (1L, 11L, 2.0), (1L, 12L, 1.0),   // exact tie at the top
      (2L, 10L, 2.0), (2L, 11L, 1.0),
      (3L, 10L, 2.0), (3L, 11L, 1.99))                   // gap 0.01 > tol*max(|2.0|,1) = 0.002
      .toDF("aid", "bid", "margin")
    val annPicks = Seq(
      (1L, 11L),   // tied co-winner (exact_tgt is 10 by bid ASC): identity miss, tie hit
      (2L, 10L),   // the optimum itself: both hit
      (3L, 11L))   // genuinely worse by 0.01: both miss
      .toDF("src_id", "tgt_id")
    val (identity, tie) = operators.Similarity.tieAwareAgreement(annPicks, exactScored)
    assert(math.abs(identity - 1.0 / 3) < 1e-12, s"identity=$identity")
    assert(math.abs(tie - 2.0 / 3) < 1e-12, s"tie=$tie")
  }

  test("q65 lateral top-2 equals the window-rank formulation") {
    val lateral = SparkEntry.queries("q65_lateral_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recompute top-2 directly as the cross-check
    import org.apache.spark.sql.expressions.{Window => W}
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val ranked = o.withColumn("rk",
        row_number().over(W.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rk") <= 2 && col("o_custkey") <= 200)
      .select(col("o_custkey").cast("long"), col("o_orderkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lateral == ranked, "lateral and window top-2 disagree")
  }

  test("ss11 kNN probe equals a driver-side brute-force vote; top-k is the native aggregate") {
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        dot += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble
        ny += y(i).toDouble * y(i).toDouble
        i += 1
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    val probes = emb.filter(_._1 < 20).sortBy(_._1)
    val train = emb.filter(_._1 >= 20)
    val expected = probes.map { case (qid, qe, tl) =>
      val top = train.map { case (nid, ne, nl) => (nid, nl, cos(qe, ne)) }
        .sortBy { case (nid, _, c) => (-c, nid) }.take(10)
      val (pred, votes) = top.groupBy(_._2).view.mapValues(_.size).toSeq
        .minBy { case (l, n) => (-n, l) }
      (qid, tl, pred, votes.toLong, tl == pred)
    }.toSeq
    val df = operators.Similarity.ss11.fn(spark, sf)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    assert(got == expected, s"kNN vote mismatch:\n got=$got\n exp=$expected")
    // the top-k must run through the map-side TopKIds aggregate, not a
    // row_number sort over the full pair table
    val plan = df.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("topkids") || plan.contains("top_k_ids"),
      s"expected native top_k_ids aggregate in plan:\n$plan")
  }

  test("dd16 incremental band-index admission on a hand-planted delta") {
    // every decision is md5-deterministic: disjoint shingle sets share
    // ZERO signature components (distinct 60-bit fingerprints give
    // distinct md5(i:h) strings, so equal component minima require a
    // shared shingle), and an exact copy shares all 8 — the planted
    // corpus pins both extremes plus the admission logic between them
    val s = spark
    import s.implicits._
    // 120 identical boilerplate corpus docs: every band value of that
    // text reaches df=120 > 100 in the standing index, so all 8 of its
    // bands are STOP bands (the r13 prune) — boilerplate is not
    // near-dup evidence, exactly dd02's stop-shingle policy
    val boiler = (1001L until 1151L).filterNot(_ % 5 == 0).map(id =>
      (id, "boilerplate template header repeated across the daily crawl"))
    assert(boiler.size == 120)
    val docs = (Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different corpus text with many unrelated tokens here"),
      (5L, "the quick brown fox jumps over the lazy dog again and again"),
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (15L, "a wholly novel delta document nothing like anything else at all"),
      (20L, "too short"),
      (500L, "boilerplate template header repeated across the daily crawl")
    ) ++ boiler).toDF("doc_id", "text")
    val got = operators.Dedup.incrementalBandIndex(spark, docs)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4))))
      .toMap
    // delta 5 = exact copy of corpus 1 (a UNIQUE doc, its bands df=1):
    // all 8 bands collide -> rejected
    assert(got(5L) == ((8L, 0L, false, 0L)), s"got ${got.get(5L)}")
    // delta 10 = same text: collides with corpus 1 AND lower delta 5
    assert(got(10L) == ((8L, 8L, false, 0L)), s"got ${got.get(10L)}")
    // delta 15 = disjoint shingles: clean, admitted, 8 index rows appended
    assert(got(15L) == ((0L, 0L, true, 8L)), s"got ${got.get(15L)}")
    // delta 500 = copy of the 120-doc boilerplate template: every
    // matching band is a stop band, so it carries ZERO evidence — the
    // doc is admitted (corpus_max_bands 0), pinning the prune semantics
    assert(got(500L) == ((0L, 0L, true, 8L)), s"got ${got.get(500L)}")
    // delta 20 has < 3 tokens: outside the signature domain, no row
    assert(got.keySet == Set(5L, 10L, 15L, 500L), s"got ${got.keySet}")
  }

  test("ss15 incremental IVFPQ maintenance: copies rejected, delta+rebuild == full rebuild") {
    // PQ-friendly planted fixture: per subspace, every vector is one of
    // 16 md5-chosen prototypes plus 10% noise — the per-subspace k=16
    // fit recovers the prototypes, so recon(v) ≈ v and an exact-copy
    // delta scores ADC ≈ 0.99 against its corpus twin while unrelated
    // tuples score ≈ 0. All md5-derived → fully deterministic.
    val s = spark
    import s.implicits._
    def unit(seed: String): Array[Float] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 16).map { k =>
        val h = md.digest(s"$seed:$k".getBytes("UTF-8"))
        ((h(0) & 0xff) / 255.0f) - 0.5f
      }.toArray
    }
    def vec(id: Long): Array[Float] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 4).flatMap { m =>
        val p = md.digest(s"$id:$m".getBytes("UTF-8"))(0) & 0x0f
        val proto = unit(s"proto:$m:$p")
        val noise = unit(s"n:$id:$m")
        proto.zip(noise).map { case (a, b) => a + 0.1f * b }
      }.toArray
    }
    // ids 0..99: %5==0 is the 20-vector delta, the other 80 the corpus;
    // plant two exact copies of corpus vectors into the delta
    val rows = (0L until 100L).map {
      case 95L => (95L, vec(13L))
      case 90L => (90L, vec(7L))
      case id  => (id, vec(id))
    }
    val emb = rows.toDF("vec_id", "embedding")
    operators.Similarity.regDot(spark)
    val (km, pq) = operators.Similarity.fitEpochModels(
      emb.filter($"vec_id" % 5 =!= 0))
    val (dec, idxDelta) =
      operators.Similarity.incrementalIvfpqIndex(spark, emb, km, pq)
    val got = dec.collect().map(r => r.getLong(0) ->
      ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))))
      .toMap
    assert(got.keySet == (0L until 100L by 5).toSet, s"got ${got.keySet}")
    got.foreach { case (id, (cell, codes, rng, acct)) =>
      assert(cell && codes && rng && acct, s"vec $id booleans: ${got(id)}")
    }
    // admission re-derived from the EMITTED index delta rows
    val idxRows = idxDelta.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5))).toSet
    val admitted = idxRows.map(_._1)
    assert(!admitted.contains(95L) && !admitted.contains(90L),
      s"planted exact copies must be rejected, admitted=$admitted")
    // 12 of the 18 unrelated deltas admit on this fixture (16-dim md5
    // prototypes correlate enough — cos std ≈ 0.25/subspace — that a few
    // unrelated pairs sit over the 0.6 cut, deterministically); the
    // floor guards the degenerate everything-rejected failure mode
    assert(admitted.size >= 10,
      s"unrelated deltas should admit, got ${admitted.size}: $admitted")
    // delta + rebuild ≡ full rebuild: the standing index plus the
    // emitted delta rows must equal a from-scratch encode of
    // corpus ∪ admitted through the SAME frozen epoch
    def enc(df: org.apache.spark.sql.DataFrame) =
      operators.Similarity.encodeLiteral(km, pq, df)
        .select("vec_id", "cell", "code0", "code1", "code2", "code3")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getInt(4), r.getInt(5))).toSet
    val corpus = emb.filter($"vec_id" % 5 =!= 0)
    val full = enc(corpus.unionByName(
      emb.filter($"vec_id".isin(admitted.toSeq: _*))))
    assert(enc(corpus) ++ idxRows == full,
      "incremental index != full rebuild through the same epoch")
    // plan shape: the probe is a cell equi-join — never corpus×delta
    val plan = dec.queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("cartesianproduct") &&
      !plan.contains("broadcastnestedloopjoin"),
      s"unexpected cartesian in ss15 plan:\n$plan")
  }
}
