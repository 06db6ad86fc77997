package graft.operators

import graft.{Memo, QueryDef, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents`: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. Declared north-star extension (BASELINE.json);
  * absent from the reference (SURVEY.md §2.9).
  *
  * Scale design (the point of each algorithm):
  *  - exact: one hash-groupBy — a single shuffle on md5(text).
  *  - n-gram Jaccard: shingle inverted-index self-join. Common-shingle
  *    pruning (drop df > 100) bounds the per-shingle join fanout, which
  *    is what keeps the pair count near-linear at 100 TB (a stop-shingle
  *    appearing in 1M docs would otherwise emit 10^12 pairs).
  *  - MinHash LSH: per-doc k=8 signature (one groupBy), candidates from
  *    signature-component equality (band join) — never all-pairs. The
  *    candidate set, not the corpus square, feeds exact verification.
  *  - SimHash: 32-bit fingerprint per doc; banded on 4 bytes so any pair
  *    within Hamming ≤ 6 shares ≥ 0 bands probabilistically (with 4
  *    bands, ≤ 3 differing bits guarantees a shared band by pigeonhole).
  *
  * All hashing is md5-derived (portable across engines — murmur/xxhash
  * seeds differ), so every step is oracle-checkable in DuckDB.
  */
object Dedup {

  /** Distinct 3-token shingles per doc — as 60-bit md5-derived
    * fingerprints, NOT raw strings — with common-shingle pruning.
    *
    * Hashing happens at extraction, before any shuffle: every downstream
    * exchange (distinct, df-count, the inverted-index self-join, minhash
    * signatures) moves 8-byte longs instead of ~25-byte trigram text.
    * At 100 TB that is the difference between shuffling the corpus's
    * n-gram TEXT volume and shuffling fixed-width keys. The identical
    * hash runs in the oracle, so even a (≈2⁻⁶⁰ per pair) fingerprint
    * collision affects both engines identically — parity is exact by
    * construction, not by collision-freedom.
    *
    * Memoized per sf dir: dd02/dd03/dd04 all start from this table, and
    * recomputing the explode+distinct+df-join per query would triple
    * the scan work (the cache is the "shingle inverted index" a real
    * pipeline would materialize once). */
  private val shingleMemo = Memo.slot[DataFrame]("dedup.shingles")(_.unpersist())

  private def shingles(s: SparkSession, d: String): DataFrame =
    shingleMemo(s, d)(shinglesOf(T.documents(s, d)))

  /** The shingle-index dataflow over an arbitrary (doc_id, text) frame —
    * factored so the PPJoin losslessness property test can drive random
    * corpora through the exact production pipeline.
    *
    * r9 shape: [[graft.functions.ShingleHashes]] fuses tokenize →
    * 3-gram → md5-60-bit → per-doc DISTINCT into one codegen'd pass, so
    * the corpus-sized `(doc_id, h) DISTINCT` shuffle of the exploded
    * form (nearly-unique keys — map-side aggregation removed nothing)
    * is gone; the only remaining exchange is the df-count groupBy,
    * whose map-side partial agg compresses to distinct-h per partition.
    * The per-doc array is computed ONCE (cached) and feeds both the
    * df-count branch and the final index — without the cache the plan's
    * two branches would re-run the md5 pass (exchange reuse does not
    * apply across this DAG fork). Bit-parity with the exploded SQL form
    * is spec-pinned (ExtensionsStreamingSpec). */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame = {
    graft.functions.ShingleHashes.register(docs.sparkSession)
    // widened: the md5 kernel is compute-bound and a single-file corpus
    // scans as ONE task (see Tables.widened — guarded, no-op at scale)
    val dh = T.widened(docs, T.DenseKernelFloor)
      .select(col("doc_id"), expr("shingle_hashes(text)").as("hs"))
      .cache()
    // the per-doc hash-array cache only needs to live across the DAG
    // fork (df-count branch + index branch) — materialize the pruned
    // index eagerly and drop it, so the corpus-sized fingerprint arrays
    // don't stay pinned for the rest of the session (r9 advice)
    try {
      val ex = dh.select(col("doc_id"), explode(col("hs")).as("h"))
      val df = ex.groupBy("h").agg(count(lit(1)).as("df")).filter(col("df") <= 100)
      val out = ex.join(df, "h").select("doc_id", "h").cache()
      out.count()
      out
    } finally dh.unpersist()
  }

  /** Oracle-side equivalent of [[shingles]] (DuckDB CTEs) — including
    * the 60-bit fingerprint, so hash collisions (if any) are shared. */
  private val shingleCte =
    """toks AS (SELECT doc_id, string_split(text,' ') t FROM documents
      |         WHERE len(string_split(text,' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id,
      |          CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM (
      |  SELECT doc_id, UNNEST(list_transform(range(1, len(t)-1),
      |    i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s FROM toks)),
      |dfr AS (SELECT h, COUNT(*) AS df FROM sh0 GROUP BY h),
      |sh AS (SELECT sh0.doc_id, sh0.h FROM sh0 JOIN dfr USING(h) WHERE dfr.df <= 100)""".stripMargin

  /** Jaccard over the pruned shingle sets for candidate pairs, complete
    * for every pair with Jaccard ≥ 0.3 (the smallest threshold any
    * consumer verifies at: dd03; dd02/dd05/dd06/dd12 filter at 0.5).
    * Cached like [[shingles]]: dd02, dd03 (verification side) and dd05
    * (edge list) all start from this pair table.
    *
    * Candidate generation is PREFIX-FILTERED (AllPairs/PPJoin — Bayardo,
    * Ma & Srikant, WWW 2007), which is what survives 100 TB where the
    * plain co-shingling self-join does not: the pair fanout concentrates
    * in shingles NEAR the df≤100 cap — the cap bounds per-shingle fanout
    * at df², but the count of near-cap shingles grows with the corpus.
    * (The r7 sf1 audit's "40.8 s unfiltered → sub-second filtered"
    * comparison conflated cold and memo-warm runs; the honest r8
    * cold-to-cold numbers are in NOTES.md — the structural win is real
    * but lives mostly in the verify step below, not the prefix alone.) The prefix filter
    * is lossless for J ≥ t by pigeonhole: J(A,B) ≥ t ⇒ c ≥ t·(|A|+|B|)
    * /(1+t) ≥ t·|A| (since |B| ≥ c), so with every doc's shingles in one
    * GLOBAL (df, h) order, the smallest common shingle must sit within
    * the first |A| − ⌈t·|A|⌉ + 1 shingles of BOTH docs — rarest-first
    * order, so candidate generation joins only low-df shingles and the
    * near-cap boilerplate never fans out. On top of the prefix, the
    * candidate join applies PPJoin's LENGTH and POSITIONAL filters
    * (both lossless for J ≥ t): length — c ≤ min(|A|,|B|) and
    * J = c/(|A|+|B|−c) force min ≥ t·max, so wildly different-sized
    * docs never pair; positional — every common shingle sits at
    * global-order position ≥ its match position in BOTH docs, so for
    * the pair's minimal-rank shared shingle c ≤ 1 + min(|A|−pa,
    * |B|−pb), and a pair is kept iff some shared prefix row satisfies
    * 1 + min(|A|−pa, |B|−pb) ≥ t/(1+t)·(|A|+|B|) (the minimal row has
    * the loosest bound, so a qualifying pair always survives via it;
    * comparison carries a 1e−9 slack so binary-float t can never
    * round-prune a boundary pair). The r8 sf1 stage decomposition
    * (NOTES.md, Round 8) measured the prefix-only join at 60.7 M
    * candidate pairs / 84 s verify for a 60 k-doc corpus of short
    * templated docs (prefix keeps ~70% of 40-shingle sets — near-
    * useless alone when every doc shares moderately-rare template
    * shingles); length+positional collapse the candidate set to the
    * near-dup neighborhood. Verification then computes the EXACT
    * intersection per candidate from the full sorted fingerprint
    * arrays (two hash joins + array_intersect — no second corpus-wide
    * self-join), so emitted jaccard values are identical to the
    * all-pairs form's and the DuckDB oracle stays the semantic spec. */
  private val jacMemo = Memo.slot[DataFrame]("dedup.jaccard")(_.unpersist())

  /** The prefix filter inside [[jaccardPairs]] makes the pair table
    * COMPLETE only for J ≥ this floor — an implicit contract a future
    * consumer filtering lower (or aggregating over all pairs) would
    * silently violate. Every consumer must go through
    * [[jaccardAtLeast]], which fails fast below the floor. */
  private[graft] val JaccardCompletenessFloor = 0.3

  /** The only sanctioned way to threshold [[jaccardPairs]]: rejects (at
    * plan-build time, not silently at run time) any threshold below the
    * completeness floor the prefix filter guarantees. */
  private[graft] def jaccardAtLeast(t: Double): Column = {
    require(t >= JaccardCompletenessFloor,
      s"jaccardPairs is only complete for J >= $JaccardCompletenessFloor" +
        s" (prefix filter); a $t filter would silently under-report")
    col("jaccard") >= t
  }

  private[graft] def jaccardPairs(s: SparkSession, d: String): DataFrame =
    jacMemo(s, d)(jaccardPairsOf(shingles(s, d)).cache())

  /** The candidate-generation + verify dataflow over an arbitrary
    * shingle index — factored so the losslessness property test can run
    * random corpora through the exact production pipeline (filters,
    * stats probe, broadcast choice and all). */
  private[graft] def jaccardPairsOf(sh: DataFrame): DataFrame = {
      val t = JaccardCompletenessFloor // consumers re-filter at their own
      val dfTab = sh.groupBy("h").agg(count(lit(1)).as("hdf"))
      val wDoc = Window.partitionBy("doc_id").orderBy(col("hdf"), col("h"))
      val prefix = sh.join(dfTab, "h")
        .withColumn("rnk", row_number().over(wDoc))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
        .filter(col("rnk") <= col("n") - ceil(col("n") * lit(t)) + 1)
        .select("doc_id", "h", "rnk", "n")
      // length + positional filters (see the losslessness argument in
      // the jacMemo doc above); the 1e-9 slack keeps binary-float t
      // from ever round-pruning a boundary pair
      val posBound = lit(1.0) +
        least(col("a.n") - col("a.rnk"), col("b.n") - col("b.rnk"))
      val cand = prefix.as("a")
        .join(prefix.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
            least(col("a.n"), col("b.n")) >=
              lit(t) * greatest(col("a.n"), col("b.n")) - lit(1e-9) &&
            posBound >= lit(t / (1 + t)) * (col("a.n") + col("b.n")) - lit(1e-9))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      val sets = sh.groupBy("doc_id")
        .agg(sort_array(collect_list("h")).as("hs"), count(lit(1)).as("n"))
      // Stats-based join strategy for the verify step (the CBO move
      // Catalyst can't make itself: `sets` sits behind a groupBy, so its
      // size estimate is unusable and AQE keeps a sort-merge join). The
      // doc-fingerprint side is ndocs rows of ~8·avg|shingles| bytes —
      // measured from the cached shingle index (one subsecond agg) — and
      // when it fits a broadcast, BOTH verify joins become map-side
      // lookups against the candidate stream instead of shuffling the
      // (possibly 10⁷-row) candidate table twice with full array
      // payloads: measured 89 s → 7.7 s at sf1 (NOTES.md, Round 9).
      // Past the threshold — true corpus scale, where no doc-fingerprint
      // table fits in memory — the shuffle join is the correct plan and
      // is kept automatically.
      val stats = sh.agg(
        count(lit(1)).as("nsh"), countDistinct("doc_id").as("nd")).head()
      val estSetsBytes = stats.getLong(1) * 48L + stats.getLong(0) * 8L
      def setsAs(idAs: String, hsAs: String, nAs: String): DataFrame = {
        val side = sets.select(col("doc_id").as(idAs), col("hs").as(hsAs),
          col("n").as(nAs))
        if (estSetsBytes < SetsBroadcastBytes) broadcast(side) else side
      }
      graft.functions.SortedIntersectCount.register(sh.sparkSession)
      cand
        .join(setsAs("da", "ha", "na"), "da")
        .join(setsAs("db", "hb", "nb"), "db")
        // allocation-free merge walk over the sorted fingerprint arrays
        // (array_intersect builds a hash set per candidate pair — tens
        // of millions of pairs at sf1); equality spec-pinned
        .withColumn("c", expr("sorted_intersect_count(ha, hb)"))
        .withColumn("jaccard", col("c") * lit(1.0) / (col("na") + col("nb") - col("c")))
        // completeness floor pre-filter: rows below the floor are outside
        // the table's contract (jaccardAtLeast rejects any consumer that
        // could see them) and dominate the row count — at sf1 they are
        // 34 M of the 34 M verified candidates vs ~10⁴ true near-dups —
        // so dropping them before the cache shrinks the memoized table
        // from ~1.6 GB to the actual near-dup neighborhood. The predicate
        // is the exact >= every consumer applies, so no boundary row can
        // differ between pre- and post-filter evaluation.
        .filter(col("jaccard") >= JaccardCompletenessFloor)
        .select("da", "db", "c", "na", "nb", "jaccard")
  }

  /** Broadcast-or-shuffle switch point for the verify join's
    * doc-fingerprint side (see the stats note in [[jaccardPairs]]):
    * far above any broadcast Spark would risk on its own 10 MB default,
    * far below executor memory. */
  private val SetsBroadcastBytes = 128L << 20

  private[graft] val jaccardCte =
    s"""$shingleCte,
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) c
       |          FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |jac AS (SELECT da, db, c, c * 1e0 / (sa.n + sb.n - c) AS jaccard
       |        FROM pairs JOIN sizes sa ON sa.doc_id = da
       |                   JOIN sizes sb ON sb.doc_id = db)""".stripMargin

  /** dd01 — exact dedup: canonical survivor (min doc_id) per distinct
    * content hash. One shuffle; identity when no dups exist. */
  val dd01 = QueryDef.sql("dd01_exact_dedup",
    """SELECT md5(text) AS fp, CAST(MIN(doc_id) AS BIGINT) AS survivor_id,
      |       COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY survivor_id""".stripMargin) { (s, d) =>
    T.documents(s, d)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_copies"))
      .orderBy("survivor_id")
  }

  /** dd02 — n-gram Jaccard near-dup pairs (threshold 0.5). */
  val dd02 = QueryDef.sql("dd02_ngram_jaccard",
    s"""WITH $jaccardCte
       |SELECT da, db, c AS common_shingles, jaccard
       |FROM jac WHERE jaccard >= 0.5e0
       |ORDER BY jaccard DESC, da, db""".stripMargin) { (s, d) =>
    jaccardPairs(s, d)
      .filter(jaccardAtLeast(0.5))
      .select(col("da"), col("db"), col("c").as("common_shingles"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("da"), col("db"))
  }

  /** dd03 — MinHash LSH: k=8 md5-derived min-hash components; candidate
    * pairs share ≥1 component; exact-Jaccard verification ≥ 0.3. */
  val dd03 = QueryDef.sql("dd03_minhash_lsh",
    s"""WITH $jaccardCte,
       |sig AS (SELECT doc_id, i, MIN(md5(i||':'||CAST(h AS VARCHAR))) AS m
       |        FROM sh, generate_series(0, 7) g(i) GROUP BY doc_id, i),
       |cand AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) AS matches
       |         FROM sig a JOIN sig b ON a.i = b.i AND a.m = b.m AND a.doc_id < b.doc_id
       |         GROUP BY 1, 2)
       |SELECT cand.da, cand.db, matches * 1e0 / 8 AS est_sim, jac.jaccard
       |FROM cand JOIN jac ON cand.da = jac.da AND cand.db = jac.db
       |WHERE jac.jaccard >= 0.3e0
       |ORDER BY jac.jaccard DESC, cand.da, cand.db""".stripMargin) { (s, d) =>
    val sh = shingles(s, d)
    // all 8 signature components in ONE pass over the shingle table: 8
    // min() aggregate expressions in a single groupBy(doc_id) (the
    // explode(sequence(0,7)) form shuffled the shingle table ×8), then
    // stack() unpivots the per-doc row into (i, m) for the band join —
    // stack runs on |docs| rows, not |shingles|.
    val sigAggs = (0 to 7).map { i =>
      min(md5(concat(lit(s"$i:"), col("h").cast("string")))).as(s"m$i")
    }
    val sigWide = sh.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    val sig = sigWide.select(col("doc_id"), expr(
      "stack(8, " + (0 to 7).map(i => s"$i, m$i").mkString(", ") + ") AS (i, m)"))
    // NOT pre-repartitioned on (i, m): the self-join's two sides are
    // canonically identical, so ReuseExchange already collapses their
    // ENSURE_REQUIREMENTS exchanges — the kernel runs ONCE as-is (r19
    // stage probe: identical 10-job/10-stage graph with and without an
    // explicit repartition; the dd04 variant ADDED 3 jobs and +57%
    // taskSum). The sp11/sp12 pattern only pays when consumers need the
    // kernel under DIFFERENT keys.
    val cand = sig.as("a")
      .join(sig.as("b"),
        col("a.i") === col("b.i") && col("a.m") === col("b.m") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("matches"))
    val jac = jaccardPairs(s, d).select(col("da"), col("db"), col("jaccard"))
    cand.join(jac, Seq("da", "db"))
      .filter(jaccardAtLeast(0.3))
      .select(col("da"), col("db"), (col("matches") * lit(1.0) / 8).as("est_sim"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("da"), col("db"))
  }

  /** dd12 — MinHash estimator audit: for every confirmed near-dup pair
    * (dd02's jaccard ≥ 0.5 set), the k=16 MinHash estimate of Jaccard
    * next to the exact value, the absolute error, and the
    * within-2-sigma indicator (sigma = sqrt(J(1−J)/k)). This is the
    * production dial the dd03 demo (k=8) abstracts away: how many
    * hash components buy how much estimator accuracy — at 100 TB you
    * size k from exactly this audit, run on a small confirmed-pair
    * sample, before committing to a signature width for the corpus.
    * Everything is md5-deterministic (min-hash = MIN over seeded
    * fingerprints), so unlike a random-projection sketch the WHOLE
    * row — estimate, error, and indicator — is exact-oracle-able;
    * within_2sigma is a reported per-pair column (≈5% of pairs are
    * legitimately outside), not a gate. Scale shape: the 16
    * signature components are 16 min-aggs in ONE pass over the
    * shingle table (dd03's r3 lesson — never explode ×k), and the
    * estimator join touches only the confirmed-pair rows. */
  val dd12 = QueryDef.sql("dd12_minhash_estimator",
    s"""WITH $jaccardCte,
       |sig AS (SELECT doc_id, i, MIN(md5(i||':'||CAST(h AS VARCHAR))) AS m
       |        FROM sh, generate_series(0, 15) g(i) GROUP BY doc_id, i),
       |p AS (SELECT da, db, jaccard FROM jac WHERE jaccard >= 0.5e0),
       |mt AS (SELECT p.da, p.db, p.jaccard,
       |         SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS matches
       |       FROM p JOIN sig a ON a.doc_id = p.da
       |              JOIN sig b ON b.doc_id = p.db AND b.i = a.i
       |       GROUP BY 1, 2, 3)
       |SELECT da, db, jaccard,
       |  matches * 1e0 / 16 AS est_j,
       |  abs(matches * 1e0 / 16 - jaccard) AS abs_err,
       |  abs(matches * 1e0 / 16 - jaccard)
       |    <= 2e0 * sqrt(jaccard * (1e0 - jaccard) / 16e0) + 1e-12 AS within_2sigma
       |FROM mt ORDER BY da, db""".stripMargin) { (s, d) =>
    val sh = shingles(s, d)
    val sigAggs = (0 until 16).map { i =>
      min(md5(concat(lit(s"$i:"), col("h").cast("string")))).as(s"m$i")
    }
    // NOT pre-repartitioned on doc_id: the da/db sides are canonically
    // identical projections of sigW, so ReuseExchange already shares one
    // kernel execution (r19 A/B: an explicit repartition measured +0.4 s
    // worst-case, never faster — see the dd03 comment)
    val sigW = sh.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    val a = sigW.select(col("doc_id").as("da") +:
      (0 until 16).map(i => col(s"m$i").as(s"a$i")): _*)
    val b = sigW.select(col("doc_id").as("db") +:
      (0 until 16).map(i => col(s"m$i").as(s"b$i")): _*)
    val pairs = jaccardPairs(s, d).filter(jaccardAtLeast(0.5))
      .select(col("da"), col("db"), col("jaccard"))
    val est = col("matches") * lit(1.0) / 16
    pairs.join(a, "da").join(b, "db")
      .withColumn("matches",
        (0 until 16).map(i =>
          when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _))
      .select(col("da"), col("db"), col("jaccard"),
        est.as("est_j"),
        abs(est - col("jaccard")).as("abs_err"),
        (abs(est - col("jaccard")) <=
          lit(2.0) * sqrt(col("jaccard") * (lit(1.0) - col("jaccard")) / lit(16.0))
            + lit(1e-12)).as("within_2sigma"))
      .orderBy("da", "db")
  }

  /** dd04 — SimHash over shingle features: 32-bit fingerprint, 4-byte
    * band join for candidates, Hamming ≤ 6 output. */
  val dd04 = QueryDef.sql("dd04_simhash",
    s"""WITH $shingleCte,
       |th AS (SELECT doc_id,
       |         CAST(('0x' || substr(md5(CAST(h AS VARCHAR)), 1, 8)) AS BIGINT) AS f
       |       FROM sh),
       |bits AS (SELECT doc_id, j,
       |           SUM(CASE WHEN (f >> j) & 1 = 1 THEN 1 ELSE -1 END) AS sb
       |         FROM th, generate_series(0, 31) g(j) GROUP BY doc_id, j),
       |hash AS (SELECT doc_id,
       |           CAST(SUM(CASE WHEN sb > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS sim_hash
       |         FROM bits GROUP BY doc_id),
       |banded AS (SELECT doc_id, sim_hash, k, (sim_hash >> (8*k)) & 255 AS band
       |           FROM hash, generate_series(0, 3) g(k)),
       |cand AS (SELECT DISTINCT x.doc_id da, y.doc_id db, x.sim_hash ha, y.sim_hash hb
       |         FROM banded x JOIN banded y
       |           ON x.k = y.k AND x.band = y.band AND x.doc_id < y.doc_id)
       |SELECT da, db, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= 6
       |ORDER BY hamming, da, db""".stripMargin) { (s, d) =>
    val th = shingles(s, d)
      .withColumn("f", conv(substring(md5(col("h").cast("string")), 1, 8), 16, 10).cast("long"))
    // all 32 bit-sums in ONE pass: 32 conditional-sum aggregate
    // expressions in a single groupBy(doc_id) (the explode(sequence(0,31))
    // form shuffled the feature table ×32), then the fingerprint is a
    // per-doc scalar expression over the 32 sums.
    val bitAggs = (0 to 31).map { j =>
      sum(expr(s"CASE WHEN (shiftright(f, $j) & 1) = 1 THEN 1 ELSE -1 END")).as(s"sb$j")
    }
    val hash = th.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"),
        (0 to 31).map { j =>
          expr(s"CASE WHEN sb$j > 0 THEN shiftleft(CAST(1 AS BIGINT), $j) ELSE CAST(0 AS BIGINT) END")
        }.reduce(_ + _).as("sim_hash"))
    val banded = hash
      .select(col("doc_id"), col("sim_hash"), explode(expr("sequence(0, 3)")).as("k"))
      .withColumn("band", expr("shiftright(sim_hash, 8*k) & 255"))
    // NOT pre-repartitioned on (k, band): self-join sides are canonically
    // identical → ReuseExchange shares the fingerprint kernel already; an
    // explicit repartition measured 6 → 9 jobs, taskSum 24.5 → 38.3 s,
    // wall 2.27 → 3.06 s (r19 stage probe) and was reverted
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.k") === col("y.k") && col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        col("x.sim_hash").as("ha"), col("y.sim_hash").as("hb"))
      .distinct()
    cand
      .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS INT)"))
      .filter(col("hamming") <= 6)
      .select("da", "db", "hamming")
      .orderBy("hamming", "da", "db")
  }

  /** dd05 — transitive duplicate clusters: connected components over
    * the near-dup pair graph (Jaccard ≥ 0.5), so A≈B≈C collapses to one
    * cluster even when A≉C directly — the form a dedup pipeline actually
    * needs to pick one survivor per group.
    *
    * Implementation is iterative min-label propagation over the edge
    * list (each round = one shuffle join + min-agg; the driver loop
    * only checks convergence on an aggregate — no vertex data ever
    * leaves the cluster). Rounds needed = graph diameter, and each
    * round's cost is |edges| — the standard scalable CC shape. The
    * oracle computes the same fixpoint as a recursive CTE.
    */
  val dd05 = QueryDef.sql("dd05_dup_clusters",
    s"""WITH RECURSIVE $jaccardCte,
       |edges AS (
       |  SELECT da AS a, db AS b FROM jac WHERE jaccard >= 0.5e0
       |  UNION SELECT db, da FROM jac WHERE jaccard >= 0.5e0),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT a AS doc_id, CAST(least(a, MIN(b)) AS BIGINT) AS cluster_id
       |FROM reach
       |GROUP BY a
       |ORDER BY doc_id""".stripMargin) { (s, d) => dupClusters(s, d) }

  /** dd05's fixpoint, memoized: dd08's survivor selection starts from
    * the same cluster labels, and the propagation loop is the expensive
    * part. Nothing to release: the context cleaner frees a local
    * checkpoint's blocks once the frame is unreachable. */
  private val clusterMemo = Memo.slot[DataFrame]("dedup.clusters")(_ => ())

  def dupClusters(s: SparkSession, d: String): DataFrame =
    clusterMemo(s, d)(
      // localCheckpoint (not cache): the fixpoint's lineage is rounds of
      // unioned joins, and every DOWNSTREAM query re-plans that whole
      // tree through a mere cache — the checkpoint replaces it with the
      // materialized rows (measured ~4 s of dd08 planning time at sf0.1)
      dupClustersUncached(s, d).localCheckpoint(true))

  private def dupClustersUncached(s: SparkSession, d: String): DataFrame = {
    val pairs = jaccardPairs(s, d).filter(jaccardAtLeast(0.5))
      .select(col("da"), col("db"))
    connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Connected components over an undirected edge list (`da`, `db`) →
    * (`id`, `label` = component-min id), shared by dd05 and its specs.
    *
    * Phase 1 is simple min-label propagation: one join + min-agg per
    * round, rounds = component diameter. (A pointer-jumping-from-round-0
    * variant was measured 2× SLOWER here: near-dup components are
    * shallow, so the extra join per round outweighs the saved rounds.)
    * Convergence detection rides along in the SAME job: the old label is
    * carried through the min-agg (each id has exactly one non-null
    * `old`, from the labels branch), so each round is exactly ONE action
    * — no separate old-vs-new count join.
    *
    * Phase 2 — deep-chain insurance at 100 TB, where one boilerplate
    * chain can string thousands of docs together: if the graph has NOT
    * converged after [[jumpAfter]] rounds (i.e. some component's
    * diameter exceeds it), each subsequent round ALSO folds in
    * label-of-label (pointer jumping), which halves the remaining label
    * depth per round — total rounds become jumpAfter + O(log diameter),
    * so a depth-10⁶ chain converges in ~28 rounds instead of 10⁶. The
    * extra join is paid only by graphs that need it; the fixture's
    * shallow components converge in phase 1 and never take it. Still
    * fails loudly at 64 rounds rather than silently emitting a partial
    * fixpoint that would hash-mismatch the oracle's transitive closure
    * (with jumping, 64 rounds covers diameters beyond 2⁵⁰ — any
    * non-convergence is a bug, not a deep graph). */
  /** Stats-chosen escape hatch for [[connectedComponents]]: below this
    * edge count the labeling runs as a driver-side union-find (path
    * halving + min-id relabel — O(E α(E)), one collect of 16-byte
    * pairs ≤ 64 MB) instead of N synchronous label-propagation rounds
    * whose cost at small scale is pure scheduler floor (~0.5 s/round
    * measured, NOTES.md Round 9). The same CBO move as SetsBroadcastBytes:
    * measure the actual size, solve locally while it provably fits,
    * keep the distributed fixpoint as the at-scale plan. The threshold
    * is the EDGE LIST size, not the corpus size — a 100 TB corpus whose
    * near-dup/co-purchase graph is a few million edges (the common
    * case) still takes the local path; a billion-edge graph does not.
    *
    * The ceiling is derived from ACTUAL driver headroom (r10 verdict
    * item #6) instead of a fixed constant: collect() of E
    * symmetrized edges costs ~200 B/edge transient (GenericRow + two
    * boxed longs) and the union-find keeps ~100 B/node in its HashMap,
    * so budget 20% of free heap at ~300 B/edge, clamped to
    * [1M, 16M] — the floor keeps trivially small graphs local even
    * under a loaded heap (where the distributed path's ~0.5 s/round
    * scheduler floor would dominate anyway), the cap keeps a huge-heap
    * driver from pulling a genuinely big graph out of the cluster.
    * Sampled ONCE per JVM (lazy val — r11 ADVICE #4: a per-call
    * re-sample made the path choice GC-timing-dependent, so bench reps
    * of the same query could silently flip regimes; both paths log
    * which one ran, so artifacts record the regime). Path equality is
    * spec-pinned (GraphSpec), so where the dial lands can never move
    * an oracle hash. */
  private[graft] lazy val LocalCcMaxEdges: Long = {
    val rt = Runtime.getRuntime
    val free = rt.maxMemory() - (rt.totalMemory() - rt.freeMemory())
    math.max(1000000L, math.min(16000000L, free / 5 / 300))
  }

  private[graft] def connectedComponents(
      pairs: DataFrame, jumpAfter: Int = 8, checkEvery: Int = 1,
      localMaxEdges: Long = LocalCcMaxEdges): DataFrame = {
    require(checkEvery >= 1)
    // both paths return BIGINT (id, label) regardless of which one the
    // edge-count stats pick, so the output schema can never depend on
    // graph size (r9 advice); the cast is total only for integral ids —
    // reject anything else at plan-build time, where localUnionFind's
    // getLong would otherwise corrupt or NPE silently at run time
    Seq("da", "db").map(n => pairs.schema(n)).foreach { f =>
      require(Seq("byte", "short", "integer", "long")
        .contains(f.dataType.typeName),
        s"connectedComponents needs integral vertex ids, got ${f.dataType} for ${f.name}")
    }
    // symmetrize from ONE evaluation of the caller's pair chain (r16
    // verdict #5): the union form re-ran it once per direction — for
    // dd05 that was the whole banded-candidate + verify chain twice
    val edges = pairs
      .select(col("da").cast("long").as("a"), col("db").cast("long").as("b"))
      .select(explode(array(
        struct(col("a").as("da"), col("b").as("db")),
        struct(col("b").as("da"), col("a").as("db")))).as("e"))
      .select(col("e.da"), col("e.db"))
      .distinct().cache()
    val nEdges = edges.count()
    if (nEdges <= localMaxEdges) return localUnionFind(edges)
    // seed with min(id, min neighbor): one round of propagation for free
    // (every vertex appears as `da` in the symmetrized edge list)
    var labels: DataFrame = edges
      .groupBy(col("da"))
      .agg(min(col("db")).as("mn"))
      .select(col("da").as("id"), least(col("da"), col("mn")).as("label"))
      .cache()
    var live: List[DataFrame] = List(labels) // cached frames since last check
    var converged = false
    var rounds = 0
    val maxRounds = 64
    while (!converged && rounds < maxRounds) {
      val nullOld = lit(null).cast("long").as("old")
      var parts = edges
        .join(labels, edges("db") === labels("id"))
        .select(edges("da").as("id"), col("label"), nullOld)
        .union(labels.select(col("id"), col("label"), col("label").as("old")))
      if (rounds >= jumpAfter) {
        // pointer jumping: label(v) ← label(label(v)); labels are always
        // vertex ids present in `labels`, so the self-join is total
        parts = parts.union(labels.as("a")
          .join(labels.as("b"), col("a.label") === col("b.id"))
          .select(col("a.id").as("id"), col("b.label").as("label"), nullOld))
      }
      var next = parts.groupBy("id")
        .agg(min("label").as("label"), min("old").as("old"))
      // every few rounds cut the growing iterative lineage so planning
      // stays O(1) per round (lazy: materialized by the count below)
      next = if (rounds % 4 == 3) next.localCheckpoint(false) else next.cache()
      rounds += 1
      // convergence-check batching (r8 verdict item #4): each count() is
      // a synchronous driver round trip — the dominant cost when rounds
      // are scheduler-floor-bound — so with checkEvery = k, k rounds
      // chain LAZILY and one action materializes them all. Checking
      // change vs the immediately-previous round stays sufficient: the
      // update is a deterministic function of the previous state, so
      // one unchanged application IS the fixpoint (detection can land
      // ≤ k−1 cheap rounds late, actions drop k-fold).
      if (rounds % checkEvery == 0 || rounds == maxRounds) {
        val changed =
          next.filter(col("old").isNull || col("label") =!= col("old")).count()
        System.err.println(s"[cc]   round $rounds: $changed changed")
        // `next` is materialized; upstream caches since the last check
        // (still referenced only through lineage) can go
        live.foreach(_.unpersist())
        live = Nil
        converged = changed == 0
      }
      live ::= next
      labels = next.select("id", "label")
    }
    require(converged, s"label propagation did not converge in $maxRounds rounds")
    // convergence telemetry (r8): makes rounds-to-convergence auditable
    // in bench/verify logs — a dd05 cold-cost regression decomposes into
    // rounds × per-round cost instead of needing forensics
    System.err.println(
      s"[cc] converged in $rounds rounds (jumpAfter=$jumpAfter, checkEvery=$checkEvery)")
    labels
  }

  /** Driver-side union-find over a (symmetrized, counted-small) edge
    * list; labels are the MIN vertex id per component — the identical
    * fixpoint the distributed propagation converges to, so swapping
    * paths can never move an oracle hash (spec-pinned equal). */
  private def localUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val es = edges.select(col("da"), col("db")).collect()
    es.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "connectedComponents: null vertex id in edge list")
    }
    val parent = new java.util.HashMap[Long, Long](es.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.get(x)
      while (p != x) {
        val gp = parent.get(p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.get(x)
      }
      x
    }
    es.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val minOfRoot = new java.util.HashMap[Long, Long]
    val it0 = parent.keySet().iterator()
    while (it0.hasNext) {
      val v = it0.next()
      val r = find(v)
      val cur = minOfRoot.getOrDefault(r, Long.MaxValue)
      if (v < cur) minOfRoot.put(r, v)
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size())
    val it1 = parent.keySet().iterator()
    while (it1.hasNext) {
      val v = it1.next()
      out += ((v, minOfRoot.get(find(v))))
    }
    System.err.println(s"[cc] local union-find: ${es.length} edges, ${out.length} nodes")
    import spark.implicits._
    out.toSeq.toDF("id", "label")
  }

  /** dd06 — train/test contamination: documents are split 80/20 by a
    * deterministic md5 bucket of doc_id (the standard hash-split, stable
    * under re-runs and engine-portable), then near-duplicate pairs
    * (Jaccard ≥ 0.5) that STRADDLE the split are reported — test docs
    * whose content effectively leaks from train. This is the data-
    * hygiene check an LLM training pipeline runs before eval: at 100 TB
    * it reuses the same bucketed candidate generation as dd02 (never
    * all-pairs). The split bucket is a PURE FUNCTION of doc_id, so it is
    * computed inline on the pair table — zero joins, zero broadcast (a
    * doc→bucket map built from all documents would be |corpus| rows, a
    * multi-GB broadcast at 100 TB; dd09 uses the same inline shape). */
  val dd06 = QueryDef.sql("dd06_split_contamination",
    s"""WITH $jaccardCte,
       |jb AS (SELECT da, db, jaccard,
       |         CAST(('0x' || substr(md5(CAST(da AS VARCHAR)), 1, 2)) AS INTEGER) % 100 AS ba,
       |         CAST(('0x' || substr(md5(CAST(db AS VARCHAR)), 1, 2)) AS INTEGER) % 100 AS bb
       |       FROM jac WHERE jaccard >= 0.5e0)
       |SELECT
       |  CASE WHEN ba >= 80 THEN da ELSE db END AS test_doc,
       |  CASE WHEN ba >= 80 THEN db ELSE da END AS train_doc,
       |  jaccard
       |FROM jb
       |WHERE (ba >= 80) <> (bb >= 80)
       |ORDER BY test_doc, train_doc""".stripMargin) { (s, d) =>
    def bucket(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 2), 16, 10).cast("int") % 100
    jaccardPairs(s, d).filter(jaccardAtLeast(0.5))
      .withColumn("ba", bucket(col("da")))
      .withColumn("bb", bucket(col("db")))
      .filter((col("ba") >= 80) =!= (col("bb") >= 80))
      .select(
        when(col("ba") >= 80, col("da")).otherwise(col("db")).as("test_doc"),
        when(col("ba") >= 80, col("db")).otherwise(col("da")).as("train_doc"),
        col("jaccard"))
      .orderBy("test_doc", "train_doc")
  }

  /** dd10 — exactness guard for the shared shingle index (VERDICT r3
    * item 8): the df≤100 stop-shingle prune is load-bearing for
    * dd02–dd06 parity, but until now its agreement with the oracle was
    * only IMPLICIT in their hash matches. This row makes it explicit —
    * index cardinality, distinct surviving shingles, docs retained,
    * and the pruned-away count — so a fixture change that pushes
    * shingle document-frequencies across the cutoff (or a drift in the
    * 60-bit fingprint) fails HERE, by name, not as an opaque
    * dd02 hash mismatch. */
  val dd10 = QueryDef.sql("dd10_shingle_index_stats",
    s"""WITH $shingleCte
       |SELECT COUNT(*) AS n_pairs,
       |  COUNT(DISTINCT h) AS n_shingles,
       |  COUNT(DISTINCT doc_id) AS n_docs,
       |  (SELECT COUNT(*) FROM dfr WHERE df > 100) AS n_pruned_shingles
       |FROM sh""".stripMargin) { (s, d) =>
    val idx = shingles(s, d)
    // unpruned df table via the fused kernel (r9): the old exploded
    // transform(...) + corpus-wide DISTINCT was the dominant dd10 cost
    // once the index itself is memo-warm
    graft.functions.ShingleHashes.register(s)
    val allDf = T.widened(T.documents(s, d)) // dense floor regressed dd10 +0.34 s (memo-warm kernel too small)
      .select(col("doc_id"), expr("shingle_hashes(text)").as("hs"))
      .filter(size(col("hs")) > 0)
      .selectExpr("doc_id", "hs", "explode(sequence(0, size(hs) - 1)) AS i")
      .selectExpr("hs[CAST(i AS INT)] AS h")
      .groupBy("h").agg(count(lit(1)).as("df"))
    idx.agg(
      count(lit(1)).as("n_pairs"),
      countDistinct(col("h")).as("n_shingles"),
      countDistinct(col("doc_id")).as("n_docs"))
      .crossJoin(allDf.filter(col("df") > 100)
        .agg(count(lit(1)).as("n_pruned_shingles")))
  }

  /** dd11 — cross-document repeated-passage detection: 8-gram spans
    * occurring in ≥2 distinct documents, WITH their positions — the
    * span-level cousin of ta06's doc-level boilerplate ranking, and the
    * Spark-shaped stand-in for suffix-array substring dedup (Lee et al.
    * "Deduplicating Training Data Makes Language Models Better": exact
    * repeated substrings are removed span-wise, not doc-wise).
    *
    * Shape: posexplode-equivalent index explode keeps the token offset;
    * spans are fingerprinted to 60-bit md5 longs BEFORE the shuffle
    * (8-byte keys; collisions shared with the oracle); the exemplar
    * location is packed into one int64 (doc_id·10^5 + pos — fixture
    * docs are ≪10^5 tokens) so min() finds the first occurrence without
    * a struct ordering, which Spark and DuckDB sort differently. The
    * gram string rides to the aggregate as min(s) only for readability;
    * a production run would drop it pre-shuffle and join the exemplar
    * text back by fingerprint. Top-50 by df with a pinned tie-break. */
  val dd11 = QueryDef.sql("dd11_repeated_passages",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text,' ') AS t FROM documents
      |  WHERE len(string_split(text,' ')) >= 8),
      |sp AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    CAST(('0x'||substr(md5(array_to_string(t[i:i+7], ' ')),1,15)) AS BIGINT) AS h
      |  FROM (SELECT doc_id, t, UNNEST(range(1, len(t)-6)) AS i FROM toks) z),
      |pd AS (
      |  SELECT h, doc_id, COUNT(*) AS cnt,
      |    MIN(CAST(doc_id AS BIGINT) * 100000 + pos) AS loc
      |  FROM sp GROUP BY h, doc_id),
      |agg AS (
      |  SELECT h, COUNT(*) AS df, CAST(SUM(cnt) AS BIGINT) AS n_occ,
      |    MIN(loc) AS loc0
      |  FROM pd GROUP BY h),
      |top AS (
      |  SELECT df, n_occ, loc0,
      |    loc0 // 100000 AS example_doc, loc0 % 100000 AS example_pos
      |  FROM agg WHERE df >= 2
      |  ORDER BY df DESC, n_occ DESC, loc0
      |  LIMIT 50)
      |SELECT
      |  array_to_string((string_split(d.text,' '))[example_pos+1:example_pos+8], ' ') AS gram,
      |  df, n_occ, example_doc, example_pos
      |FROM top JOIN documents d ON d.doc_id = top.example_doc
      |ORDER BY df DESC, n_occ DESC, loc0""".stripMargin) { (s, d) =>
    // the gram STRING never enters a shuffle (r9): spans travel as
    // (doc_id, pos, h) 24-byte rows; a two-level aggregation — (h,
    // doc_id) partials combine map-side, then per-h counts rows for df —
    // replaces the countDistinct+regular mix whose Expand doubled the
    // span shuffle AND whose hash map carried ~50-byte gram strings for
    // 8M near-unique groups (the dominant dd11 cost at 30×). The 50
    // exemplar grams are reconstructed at the END by slicing the
    // exemplar document at loc0 — identical text by construction (same
    // h ↔ same 8-gram; the oracle reconstructs the same way), with the
    // tie-break moved from gram to loc0 (unique per h, so the order is
    // total) on BOTH engines.
    graft.functions.ShingleStats.register(s)
    // index-explode + subscript (NOTES.md, round 10: 2.7× vs the kernel as the
    // generator child, which the Generate path partially re-evaluates)
    val sp = T.widened(T.documents(s, d), T.DenseKernelFloor)
      .select(col("doc_id"), expr("shingle_stats(text, 8)").as("gs"))
      .filter(size(col("gs")) > 0)
      .selectExpr("doc_id", "gs", "explode(sequence(0, size(gs) - 1)) AS i")
      .selectExpr("doc_id", "gs[CAST(i AS INT)] AS g")
      .select(col("g.h").as("h"), col("g.cnt").as("cnt"),
        (col("doc_id").cast("long") * 100000 + col("g.pos")).as("loc"))
    val top = sp.groupBy("h")
      .agg(count(lit(1)).as("df"),
        sum("cnt").as("n_occ"),
        min("loc").as("loc0"))
      .filter(col("df") >= 2)
      .select(col("df"), col("n_occ"),
        expr("loc0 div 100000").as("example_doc"),
        (col("loc0") % 100000).as("example_pos"), col("loc0"))
      .orderBy(col("df").desc, col("n_occ").desc, col("loc0"))
      .limit(50)
    // broadcast the 50-row top-k against the documents scan (NEVER the
    // corpus side) — the exemplar fetch is a map-side semi-join
    T.documents(s, d).select(col("doc_id").as("example_doc"), col("text"))
      .join(broadcast(top), Seq("example_doc"))
      .select(
        expr("concat_ws(' ', slice(split(text, ' '), example_pos + 1, 8))").as("gram"),
        col("df"), col("n_occ"), col("example_doc"), col("example_pos"), col("loc0"))
      .orderBy(col("df").desc, col("n_occ").desc, col("loc0"))
      .select("gram", "df", "n_occ", "example_doc", "example_pos")
  }

  /** dd13 — repeated-passage REMOVAL: dd11 reports cross-document
    * repeated 8-gram spans; this emits the corpus with them excised —
    * the actual Lee et al. rewrite step (exact repeated substrings are
    * removed span-wise, not doc-wise). A token is removed iff it is
    * covered by ANY span (all df≥2 spans, not dd11's display top-50)
    * whose 8-gram occurs in ≥2 distinct documents; survivors are
    * rejoined with single spaces.
    *
    * Scale shape: the span table is dd11's (fingerprints hashed to
    * 60-bit longs PRE-shuffle); the flagged-span join moves 8-byte keys;
    * covered positions shuffle as (doc_id, int) pairs — fixed-width,
    * bounded by token count; the rewrite itself is ONE doc_id join plus
    * a narrow higher-order filter over the token array (no explode-and-
    * regroup of token text, no windows). Output ≈ corpus size, which is
    * inherent to a rewrite. BOTH engines reconstruct the text from the
    * token array (rather than keeping the original for untouched docs)
    * so split/join semantics are identical by construction. */
  val dd13 = QueryDef.sql("dd13_passage_removal",
    """WITH toks AS (
      |  SELECT doc_id, text, string_split(text,' ') AS t FROM documents),
      |sp AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    CAST(('0x'||substr(md5(array_to_string(t[i:i+7], ' ')),1,15)) AS BIGINT) AS h
      |  FROM (SELECT doc_id, t, UNNEST(range(1, len(t)-6)) AS i
      |        FROM toks WHERE len(t) >= 8) z),
      |rep AS (SELECT h FROM sp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
      |cov AS (
      |  SELECT DISTINCT doc_id, pos + k AS i
      |  FROM sp JOIN rep USING (h), (SELECT UNNEST(range(0, 8)) AS k) ks),
      |tokpos AS (
      |  SELECT doc_id, i - 1 AS i, t[i] AS tok
      |  FROM (SELECT doc_id, t, UNNEST(range(1, len(t)+1)) AS i FROM toks) z),
      |keep AS (
      |  SELECT tp.doc_id, tp.i, tp.tok FROM tokpos tp
      |  WHERE NOT EXISTS (SELECT 1 FROM cov c
      |                    WHERE c.doc_id = tp.doc_id AND c.i = tp.i)),
      |ct AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text
      |       FROM keep GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(ct.clean_text, '') AS clean_text,
      |  CAST(coalesce(cv.n, 0) AS BIGINT) AS n_tokens_removed,
      |  CAST(len(d.text) - len(coalesce(ct.clean_text, '')) AS BIGINT) AS chars_removed
      |FROM documents d
      |LEFT JOIN ct USING (doc_id)
      |LEFT JOIN (SELECT doc_id, COUNT(*) AS n FROM cov GROUP BY doc_id) cv
      |  USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val toks = T.widened(T.documents(s, d)) // dense floor regressed dd11 +0.30 s (span hash too cheap)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("t"))
    // cached: the span table feeds BOTH the repeated-hash count and the
    // coverage join — without the cache the DAG fork re-scans documents
    // and re-hashes every span
    val sp = toks.filter(size(col("t")) >= 8)
      .select(col("doc_id"), col("t"),
        explode(expr("sequence(0, size(t)-8)")).as("pos"))
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(expr("concat_ws(' ', slice(t, pos+1, 8))")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .cache()
    try {
      val rep = sp.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2).select("h")
      // covered token positions per doc: expand each repeated span to its
      // 8 positions INSIDE a per-doc array instead of exploding to
      // (doc_id, i) rows — the row form needed a corpus×8 DISTINCT shuffle
      // plus a second groupBy/collect_set (the dominant dd13 cost at 30×);
      // this shape shuffles only the matched (doc_id, pos) rows once
      val covered = sp.join(rep, "h")
        .groupBy("doc_id").agg(collect_list(col("pos")).as("poss"))
        .select(col("doc_id"),
          expr("array_distinct(flatten(transform(poss, p -> sequence(p, p + 7))))")
            .as("cov"))
      // materialize the (smaller) cleaned output so the corpus×spans
      // hash table can be dropped instead of staying pinned (r9 advice)
      val out = toks.join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("text"),
          expr("concat_ws(' ', filter(t, (x, i) -> cov IS NULL OR NOT array_contains(cov, i)))")
            .as("clean_text"),
          coalesce(size(col("cov")), lit(0)).cast("long").as("n_tokens_removed"))
        .select(col("doc_id"), col("clean_text"), col("n_tokens_removed"),
          (length(col("text")) - length(col("clean_text"))).cast("long")
            .as("chars_removed"))
        .orderBy("doc_id")
        .cache()
      out.count()
      out
    } finally sp.unpersist()
  }

  /** dd15 — EDIT-DISTANCE-bounded near-dup admission (PassJoin-style
    * segment filter; Li, Deng & Feng, "PASS-JOIN: a partition-based
    * method for similarity joins", VLDB 2012): character-level fuzzy
    * matching of an incoming probe slice (doc_id % 17 = 0, ~6%) against
    * the corpus on the padded 48-char document prefix — the metric that
    * catches typo-level title/URL duplicates that token-level Jaccard
    * and MinHash miss.
    *
    * Candidate generation is LOSSLESS by pigeonhole: keys are padded to
    * EXACTLY 48 chars (rpad with U+0001, a char absent from the text),
    * each probe key splits into k+1 = 3 contiguous 16-char segments,
    * and ed(a,b) ≤ k implies some segment of `a` survives untouched by
    * all ≤ k edit operations — its image in `b` sits at the same offset
    * shifted by the net indels before it, which is bounded by ±k. So
    * the equi-join of probe segments against the corpus's (i, ±k-window
    * substrings) covers every true pair; windows that would overrun the
    * 48-char key are skipped because the matching alignment would need
    * the image to extend past `b`'s end — impossible at equal padded
    * length. Exact Levenshtein (the THRESHOLDED banded form — O(k·n)
    * per pair, early-exit −1 past k) verifies candidates.
    *
    * Scale shape — the dd09 asymmetry: the probe slice is the admission
    * batch (tiny at 100 TB), so its 3-rows-per-doc segment table
    * BROADCASTS and the corpus's window extraction is a narrow map into
    * a map-side join — no corpus-wide shuffle; the only exchange is the
    * distinct over matched candidate pairs. Oracle: brute-force
    * probe×corpus Levenshtein in DuckDB — the parity gate PROVES the
    * filter lossless on the graded data, not just cited. */
  val dd15 = QueryDef.sql("dd15_editdist_neardup",
    """WITH ks AS (
      |  SELECT doc_id, rpad(substr(text, 1, 48), 48, chr(1)) AS s FROM documents),
      |pr AS (SELECT doc_id AS probe_id, s FROM ks WHERE doc_id % 17 = 0),
      |co AS (SELECT doc_id AS corpus_id, s FROM ks WHERE doc_id % 17 <> 0),
      |sc AS (SELECT probe_id, corpus_id, levenshtein(pr.s, co.s) AS dist
      |       FROM pr, co)
      |SELECT probe_id, corpus_id, CAST(dist AS BIGINT) AS dist
      |FROM sc WHERE dist <= 2
      |ORDER BY probe_id, corpus_id""".stripMargin) { (s, d) =>
    editDistNeardup(T.documents(s, d))
  }

  /** dd15's dataflow over an arbitrary (doc_id, text) frame — factored
    * so the losslessness property test can drive random corpora with
    * planted ≤ k-edit variants through the exact production pipeline
    * (the shinglesOf precedent). */
  private[graft] def editDistNeardup(docs: DataFrame): DataFrame = {
    val W = 48; val L = 16; val K = 2
    val keyed = docs.select(col("doc_id"),
      rpad(substring(col("text"), 1, W), W, "\u0001").as("s"))
    val segs = keyed.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("probe_id"), col("s").as("sa"),
        posexplode(array((0 until K + 1).map(i =>
          substring(col("s"), i * L + 1, L)): _*)).as(Seq("i", "seg")))
    val winCols = for { i <- 0 until K + 1; dl <- -K to K
                        if i * L + dl >= 0 && i * L + dl + L <= W } yield
      struct(lit(i).as("i"), substring(col("s"), i * L + dl + 1, L).as("seg"))
    val wins = keyed.filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id").as("corpus_id"), col("s").as("sb"),
        explode(array(winCols: _*)).as("w"))
      .select(col("corpus_id"), col("sb"),
        col("w.i").as("i"), col("w.seg").as("seg"))
    wins.join(broadcast(segs), Seq("i", "seg"))
      .select("probe_id", "corpus_id", "sa", "sb").distinct()
      .select(col("probe_id"), col("corpus_id"),
        levenshtein(col("sa"), col("sb"), K).cast("long").as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= K)
      .orderBy("probe_id", "corpus_id")
  }

  /** dd16 — incremental MinHash band-index maintenance: the production
    * "daily crawl increment" (r11 verdict item #7). dd03 re-derives its
    * signature index from the whole corpus every run; a 100 TB pipeline
    * cannot — it keeps the (component, value, doc_id) band index as
    * standing state and, per crawl delta (doc_id % 5 = 0 plays the
    * day's batch), runs ONE job that (a) signs only the delta — the
    * map-only scalar kernel st14 streams with, no explode and no
    * pre-join shuffle, (b) probes the standing index for delta-vs-corpus
    * collisions, (c) dedups the delta against itself (vs lower doc_id
    * only — deterministic and order-free, no iterative admission
    * chain), and (d) admits the clean docs, whose k=8 band rows are the
    * index delta the day commits. Output: one row per delta doc with
    * its strongest corpus/batch collision (shared-band counts), the
    * admission decision at the ≥4-of-8 band threshold (est J ≥ 0.5,
    * dd02/dd03's confirm bar), and the appended row count.
    *
    * Scale shape: the corpus text is NEVER rescanned — only its index
    * is probed (rebuilt here because the bench holds no cross-run
    * state, but the maintenance dataflow reads nothing else of the
    * corpus: at 100 TB the index is a bucketed table on (i, m) and both
    * probes are index equi-joins); the delta-self join is delta-sized.
    * Signatures are md5-derived over UNPRUNED shingles exactly as
    * st14's (an admission batch cannot know corpus-wide shingle
    * document frequencies), so DuckDB re-derives every decision
    * bit-exactly.
    *
    * Stop-band prune (r12 verdict #1): a band value held by more than
    * 100 STANDING-INDEX docs is boilerplate (the dd02 df≤100
    * stop-shingle policy applied to bands — and unlike raw shingle df,
    * the index epoch's per-band df IS available to an admission batch:
    * it is metadata of the standing state itself). Such a band
    * generates O(df) probe rows per delta doc and O(n²) pairs inside
    * the delta while carrying no near-dup evidence a boilerplate-free
    * band wouldn't also carry, so it is excluded from BOTH evidence
    * joins — semantics the oracle mirrors exactly. Measured on the 30×
    * Zipf fixture: kills 73% of delta-self pairs and 75% of probe rows;
    * the largest surviving delta band group is 40 docs. The delta's
    * signatures are computed ONCE (cached) across the probe, the
    * delta-self join, and the id spine — previously each branch re-ran
    * the signature kernel. */
  val dd16 = QueryDef.sql("dd16_incremental_band_index",
    """WITH toks AS (SELECT doc_id, string_split(text,' ') t FROM documents
      |              WHERE len(string_split(text,' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id,
      |          CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM (
      |  SELECT doc_id, UNNEST(list_transform(range(1, len(t)-1),
      |    i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s FROM toks)),
      |sig AS (SELECT doc_id, i, MIN(md5(i||':'||CAST(h AS VARCHAR))) AS m
      |        FROM sh0, generate_series(0, 7) g(i) GROUP BY doc_id, i),
      |inc AS (SELECT * FROM sig WHERE doc_id % 5 = 0),
      |corp AS (SELECT * FROM sig WHERE doc_id % 5 <> 0),
      |stop AS (SELECT i, m FROM corp GROUP BY i, m HAVING COUNT(*) > 100),
      |incp AS (SELECT inc.* FROM inc
      |         WHERE NOT EXISTS (SELECT 1 FROM stop
      |                           WHERE stop.i = inc.i AND stop.m = inc.m)),
      |cvc AS (SELECT da, MAX(cnt) AS corpus_max FROM (
      |    SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS cnt
      |    FROM incp a JOIN corp b ON a.i = b.i AND a.m = b.m
      |    GROUP BY 1, 2) q1 GROUP BY da),
      |dvd AS (SELECT da, MAX(cnt) AS batch_max FROM (
      |    SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS cnt
      |    FROM incp a JOIN incp b ON a.i = b.i AND a.m = b.m
      |                           AND b.doc_id < a.doc_id
      |    GROUP BY 1, 2) q2 GROUP BY da),
      |ids AS (SELECT DISTINCT doc_id FROM inc)
      |SELECT ids.doc_id,
      |  CAST(COALESCE(cvc.corpus_max, 0) AS BIGINT) AS corpus_max_bands,
      |  CAST(COALESCE(dvd.batch_max, 0) AS BIGINT) AS batch_max_bands,
      |  (COALESCE(cvc.corpus_max, 0) < 4
      |     AND COALESCE(dvd.batch_max, 0) < 4) AS admitted,
      |  CAST(CASE WHEN COALESCE(cvc.corpus_max, 0) < 4
      |              AND COALESCE(dvd.batch_max, 0) < 4
      |       THEN 8 ELSE 0 END AS BIGINT) AS index_rows_added
      |FROM ids LEFT JOIN cvc ON ids.doc_id = cvc.da
      |         LEFT JOIN dvd ON ids.doc_id = dvd.da
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // decisions memoized (r13 ADVICE #3): the output is one small cached
    // row per delta doc, but re-running the dataflow per bench rep left
    // a fresh storage entry alive for the JVM each time — exactly the
    // accumulated suite-JVM state the r12 streaming adjudication blamed
    dd16Memo(s, d)(incrementalBandIndex(s, T.documents(s, d)))
  }

  private val dd16Memo = Memo.slot[DataFrame]("dedup.dd16")(_.unpersist())

  /** dd16's dataflow over an arbitrary (doc_id, text) frame — factored
    * (the editDistNeardup/shinglesOf precedent) so the spec can drive a
    * hand-planted corpus through the exact production pipeline. */
  private[graft] def incrementalBandIndex(
      s: SparkSession, docs: DataFrame): DataFrame = {
    import graft.streaming.{Streams => St}
    // delta: map-only signatures — NOT widened and never repartitioned
    // (an admission batch keeps the st14 no-pre-join-shuffle property);
    // corpus index build is the compute-dense side, widened like st14's.
    // Both signed ONCE (cached): the delta feeds the probe, the
    // delta-self join (both sides) and the id spine; the index feeds
    // the probe and the epoch's per-band df stats — uncached, each
    // branch re-ran the md5 signature kernel (r12 verdict #1).
    val inc = St.scalarSignatures(docs.filter(col("doc_id") % 5 === 0))
      .cache()
    val corp = St.scalarSignatures(
      T.widened(docs.filter(col("doc_id") % 5 =!= 0), T.DenseKernelFloor))
      .withColumnRenamed("doc_id", "db")
      .cache()
    try {
      // stop-bands from the index epoch's df stats (at 100 TB these are
      // index metadata, maintained with the index itself): df > 100
      // bands are boilerplate and excluded from both evidence joins —
      // see the dd16 scaladoc; tiny (~3k rows at 30×), so the anti-join
      // is a broadcast against both sides
      val stop = corp.groupBy("i", "m").agg(count(lit(1)).as("bdf"))
        .filter(col("bdf") > 100).select("i", "m")
      val incP = inc.join(broadcast(stop), Seq("i", "m"), "left_anti")
      val cvc = incP.join(corp, Seq("i", "m"))
        .groupBy(col("doc_id"), col("db")).agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(max("cnt").as("corpus_max"))
      val dvd = incP.as("a")
        .join(incP.as("b"),
          col("a.i") === col("b.i") && col("a.m") === col("b.m") &&
            col("b.doc_id") < col("a.doc_id"))
        .groupBy(col("a.doc_id").as("doc_id"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(max("cnt").as("batch_max"))
      // materialize-and-release (the shinglesOf pattern): the output is
      // one small row per delta doc — cache it eagerly so the
      // corpus-sized signature tables can be dropped immediately
      val out = inc.select("doc_id").distinct()
        .join(cvc, Seq("doc_id"), "left")
        .join(dvd, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("corpus_max"), lit(0L)).as("corpus_max_bands"),
          coalesce(col("batch_max"), lit(0L)).as("batch_max_bands"))
        .withColumn("admitted",
          col("corpus_max_bands") < 4 && col("batch_max_bands") < 4)
        .withColumn("index_rows_added",
          when(col("admitted"), lit(8L)).otherwise(lit(0L)))
        .orderBy("doc_id")
        .cache()
      out.count()
      out
    } finally { inc.unpersist(); corp.unpersist() }
  }

  val defs: Seq[QueryDef] =
    Seq(dd01, dd02, dd03, dd04, dd05, dd06, dd10, dd11, dd12, dd13, dd15,
      dd16)
}
