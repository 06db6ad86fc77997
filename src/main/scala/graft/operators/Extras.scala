package graft.operators

import graft.{GraftSession, QueryDef, Tables => T}
import graft.functions.{ExactAgg, ExactMean}
import org.apache.spark.sql.functions._

/** Coverage extras: custom typed UDAF, sink/source round-trip, array
  * analytics over embeddings, and the salting pattern for skewed keys.
  */
object Extras {

  /** q34 — the Aggregator UDAF surface: exact mean per segment through
    * ExactMean (integer-cents buffer), oracle = the decimal-sum form. */
  val q34 = QueryDef.sql("q34_custom_udaf_mean",
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS mean_bal,
      |  COUNT(*) AS n
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val meanUdaf = udaf(ExactMean)
    T.customer(s, d)
      .groupBy("c_mktsegment")
      .agg(meanUdaf(col("c_acctbal")).as("mean_bal"), count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  /** q35 — JSON sink + source round-trip: write documents to JSON lines,
    * read back, aggregate — must equal the direct parquet path (the
    * oracle never sees the round-trip, so any escaping/type loss in the
    * json writer/reader would break the hash). */
  val q35 = QueryDef.sql("q35_json_roundtrip",
    """SELECT lang, COUNT(*) AS n, COUNT(DISTINCT md5(text)) AS n_unique,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, d) =>
    val tmp = java.nio.file.Files.createTempDirectory("graft_json").toString
    val docs = T.documents(s, d)
    docs.write.mode("overwrite").json(tmp)
    // supply the schema (q59/q48's existing pattern): a schemaless JSON
    // read INFERS by scanning all the data once before the real read —
    // a full extra pass per run (r18; value loss in the writer/reader
    // still breaks the oracle hash, which compares the values)
    s.read.schema(docs.schema).json(tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        countDistinct(md5(col("text"))).as("n_unique"),
        sum("n_chars").as("total_chars"))
      .orderBy("lang")
  }

  /** q36 — array analytics over the embedding column: min/max/mean and
    * L2 norm, all sequential-fold double arithmetic (engine-portable). */
  val q36 = QueryDef.sql("q36_array_stats",
    """SELECT vec_id,
      |  CAST(len(embedding) AS INTEGER) AS dim,
      |  list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS mn,
      |  list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS mx,
      |  list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) / len(embedding) AS mean,
      |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
      |FROM embeddings
      |WHERE vec_id < 100
      |ORDER BY vec_id""".stripMargin) { (s, d) =>
    T.embeddings(s, d)
      .filter(col("vec_id") < 100)
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        array_min(expr("transform(embedding, x -> CAST(x AS DOUBLE))")).as("mn"),
        array_max(expr("transform(embedding, x -> CAST(x AS DOUBLE))")).as("mx"),
        expr("""aggregate(embedding, CAST(0 AS DOUBLE),
                (acc, x) -> acc + CAST(x AS DOUBLE)) / size(embedding)""").as("mean"),
        sqrt(expr("""aggregate(embedding, CAST(0 AS DOUBLE),
                     (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""")).as("l2"))
      .orderBy("vec_id")
  }

  /** q37 — salted two-stage aggregation: the skew-mitigation pattern
    * (salt the hot key, partial-agg, merge) proven equivalent to the
    * plain aggregate by the oracle. Decimal partials merge exactly, so
    * salting cannot change the result — that algebraic property is what
    * makes the pattern safe to deploy against a skewed 100 TB key. */
  val q37 = QueryDef.sql("q37_salted_agg",
    """SELECT lang, COUNT(*) AS n,
      |  CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS total_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, d) =>
    T.documents(s, d)
      .withColumn("salt", pmod(col("doc_id"), lit(16)))
      .groupBy("lang", "salt") // stage 1: spreads a hot key over 16 tasks
      .agg(count(lit(1)).as("pn"),
        sum(col("n_chars").cast(ExactAgg.D2)).as("psum"))
      .groupBy("lang") // stage 2: merge partials (exact decimal)
      .agg(sum("pn").as("n"), sum("psum").cast("double").as("total_chars"))
      .orderBy("lang")
  }

  /** AQE-tuned session settings for [[q64]]: thresholds scaled down to
    * sf0.1 partition sizes (the defaults are 256 MB/64 MB — sized for a
    * real cluster, where these lines are the ONLY tuning a skewed join
    * needs). forceOptimizeSkewedJoin is on because the join feeds an
    * aggregation on the same key: splitting the hot partition breaks
    * the join's co-partitioning with the agg, so AQE would otherwise
    * decline to split to avoid the extra exchange — at 100 TB paying
    * one extra small exchange beats a straggler task by hours. */
  val q64SkewConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    // sized for the sf0.01–0.1 fixtures (shuffle partition stats are
    // COMPRESSED bytes, so they run far below the raw row payload):
    // 16k trips detection on the hot partition there and splits it
    // into a handful of reads — the same dial a real cluster leaves
    // at its 256 MB default
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** The deliberately skewed join under q64, built config-free so the
    * spec can plan it under explicit AQE settings: ~60% of lineitem
    * collapses onto hot key 7 (every l_partkey ≡ 0,1,2 mod 5), the
    * rest spreads over 99 keys, then a sort-merge join (merge hint;
    * the dim would otherwise broadcast and hide the shuffle) against a
    * 99-row dim and a same-key aggregation. The hot shuffle partition
    * carries ~5× the median — unambiguous to AQE's factor-2 detector
    * even after shuffle compression. */
  def skewJoined(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    // AQE splits a skewed REDUCE partition along MAP-output boundaries
    // (PartialReducerPartitionSpec), so the split can never be finer
    // than the mapper count. The local fixture is one small parquet
    // file = ONE map task, which makes every skewed partition
    // unsplittable (createSkewPartitionSpecs returns None and the rule
    // reports "0 skewed partitions" despite correct detection math).
    // The round-robin repartition emulates the many-task map side any
    // real cluster has; at 100 TB it is not needed and adds nothing.
    // l_extendedprice rides along as an effectively incompressible
    // payload (random money amounts): skew detection reads COMPRESSED
    // shuffle bytes, and a bare (constant-key, small-domain-value) demo
    // row compresses so well the hot partition's bytes look ordinary.
    // Real rows are wide; this keeps partition bytes ∝ rows.
    val fact = T.lineitem(s, d).select(
      when(col("l_partkey") % 5 < 3, lit(7L))
        .otherwise(col("l_partkey") % 100).cast("long").as("jk"),
      col("l_quantity"), col("l_extendedprice"))
      .repartition(16)
    val dim = T.part(s, d).filter(col("p_partkey") < 100)
      .select(col("p_partkey").cast("long").as("jk"))
    fact.hint("merge").join(dim, "jk")
      .groupBy("jk")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(ExactAgg.D2)).cast("double").as("total_qty"),
        sum(col("l_extendedprice").cast(ExactAgg.D2)).cast("double").as("total_price"))
      .orderBy("jk")
  }

  /** q64 — AQE skew-join handling, the runtime complement to q37's
    * manual salting: same problem (a hot join key turns one shuffle
    * partition into a straggler), zero query rewrite — AQE detects the
    * oversized partition at runtime and splits it across tasks,
    * duplicating the matching dim rows (OptimizeSkewedJoin). The
    * result is provably identical to the unsplit join, which is what
    * the oracle checks; PlanShapeSpec asserts the executed plan really
    * contains skew-split shuffle reads, so the demo can't silently
    * degenerate into an ordinary join. Executed inside the fn on a
    * conf-scoped session clone (the confs must be live at runtime —
    * the ~99-row aggregate is driver-safe to hold). */
  val q64 = QueryDef.sql("q64_aqe_skew_join",
    """WITH fact AS (
      |  SELECT CAST(CASE WHEN l_partkey % 5 < 3 THEN 7
      |              ELSE l_partkey % 100 END AS BIGINT) AS jk,
      |         l_quantity, l_extendedprice
      |  FROM lineitem),
      |dim AS (SELECT CAST(p_partkey AS BIGINT) AS jk FROM part WHERE p_partkey < 100)
      |SELECT f.jk, COUNT(*) AS n,
      |  CAST(SUM(CAST(f.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
      |  CAST(SUM(CAST(f.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM fact f JOIN dim d ON f.jk = d.jk
      |GROUP BY f.jk
      |ORDER BY f.jk""".stripMargin) { (s, d) =>
    val df = skewJoined(GraftSession.scoped(s, q64SkewConfs: _*), d)
    val (rows, schema) = (df.collect(), df.schema)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** q60 — correlated EXISTS / NOT EXISTS: customers in a segment with
    * ≥1 urgent order but no returned lineitem. The DataFrame form is
    * the semi/anti join pair Catalyst's RewritePredicateSubquery
    * produces for the SQL form the oracle runs — both sides build a
    * hash table on the (small) filtered subquery and never materialize
    * the match multiplicity, which is what keeps EXISTS cheap when one
    * customer has thousands of orders. */
  val q60 = QueryDef.sql("q60_exists_anti_join",
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE c_mktsegment = 'BUILDING'
      |  AND EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (SELECT 1 FROM orders o JOIN lineitem l
      |                    ON l.l_orderkey = o.o_orderkey
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND l.l_returnflag = 'R')
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val urgent = T.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val returned = T.orders(s, d)
      .join(T.lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"))
    T.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .join(urgent, col("c_custkey") === urgent("o_custkey"), "left_semi")
      .join(returned, col("c_custkey") === returned("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** q65 — LATERAL correlated subquery with ORDER BY + LIMIT (Spark 4
    * SQL surface): the "top-2 orders per customer" shape written the
    * way an analyst ports it from Postgres/DuckDB. Catalyst decorrelates
    * the LIMIT-under-correlation into a partitioned window
    * (DecorrelateInnerQuery → WindowGroupLimit at the physical layer),
    * so the plan is the same rank-filter q11 builds by hand — per-key
    * top-k with map-side group limits, no per-customer re-execution.
    * Customers capped to ≤200 only to bound oracle output. */
  val q65 = QueryDef.sql("q65_lateral_topk",
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey
      |  LIMIT 2) t
      |WHERE c.c_custkey <= 200
      |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin) { (s, d) =>
    T.customer(s, d).createOrReplaceTempView("customer")
    T.orders(s, d).createOrReplaceTempView("orders")
    s.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 2) t
        |WHERE c.c_custkey <= 200
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
  }

  /** q67 — SCD2 (slowly-changing-dimension type 2) merge: the
    * incremental-ingestion shape every warehouse runs when a CDC batch
    * of dimension updates lands. For each changed key the current
    * version is closed out (is_current=false, valid_to stamped) and a
    * new version opens; unchanged keys pass through. Spark has no
    * MERGE INTO for parquet v1 tables, so this is the plan MERGE
    * lowers to anyway: base LEFT JOIN updates + a per-row 1-or-2
    * version explode. The update batch is BROADCAST (CDC deltas are
    * small next to the dimension), so the base table never shuffles —
    * the 100 TB shape; the version fanout is a narrow generate.
    * The changed-balance arithmetic (+100.0) is one IEEE double add —
    * bit-identical in both engines. */
  val q67 = QueryDef.sql("q67_scd2_merge",
    """WITH u AS (
      |  SELECT c_custkey, c_acctbal + 100.0 AS new_bal
      |  FROM customer WHERE c_custkey % 10 = 0)
      |SELECT * FROM (
      |  SELECT c.c_custkey, 1 AS version, c.c_acctbal AS balance,
      |    u.c_custkey IS NULL AS is_current,
      |    CASE WHEN u.c_custkey IS NULL THEN NULL ELSE DATE '2024-06-01' END
      |      AS valid_to
      |  FROM customer c LEFT JOIN u ON c.c_custkey = u.c_custkey
      |  UNION ALL
      |  SELECT c_custkey, 2 AS version, new_bal AS balance,
      |    true AS is_current, CAST(NULL AS DATE) AS valid_to
      |  FROM u) v
      |ORDER BY c_custkey, version""".stripMargin) { (s, d) =>
    val base = T.customer(s, d)
    val upd = T.customer(s, d)
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("new_bal"))
    val closedDate = to_date(lit("2024-06-01"))
    val nullDate = lit(null).cast("date")
    base.join(broadcast(upd), Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        explode(when(col("new_bal").isNull,
          array(struct(lit(1).as("version"), col("c_acctbal").as("balance"),
            lit(true).as("is_current"), nullDate.as("valid_to"))))
          .otherwise(array(
            struct(lit(1).as("version"), col("c_acctbal").as("balance"),
              lit(false).as("is_current"), closedDate.as("valid_to")),
            struct(lit(2).as("version"), col("new_bal").as("balance"),
              lit(true).as("is_current"), nullDate.as("valid_to"))))).as("v"))
      .select(col("c_custkey"), col("v.version"), col("v.balance"),
        col("v.is_current"), col("v.valid_to"))
      .orderBy("c_custkey", "version")
  }

  /** Session settings for [[q69]]: the runtime bloom filter only pays
    * for itself on a genuinely large probe scan, so Spark gates it on a
    * 10 GB application-side threshold — far above the local fixture.
    * Zeroing the byte thresholds here is the ONLY local tuning; a real
    * cluster reading 100 TB of lineitem leaves both at their defaults
    * and gets the same plan. Broadcast is disabled because a broadcast
    * hash join already prunes the probe side with its own runtime
    * filter — the bloom path exists precisely for joins too big to
    * broadcast (InjectRuntimeFilter targets probable shuffle joins). */
  val q69BloomConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** The selective fact⋈dim join under [[q69]], built config-free so
    * the spec can plan it under explicit settings and assert the
    * injected `might_contain` filter is really there. The dim side
    * (urgent finished orders) carries the selective literal predicates
    * InjectRuntimeFilter looks for; the fact side is the full lineitem
    * scan it protects. */
  def bloomJoined(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val dim = T.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    T.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(ExactAgg.D2)).cast("double").as("total_qty"))
      .orderBy("l_returnflag")
  }

  /** q69 — runtime bloom-filter join pruning (semi-join reduction):
    * when a shuffle join's build side is selectively filtered, Catalyst
    * plants a BloomFilterAggregate over the dim keys and a
    * `might_contain` filter on the fact SCAN — fact rows that cannot
    * match are dropped BEFORE the shuffle, which at 100 TB is the
    * difference between exchanging the whole table and exchanging the
    * ~20% that survives. False positives just travel to the join and
    * drop there, so the result is provably the plain join's — which is
    * what the oracle checks; PlanShapeSpec asserts the executed plan
    * really contains the injected filter, so the demo can't silently
    * degenerate into an unpruned join. Runs inside the fn on a
    * conf-scoped session clone (≤3-row agg is driver-safe). */
  val q69 = QueryDef.sql("q69_bloom_runtime_filter",
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'F'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val df = bloomJoined(GraftSession.scoped(s, q69BloomConfs: _*), d)
    val (rows, schema) = (df.collect(), df.schema)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  val defs: Seq[QueryDef] = Seq(q34, q35, q36, q37, q60, q64, q65, q67, q69)
}
