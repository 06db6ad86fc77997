package graft.operators

import graft.{QueryDef, Tables => T}
import graft.functions.ExactAgg._
import graft.obs.QueryProfile
import org.apache.spark.sql.functions._

/** Storage-layout operators — the physical-design levers that matter at
  * 100 TB: partitioned layouts (partition pruning), bucketed layouts
  * (shuffle-free joins), plus the remaining join variants (outer) and
  * bag-semantics set ops.
  */
object Storage {

  /** Scratch dir for layout round-trip queries. One per (query, dataset
    * dir) reused across invocations in this JVM (writes are
    * mode=overwrite), registered for recursive deletion at JVM exit —
    * repeated Verify/Bench runs must not leak table copies into /tmp. */
  private val scratchDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def scratchDir(prefix: String, d: String): String =
    scratchDirs.getOrElseUpdate(s"$prefix|$d", {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      sys.addShutdownHook {
        import java.nio.file.{Files, Path}
        import scala.jdk.CollectionConverters._
        if (Files.exists(p)) {
          val paths = Files.walk(p).iterator().asScala.toSeq
          paths.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_: Path))
        }
      }
      p.toString
    })

  /** q38 — partitioned write + pruned read: documents written
    * partitionBy(lang), read back with a partition filter. The oracle
    * reads the original table directly, so a hash match proves the
    * partitioned layout is lossless AND the pruned subset is exact.
    * (`graft.Explain` on this query shows PartitionFilters with no
    * lang column in the data scan.) */
  val q38 = QueryDef.sql("q38_partition_pruning",
    """SELECT source, COUNT(*) AS n,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |WHERE lang IN ('en', 'de')
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, d) =>
    val tmp = scratchDir("graft_part", d)
    T.documents(s, d).write.mode("overwrite").partitionBy("lang").parquet(tmp)
    // layout is immutable once built (scratchDir memoizes per dir) —
    // memoized schema skips the per-run partitioned-dir inference (r18)
    s.read.schema(T.fileSchema(s, tmp)).parquet(tmp)
      .filter(col("lang").isin("en", "de")) // partition-pruned scan
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("total_chars"))
      .orderBy("source")
  }

  /** q39 — bucketed co-located join: orders and lineitem saved bucketed
    * by the join key; the join then needs NO shuffle on either side
    * (asserted in StorageSpec via the physical plan). Oracle = the same
    * join over the plain tables. */
  val q39 = QueryDef.sql("q39_bucketed_join",
    """SELECT o.o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY o.o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    bucketedJoin(s, d)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** The bucketed join itself (shared with the plan assertion in
    * StorageSpec). Bucket count 8 on the join key both sides. */
  def bucketedJoin(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    // table names carry a dataset-dir fingerprint: a fixed name would
    // silently serve the FIRST dir's data to a later dir in the same
    // session
    val tag = java.lang.Integer.toHexString(d.hashCode).replace('-', 'n')
    val (to, tl) = (s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
    // the two CTAS writes are q39's one-time build stages (Bench prices
    // them out of a cold-only minimum)
    if (!s.catalog.tableExists(to) || !s.catalog.tableExists(tl)) {
      QueryProfile.phase(s, "build_bucketed_orders")(T.orders(s, d).write
        .mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(to))
      QueryProfile.phase(s, "build_bucketed_lineitem")(T.lineitem(s, d).write
        .mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(tl))
    }
    val o = s.table(to)
    val l = s.table(tl)
    o.join(l, o("o_orderkey") === l("l_orderkey"))
  }

  /** q40 — outer-join variants: full outer customer⋈orders with null
    * accounting (customers without orders + orphan order keys). */
  val q40 = QueryDef.sql("q40_full_outer_join",
    """SELECT
      |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS customers_without_orders,
      |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_orders,
      |  COUNT(*) AS total_rows,
      |  CAST(SUM(CAST(coalesce(o_totalprice, 0e0) AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM customer c FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey""".stripMargin) { (s, d) =>
    val c = T.customer(s, d)
    val o = T.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .agg(
        sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("customers_without_orders"),
        sum(when(col("c_custkey").isNull, 1).otherwise(0)).as("orphan_orders"),
        count(lit(1)).as("total_rows"),
        dsum(coalesce(col("o_totalprice"), lit(0.0))).as("total_value"))
  }

  /** q41 — bag-semantics set ops: INTERSECT ALL / EXCEPT ALL keep
    * multiplicities (vs q19's set semantics). */
  val q41 = QueryDef.sql("q41_bag_set_ops",
    """WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'),
      |     b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_linestatus = 'F')
      |SELECT k, COUNT(*) AS n FROM (
      |  SELECT k FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) i
      |  UNION ALL
      |  SELECT k FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) e) u
      |GROUP BY k
      |ORDER BY k""".stripMargin) { (s, d) =>
    val li = T.lineitem(s, d)
    val a = li.filter(col("l_returnflag") === "R").select(col("l_suppkey").as("k"))
    val b = li.filter(col("l_linestatus") === "F").select(col("l_suppkey").as("k"))
    a.intersectAll(b).union(a.exceptAll(b))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k")
  }

  /** q42 — null semantics: nullif/coalesce/null-safe equality and
    * null-aware counting over a derived nullable column. */
  val q42 = QueryDef.sql("q42_null_semantics",
    """SELECT
      |  COUNT(*) AS n_rows,
      |  COUNT(disc) AS n_nonnull,
      |  CAST(SUM(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  CAST(SUM(CAST(coalesce(disc, -1e0) AS DECIMAL(18,2))) AS DOUBLE) AS coalesced_sum,
      |  CAST(SUM(CASE WHEN disc IS NOT DISTINCT FROM 0.05e0 THEN 1 ELSE 0 END) AS BIGINT) AS nullsafe_eq_05
      |FROM (SELECT nullif(l_discount, 0e0) AS disc FROM lineitem) t""".stripMargin) { (s, d) =>
    T.lineitem(s, d)
      .select(expr("nullif(l_discount, 0D)").as("disc"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("disc")).as("n_nonnull"),
        sum(when(col("disc").isNull, 1).otherwise(0)).as("n_null"),
        dsum(coalesce(col("disc"), lit(-1.0))).as("coalesced_sum"),
        sum(when(col("disc") <=> lit(0.05), 1).otherwise(0)).as("nullsafe_eq_05"))
  }

  /** q48 — CSV sink + source round-trip (header + explicit schema on
    * re-read; oracle reads the original parquet — a hash match proves
    * the CSV writer/reader round-trips types and quoting losslessly). */
  val q48 = QueryDef.sql("q48_csv_roundtrip",
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
      |  min(c_name) AS first_name
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val tmp = scratchDir("graft_csv", d)
    val c = T.customer(s, d)
    c.write.mode("overwrite").option("header", "true").csv(tmp)
    s.read.schema(c.schema).option("header", "true").csv(tmp)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        dsum(col("c_acctbal")).as("total_bal"),
        min("c_name").as("first_name"))
      .orderBy("c_mktsegment")
  }

  /** q49 — statistical aggregates from exact moments: native corr/stddev
    * accumulate doubles order-dependently (no stable hash), so the
    * moments Σx, Σy, Σxy, Σx², n are summed exactly in decimal (2-dec
    * inputs → 4-dec products) and the textbook formulas run once in
    * double — deterministic AND engine-portable. */
  val q49 = QueryDef.sql("q49_exact_moment_stats",
    """WITH m AS (
      |  SELECT l_returnflag,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
      |  (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_disc
      |FROM m
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    // widened: 5 decimal product-sums fused into the single-row-group
    // scan task otherwise (guide §2.5; order-independent by ExactAgg)
    T.widened(T.lineitem(s, d)
        .select("l_returnflag", "l_quantity", "l_discount"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sx"),
        dsum(col("l_discount")).as("sy"),
        dsum(col("l_quantity") * col("l_discount"), D4).as("sxy"),
        dsum(col("l_quantity") * col("l_quantity"), D4).as("sxx"),
        dsum(col("l_discount") * col("l_discount"), D4).as("syy"))
      .select(col("l_returnflag"), col("n"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("stddev_qty"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_disc"))
      .orderBy("l_returnflag")
  }

  /** q53 — ORC sink + source round-trip (same oracle pattern as
    * q35/q48: the oracle reads the original parquet, so the hash match
    * proves the ORC writer/reader is lossless for these types). */
  val q53 = QueryDef.sql("q53_orc_roundtrip",
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  min(l_shipdate) AS first_ship
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val tmp = scratchDir("graft_orc", d)
    val li = T.lineitem(s, d)
    // widened by HASH key, not round-robin (guide §2.5): the per-run
    // ORC encode of the full table otherwise runs in the single
    // row-carrying scan task and the read-back agg in the single
    // resulting stripe. Keyless repartition would first pay
    // sortBeforeRepartition's local sort of 600k wide rows INSIDE that
    // single task; hash-distributing on the near-unique l_orderkey
    // spreads without the sort. The agg's values are
    // file-layout-independent (count/dsum/min).
    T.widenedBy(li, 2L << 20, col("l_orderkey"))
      .write.mode("overwrite").orc(tmp)
    // schema supplied (q48's CSV pattern): skips a footer-inference job
    // per run; the value round-trip is still what the oracle hashes (r18)
    s.read.schema(li.schema).orc(tmp)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"),
        min("l_shipdate").as("first_ship"))
      .orderBy("l_returnflag")
  }

  /** q54 — MapType surface: build a map from the exploded event-type
    * counts per user, then interrogate it (keys/values/lookup). Output
    * as sorted, comma-joined strings — map column *layout* differs
    * across engines (and array cells break the driver's pandas sort),
    * map semantics don't. */
  val q54 = QueryDef.sql("q54_map_functions",
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS n
      |  FROM events WHERE user_id < 30 GROUP BY user_id, event_type)
      |SELECT user_id,
      |  array_to_string(list_sort(list(event_type)), ',') AS type_keys,
      |  array_to_string(list_sort(list(n)), ',') AS type_counts,
      |  CAST(len(list(event_type)) AS INTEGER) AS n_types
      |FROM c
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    T.events(s, d)
      .filter(col("user_id") < 30)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(map_from_entries(collect_list(struct(col("event_type"), col("n")))).as("m"))
      .select(col("user_id"),
        array_join(array_sort(map_keys(col("m"))), ",").as("type_keys"),
        array_join(array_sort(map_values(col("m"))).cast("array<string>"), ",").as("type_counts"),
        size(col("m")).as("n_types"))
      .orderBy("user_id")
  }

  /** q56 — filtered and boolean aggregates: count_if / bool_or /
    * bool_and (oracle uses the standard FILTER clause + bool aggs). */
  val q56 = QueryDef.sql("q56_filtered_bool_aggs",
    """SELECT c_mktsegment,
      |  COUNT(*) FILTER (WHERE c_acctbal < 0e0) AS n_negative,
      |  bool_or(c_acctbal > 9000e0) AS has_rich,
      |  bool_and(c_acctbal > -1000e0) AS none_deep_debt,
      |  COUNT(*) AS n
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    T.customer(s, d)
      .groupBy("c_mktsegment")
      .agg(
        count_if(col("c_acctbal") < 0.0).as("n_negative"),
        bool_or(col("c_acctbal") > 9000.0).as("has_rich"),
        bool_and(col("c_acctbal") > -1000.0).as("none_deep_debt"),
        count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  /** q59 — JSON-lines sink + source round-trip (explicit schema on
    * re-read; oracle reads the original parquet, so a hash match proves
    * the JSON writer/reader round-trips strings, doubles and dates
    * losslessly — including shortest-repr double printing). */
  val q59 = QueryDef.sql("q59_json_roundtrip",
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
      |  max(c_name) AS last_name
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val tmp = scratchDir("graft_json", d)
    val c = T.customer(s, d)
    c.write.mode("overwrite").json(tmp)
    s.read.schema(c.schema).json(tmp)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        dsum(col("c_acctbal")).as("total_bal"),
        max("c_name").as("last_name"))
      .orderBy("c_mktsegment")
  }

  /** q62 — XML sink + source round-trip (Spark 4's native XML data
    * source, the spark-xml lineage folded into spark-sql): nation
    * written as row-tagged XML, re-read with an explicit schema, and
    * aggregated — a hash match against the parquet-side oracle proves
    * the XML writer/reader round-trips types and escaping losslessly.
    * Same contract as the CSV/ORC/JSON round-trips (q48/q53/q59). */
  val q62 = QueryDef.sql("q62_xml_roundtrip",
    """SELECT n_regionkey, COUNT(*) AS n, min(n_name) AS first_name,
      |  max(n_name) AS last_name
      |FROM nation
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin) { (s, d) =>
    val tmp = scratchDir("graft_xml", d)
    val nat = T.nation(s, d)
    nat.write.mode("overwrite")
      .option("rootTag", "nations").option("rowTag", "nation")
      .format("xml").save(tmp)
    s.read.schema(nat.schema).option("rowTag", "nation").format("xml").load(tmp)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), min("n_name").as("first_name"),
        max("n_name").as("last_name"))
      .orderBy("n_regionkey")
  }

  /** q63 — native recursive CTE (WITH RECURSIVE, new in Spark 4):
    * a 12-step compound-growth projection of each segment's balance
    * total — iterative computation expressed declaratively, the class
    * of query that previously needed a driver-side loop (cf. dd05's
    * hand-rolled label propagation; a cyclic transitive closure still
    * needs the loop — Spark 4.1 recursion supports UNION ALL only, and
    * cycle termination needs UNION distinct). The multiply chain is
    * sequential by construction, so the doubles match bit-for-bit
    * across engines. */
  val q63 = QueryDef.sql("q63_recursive_cte",
    """WITH RECURSIVE proj(seg, month, val) AS (
      |  SELECT c_mktsegment, 0, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |  FROM customer GROUP BY c_mktsegment
      |  UNION ALL
      |  SELECT seg, month + 1, val * 1.05e0 FROM proj WHERE month < 12)
      |SELECT seg, month, val FROM proj ORDER BY seg, month""".stripMargin) { (s, d) =>
    val view = s"customer_q63_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    T.customer(s, d).createOrReplaceTempView(view)
    try s.sql(
      s"""WITH RECURSIVE proj(seg, month, val) AS (
         |  SELECT c_mktsegment, 0, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         |  FROM $view GROUP BY c_mktsegment
         |  UNION ALL
         |  SELECT seg, month + 1, val * 1.05e0 FROM proj WHERE month < 12)
         |SELECT seg, month, val FROM proj ORDER BY seg, month""".stripMargin)
    finally s.catalog.dropTempView(view)
  }

  /** Bit-spread for the Morton (Z-order) code: every bit of a 32-bit
    * key moved to the even positions of a 64-bit word via the classic
    * magic-mask doubling sequence — pure BIGINT shifts/masks, so the
    * oracle recomputes the identical value in DuckDB. */
  private val spreadMasks = Seq(
    16 -> 281470681808895L,    // 0x0000FFFF0000FFFF
    8 -> 71777214294589695L,   // 0x00FF00FF00FF00FF
    4 -> 1085102592571150095L, // 0x0F0F0F0F0F0F0F0F
    2 -> 3689348814741910323L, // 0x3333333333333333
    1 -> 6148914691236517205L) // 0x5555555555555555

  private def spread(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    spreadMasks.foldLeft(c.cast("long").bitwiseAND(lit(4294967295L))) {
      case (x, (sh, m)) => x.bitwiseOR(shiftleft(x, sh)).bitwiseAND(lit(m))
    }

  /** 16-bit normalization before the interleave: the fixtures keep a
    * ~20:1 partkey:suppkey cardinality ratio, so interleaving the RAW
    * keys puts partkey's 4-5 extra high bits above every suppkey bit
    * and the z sort degenerates into a partkey sort (measured: 16 files
    * bound partkey 15/16, suppkey 0/16). Scaling each key linearly onto
    * [0, 65535] first — what production z-order implementations do with
    * a rank/range pass — makes the top z bits alternate between the two
    * dimensions at ANY scale factor, so range partitions are compact
    * 2-D blocks. Pure integer arithmetic off the table's min/max, so
    * the oracle recomputes identical z values. */
  private def scale16sql(k: String, lo: Long, hi: Long): String =
    s"((CAST($k AS BIGINT) - $lo) * 65535) DIV ${math.max(hi - lo, 1L)}"

  /** Z-value of the scaled (l_partkey, l_suppkey) — partkey on even
    * bits, suppkey on odd. Integer `DIV` (DuckDB `//`) keeps the
    * scaling exact in both engines — no float rounding anywhere. */
  private[operators] def zCol(pLo: Long, pHi: Long, sLo: Long, sHi: Long): org.apache.spark.sql.Column =
    spread(expr(scale16sql("l_partkey", pLo, pHi)))
      .bitwiseOR(shiftleft(spread(expr(scale16sql("l_suppkey", sLo, sHi))), 1))

  /** Writes lineitem Z-clustered on (l_partkey, l_suppkey) — z-sorted
    * range partitions, z kept as a column — and returns the path.
    * Shared by [[q70]] and the data-skipping spec. The key-bounds agg
    * collects 4 longs (driver-safe; at 100 TB it is one cheap
    * footer-stats pass a layout job runs once). */
  private[graft] def zorderedLayout(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val tmp = scratchDir("graft_zorder", d)
    val (li, b) = QueryProfile.phase(s, "key_bounds_agg") {
      val li = T.lineitem(s, d)
      (li, li.agg(min("l_partkey"), max("l_partkey"), min("l_suppkey"), max("l_suppkey")).head)
    }
    QueryProfile.phase(s, "zorder_layout_write")(
      li.select(col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
          col("l_quantity"),
          zCol(b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3)).as("z"))
        .repartitionByRange(16, col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite").parquet(tmp))
    tmp
  }

  /** q70 — Z-order clustering for multi-dimensional data skipping: a
    * single sort key can make parquet min/max stats tight in ONE
    * dimension only; interleaving the bits of two keys (Morton code)
    * gives a 1-D sort whose range partitions are compact 2-D blocks, so
    * a box predicate on EITHER column prunes whole files by footer
    * stats — at 100 TB this is the layout lever (Delta/Iceberg OPTIMIZE
    * ZORDER BY) that turns a full scan into a few-percent scan without
    * any index structure. The query round-trips lineitem through the
    * z-clustered layout and answers a 2-D box query; min/max of the
    * z-value ride along so the oracle pins the interleave arithmetic
    * itself (recomputed bit-for-bit in DuckDB), not just the layout's
    * losslessness. StorageSimilaritySpec asserts the skipping actually
    * works: under the z layout a suppkey-only predicate excludes whole
    * files by per-file min/max, which a partkey-sorted layout can never
    * do. */
  val q70 = QueryDef.sql("q70_zorder_clustering",
    """WITH bounds AS (
      |  SELECT MIN(CAST(l_partkey AS BIGINT)) AS plo, MAX(CAST(l_partkey AS BIGINT)) AS phi,
      |         MIN(CAST(l_suppkey AS BIGINT)) AS slo, MAX(CAST(l_suppkey AS BIGINT)) AS shi
      |  FROM lineitem),
      |b AS (
      |  SELECT l_returnflag, l_quantity,
      |    ((CAST(l_partkey AS BIGINT) - plo) * 65535) // GREATEST(phi - plo, 1) AS px,
      |    ((CAST(l_suppkey AS BIGINT) - slo) * 65535) // GREATEST(shi - slo, 1) AS sx
      |  FROM lineitem, bounds
      |  WHERE l_partkey BETWEEN 16 AND 47 AND l_suppkey BETWEEN 2 AND 5),
      |z1 AS (SELECT l_returnflag, l_quantity,
      |  ((px | (px << 16)) & 281470681808895) AS px,
      |  ((sx | (sx << 16)) & 281470681808895) AS sx FROM b),
      |z2 AS (SELECT l_returnflag, l_quantity,
      |  ((px | (px << 8)) & 71777214294589695) AS px,
      |  ((sx | (sx << 8)) & 71777214294589695) AS sx FROM z1),
      |z3 AS (SELECT l_returnflag, l_quantity,
      |  ((px | (px << 4)) & 1085102592571150095) AS px,
      |  ((sx | (sx << 4)) & 1085102592571150095) AS sx FROM z2),
      |z4 AS (SELECT l_returnflag, l_quantity,
      |  ((px | (px << 2)) & 3689348814741910323) AS px,
      |  ((sx | (sx << 2)) & 3689348814741910323) AS sx FROM z3),
      |z5 AS (SELECT l_returnflag, l_quantity,
      |  ((px | (px << 1)) & 6148914691236517205) AS px,
      |  ((sx | (sx << 1)) & 6148914691236517205) AS sx FROM z4)
      |SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
      |  MIN(px | (sx << 1)) AS z_min, MAX(px | (sx << 1)) AS z_max
      |FROM z5
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val tmp = zorderedLayout(s, d)
    // layout immutable once built — memoized schema (r18, see q38)
    s.read.schema(T.fileSchema(s, tmp)).parquet(tmp)
      .filter(col("l_partkey").between(16, 47) && col("l_suppkey").between(2, 5))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("total_qty"),
        min(col("z")).as("z_min"), max(col("z")).as("z_max"))
      .orderBy("l_returnflag")
  }

  /** q72 — compaction planning: the layout-maintenance pass every
    * long-lived 100 TB table needs (Delta/Iceberg OPTIMIZE's binning
    * step). `documents` plays the file manifest (doc_id = file id,
    * n_chars = file bytes); files are packed in id order into bins that
    * OPEN at each multiple of the 16 KiB target — a file belongs to the
    * bin its starting byte offset falls in, so oversized files occupy
    * bins alone and small files coalesce. The assignment is a pure
    * function of the ordered prefix sum: bin = floor((cum − bytes) /
    * target). The running sum is the two-pass distributed scan
    * ([[graft.GlobalCumsum]]) — the windowed SUM OVER the oracle uses
    * would collapse a real manifest to one partition. Output one row
    * per planned output bin; every column value-oracled. */
  val q72 = QueryDef.sql("q72_compaction_plan",
    """WITH m AS (
      |  SELECT doc_id, n_chars,
      |    SUM(n_chars) OVER (ORDER BY doc_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM documents)
      |SELECT CAST((cum - n_chars) // 16384 AS BIGINT) AS bin_id,
      |  COUNT(*) AS n_files,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
      |  MIN(doc_id) AS first_file, MAX(doc_id) AS last_file
      |FROM m
      |GROUP BY 1
      |ORDER BY bin_id""".stripMargin) { (s, d) =>
    val manifest = T.documents(s, d).select("doc_id", "n_chars")
    graft.GlobalCumsum
      .withRunningSum(manifest, Seq(col("doc_id")), "n_chars", "cum")
      .withColumn("bin_id", floor((col("cum") - col("n_chars")) / lit(16384)))
      .groupBy("bin_id")
      .agg(count(lit(1)).as("n_files"), sum("n_chars").as("total_bytes"),
        min("doc_id").as("first_file"), max("doc_id").as("last_file"))
      .orderBy("bin_id")
  }

  val defs: Seq[QueryDef] =
    Seq(q38, q39, q40, q41, q42, q48, q49, q53, q54, q56, q59, q62, q63, q70,
      q72)
}
