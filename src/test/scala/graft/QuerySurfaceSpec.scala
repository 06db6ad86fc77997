package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(GraftSession.cpus)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

/** Smoke + invariants for the declared query surface at sf0.001.
  * (Value-level correctness is the driver's DuckDB oracle gate at sf0.01;
  * tools/parity.py reproduces it locally.) */
class QuerySurfaceSpec extends AnyFunSuite {
  import TestSpark._

  test("every declared query runs and yields a deterministic schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("ml08: kmeans invariants hold and the kernel is seed-deterministic") {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.Vectors
    val rows = SparkEntry.queries("ml08_kmeans_clusters")(spark, sf).collect()
    assert(rows.length == 8)
    assert(rows.forall(r => r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3)),
      "an ml08 invariant boolean is false")
    assert(rows.map(_.getLong(4)).distinct.toSeq ==
      Seq(Tables.documents(spark, sf).count()))
    // the seeded kernel itself: same seed → identical centers
    import spark.implicits._
    val vecs = (0 until 200)
      .map(i => Tuple1(Vectors.dense(math.sin(i * 1.7), math.cos(i * 0.9), (i % 7).toDouble)))
      .toDF("features")
    def centersOf(seed: Long) =
      new KMeans().setK(4).setSeed(seed).setFeaturesCol("features")
        .fit(vecs).clusterCenters.map(_.toArray.toSeq).toSeq
    assert(centersOf(7L) == centersOf(7L))
  }

  test("every oracle key exists in queries") {
    val qs = SparkEntry.queries.keySet
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), s"orphan oracle $k"))
  }

  test("query names are unique and oracles reference only real tables") {
    val names = operators.Relational.defs ++ operators.Windows.defs ++
      operators.Grouping.defs ++ operators.Scalars.defs ++
      operators.TextAnalysis.defs ++ operators.Curation.defs ++
      operators.Dedup.defs ++
      operators.Similarity.defs ++ operators.MlQueries.defs ++
      operators.Advanced.defs ++ operators.Extras.defs ++
      operators.Storage.defs ++ operators.Reshape.defs ++
      operators.Graph.defs ++
      streaming.Streams.defs ++ multimodal.Multimodal.defs
    assert(names.map(_.name).distinct.size == names.size, "duplicate query name")
    assert(names.size == SparkEntry.queries.size, "module not wired into SparkEntry")
    val tables = Tables.all.toSet
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val fromRefs = "(?i)(?:FROM|JOIN)\\s+([a-z_][a-z0-9_]*)".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val unknown = fromRefs -- tables -- Set("values") // CTE names resolve locally
      // every unknown name must be a CTE defined inside the query itself
      unknown.foreach(t =>
        assert(sql.toLowerCase.contains(s"$t as (") || sql.toLowerCase.contains(s"$t(") ,
          s"$name references unknown table $t"))
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q52 native top-k aggregate equals the q11 window form") {
    val agg = SparkEntry.queries("q52_topk_aggregate")(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(",").filter(_.nonEmpty).map(_.toLong).toList)
      .toMap
    val win = SparkEntry.queries("q11_top_orders_per_customer")(spark, sf)
      .collect().groupBy(_.getLong(0))
      .map { case (ck, rows) =>
        ck -> rows.sortBy(_.getLong(3)).map(_.getLong(1)).toList
      }
    assert(agg == win, "TypedImperativeAggregate top-k must match window top-k")
  }

  test("q01 aggregates are exact-decimal stable across partitionings") {
    val a = SparkEntry.queries("q01_pricing_summary")(spark, sf).collect()
    val b = operators.Relational.q01.fn(spark, sf).repartition(7).collect()
    // same rows regardless of partitioning (sum is decimal-exact)
    assert(a.map(_.toSeq).toSet == b.map(_.toSeq).toSet)
  }

  test("q02 top-k is ordered") {
    val rows = SparkEntry.queries("q02_topk_orders")(spark, sf).collect()
    val prices = rows.map(_.getDouble(2))
    assert(prices.zip(prices.tail).forall { case (x, y) => x >= y })
  }

  test("q19 symmetric difference disjoint from intersection") {
    val df = SparkEntry.queries("q19_cohort_symmetric_diff")(spark, sf)
    assert(df.count() > 0)
  }

  test("q66 listagg is sorted within each group and counts agree") {
    SparkEntry.queries("q66_ordered_set_aggs")(spark, sf).collect().foreach { r =>
      val names = r.getAs[String]("nations").split(",").toSeq
      assert(names == names.sorted, "listagg must respect WITHIN GROUP order")
      assert(names.length == r.getAs[Long]("n_nations"))
    }
  }

  test("q67 SCD2: changed keys carry exactly two versions, v1 closed") {
    val rows = SparkEntry.queries("q67_scd2_merge")(spark, sf).collect()
    val nCust = spark.read.parquet(s"$sf/customer.parquet").count()
    val byKey = rows.groupBy(_.getAs[Long]("c_custkey"))
    assert(byKey.size == nCust)
    byKey.foreach { case (k, vs) =>
      if (k % 10 == 0) {
        assert(vs.length == 2)
        val v1 = vs.find(_.getAs[Int]("version") == 1).get
        val v2 = vs.find(_.getAs[Int]("version") == 2).get
        assert(!v1.getAs[Boolean]("is_current") && v1.getAs[java.sql.Date]("valid_to") != null)
        assert(v2.getAs[Boolean]("is_current") && v2.getAs[java.sql.Date]("valid_to") == null)
        assert(v2.getAs[Double]("balance") == v1.getAs[Double]("balance") + 100.0)
      } else {
        assert(vs.length == 1 && vs.head.getAs[Boolean]("is_current"))
      }
    }
  }

  test("dd12 minhash estimator is exact on exact duplicates") {
    val rows = SparkEntry.queries("dd12_minhash_estimator")(spark, sf).collect()
    assert(rows.nonEmpty, "fixture near-dup pairs must exist")
    rows.foreach { r =>
      val (j, e) = (r.getAs[Double]("jaccard"), r.getAs[Double]("est_j"))
      assert(e >= 0.0 && e <= 1.0)
      assert(r.getAs[Double]("abs_err") == math.abs(e - j))
      // identical shingle sets hash to identical signatures: J=1 -> est=1
      if (j == 1.0) assert(e == 1.0 && r.getAs[Boolean]("within_2sigma"))
    }
  }

  test("ta13 merge candidates are ranked adjacent pairs") {
    val rows = SparkEntry.queries("ta13_bpe_merge_learn")(spark, sf).collect()
    assert(rows.length == 20)
    val cnts = rows.map(_.getAs[Long]("cnt"))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b }, "ranked by count")
    rows.foreach(r => assert(r.getAs[String]("pair").length == 2))
    // the top pair really is the max over a direct recount
    import org.apache.spark.sql.functions._
    val direct = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(
        expr("transform(sequence(1, length(w)-1), i -> substring(w, i, 2))")).as("p"))
      .groupBy("p").count().agg(max("count")).head().getLong(0)
    assert(cnts.head == direct)
  }
}
