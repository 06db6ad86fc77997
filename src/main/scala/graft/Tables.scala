package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Parquet table registry over the driver-generated test data
  * (see TESTDATA.md / FIXTURES.md §B).
  *
  * At 100 TB these reads become partitioned parquet directory scans; the
  * single-file layout here is the sf-local stand-in. All downstream
  * operators keep filters/projections declarative so Catalyst pushes them
  * into the scan (`PushedFilters` / `ReadSchema`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet schema memo — the catalog pattern (guide §5: the driver
    * should do almost no data work). A bare `spark.read.parquet(path)`
    * infers the schema by reading footers through a Spark JOB: measured
    * 130–300 ms of driver+scheduler latency per call at sf0.1, paid by
    * EVERY query invocation (multi-table queries several times over —
    * constructing just the lazy q/ta/tf surface cost 47 s of pure
    * metadata re-reads per bench pass). Supplying the schema skips the
    * inference job (~10 ms). The memo caches ONLY input metadata of an
    * immutable fixture file — never results — and the key carries the
    * file's (mtime, size) so a rewritten file can never serve a stale
    * schema; at 100 TB this is exactly what reading through a metastore
    * catalog does instead of per-query footer inference. Keyed by
    * applicationId like every other memo (fresh JVM → fresh cache). */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.types.StructType]

  private[graft] def fileSchema(
      s: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    val stamp = try {
      val a = java.nio.file.Files.readAttributes(
        java.nio.file.Paths.get(path),
        classOf[java.nio.file.attribute.BasicFileAttributes])
      s"${a.lastModifiedTime.toMillis}|${a.size}"
    } catch { case NonFatal(_) => "nofile" }
    schemaCache.getOrElseUpdate(
      s"${s.sparkContext.applicationId}|$path|$stamp",
      s.read.parquet(path).schema)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else {
      val p = s"$dir/$name.parquet"
      spark.read.schema(fileSchema(spark, p)).parquet(p)
    }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has shipped `ts` under two parquet encodings:
    * TIMESTAMP(NANOS) — which Spark's vectorized reader only accepts as a
    * raw long via `spark.sql.legacy.parquet.nanosAsLong` (set session-wide
    * by Verify/Bench/tests) — and plain TIMESTAMP(MICROS), which reads
    * natively (as TIMESTAMP_NTZ when the file is not UTC-adjusted). A real
    * ingest sees both, so the loader adapts on the *raw* schema instead of
    * assuming one encoding:
    *   - LongType  → nanos-as-long read; rebuild via `div 1000` (the
    *     fixture's nanos are microsecond-aligned, so this is lossless);
    *   - TimestampNTZType → cast to session-TZ TimestampType (UTC session,
    *     so the instant is preserved and `unix_micros` / oracle schema
    *     hashes match the nanos-era output bit-for-bit);
    *   - TimestampType → pass through. */
  def events(s: SparkSession, d: String): DataFrame = {
    val schema = fileSchema(s, s"$d/events.parquet")
    val raw = s.read.schema(schema).parquet(s"$d/events.parquet")
    raw.withColumn("ts", eventsTsCol(schema))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** The adaptive `ts` rebuild shared by the batch and streaming events
    * loaders — keyed off the RAW schema the reader produced. */
  private def eventsTsCol(raw: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    raw("ts").dataType match {
      case LongType      => timestamp_micros(expr("ts div 1000"))
      case TimestampType => col("ts")
      case _             => col("ts").cast(TimestampType) // TIMESTAMP_NTZ et al.
    }
  }

  /** Streaming variant of [[events]] — a file-stream source over the sf
    * dir (glob-filtered to the single fixture file; the file source
    * needs a directory) with the same adaptive `ts` normalization, so
    * every streaming operator sees the identical contract
    * (ts: TimestampType) regardless of the fixture's physical encoding. */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    val rawSchema = fileSchema(s, s"$d/events.parquet")
    s.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .withColumn("ts", eventsTsCol(rawSchema))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Row-group counts of the parquet files feeding `df`'s plan — the
    * TRUE upper bound on scan-row parallelism. A parquet row group is
    * indivisible: no matter how many byte splits the scan is cut into,
    * every row of a group lands in the ONE task whose split holds the
    * group's offset. The sf fixtures are one row group per file (and
    * gen_sf1.py's legs a handful), so counting splits wildly
    * over-estimates realized parallelism — after the r18 openCost
    * change lineitem "scans with 32 tasks", but 31 of them carry zero
    * rows. Footer-only read, memoized per (appId, path, mtime, size)
    * exactly like [[fileSchema]] (input METADATA of an immutable file,
    * never results; a rewrite is a guaranteed miss). */
  private val rowGroupCache =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  private[graft] def fileRowGroups(s: SparkSession, path: String): Int = {
    val stamp = try {
      val a = java.nio.file.Files.readAttributes(
        java.nio.file.Paths.get(path.stripPrefix("file:")),
        classOf[java.nio.file.attribute.BasicFileAttributes])
      s"${a.lastModifiedTime.toMillis}|${a.size}"
    } catch { case NonFatal(_) => "nofile" }
    rowGroupCache.getOrElseUpdate(
      s"${s.sparkContext.applicationId}|$path|$stamp", {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path),
          s.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size() finally r.close()
      })
  }

  /** Σ row groups over every parquet file scanned by `df`'s plan, or
    * None when the bound does not apply: a non-file source (in-memory
    * relations, streaming), or any width-changing node between scan and
    * top (joins, aggregates, repartitions — after an exchange the
    * physical partition count IS the realized parallelism, and looking
    * through it to the source would re-widen an already-wide frame).
    * Callers fall back to the split count then. */
  private def planRowGroups(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val narrow = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => Some(l.relation)
      case _: Project | _: Filter | _: Generate | _: Expand |
           _: SubqueryAlias | _: LocalLimit | _: GlobalLimit => None
      case _ => Some(null) // width-changing node: bound does not apply
    }
    val rels = narrow.flatten
    if (rels.contains(null)) None
    else {
      val fileRels = rels.collect { case f: HadoopFsRelation => f }
      if (fileRels.isEmpty || fileRels.size != rels.size) None
      else Some(fileRels.flatMap(_.location.inputFiles)
        .filter(_.endsWith(".parquet"))
        .map(fileRowGroups(df.sparkSession, _)).sum)
    }
  }

  /** Widen a NARROW scan before a CPU-dense per-row kernel (md5 n-gram
    * hashing, MinHash signatures): a parquet row group is indivisible,
    * so a single-row-group corpus file feeds every row to ONE task and
    * a compute-bound map over it runs single-threaded no matter how
    * many cores the executor has (measured: the whole sf1 st14
    * signature pass on one core; q01's fused 8-way decimal agg 3.0 s
    * single-task vs 0.9 s widened). Repartitions ONLY when the scan's
    * realized parallelism — min(splits, Σ source row groups), NOT the
    * split count, which openCost sizing inflates with empty splits —
    * is under half the cores: at real scale a 100 TB table carries
    * thousands of row groups, and this helper inserts NO shuffle
    * there — the guard is what keeps the local fix from becoming an
    * at-scale full-corpus round trip. */
  def widened(df: DataFrame, minBytes: Long = 2L << 20): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // size floor: below ~2 MB of scan input the repartition itself costs
    // more than the single-task kernel it parallelizes (the r9 pin guard
    // caught exactly this: dd04/dd10/dd13 +0.5 s at sf0.1 for kernels
    // that finish in 0.3 s) — widen only when there is real work to
    // spread AND the scan is narrower than half the cores. Call sites
    // whose kernel cost per input byte is MEASURED to dwarf the
    // repartition (md5 shingle chains, vector codebook encodes) pass
    // [[DenseKernelFloor]]: work density, not input bytes, is what the
    // floor is a proxy for, and the 2 MB default mis-sizes kernels that
    // do thousands of hash ops per row (dd02's shingle build: 13.4 s
    // single-task vs ~3 s widened over a 0.6 MB corpus file).
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val splits = df.rdd.getNumPartitions
    val realized = planRowGroups(df).fold(splits)(math.min(_, splits))
    if (bytes >= minBytes && realized * 2 <= target)
      df.repartition(target)
    else df
  }

  /** Size floor for [[widened]] at compute-DENSE call sites (per-row
    * kernels measured ≫ repartition cost): skips only the tiny
    * correctness-scale fixtures (sf0.001/sf0.01), where there is no
    * work worth spreading. */
  val DenseKernelFloor: Long = 256L << 10

  /** Stream-side [[widened]]: a streaming frame exposes no RDD (and no
    * realized partitioning) to measure, but a FILE-stream source's
    * layout is known before the stream starts — widen when the backing
    * files' total row-group count under-parallelizes the cores, the
    * same indivisibility argument as the batch guard (every micro-batch
    * decodes a row group in one task, and a compute-dense kernel fused
    * onto it runs single-threaded). Distributes by HASH of `key` (a
    * near-unique id — no round-robin sort barrier inside the scan
    * task). At scale an ingest dir carries many files/row groups → the
    * guard inserts no shuffle, keeping the stream map-only as designed. */
  def widenedStream(df: DataFrame, key: org.apache.spark.sql.Column,
      paths: String*): DataFrame = {
    val s = df.sparkSession
    val target = s.sparkContext.defaultParallelism
    val groups = paths.map(p =>
      try fileRowGroups(s, p) catch { case NonFatal(_) => Int.MaxValue / paths.size }).sum
    // size floor (the batch widened's 2 MB lesson, measured again here:
    // at sf0.1 the per-batch kernel is ~0.1-0.3 s and the added stream
    // shuffle cost more than it spread — st14 +0.28 s, st20 +0.36 s —
    // while at 30x the same sites won 7-13 s/query)
    val bytes = paths.map(p =>
      try java.nio.file.Files.size(java.nio.file.Paths.get(p))
      catch { case NonFatal(_) => 0L }).sum
    if (bytes >= (2L << 20) && groups * 2 <= target)
      df.repartition(target, key)
    else df
  }

  /** [[widened]] distributing by HASH of `keys` instead of round-robin.
    * Keyless repartition pays sortBeforeRepartition's local sort of the
    * ENTIRE input inside the (single) upstream task — for a wide row
    * that sort can cost more than the parallelism buys (measured: q53's
    * 16-column ORC rewrite regressed +0.3 s round-robin-widened). Hash
    * distribution on a near-unique key spreads rows with no sort. Same
    * realized-parallelism guard: no-op at real scale. */
  def widenedBy(df: DataFrame, minBytes: Long, keys: org.apache.spark.sql.Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val splits = df.rdd.getNumPartitions
    val realized = planRowGroups(df).fold(splits)(math.min(_, splits))
    if (bytes >= minBytes && realized * 2 <= target)
      df.repartition(target, keys: _*)
    else df
  }

  /** Register every table as a temp view so `spark.sql` queries
    * (GROUPING SETS etc.) can reference them by name. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
