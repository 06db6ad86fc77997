package graft

import org.apache.spark.sql.SparkSession

/** The one session factory. Bench, Verify, Explain, BookBench and the
  * specs all plan with the confs set here, so the tested and audited
  * plans are the shipped plans. Callers set only their own log level. */
object GraftSession {

  /** Scan-split open cost. Spark's 4 MB default FLOORS the split size at
    * 4 MB, so a single-file sf fixture scans with ≤3 tasks on a 32-core
    * box and every scan-bound stage runs ~10× under-parallel (measured
    * in OPTIMIZATION_r18.md "Changes": q01 −18%, gr01 −41% with 64k).
    * With a small open cost the split size falls back to
    * totalBytes/defaultParallelism, so scan parallelism tracks the core
    * count. At cluster scale bytesPerCore ≫ maxPartitionBytes, the
    * 128 MB cap governs and this value is inert. */
  val OpenCostInBytes: Long = 65536L

  /** Local core count from `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = positiveInt("SPARK_GRAFT_CPUS", 4)

  /** The positive integer in env var `name`, or `default` when it is
    * unset; any other value fails with a message naming the variable. */
  private[graft] def positiveInt(name: String, default: Int, env: Map[String, String] = sys.env): Int =
    env.get(name).fold(default)(v => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$name must be a positive integer, got '$v'")))

  /** The plan-affecting confs of a `local(cpus)` session. */
  private[graft] def planConfs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.files.openCostInBytes" -> OpenCostInBytes.toString)

  /** A `local[cpus]` session with [[planConfs]], the UI off, and a
    * warehouse dir and a checkpoint dir that are deleted at JVM exit.
    * EM-LDA's checkpointInterval only truncates lineage when a
    * checkpoint dir exists; without one checkpointing silently no-ops
    * and per-iteration time creeps with the growing task binary. */
  def local(cpus: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.warehouse.dir", TempDirs.deleteOnExit("graft_wh"))
      .config("spark.ui.enabled", "false")
    val spark = planConfs(cpus).foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setCheckpointDir(TempDirs.deleteOnExit("graft_ckpt"))
    spark
  }

  /** A cloned session (shared SparkContext and SharedState, PRIVATE
    * SessionState) carrying per-query conf overrides. Mutating the
    * caller's session-global conf around a query and restoring it in a
    * `finally` is racy under concurrent queries in one session; the
    * clone scopes the overrides to one query, and the caller's conf is
    * never touched. Builder-time confs carry over via the shared
    * initial session options. */
  def scoped(s: SparkSession, confs: (String, String)*): SparkSession = {
    val ss = s.newSession()
    confs.foreach { case (k, v) => ss.conf.set(k, v) }
    ss
  }
}
