package perfbench

import graft.QueryDef
import graft.ml.{CorpusReader, GoldenReport, LdaPipeline, Pipeline}
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: a closed loop of one client thread that
  * calls each op of a workload in a seed-shuffled order, pass after pass.
  *
  * Usage: Harness <workload> <dataDir> <outDir> <seconds> <trace 0|1> <seed>
  *
  * Writes `<outDir>/run.json` (raw times, spans, jobs, streaming
  * progress, failures) for `perfbench/run.py`, which computes every
  * metric.
  * First-pass results of the query workloads are written as parquet to
  * `<outDir>/results/<op>` for the oracle check.
  */
object Harness {
  /** The query workload: from every query module (one layer each), the
    * ops it contributes. One op takes ~0.2-1 s warm on a 4-core box, so
    * a pass over every declared op would not fit a run; each module is
    * represented by the ops that exercise its main mechanism (joins,
    * windows, grouping sets, JSON, as-of joins, the write paths of
    * Storage and Extras, graph iteration, text kernels, the memoized
    * standing indexes of Dedup, float kernels, batch inference and a
    * stateful stream). 17 ops make three warm passes give the 50
    * samples a run needs. */
  val queryMix: Seq[(String, Seq[QueryDef], Set[String])] = Seq(
    ("operators.Relational", graft.operators.Relational.defs, Set("q03_revenue_by_customer")),
    ("operators.Windows", graft.operators.Windows.defs, Set("q11_top_orders_per_customer")),
    ("operators.Grouping", graft.operators.Grouping.defs, Set("q16_rollup_region_nation")),
    ("operators.Scalars", graft.operators.Scalars.defs, Set("q25_json_props")),
    ("operators.Advanced", graft.operators.Advanced.defs, Set("q30_asof_attribution")),
    ("operators.Extras", graft.operators.Extras.defs, Set("q35_json_roundtrip")),
    ("operators.Reshape", graft.operators.Reshape.defs, Set("q43_pivot_event_matrix")),
    ("operators.Storage", graft.operators.Storage.defs, Set("q39_bucketed_join")),
    ("operators.Graph", graft.operators.Graph.defs, Set("gr02_copurchase_components")),
    ("operators.TextAnalysis", graft.operators.TextAnalysis.defs, Set("ta04_fingerprints")),
    ("operators.Curation", graft.operators.Curation.defs, Set("sp09_curation_pipeline")),
    ("operators.Dedup", graft.operators.Dedup.defs,
      Set("dd02_ngram_jaccard", "dd16_incremental_band_index")),
    ("operators.Similarity", graft.operators.Similarity.defs, Set("ss01_cosine_topk")),
    ("multimodal.Multimodal", graft.multimodal.Multimodal.defs, Set("mm04_batch_inference")),
    ("streaming.Streams", graft.streaming.Streams.defs,
      Set("st02_sessionize", "st05_stream_dedup")))

  /** Warm op-latency samples a run collects at least: enough for ten
    * to lie beyond the 80th percentile. */
  val minSamples = 50

  /** Passes stop once this much time has gone since JVM start, so a run
    * ends well inside its time limit even on a slow box. */
  val hardStopS = 110.0

  final case class Op(name: String, layer: String, run: (Int, Boolean) => Unit)

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsArg, traceArg, seedArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val seed = seedArg.toLong
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.local.dir", s"$outDir/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$outDir/hadoop")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.streamingQueryListeners", classOf[BatchListener].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$outDir/checkpoint")
    // untimed warmup, as graft.Bench does: first JIT, codegen and reader init
    spark.range(100000).selectExpr("sum(id)").collect()
    if (workload == "topic_model") spark.read.text(s"$dataDir/stopwords.txt").count()
    else spark.read.parquet(s"$dataDir/region.parquet").count()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tracer = new Tracer
    val jobs = new JobListener
    val failures = ArrayBuffer.empty[Map[String, Any]]
    val memo = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val emIters = ArrayBuffer.empty[Map[String, Any]]
    val checks = ArrayBuffer.empty[Map[String, Any]]
    val sc = spark.sparkContext
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Double = gcBeans.map(_.getCollectionTime.toDouble).sum

    val topic = if (workload == "topic_model")
      Some(new TopicModel(spark, dataDir, outDir, tracer, emIters, checks)) else None
    val ops: Seq[Op] = workload match {
      case "query_mix" =>
        val picked = for ((layer, defs, names) <- queryMix; q <- defs if names(q.name))
          yield (layer, q)
        require(picked.size == queryMix.map(_._3.size).sum, "an op of the query mix is missing")
        new java.io.File(s"$outDir/results").mkdirs()
        writeOracleSql(picked.map(_._2), s"$outDir/oracle_sql.json")
        for ((layer, q) <- picked) yield Op(q.name, layer, (pass, first) => {
          val df = q.fn(spark, dataDir)
          // the first pass keeps each result for the oracle check; warm
          // passes materialize every row without side effects
          if (first) df.write.mode("overwrite").parquet(s"$outDir/results/${q.name}")
          else df.write.format("noop").mode("overwrite").save()
        })
      case "topic_model" => topic.get.ops
      case _ => throw new IllegalArgumentException(s"unknown workload $workload")
    }

    val rng = new scala.util.Random(seed)
    var pass = 0
    var warmS = 0.0
    def enough = warmS >= seconds &&
      sampleCount(workload, passes.toSeq, emIters.toSeq) >= minSamples && (!traced || pass >= 5)
    def late = (System.currentTimeMillis() - jvmStart) / 1000.0 >= hardStopS
    while (pass < 2 || (!enough && !late)) {
      // a traced run traces its first pass, then runs warm passes
      // untraced, traced, traced, untraced (and so on), so the tracing
      // overhead is measured inside one JVM without a warm-up drift bias
      val tracedPass = traced && (pass == 0 || pass % 4 == 2 || pass % 4 == 3)
      tracer.enabled = tracedPass
      if (tracedPass) sc.addSparkListener(jobs)
      val gc0 = gcMs()
      val opTimes = ArrayBuffer.empty[Map[String, Any]]
      val p0 = Clock.ms()
      // classify reads the model train saves, so topic_model keeps its order
      for (op <- if (topic.isDefined) ops else rng.shuffle(ops)) {
        val s0 = Clock.ms()
        if (tracedPass) sc.setJobGroup(s"$pass/${op.name}", op.name)
        try tracer(op.name, op.layer, op.name, pass)(op.run(pass, pass == 0))
        catch {
          case e: VirtualMachineError => throw e
          case e: Throwable =>
            failures += Map("op" -> op.name, "pass" -> pass,
              "cause" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        val s1 = Clock.ms()
        if (tracedPass) {
          sc.clearJobGroup()
          memo += Map("pass" -> pass, "op" -> op.name,
            "persisted_rdds" -> sc.getPersistentRDDs.size,
            "storage_bytes" -> sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
        }
        opTimes += Map("op" -> op.name, "start" -> s0, "end" -> s1)
      }
      val p1 = Clock.ms()
      if (tracedPass) {
        jobs.drain()
        sc.removeSparkListener(jobs)
      }
      passes += Map("pass" -> pass, "traced" -> tracedPass, "start" -> p0, "end" -> p1,
        "gc_s" -> (gcMs() - gc0) / 1000.0, "ops" -> opTimes.toSeq)
      if (pass > 0) warmS += (p1 - p0) / 1000.0
      else topic.foreach(_.check())
      pass += 1
    }
    tracer.enabled = false
    Thread.sleep(300) // let the last streaming progress events arrive

    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed.toDouble).sum
    val record = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "setup_s" -> setupS, "cpus" -> cpus,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "passes" -> passes.toSeq, "failures" -> failures.toSeq,
      "spans" -> tracer.result, "jobs" -> jobs.synchronized(jobs.jobs.toSeq),
      "stages" -> jobs.synchronized(jobs.stages.map { case (k, v) => k.toString -> v.toSeq }.toMap),
      "batches" -> BatchListener.all,
      "memo" -> memo.toSeq, "em_iterations" -> emIters.toSeq, "checks" -> checks.toSeq,
      "heap_retained_mb" -> oldGen / 1048576.0,
      "peak_rss_mb" -> vmHwmMb())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/run.json"), Json(record))
    spark.stop()
  }

  /** Op-latency samples so far in warm passes: EM iterations for
    * `topic_model`, op calls otherwise. */
  private def sampleCount(workload: String, passes: Seq[Map[String, Any]],
      emIters: Seq[Map[String, Any]]): Int =
    if (workload == "topic_model")
      emIters.filter(_("pass").asInstanceOf[Int] > 0).map(_("times").asInstanceOf[Seq[Double]].size).sum
    else passes.filter(_("pass").asInstanceOf[Int] > 0).map(_("ops").asInstanceOf[Seq[_]].size).sum

  private def vmHwmMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: java.io.IOException => -1.0 }

  private def writeOracleSql(defs: Seq[QueryDef], path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Json(defs.flatMap(q => q.oracle.map(q.name -> _)).toMap))
}

/** The paper's two entry points: train (books -> EM fit, online fit,
  * model saved) and classify (latest model loaded -> every book
  * classified -> golden report written). Checks run untimed after the
  * first pass. */
final class TopicModel(spark: SparkSession, dataDir: String, outDir: String,
    tr: Tracer, emIters: ArrayBuffer[Map[String, Any]],
    checks: ArrayBuffer[Map[String, Any]]) {
  private val models = s"$outDir/models"
  private val params = LdaPipeline.Params()
  /** The online fit as ml01 runs it: one job per iteration at the
    * scheduler floor, so 15 iterations keep a pass inside a run. */
  private val onlineParams = params.copy(algorithm = "online", maxIterations = 15)
  private var stops: Seq[String] = Nil
  private var saved: Option[LdaPipeline.Fitted] = None
  private var classified: Option[(LdaPipeline.Fitted, DataFrame, String)] = None

  def ops: Seq[Harness.Op] = Seq(
    Harness.Op("train", "", (pass, _) => train(pass)),
    Harness.Op("classify", "", (pass, first) => classify(pass, first)))

  private def train(pass: Int): Unit = {
    def span[T](name: String, layer: String)(f: => T): T = tr(name, layer, "train", pass)(f)
    stops = span("CorpusReader.readStopwords", "ml.Pipeline") {
      CorpusReader.readStopwords(spark, s"$dataDir/stopwords.txt")
    }
    val tokens = span("Pipeline.prepTokens", "ml.Pipeline") {
      val books = Pipeline.withDocIds(CorpusReader.readBooks(spark, s"$dataDir/books"))
      val t = Pipeline.prepTokens(books, stops).cache()
      t.count()
      t
    }
    val em = span("LdaPipeline.train", "ml.LdaPipeline")(LdaPipeline.train(spark, tokens, params))
    emIters += Map("pass" -> pass,
      "times" -> LdaPipeline.emIterationTimes(em).getOrElse(Nil))
    val online = span("LdaPipeline.train/online", "ml.LdaPipeline") {
      LdaPipeline.train(spark, tokens, onlineParams)
    }
    span("LdaPipeline.save", "ml.LdaPipeline") {
      LdaPipeline.save(em, s"$models/LdaModel_${System.currentTimeMillis()}")
    }
    online.release()
    tokens.unpersist()
    saved.foreach(_.release())
    saved = Some(em)
  }

  private def classify(pass: Int, first: Boolean): Unit = {
    def span[T](name: String, layer: String)(f: => T): T = tr(name, layer, "classify", pass)(f)
    val path = span("Pipeline.latestModel", "ml.Pipeline") {
      Pipeline.latestModel(models).getOrElse(sys.error(s"no model under $models"))
    }
    val (model, vocab) = span("LdaPipeline.load", "ml.LdaPipeline") {
      LdaPipeline.load(spark, path, params.algorithm)
    }
    val fitted = LdaPipeline.Fitted(model, vocab, Array.emptyDoubleArray, spark.emptyDataFrame)
    val (assigned, report) = span("Pipeline.classifyBooks", "ml.Pipeline") {
      Pipeline.classifyBooks(spark, s"$dataDir/books", stops, fitted)
    }
    val reportPath = s"$outDir/report_$pass.txt"
    span("GoldenReport.write", "ml.GoldenReport")(GoldenReport.write(reportPath, report))
    if (first) classified = Some((fitted, assigned, report))
  }

  /** Untimed, after the first pass: k distinct topics with positive,
    * descending term weights (ties allowed: words with the same counts
    * in every book weigh the same); every book assigned a topic in
    * [0, k); the reloaded model equal to the saved one; one report entry
    * per book. */
  def check(): Unit = classified.foreach { case (loaded, assigned, report) =>
    def add(name: String, ok: Boolean, detail: String): Unit =
      checks += Map("check" -> name, "ok" -> ok, "detail" -> detail)
    val k = params.k
    val topics = LdaPipeline.describeTopics(spark, loaded, 10).collect()
    add("k_topics", topics.length == k, s"${topics.length} topics")
    val weights = topics.map(_.getSeq[Double](2))
    val badW = weights.find(w => !(w.forall(_ > 0) && w.zip(w.drop(1)).forall { case (a, b) => a >= b }))
    val distinct = topics.map(r => r.getSeq[String](1)).distinct.length == topics.length
    add("weights", badW.isEmpty && distinct, badW.fold(
      s"term weights positive and descending, ${topics.length} distinct topics")(
      w => s"weights ${w.mkString(",")}"))
    val nBooks = new java.io.File(s"$dataDir/books").listFiles().count(_.getName.endsWith(".txt"))
    val mains = assigned.select("main_topic").collect().map(_.getInt(0))
    add("assigned", mains.length == nBooks && mains.forall(t => t >= 0 && t < k),
      s"${mains.length} of $nBooks books assigned, topics ${mains.distinct.sorted.mkString(",")}")
    // the full topic-term matrices: describeTopics orders tied weights arbitrarily
    val diff = saved.map { s =>
      val (a, b) = (s.model.topicsMatrix, loaded.model.topicsMatrix)
      if (a.numRows != b.numRows || a.numCols != b.numCols) Double.PositiveInfinity
      else a.toArray.zip(b.toArray).map { case (x, y) => math.abs(x - y) / math.max(1.0, math.abs(x)) }.max
    }
    add("reload", diff.exists(_ <= 1e-9),
      s"max relative |saved - reloaded| topic-term weight ${diff.getOrElse("no saved model")}")
    val entries = report.linesIterator.count(_.startsWith("Book's number: "))
    add("report", entries == nBooks, s"$entries report entries for $nBooks books")
    classified = None
  }
}
