package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer

/** One clock for spans, Spark jobs and streaming progress: epoch
  * milliseconds with sub-millisecond resolution from `nanoTime`. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written when the run ends. Every span of one op shares its id. */
final class Tracer {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String, layer: String, op: String, pass: Int)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = Clock.ms()
      try f
      finally {
        stack = stack.tail
        spans += Map("id" -> id, "parent" -> parent, "name" -> name,
          "layer" -> layer, "op" -> op, "pass" -> pass,
          "start" -> start, "end" -> Clock.ms())
      }
    }

  def result: Seq[Map[String, Any]] = spans.toSeq
}

/** Records every job (with the engine call site that triggered it) and
  * per-stage task totals. Layer attribution happens after the run. */
final class JobListener extends SparkListener {
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Double, String, String, Seq[Int])]
  private val stageSubmitted = scala.collection.mutable.Map.empty[Int, Long]
  // stage id -> tasks, run ms, wait ms, shuffle bytes written, input bytes, input records
  val stages = scala.collection.mutable.Map.empty[Int, Array[Double]]
  @volatile var lastEvent: Double = Clock.ms()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // the short call site names the first frame outside Spark core, which
    // for spark.ml calls is inside spark.ml itself ("treeAggregate at
    // IDF.scala:55"); the long form (the result stage's details) holds
    // the stack down to the engine frame that made the call
    val site = (prop("callSite.short") +: e.stageInfos.sortBy(-_.stageId).take(1)
      .flatMap(st => Seq(st.name, st.details))).filter(_.nonEmpty).mkString("\n")
    jobStart(e.jobId) = (e.time.toDouble, site, prop("spark.jobGroup.id"), e.stageIds)
    lastEvent = Clock.ms()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (start, site, group, stageIds) =>
      jobs += Map("job" -> e.jobId, "start" -> start, "end" -> e.time.toDouble,
        "call_site" -> site, "group" -> group, "stages" -> stageIds)
    }
    lastEvent = Clock.ms()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      val a = stages.getOrElseUpdate(e.stageId, new Array[Double](6))
      // waiting = queued for a core after stage submission + scheduler delay
      val queued = math.max(0L, i.launchTime - stageSubmitted.getOrElse(e.stageId, i.launchTime))
      val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L))
      a(0) += 1
      a(1) += m.executorRunTime
      a(2) += queued + delay
      a(3) += m.shuffleWriteMetrics.bytesWritten
      a(4) += m.inputMetrics.bytesRead
      a(5) += m.inputMetrics.recordsRead
    }
    lastEvent = Clock.ms()
  }

  /** Wait until no event has arrived for `quietMs` (at most 2 s). */
  def drain(quietMs: Double = 150): Unit = {
    val deadline = Clock.ms() + 2000
    while (Clock.ms() - lastEvent < quietMs && Clock.ms() < deadline) Thread.sleep(20)
  }
}

/** Micro-batch progress of every streaming query. The engine runs its
  * streams in fresh sessions (`newSession()`), each with its own query
  * manager, so the listener is installed through
  * `spark.sql.streaming.streamingQueryListeners` (one instance per
  * session) and all instances record into the companion's buffer. */
final class BatchListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    var commit = 0L
    p.durationMs.forEach((k, v) => if (k.toLowerCase.contains("commit")) commit += v)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    BatchListener.record(Map("start" -> start, "duration_s" -> p.batchDuration / 1000.0,
      "input_rows" -> p.numInputRows,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
      "commit_s" -> commit / 1000.0))
  }
}

object BatchListener {
  private val batches = ArrayBuffer.empty[Map[String, Any]]
  def record(b: Map[String, Any]): Unit = batches.synchronized(batches += b)
  def all: Seq[Map[String, Any]] = batches.synchronized(batches.toSeq)
}

/** JSON for the run record: Jackson with its Scala module, both on
  * Spark's classpath. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
