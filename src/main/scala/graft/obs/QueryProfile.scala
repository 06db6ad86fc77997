package graft.obs

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The phase timings of one timed run.
  *
  * @param phases driver walls recorded by [[QueryProfile.phase]] and
  *   [[QueryProfile.record]], in the order they completed
  * @param jobs the phase and wall of every job submitted inside a
  *   phase, in job-id order */
final case class QueryProfile(phases: Seq[(String, Double)], jobs: Seq[(String, Double)]) {
  def walls(name: String): Seq[Double] = phases.collect { case (`name`, s) => s }
  def jobWalls(name: String): Seq[Double] = jobs.collect { case (`name`, s) => s }
}

/** The one channel through which engine code reports phase timings.
  * Engine code marks a phase with [[phase]] or hands over times it
  * already has with [[record]]; a caller that wants the timings wraps
  * the run in [[capture]]. Outside a capture both calls record nothing,
  * so no timing outlives the run that produced it. */
object QueryProfile {

  /** The job-local property that tags every job submitted in a phase. */
  val Property = "graft.phase"

  /** Records the driver wall of each phase and, from the scheduler's own
    * JobStart/JobEnd timestamps, the wall of each tagged job, so
    * listener-bus lag cannot skew a job's time. */
  private final class Capture extends SparkListener {
    private val phases = Vector.newBuilder[(String, Double)]
    private val starts = scala.collection.mutable.Map.empty[Int, (String, Long)]
    private val jobs = scala.collection.mutable.TreeMap.empty[Int, (String, Double)]

    def add(name: String, secs: Double): Unit = synchronized { phases += name -> secs }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Property)))
        .foreach(name => starts(e.jobId) = name -> e.time)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      starts.remove(e.jobId).foreach { case (name, t0) => jobs(e.jobId) = name -> (e.time - t0) / 1e3 }
    }

    def result: QueryProfile = synchronized(QueryProfile(phases.result(), jobs.values.toVector))
  }

  private val active = new AtomicReference[Option[Capture]](None)

  /** Runs `body` and returns its result with the profile of everything
    * it timed. The bus is drained before the listener joins, so no
    * earlier job's queued events reach it, and after `body`, outside any
    * time the caller takes inside `body`. */
  def capture[A](spark: SparkSession)(body: => A): (A, QueryProfile) = {
    val sc = spark.sparkContext
    val c = new Capture
    drain(sc)
    sc.addSparkListener(c)
    val outer = active.getAndSet(Some(c))
    val r = try body finally {
      active.set(outer)
      try drain(sc) finally sc.removeSparkListener(c)
    }
    (r, c.result)
  }

  // a bus still busy after Spark's bound leaves late jobs out of the
  // profile instead of failing the run it profiles
  private def drain(sc: org.apache.spark.SparkContext): Unit =
    try GraftListenerBridge.drain(sc) catch { case _: TimeoutException => () }

  /** Times `body` on the driver under `name`. Every job `body` submits
    * carries [[Property]] = `name`; the previous value is restored
    * afterwards, also when `body` throws. */
  def phase[A](spark: SparkSession, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property, name)
    val t0 = System.nanoTime()
    val r = try body finally sc.setLocalProperty(Property, outer)
    record(name, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Records a time the engine already has, e.g. an EM iteration time. */
  def record(name: String, secs: Double): Unit = active.get.foreach(_.add(name, secs))
}
