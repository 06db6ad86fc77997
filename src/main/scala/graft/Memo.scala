package graft

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The one memo for standing builds: fitted models, shingle and band
  * indexes, admission ledgers — artifacts built once and then queried
  * many times (train once, classify many).
  *
  * Policy, the same for every [[Memo.Slot]]:
  *  - an entry is keyed by (slot, application id, dir). The application
  *    id is in the key because an entry holds DataFrames and models bound
  *    to one SparkContext: a dir-only key would hand a frame of a stopped
  *    context to the next session in the same JVM;
  *  - one lock: a build runs at most once, so a concurrent first access
  *    can never build twice and leak the losing build's cached frame.
  *    Builds are driver-side and rare (one per dir), so the coarse lock
  *    costs nothing, and JVM monitors are re-entrant, so a build may
  *    itself read other slots on the same thread;
  *  - LRU-1 per slot per application: a new dir for the same slot and
  *    application releases that slot's previous entry (its declared
  *    `release`, e.g. unpersist) under the same lock, before the new
  *    build. Other slots and other applications are left alone;
  *  - a build that throws leaves no entry; the next call builds again.
  *
  * Each slot counts its builds, hits and evictions; `graft.Bench` writes
  * them into its artifact under `memo`.
  */
object Memo {
  final case class Counts(builds: Long, hits: Long, evictions: Long)

  /** One kind of standing build and how to release an entry of it. */
  final class Slot[V] private[Memo] (val name: String, private[Memo] val release: V => Unit) {
    private[Memo] var tally = Counts(0, 0, 0)

    /** The entry for (this slot, `s`'s application, `dir`), built by
      * `build` on a miss. */
    def apply(s: SparkSession, dir: String)(build: => V): V =
      get(s.sparkContext.applicationId, dir)(build)

    private[graft] def get(app: String, dir: String)(build: => V): V = Memo.synchronized {
      val key = (this, app)
      entries.get(key) match {
        case Some((`dir`, v)) =>
          tally = tally.copy(hits = tally.hits + 1)
          v.asInstanceOf[V]
        case previous =>
          previous.foreach { case (_, v) =>
            entries.remove(key)
            tally = tally.copy(evictions = tally.evictions + 1)
            release(v.asInstanceOf[V])
          }
          val v = build
          entries(key) = (dir, v)
          tally = tally.copy(builds = tally.builds + 1)
          v
      }
    }
  }

  // (slot, application id) → (dir, entry): at most one dir per key
  private val entries = mutable.HashMap.empty[(Slot[_], String), (String, Any)]
  // lock-free, so declaring a slot in an object's initializer never
  // waits on a build that holds the memo lock
  private val slots = new java.util.concurrent.CopyOnWriteArrayList[Slot[_]]

  def slot[V](name: String)(release: V => Unit): Slot[V] = {
    val sl = new Slot(name, release)
    slots.add(sl)
    sl
  }

  /** Release and drop every entry of `of`, so the next call builds
    * again. */
  def clear(of: Slot[_]*): Unit = synchronized {
    for (k <- entries.keys.toSeq if of.exists(_ eq k._1); (_, v) <- entries.remove(k))
      k._1.asInstanceOf[Slot[Any]].release(v)
  }

  /** Builds, hits and evictions per slot name, in declaration order. */
  def counts: Seq[(String, Counts)] = synchronized(slots.asScala.map(sl => sl.name -> sl.tally).toSeq)
}
