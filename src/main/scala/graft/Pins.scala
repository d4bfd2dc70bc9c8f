package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Registry for engine-owned `persist()` pins, so long-lived sessions can
  * release them at materialization boundaries.
  *
  * Several batch operators pin an intermediate frame that feeds multiple
  * consumers of ONE returned plan (selfBleu's tf table, cooccurrenceCounts'
  * count matrix, splitLeakReport's fp counts, marginMine's scored frame).
  * The pin must outlive the caller's terminal action — the operator cannot
  * know when that is — so a bare `persist()` leaks storage in a long-running
  * session: the scheduler ([[graft.engine.Runner]]) invoking such an
  * operator every tick stacks MEMORY_AND_DISK blocks faster than the
  * ContextCleaner's GC-driven self-heal clears them (the batch analog of
  * the foreachBatch state-pin problem [[org.apache.spark.sql.graft.Bridge
  * .unpin]] solves for streaming).
  *
  * Contract: operators route multi-consumer pins through [[pin]]; whoever
  * owns the materialization boundary calls [[unpinAll]] after the terminal
  * action — the Runner does it after every tick, the multi-entry mains
  * between entries through [[releaseAll]].
  * `unpinAll` between an operator call and its action is SAFE but slow:
  * the consumers recompute the un-pinned frame instead of reading it.
  *
  * References are STRONG: the CacheManager keys cached data by logical
  * plan and holds it strongly, so a GC'd Dataset object does NOT free its
  * blocks — only an explicit unpersist does. The queue is bounded by the
  * number of pins since the last release, a handful of plan references —
  * negligible next to the cached blocks themselves.
  */
object Pins {

  private val pinned = new ConcurrentLinkedQueue[Dataset[_]]

  /** Persist `ds` (MEMORY_AND_DISK — the multi-consumer level: spill
    * beats recompute for corpus-derived frames) and register it for the
    * next [[unpinAll]]. Returns `ds` for call-site chaining.
    */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    pinned.add(ds)
    ds
  }

  /** Unpersist every registered pin; returns how many were released.
    * Non-blocking: the executors drop blocks asynchronously.
    */
  def unpinAll(): Int = {
    var released = 0
    var ds = pinned.poll()
    while (ds != null) {
      ds.unpersist(blocking = false)
      released += 1
      ds = pinned.poll()
    }
    released
  }

  /** Free every block a registry entry left behind: the registered pins,
    * the session's cached plans, and every persisted RDD (including
    * localCheckpoint blocks). The mains that run many entries in one JVM
    * (Verify, Bench, Stress, Plans) call it after each entry, so an entry
    * never reads, or runs under the memory pressure of, another entry's
    * pinned frames.
    */
  def releaseAll(spark: SparkSession): Unit = {
    unpinAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Registered pins still persisted — the observability hook the
    * lifecycle spec asserts against.
    */
  def livePinCount: Int = {
    var n = 0
    val it = pinned.iterator()
    while (it.hasNext) {
      if (it.next().storageLevel != StorageLevel.NONE) n += 1
    }
    n
  }
}
