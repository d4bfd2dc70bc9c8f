package graft.engine

import java.time.Duration
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The "Spark Runner" restated (reference:
  * data-process/spark-process/src/main/scala/process/InterpreterLoader.scala:106-152,
  * process/ScriptHelper.scala:41-115): a driver-resident scheduler that runs
  * registered jobs on a tick, gated by a per-job ISO-8601 interval against
  * the execution journal, with `Closeable` cleanup on job replacement.
  *
  * Differences from the reference, by design:
  *  - jobs are compiled functions first (type-safe registry); hot-compiled
  *    scripts are the optional path via [[ScriptJobs]] — inverted from the
  *    reference, which only had interpreted scripts;
  *  - journal gating + persistence in one place, not spread over
  *    ScriptHelper/HiveBeeLine/RecordDao.
  */
final case class Job(
    name: String,
    /** Minimum time between runs, reference default PT1M
      * (reference: annotation/ProcDescription.java:20).
      */
    interval: Duration,
    fn: SparkSession => Any)

class Runner(spark: SparkSession, journal: Journal,
    clock: () => Long = () => System.currentTimeMillis()) {

  private val jobs = TrieMap.empty[String, Job]

  def register(job: Job): Unit =
    jobs.put(job.name, job).foreach {
      case old if old.fn.isInstanceOf[AutoCloseable] =>
        // superseded Closeable instance cleanup (reference: ScriptHelper.scala:113-115)
        old.fn.asInstanceOf[AutoCloseable].close()
      case _ =>
    }

  /** Interval gating against the journal
    * (reference: ScriptHelper.isReady, ScriptHelper.scala:41-50).
    */
  def isReady(job: Job): Boolean =
    journal.lastExecution(job.name) match {
      case Some(last) => clock() - last.startedAt >= job.interval.toMillis
      case None => true
    }

  /** One tick: run every ready job, journal each outcome; returns
    * (name, status) per attempted job.
    */
  def runOnce(): Seq[(String, String)] =
    jobs.values.toSeq.sortBy(_.name).filter(isReady).map { job =>
      val started = clock()
      val (status, result) =
        try { val r = job.fn(spark); ("SUCCEED", String.valueOf(r)) }
        // NonFatal, not Exception: a script's `???`/assert and a ToolBox
        // compile failure throw Errors/Throwables, and letting one escape
        // would skip the journal record and the tick's remaining jobs
        catch { case NonFatal(e) => ("FAILED", Runner.describe(e)) }
        // a job's terminal action is inside fn by contract, so this IS the
        // materialization boundary: release engine-owned operator pins
        // (graft.Pins) or a ticking scheduler stacks MEMORY_AND_DISK
        // blocks faster than GC-driven cleanup clears them. User-level
        // df.cache() is untouched — only pins routed through Pins.pin.
        finally graft.Pins.unpinAll()
      journal.save(ExecutionRecord(job.name, started, clock(), result, status))
      job.name -> status
    }
}

/** Mtime-keyed hot reload of script jobs
  * (reference: ScriptHelper.getTaskInstance cache, ScriptHelper.scala:52-88):
  * a script file is re-compiled only when its modification time changes;
  * the previous instance is closed if Closeable.
  */
class ScriptJobs[T](compile: String => T, mtimeOf: String => Long,
    read: String => String) {

  private case class Cached(mtime: Long, instance: T)
  private val cache = TrieMap.empty[String, Cached]

  /** Current instance for `path`, recompiling when mtime changed. */
  def instance(path: String): T = {
    val m = mtimeOf(path)
    cache.get(path) match {
      case Some(c) if c.mtime == m => c.instance
      case prev =>
        val fresh = compile(read(path))
        prev.map(_.instance).foreach {
          case c: AutoCloseable => c.close()
          case _ =>
        }
        cache.put(path, Cached(m, fresh))
        fresh
    }
  }

  /** Close every cached Closeable instance and drop the cache — the
    * shutdown-hook path (reference closes instances on replacement only;
    * engine TERM handling needs the same cleanup for all of them).
    */
  def closeAll(): Unit = {
    cache.values.foreach(_.instance match {
      case c: AutoCloseable => try c.close() catch { case _: Exception => () }
      case _ =>
    })
    cache.clear()
  }
}

object Runner {
  /** A failure's journal text: each throwable's class and message
    * (`Throwable.toString`) along its cause chain, outermost first — an
    * NPE without a message still names its class, where `getMessage`
    * alone would read "null". At most 16 links, so a cyclic chain ends.
    */
  private[engine] def describe(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .map(_.toString).mkString(" <- caused by: ")
}
