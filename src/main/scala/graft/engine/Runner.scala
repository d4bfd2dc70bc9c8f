package graft.engine

import java.time.Duration
import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import graft.GraftSession

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
    /** Runs on the job's own session ([[Runner.sessionFor]]), not on the
      * Runner's, possibly at the same time as the tick's other jobs.
      */
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

  /** One tick: gate every job against the journal, run the due ones at
    * the same time, journal each outcome; returns (name, status) per
    * attempted job, in name order.
    *
    *  - Gating and every journal call happen on the calling thread. The
    *    due jobs run on up to `availableProcessors` threads this call
    *    starts, so they inherit its Spark local properties (job group,
    *    scheduler pool), and every one of them has ended when it returns.
    *  - Each job runs on its own session ([[Runner.sessionFor]]), as each
    *    of the reference's SQL scripts ran on its own Beeline connection
    *    (reference:
    *    data-process/spark-process/src/main/scala/hive/HiveBeeLine.scala:94-122,
    *    SURVEY §3.2): its temp views, `SET` confs and macros are invisible
    *    to the other jobs and to `spark`, and still there on its next run.
    *  - Records are saved in name order, each once its job and every job
    *    before it in that order completed, so a crash in a tick (a failing
    *    save) re-runs on the next tick every job of this tick that is not
    *    journaled yet: at-least-once, as before.
    *  - A job's terminal action is inside `fn` by contract, so the tick's
    *    end IS the materialization boundary of all its jobs: engine-owned
    *    operator pins ([[graft.Pins]]) are released once, after the last
    *    job, or a ticking scheduler stacks MEMORY_AND_DISK blocks faster
    *    than GC-driven cleanup clears them. User-level `df.cache()` is
    *    untouched: only pins routed through `Pins.pin`.
    */
  def runOnce(): Seq[(String, String)] = {
    val due = jobs.values.toSeq.sortBy(_.name).filter(isReady)
    if (due.isEmpty) return Seq.empty
    val records = due.map(_ => new CompletableFuture[ExecutionRecord])
    val next = new AtomicInteger
    val stop = new AtomicBoolean
    val workers = Seq.tabulate(math.min(due.size, Runtime.getRuntime.availableProcessors)) { w =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < due.size && !stop.get) {
          // a fatal error reaches the calling thread through the record
          try records(i).complete(execute(due(i)))
          catch { case e: Throwable => records(i).completeExceptionally(e) }
          i = next.getAndIncrement()
        }
      }, s"${Runner.WorkerName}-$w")
      t.setDaemon(true)
      t.start()
      t
    }
    try due.zip(records).map { case (job, record) =>
      val rec = try record.join() catch { case e: CompletionException => throw e.getCause }
      journal.save(rec)
      job.name -> rec.status
    } finally {
      // a failed save leaves the jobs not yet started unstarted
      stop.set(true)
      workers.foreach(_.join())
      graft.Pins.unpinAll()
    }
  }

  private def execute(job: Job): ExecutionRecord = {
    val started = clock()
    val (status, result) =
      try {
        val r = job.fn(Runner.sessionFor(spark, job.name))
        ("SUCCEED", String.valueOf(r))
      }
      // NonFatal, not Exception: a script's `???`/assert and a ToolBox
      // compile failure throw Errors/Throwables, and letting one escape
      // would skip the journal record and the tick's remaining jobs
      catch { case NonFatal(e) => ("FAILED", Runner.describe(e)) }
    ExecutionRecord(job.name, started, clock(), result, status)
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

  /** Drop (closing the Closeable ones) the instances of paths `gone` names. */
  def drop(gone: String => Boolean): Unit =
    cache.keys.filter(gone).foreach(p => cache.remove(p).foreach(c => close(c.instance)))

  private def close(instance: T): Unit = instance match {
    case c: AutoCloseable => try c.close() catch { case _: Exception => () }
    case _ =>
  }

  /** Close every cached Closeable instance and drop the cache — the
    * shutdown-hook path (reference closes instances on replacement only;
    * engine TERM handling needs the same cleanup for all of them).
    */
  def closeAll(): Unit = {
    cache.values.foreach(c => close(c.instance))
    cache.clear()
  }
}

object Runner {
  /** Name prefix of the threads a tick runs its jobs on. */
  private[engine] val WorkerName = "graft-runner-job"

  /** Per parent session, each job name's own child session. Weak in the
    * parent, so the children go with it; a child holds no reference to
    * its parent.
    */
  private val children =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, SparkSession]]

  /** The session job `name` runs on under `parent`: made on the job's
    * first run and reused on every later one, whichever `Runner` runs it.
    * It is `parent.newSession()` with the engine's settings and functions
    * ([[GraftSession.configure]]) and then a copy of `parent`'s modifiable
    * SQL conf as it is at that first run. It shares the SparkContext, the
    * catalog, cached data and global temp views with `parent`; temp
    * views, functions and query execution listeners registered on
    * `parent` are not seen there. [[dropSessions]] forgets it.
    */
  private[engine] def sessionFor(parent: SparkSession, name: String): SparkSession = {
    val named = children.synchronized(
      children.computeIfAbsent(parent, _ => new ConcurrentHashMap[String, SparkSession]))
    named.computeIfAbsent(name, _ => {
      val child = GraftSession.configure(parent.newSession())
      parent.conf.getAll.foreach { case (k, v) =>
        if (parent.conf.isModifiable(k)) child.conf.set(k, v)
      }
      child
    })
  }

  /** Forget the sessions of job names `gone` names: a next run starts afresh. */
  private[engine] def dropSessions(parent: SparkSession, gone: String => Boolean): Unit =
    Option(children.synchronized(children.get(parent)))
      .foreach(_.keySet.removeIf(n => gone(n)))

  /** A failure's journal text: each throwable's class and message
    * (`Throwable.toString`) along its cause chain, outermost first — an
    * NPE without a message still names its class, where `getMessage`
    * alone would read "null". At most 16 links, so a cyclic chain ends.
    */
  private[engine] def describe(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .map(_.toString).mkString(" <- caused by: ")
}
