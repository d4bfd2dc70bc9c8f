package graft.engine

import java.time.Duration
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.etl.{SqlRunner, SqlScript}

/** Deployable runner — the engine's answer to the reference's
  * `InterpreterLoader.main` + `ProcessorLoader` pair (reference:
  * data-process/spark-process/src/main/scala/process/InterpreterLoader.scala:106-152,
  * src/main/script/ProcessorLoader.scala:12-22): watch a scripts directory,
  * hot-compile what changed, run what's due, journal every outcome.
  *
  *  - `*.scala` files must evaluate to `SparkSession => Any` (ToolBox
  *    compile — the reference's interpreted script type);
  *  - `*.sql` files run statement-by-statement through [[SqlRunner]]
  *    (the reference's Beeline script type), macros included; the first
  *    failing statement stops the script and fails the job;
  *  - per-script interval from a leading `-- interval: PT5M` /
  *    `// interval: PT5M` line, default PT1M
  *    (reference: annotation/ProcDescription.java:20);
  *  - journal at `<scriptsDir>/.journal` gates re-runs and records results;
  *  - the scripts due in a tick run at the same time, each on its own
  *    session, reused from tick to tick (see [[Runner.runOnce]]): like a
  *    Beeline connection per script (SURVEY §3.2), one script's temp
  *    views, `SET` confs and macros never reach another, and a script's
  *    own temp views are still there on its next run;
  *  - records are saved in script-name order, so a crash in a tick re-runs
  *    every script of that tick not journaled yet (at-least-once);
  *  - a script deleted from the directory loses its compiled instance
  *    (closed if `AutoCloseable`) and its session on the next tick.
  *
  * Usage: `runMain graft.engine.RunnerMain <scriptsDir> [tickMs] [maxTicks]`.
  */
object RunnerMain {

  private val IntervalRe = """(?m)^(?:--|//)\s*interval:\s*(\S+)\s*$""".r

  /** The run interval of a script without an interval header: the
    * reference's PT1M. */
  private val DefaultInterval = Duration.ofMinutes(1)

  def intervalOf(src: String): Duration =
    IntervalRe.findFirstMatchIn(src)
      .map(m => Duration.parse(m.group(1)))
      .getOrElse(DefaultInterval)

  /** One scheduler pass over the directory; returns (script, status). */
  def tick(spark: SparkSession, scriptsDir: String, journal: Journal,
      scalaJobs: ScriptJobs[SparkSession => Any],
      clock: () => Long = () => System.currentTimeMillis()): Seq[(String, String)] = {
    val fs = new FsUtils(spark)
    val runner = new Runner(spark, journal, clock)
    val scripts = fs.ls(scriptsDir)
      .filter(p => p.endsWith(".scala") || p.endsWith(".sql"))
    val dir = new Path(scriptsDir)
    // by string: the session cache also holds jobs other Runners named,
    // and a name like `etl:daily` is no Hadoop Path
    val prefix = s"${dir.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(dir)}/"
    val gone = (p: String) =>
      p.startsWith(prefix) && p.indexOf('/', prefix.length) < 0 && !scripts.contains(p)
    scalaJobs.drop(gone)
    Runner.dropSessions(spark, gone)
    scripts
      .foreach { path =>
        val src = fs.cat(path)
        val job = Try(intervalOf(src)) match {
          // a malformed interval header fails this script alone: its job
          // rethrows the parse error, so the runner journals it FAILED,
          // gated at the default interval, and the other scripts still run
          case Failure(e) => Job(path, DefaultInterval, _ => throw e)
          case Success(interval) if path.endsWith(".scala") =>
            Job(path, interval, s => scalaJobs.instance(path)(s))
          case Success(interval) =>
            Job(path, interval, { s =>
              // a failing statement throws, so the job journals FAILED
              // with the statement and its cause
              new SqlRunner(s).runScriptStrict(src)
              SqlScript.split(src).map(_ => "OK").mkString(",")
            })
        }
        runner.register(job)
      }
    runner.runOnce()
  }

  @volatile private[engine] var running = true

  /** Engine-level signal/exit handling (reference: process/MiscHelper.scala:31-59
    * installs TERM/HUP/INT handlers): a JVM shutdown hook — which TERM and
    * INT trigger — that stops the tick loop, closes every cached Closeable
    * script instance, and records the shutdown in the journal so an operator
    * can see a clean stop vs a crash. Returns the hook body so specs can
    * invoke it directly (idempotent).
    */
  def installShutdownHook(journal: Journal,
      scalaJobs: ScriptJobs[SparkSession => Any],
      clock: () => Long = () => System.currentTimeMillis()): () => Unit = {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val body = () => if (done.compareAndSet(false, true)) {
      running = false
      scalaJobs.closeAll()
      val now = clock()
      try journal.save(ExecutionRecord("__engine__", now, now, "shutdown", "SUCCEED"))
      catch { case _: Exception => () } // never block JVM exit on the journal
    }
    sys.addShutdownHook(body())
    body
  }

  def main(args: Array[String]): Unit = {
    val scriptsDir = args.headOption.getOrElse(
      sys.error("usage: RunnerMain <scriptsDir> [tickMs] [maxTicks]"))
    val tickMs = args.lift(1).map(_.toLong).getOrElse(60000L)
    val maxTicks = args.lift(2).map(_.toInt).getOrElse(Int.MaxValue)
    val spark = GraftSession.local("graft-runner")
    val journal = new Journal(spark, s"$scriptsDir/.journal")
    val fs = new FsUtils(spark)
    val scalaJobs = new ScriptJobs[SparkSession => Any](
      compile = ScriptCompiler.compileTask, mtimeOf = fs.mtime, read = fs.cat)
    installShutdownHook(journal, scalaJobs)
    var i = 0
    while (i < maxTicks && running) {
      val results = tick(spark, scriptsDir, journal, scalaJobs)
      if (results.nonEmpty)
        println(results.map { case (p, s) => s"$p=$s" }.mkString("[runner] ", " ", ""))
      i += 1
      if (i < maxTicks && running) Thread.sleep(tickMs)
    }
    spark.stop()
  }
}
