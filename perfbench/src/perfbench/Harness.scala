package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.engine.{FsUtils, Journal, RunnerMain, ScriptCompiler, ScriptJobs}

/** The benchmark's JVM side. It reads a plan written by `run.py` (inputs,
  * entry order, time budget, trace on or off), drives the program only
  * through its public functions, and writes raw timings, spans and Spark
  * events as JSON. `run.py` reduces them to metrics.
  *
  * Usage: `perfbench.Harness <plan.json> <result.json>`.
  *
  * A run is a closed loop with one client: entries (or Runner ticks) run
  * one after another. With tracing on, passes alternate between untraced
  * and traced, so the same run measures the tracing overhead.
  */
object Harness {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val out = mapper.createObjectNode()
    val work = plan.get("workload").asText
    val spark =
      if (work == "runner_soak") new RunnerSoak(plan, out).run()
      else new EntryPasses(plan, out).run()
    out.put("heap_peak_mb", Heap.peakMb)
    mapper.writeValue(new File(args(1)), out)
    spark.stop()
  }

  def session(plan: JsonNode): SparkSession = {
    val cores = plan.get("cores").asInt
    val spark = GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", plan.get("run_dir").asText + "/warehouse")
      .config("spark.local.dir", plan.get("run_dir").asText + "/tmp")
      .config("spark.hadoop.hadoop.tmp.dir", plan.get("run_dir").asText + "/tmp")
      // Spark's status store keeps up to 1000 jobs, stages and SQL
      // executions even without a UI; a small bound keeps heap_peak_mb
      // about the program's own state, not about how long the run was.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.configure(spark)
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  /** Releases cached and pinned blocks between entries, outside any
    * timed span, as `graft.Bench` does. It waits for the release, so the
    * next entry does not share the machine with it.
    */
  def freeBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Marks the end of set-up: the first timed operation starts now.
    * `run.py` takes set-up time from the JVM's start to this moment.
    */
  def markTimedStart(out: ObjectNode): Unit =
    out.put("timed_start_ms", System.currentTimeMillis())
}

/** Peak old-generation occupancy after a full collection. It is sampled
  * after every timed entry, before its cached and pinned blocks are freed,
  * and after every timed tick, each time outside the timed span, so the
  * state an entry or tick leaves in memory shows.
  */
object Heap {
  private var peak = 0.0

  private def oldGenMb(): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val old = pools.filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = if (old.nonEmpty) old.map(_.getUsage.getUsed).sum
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    used / 1048576.0
  }

  /** Collects, then returns (and folds into the peak) the occupancy in MB. */
  def sample(): Double = {
    System.gc()
    val used = oldGenMb()
    peak = math.max(peak, used)
    used
  }

  /** Collects until two readings agree within 1% (at most five times), so
    * what the warm-up left behind is gone before the timed passes. Spark's
    * cleaner releases broadcasts and shuffle state only after a collection
    * has found their handles unreachable.
    */
  def settle(): Unit = {
    System.gc()
    var last = oldGenMb()
    var i = 0
    var settled = false
    while (!settled && i < 5) {
      Thread.sleep(200)
      System.gc()
      val now = oldGenMb()
      settled = math.abs(now - last) <= 0.01 * last
      last = now
      i += 1
    }
  }

  def peakMb: Double = peak
}

/** etl_relational and stream_gates: registry entries run in passes; each
  * entry is its `SparkEntry.queries` fn plus a noop save.
  */
final class EntryPasses(plan: JsonNode, out: ObjectNode) {
  import Harness._

  private val entries = strings(plan.get("entries"))
  private val seconds = plan.get("seconds").asDouble
  private val traced = plan.get("trace").asBoolean

  def run(): SparkSession = {
    val spark = session(plan)
    val dataDir = plan.get("base_dir").asText
    val fns = entries.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"entry $n is not in SparkEntry.queries"))).toMap

    // Warm-up pass, which also writes each entry's result once for the
    // oracle check.
    val resultsDir = plan.get("results_dir").asText
    val warm = out.putArray("warmup")
    val t0 = System.nanoTime()
    entries.foreach { name =>
      val e0 = System.nanoTime()
      val err =
        try { fns(name)(spark, dataDir).write.mode("overwrite").parquet(s"$resultsDir/$name"); null }
        catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
      freeBlocks(spark)
      warm.addObject().put("name", name).put("s", elapsedS(e0)).put("error", err)
    }
    out.put("warmup_s", elapsedS(t0))
    writeOracles(resultsDir)

    val trace = new Trace(spark)
    val passes = out.putArray("passes")
    val runs = out.putArray("runs")
    Heap.settle()
    markTimedStart(out)
    val start = System.nanoTime()
    var p = 0
    // Trace runs alternate untraced, traced, untraced, so the traced pass
    // is compared with the mean of the two around it.
    val minPasses = if (traced) 3 else 1
    while (elapsedS(start) < seconds || p < minPasses) {
      val tracedPass = traced && p % 2 == 1
      if (tracedPass) trace.attach()
      val p0 = Clock.nowMs
      val w0 = System.nanoTime()
      entries.zipWithIndex.foreach { case (name, i) =>
        val id = s"p$p.e$i"
        val e0 = System.nanoTime()
        val err =
          try {
            trace.span(id, s"p$p", "entry", name) {
              val df = trace.span(s"$id.build", id, "build", name)(fns(name)(spark, dataDir))
              trace.span(s"$id.exec", id, "exec", name)(
                df.write.format("noop").mode("overwrite").save())
            }
            null
          } catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
        val s = elapsedS(e0)
        val heap = Heap.sample()
        freeBlocks(spark)
        runs.addObject().put("pass", p).put("name", name).put("s", s).put("error", err)
          .put("traced", tracedPass).put("heap_mb", heap)
      }
      val wall = elapsedS(w0)
      if (tracedPass) {
        trace.record(s"p$p", "", "pass", "", p0, Clock.nowMs)
        trace.detach()
      }
      passes.addObject().put("pass", p).put("s", wall).put("traced", tracedPass)
      p += 1
    }
    if (traced) out.set[ObjectNode]("trace", trace.toJson)
    spark
  }

  private def writeOracles(dir: String): Unit = {
    val o = mapper.createObjectNode()
    val all = SparkEntry.oracleSql
    entries.foreach(n => all.get(n).foreach(o.put(n, _)))
    new File(dir).mkdirs()
    mapper.writeValue(new File(s"$dir/oracle_sql.json"), o)
  }
}

/** runner_soak: `RunnerMain.tick` over a scripts directory with a simulated
  * clock that advances one interval per tick, so every job is due on every
  * tick. Ticks run in rounds; each round starts from a fresh copy of the
  * seeded journal, so tick i of every round sees the same history however
  * many rounds fit in the run.
  */
final class RunnerSoak(plan: JsonNode, out: ObjectNode) {
  import Harness._

  private val seconds = plan.get("seconds").asDouble
  private val traced = plan.get("trace").asBoolean
  private val scriptsDir = plan.get("scripts_dir").asText
  private val journalDir = s"$scriptsDir/.journal"
  private val seedJournal = plan.get("journal_seed_dir").asText
  private val roundTicks = plan.get("round_ticks").asInt
  private val intervalMs = plan.get("interval_ms").asLong
  private val startMs = plan.get("start_ms").asLong
  private val recompiles: Map[Int, String] = plan.get("recompiles").elements().asScala
    .map(n => n.get(0).asInt -> n.get(1).asText).toMap

  private var compiles = 0
  private var lookups = 0

  def run(): SparkSession = {
    val spark = session(plan)
    val fs = new FsUtils(spark)
    val trace = new Trace(spark)
    val journal = new TracedJournal(spark, journalDir, trace)
    val scalaJobs = new ScriptJobs[SparkSession => Any](
      compile = src => {
        compiles += 1
        trace.span(s"${journal.jobSpan}.compile", journal.jobSpan, "compile", "")(
          ScriptCompiler.compileTask(src))
      },
      mtimeOf = p => { lookups += 1; fs.mtime(p) },
      read = fs.cat)
    resetJournal()
    val seeded = spark.read.parquet(journalDir).count()
    require(seeded == plan.get("journal_rows").asLong,
      s"seeded journal reads $seeded rows, expected ${plan.get("journal_rows")}")

    val plain = new Journal(spark, journalDir)
    // Untimed warm-up ticks, so the first timed round does not pay for
    // code paths' first use; the first tick compiles each Scala script.
    for (t <- 0 until plan.get("warmup_ticks").asInt)
      RunnerMain.tick(spark, scriptsDir, plain, scalaJobs, () => startMs + (t + 1) * intervalMs)

    val ticks = out.putArray("ticks")
    val rounds = out.putArray("rounds")
    freeBlocks(spark)
    Heap.settle()
    markTimedStart(out)
    val start = System.nanoTime()
    var round = 0
    // Trace runs go untraced, traced, untraced, traced; the last round
    // starts from twice the seeded history, so tick time is seen at two
    // history sizes.
    val minRounds = if (traced) 4 else 1
    while (elapsedS(start) < seconds || round < minRounds) {
      val tracedRound = traced && round % 2 == 1
      val copies = if (traced && round == 3) 2 else 1
      resetJournal(copies)
      if (tracedRound) trace.attach()
      var now = startMs
      var rows = copies * plan.get("journal_rows").asLong
      val c0 = compiles
      val l0 = lookups
      for (t <- 0 until roundTicks) {
        recompiles.get(t).foreach(rewrite(_, round, t))
        now += intervalMs
        val clockNow = now
        val id = s"r$round.t$t"
        val t0 = System.nanoTime()
        val results = trace.span(id, s"r$round", "tick", "") {
          if (tracedRound) {
            journal.startTick(id)
            RunnerMain.tick(spark, scriptsDir, journal, scalaJobs, () => clockNow)
          } else RunnerMain.tick(spark, scriptsDir, plain, scalaJobs, () => clockNow)
        }
        val s = elapsedS(t0)
        val heap = Heap.sample()
        val bad = results.count { case (_, st) => st != "SUCCEED" }
        val failedJobs = results.filter { case (_, st) => st != "SUCCEED" }.map(_._1)
        val tk = ticks.addObject().put("round", round).put("tick", t).put("s", s)
          .put("jobs", results.size).put("failed", bad).put("traced", tracedRound)
          .put("history_rows", rows).put("heap_mb", heap)
        rows += results.size
        val fj = tk.putArray("failed_jobs")
        failedJobs.foreach(fj.add)
      }
      val files = new File(journalDir).listFiles().count(_.getName.endsWith(".parquet"))
      if (tracedRound) trace.detach()
      // A SQL statement error leaves the job SUCCEED with "ERROR" in its
      // journal result; count those too.
      val errors = spark.read.parquet(journalDir)
        .filter(col("startedAt") > startMs && col("result").contains("ERROR")).count()
      rounds.addObject().put("round", round).put("traced", tracedRound)
        .put("history_copies", copies)
        .put("compiles", compiles - c0).put("lookups", lookups - l0)
        .put("journal_files", files).put("sql_errors", errors)
      round += 1
    }
    if (traced) out.set[ObjectNode]("trace", trace.toJson)
    scalaJobs.closeAll()
    spark
  }

  /** A fresh journal holding `copies` copies of each seeded record file. */
  private def resetJournal(copies: Int = 1): Unit = {
    val dst = new File(journalDir)
    if (dst.exists()) deleteTree(dst)
    dst.mkdirs()
    for (k <- 0 until copies; f <- new File(seedJournal).listFiles()) {
      val name = if (k == 0) f.getName else s"copy$k-${f.getName}"
      if (k == 0 || f.getName.endsWith(".parquet"))
        Files.copy(f.toPath, new File(dst, name).toPath)
    }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Rewrites a script with a changed trailing comment and a later mtime,
    * which forces `ScriptJobs` to recompile it on the next tick.
    */
  private def rewrite(name: String, round: Int, tick: Int): Unit = {
    val p = Paths.get(s"$scriptsDir/$name")
    val src = new String(Files.readAllBytes(p), "UTF-8")
    val body = src.replaceAll("(?m)^// revision .*\n", "")
    Files.write(p, s"$body// revision $round.$tick\n".getBytes("UTF-8"))
    val mtime = Files.getLastModifiedTime(p).toMillis
    p.toFile.setLastModified(mtime + 1000L * (1 + round * 1000 + tick))
  }
}
