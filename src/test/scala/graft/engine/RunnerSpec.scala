package graft.engine

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.Duration
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

class RunnerSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-journal").toString + "/journal"

  test("journal save + lastExecution by path") {
    val dir = tmpDir()
    val j = new Journal(spark, dir)
    assert(j.lastExecution("jobA").isEmpty)
    j.save(ExecutionRecord("jobA", 100L, 110L, "r1", "SUCCEED"))
    j.save(ExecutionRecord("jobA", 200L, 220L, "r2", "FAILED"))
    j.save(ExecutionRecord("jobB", 150L, 160L, "r3", "SUCCEED"))
    val last = j.lastExecution("jobA").get
    assert(last.startedAt === 200L)
    assert(last.status === "FAILED")
    // every save is a row of the parquet table Spark reads
    assert(spark.read.parquet(dir).filter(col("path") === "jobA")
      .orderBy(col("startedAt")).as[ExecutionRecord].collect().toSeq === Seq(
        ExecutionRecord("jobA", 100L, 110L, "r1", "SUCCEED"),
        ExecutionRecord("jobA", 200L, 220L, "r2", "FAILED")))
  }

  /** Data files of a journal directory, as Spark lists them. */
  private def dataFiles(dir: String): Seq[File] =
    new File(dir).listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  test("a lookup on an unchanged journal and a save start no Spark job") {
    val j = new Journal(spark, tmpDir())
    j.save(ExecutionRecord("jobA", 100L, 110L, "r1", "SUCCEED"))
    // the first lookup seeds the index, reading the files on the driver
    assert(jobsStartedBy(assert(j.lastExecution("jobA").get.startedAt === 100L)) === 0)
    val jobs = jobsStartedBy {
      assert(j.lastExecution("jobA").get.startedAt === 100L)
      j.save(ExecutionRecord("jobA", 200L, 220L, "r2", "SUCCEED"))
      assert(j.lastExecution("jobA").get.result === "r2")
      assert(j.lastExecution("jobB").isEmpty)
    }
    assert(jobs === 0)
  }

  test("restart: a new Journal on an existing directory gates from disk") {
    val dir = tmpDir()
    var now = 1000000L
    var runs = 0
    val job = Job("tick", Duration.ofMinutes(1), _ => { runs += 1; "ok" })
    val before = new Runner(spark, new Journal(spark, dir), clock = () => now)
    before.register(job)
    assert(before.runOnce() === Seq("tick" -> "SUCCEED"))
    now += 30000
    val after = new Runner(spark, new Journal(spark, dir), clock = () => now)
    after.register(job)
    assert(after.runOnce() === Seq.empty)
    now += 40000
    assert(after.runOnce() === Seq("tick" -> "SUCCEED"))
    assert(runs === 2)
  }

  /** Threads of a tick's job pool still alive. */
  private def liveWorkers(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.getName.startsWith(Runner.WorkerName) && t.isAlive)

  test("a crash between a job's execution and its save re-runs the job " +
      "on the next tick (at-least-once)") {
    val dir = tmpDir()
    var now = 2000000L
    val runs = new ConcurrentHashMap[String, Int]()
    val finished = new AtomicInteger
    val crashing = new Journal(spark, dir) {
      override def save(rec: ExecutionRecord): Unit =
        throw new IllegalStateException("crash before the journal write")
    }
    def jobs(r: Runner): Unit = Seq("a" -> 0L, "b" -> 300L).foreach { case (n, ms) =>
      r.register(Job(n, Duration.ofMinutes(1), _ => {
        runs.merge(n, 1, (a, b) => a + b)
        Thread.sleep(ms)
        finished.incrementAndGet()
      }))
    }
    val before = new Runner(spark, crashing, clock = () => now)
    jobs(before)
    intercept[IllegalStateException](before.runOnce())
    // both jobs started at once; the slow one, still running when the
    // first save failed, was waited for
    assert(finished.get === 2)
    assert(liveWorkers().isEmpty)
    now += 1000 // well within the interval
    val after = new Runner(spark, new Journal(spark, dir), clock = () => now)
    jobs(after)
    assert(after.runOnce() === Seq("a" -> "SUCCEED", "b" -> "SUCCEED"))
    assert(runs.asScala.toMap === Map("a" -> 2, "b" -> 2))
    assert(liveWorkers().isEmpty)
  }

  test("a tick's due jobs run at the same time") {
    val both = new CountDownLatch(2)
    val runner = new Runner(spark, new Journal(spark, tmpDir()), clock = () => 8000000L)
    Seq("a", "b").foreach(n => runner.register(Job(n, Duration.ZERO, _ => {
      both.countDown()
      // only met if the other job is running too
      assert(both.await(30, TimeUnit.SECONDS), s"$n ran alone")
      "met"
    })))
    assert(runner.runOnce() === Seq("a" -> "SUCCEED", "b" -> "SUCCEED"))
  }

  test("a tick runs at most availableProcessors jobs at once") {
    val cpus = Runtime.getRuntime.availableProcessors
    val running = new AtomicInteger
    val peak = new AtomicInteger
    val runner = new Runner(spark, new Journal(spark, tmpDir()), clock = () => 8100000L)
    (0 until cpus + 2).foreach(i => runner.register(Job(f"job$i%03d", Duration.ZERO, _ => {
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
      Thread.sleep(200)
      running.decrementAndGet()
    })))
    val r = runner.runOnce()
    assert(r.size === cpus + 2 && r.forall(_._2 == "SUCCEED"), r)
    assert(peak.get >= 2 && peak.get <= cpus, s"peak ${peak.get} on $cpus cpus")
  }

  test("gating and saves run on the calling thread, saves in name order; " +
      "jobs run on other threads that carry its local properties") {
    val calls = new ConcurrentLinkedQueue[(String, String, Thread)]
    val j = new Journal(spark, tmpDir()) {
      override def lastExecution(path: String): Option[ExecutionRecord] = {
        calls.add(("read", path, Thread.currentThread))
        super.lastExecution(path)
      }
      override def save(rec: ExecutionRecord): Unit = {
        calls.add(("save", rec.path, Thread.currentThread))
        super.save(rec)
      }
    }
    val runner = new Runner(spark, j, clock = () => System.currentTimeMillis())
    val jobThreads = new ConcurrentLinkedQueue[Thread]
    // the first name finishes last: saves in completion order would reverse
    Seq("a" -> 400L, "b" -> 200L, "c" -> 0L).foreach { case (n, ms) =>
      runner.register(Job(n, Duration.ZERO, s => {
        jobThreads.add(Thread.currentThread)
        Thread.sleep(ms)
        s.sparkContext.getLocalProperty("spark.jobGroup.id")
      }))
    }
    val sc = spark.sparkContext
    sc.setJobGroup("runner-tick", "tick")
    val r = try runner.runOnce() finally sc.clearJobGroup()
    assert(r.map(_._1) === Seq("a", "b", "c"))
    val seen = calls.asScala.toSeq
    assert(seen.map(c => c._1 -> c._2) === Seq("read" -> "a", "read" -> "b",
      "read" -> "c", "save" -> "a", "save" -> "b", "save" -> "c"))
    assert(seen.forall(_._3 eq Thread.currentThread))
    assert(jobThreads.size === 3)
    assert(jobThreads.asScala.forall(_ ne Thread.currentThread))
    val a = j.lastExecution("a").get
    assert(a.result === "runner-tick")
    // finishedAt is taken where the job ran, not at its save
    assert(a.finishedAt - a.startedAt >= 400L)
    assert(j.lastExecution("c").get.finishedAt < a.finishedAt)
    assert(liveWorkers().isEmpty)
  }

  test("a file another writer adds is seen on the next lookup") {
    val dir = tmpDir()
    val j = new Journal(spark, dir)
    j.save(ExecutionRecord("jobA", 100L, 110L, "r1", "SUCCEED"))
    assert(j.lastExecution("jobA").get.startedAt === 100L)
    new Journal(spark, dir).save(ExecutionRecord("jobA", 200L, 210L, "r2", "SUCCEED"))
    assert(j.lastExecution("jobA").get.startedAt === 200L)
    // a Spark append, the layout of journals written before this writer
    Seq(ExecutionRecord("jobA", 300L, 310L, "r3", "SUCCEED")).toDS()
      .write.mode(SaveMode.Append).parquet(dir)
    assert(j.lastExecution("jobA").get.startedAt === 300L)
  }

  test("a directory deleted and re-copied under the same names reseeds") {
    val dir = tmpDir()
    def snapshot(rec: ExecutionRecord): File = {
      val d = tmpDir()
      new Journal(spark, d).save(rec)
      dataFiles(d).head
    }
    val older = snapshot(ExecutionRecord("jobA", 100L, 110L, "r1", "SUCCEED"))
    val newer = snapshot(ExecutionRecord("jobA", 900L, 910L, "r9", "SUCCEED"))
    assert(older.length === newer.length) // only the mtime tells them apart
    Files.createDirectories(Paths.get(dir))
    val live = Paths.get(dir, "part-00000-restored-c000.snappy.parquet")
    Files.copy(older.toPath, live)
    val j = new Journal(spark, dir)
    assert(j.lastExecution("jobA").get.startedAt === 100L)
    val seededMtime = live.toFile.lastModified()
    new FsUtils(spark).rm(dir)
    Files.createDirectories(Paths.get(dir))
    Files.copy(newer.toPath, live)
    // a later copy: the same name, a later modification time
    assert(live.toFile.setLastModified(seededMtime + 1000))
    assert(j.lastExecution("jobA").get.startedAt === 900L)
  }

  test("a corrupt file that appears after seeding raises on the next lookup") {
    val dir = tmpDir()
    val j = new Journal(spark, dir)
    j.save(ExecutionRecord("jobA", 100L, 110L, "r1", "SUCCEED"))
    assert(j.lastExecution("jobA").isDefined)
    Files.write(Paths.get(s"$dir/part-9.parquet"), "not a parquet file".getBytes("UTF-8"))
    val e = intercept[Exception](j.lastExecution("jobA"))
    assert(e.toString.contains("part-9.parquet") ||
      Option(e.getCause).exists(_.toString.contains("part-9.parquet")), e.toString)
  }

  test("Spark-written, pyarrow-written and new journal files read together") {
    val dir = tmpDir()
    Seq(ExecutionRecord("jobS", 100L, 110L, "spark", "SUCCEED")).toDS()
      .write.mode(SaveMode.Append).parquet(dir)
    Files.copy(Paths.get(getClass.getResource("journal-pyarrow.parquet").toURI),
      Paths.get(dir, "part-00000-pyarrow-c000.snappy.parquet"))
    val j = new Journal(spark, dir)
    j.save(ExecutionRecord("jobN", 200L, 210L, "new", "FAILED"))
    j.save(ExecutionRecord("jobS", 400L, 410L, "new", "SUCCEED"))
    val fresh = new Journal(spark, dir)
    assert(fresh.lastExecution("jobS") ===
      Some(ExecutionRecord("jobS", 400L, 410L, "new", "SUCCEED")))
    assert(fresh.lastExecution("jobP") ===
      Some(ExecutionRecord("jobP", 300L, 330L, "pyarrow", "SUCCEED")))
    assert(fresh.lastExecution("jobN") ===
      Some(ExecutionRecord("jobN", 200L, 210L, "new", "FAILED")))
    assert(spark.read.parquet(dir).count() === 4L)
  }

  private lazy val fullTemplate: String = {
    val dir = tmpDir()
    spark.range(0, Journal.CompactAt, 1, Journal.CompactAt)
      .select(concat(lit("p"), col("id") % 10).as("path"), col("id").as("startedAt"),
        (col("id") + 5).as("finishedAt"), col("id").cast("string").as("result"),
        lit("SUCCEED").as("status"))
      .write.parquet(dir)
    dir
  }

  /** A journal directory of `Journal.CompactAt` one-row files, ten paths. */
  private def fullJournal(): String = {
    val dir = tmpDir()
    new FsUtils(spark).cp(fullTemplate, dir)
    assert(dataFiles(dir).size === Journal.CompactAt)
    dir
  }

  private val paths = (0 until 10).map(i => s"p$i")

  test("a lookup that lists more than CompactAt data files compacts the " +
      "journal to one, every path's last execution unchanged") {
    val dir = fullJournal()
    val j = new Journal(spark, dir)
    val before = paths.map(j.lastExecution)
    assert(before.forall(_.isDefined))
    assert(dataFiles(dir).size === Journal.CompactAt) // at the constant: kept
    val rec = ExecutionRecord("q", 5000L, 5001L, "ok", "SUCCEED")
    j.save(rec)
    assert(paths.map(j.lastExecution) === before)
    assert(j.lastExecution("q") === Some(rec))
    assert(dataFiles(dir).size === 1)
    assert(!new File(s"$dir/_compacting").exists())
    assert(spark.read.parquet(dir).count() === Journal.CompactAt + 1L)
    // a journal opened on a directory past the constant compacts it first
    val other = fullJournal()
    new Journal(spark, other).save(rec)
    val fresh = new Journal(spark, other)
    assert(paths.map(fresh.lastExecution) === before)
    assert(fresh.lastExecution("q") === Some(rec))
    assert(dataFiles(other).size === 1)
  }

  test("a compaction starts no Spark job and leaves no staging or hidden " +
      "file") {
    val dir = fullJournal()
    val j = new Journal(spark, dir)
    val rec = ExecutionRecord("q", 5000L, 5001L, "ok", "SUCCEED")
    assert(jobsStartedBy { assert(j.lastExecution("p3").isDefined); j.save(rec) } === 0)
    val rows = spark.read.parquet(dir).count()
    assert(rows === Journal.CompactAt + 1L)
    // past the constant: this lookup compacts
    assert(jobsStartedBy(assert(j.lastExecution("q") === Some(rec))) === 0)
    assert(dataFiles(dir).size === 1)
    assert(!new File(s"$dir/_compacting").exists())
    assert(!new File(dir).list().exists(_.contains(".tmp-")), new File(dir).list().toSeq)
    assert(spark.read.parquet(dir).count() === rows)
  }

  test("a reseed reads a null result or status as null, as Spark does") {
    val dir = tmpDir()
    val spark1 = ExecutionRecord("jobS", 100L, 110L, null, "SUCCEED")
    val spark2 = ExecutionRecord("jobT", 100L, 110L, "r", null)
    Seq(spark1, spark2).toDS().write.mode(SaveMode.Append).parquet(dir)
    val saved = ExecutionRecord("jobN", 200L, 210L, null, null)
    new Journal(spark, dir).save(saved)
    val fresh = new Journal(spark, dir)
    assert(Seq("jobS", "jobT", "jobN").map(fresh.lastExecution) ===
      Seq(Some(spark1), Some(spark2), Some(saved)))
    assert(spark.read.parquet(dir).as[ExecutionRecord].collect().toSet ===
      Set(spark1, spark2, saved))
  }

  test("a startedAt tie returns one fixed record, whatever the file or " +
      "save order") {
    // the later of a tie: the greater finishedAt, then status, then result
    val won = ExecutionRecord("jobT", 100L, 120L, "a", "SUCCEED")
    val tied = Seq(won, ExecutionRecord("jobT", 100L, 110L, "b", "SUCCEED"),
      ExecutionRecord("jobT", 100L, 120L, "c", "FAILED"),
      ExecutionRecord("jobT", 100L, 120L, null, "SUCCEED"))
    tied.permutations.foreach { order =>
      val dir = tmpDir()
      val live = new Journal(spark, dir)
      assert(live.lastExecution("jobT").isEmpty) // seeded: saves fold into the index
      order.foreach(live.save)
      assert(live.lastExecution("jobT") === Some(won), order)
      assert(new Journal(spark, dir).lastExecution("jobT") === Some(won), order)
    }
  }

  test("an interrupted compaction (copy landed, originals kept) gives the " +
      "same answers") {
    val dir = tmpDir()
    val j = new Journal(spark, dir)
    for (t <- 0L until 20L) j.save(ExecutionRecord(s"p${t % 3}", t, t + 1, "ok", "SUCCEED"))
    val before = paths.map(j.lastExecution)
    val landed = tmpDir()
    spark.read.parquet(dir).coalesce(1).write.parquet(landed)
    dataFiles(landed).foreach(f => Files.move(f.toPath, Paths.get(dir, f.getName)))
    assert(dataFiles(dir).size === 21)
    assert(spark.read.parquet(dir).count() === 40L)
    assert(paths.map(j.lastExecution) === before)
    assert(paths.map(new Journal(spark, dir).lastExecution) === before)
  }

  test("a journal directory that is absent, or holds no data file, reads " +
      "as empty") {
    val dir = tmpDir()
    assert(new Journal(spark, dir).lastExecution("jobA").isEmpty)
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.writeString(java.nio.file.Paths.get(s"$dir/_SUCCESS"), "")
    assert(new Journal(spark, dir).lastExecution("jobA").isEmpty)
  }

  test("an unreadable journal propagates its read error instead of " +
      "reading as empty") {
    val dir = tmpDir()
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.write(java.nio.file.Paths.get(s"$dir/part-0.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    val e = intercept[Exception] {
      new Journal(spark, dir).lastExecution("jobA")
    }
    assert(e.getMessage.contains("part-0.parquet") ||
      Option(e.getCause).exists(_.toString.contains("part-0.parquet")),
      e.toString)
  }

  test("runner gates jobs by interval against the journal") {
    var now = 1000000L
    val j = new Journal(spark, tmpDir())
    val runner = new Runner(spark, j, clock = () => now)
    var runs = 0
    runner.register(Job("tick", Duration.ofMinutes(1), _ => { runs += 1; "ok" }))

    assert(runner.runOnce() === Seq("tick" -> "SUCCEED"))
    assert(runs === 1)
    // within the interval: gated
    now += 30000
    assert(runner.runOnce() === Seq.empty)
    assert(runs === 1)
    // past the interval: runs again
    now += 40000
    assert(runner.runOnce() === Seq("tick" -> "SUCCEED"))
    assert(runs === 2)
  }

  test("runner journals failures and keeps going") {
    var now = 5000000L
    val j = new Journal(spark, tmpDir())
    val runner = new Runner(spark, j, clock = () => now)
    runner.register(Job("boom", Duration.ZERO, _ => throw new RuntimeException("nope")))
    runner.register(Job("fine", Duration.ZERO, _ => 42))
    assert(runner.runOnce().toMap === Map("boom" -> "FAILED", "fine" -> "SUCCEED"))
    assert(j.lastExecution("boom").get.status === "FAILED")
    assert(j.lastExecution("boom").get.result === "java.lang.RuntimeException: nope")
    assert(j.lastExecution("fine").get.result === "42")
  }

  test("a job throwing an Error (`???`) journals FAILED and the tick's " +
      "next job still runs") {
    val j = new Journal(spark, tmpDir())
    val runner = new Runner(spark, j, clock = () => 6000000L)
    var nextRan = false
    runner.register(Job("a_todo", Duration.ZERO, _ => ???))
    runner.register(Job("b_next", Duration.ZERO, _ => { nextRan = true; "ok" }))
    assert(runner.runOnce() === Seq("a_todo" -> "FAILED", "b_next" -> "SUCCEED"))
    assert(nextRan)
    val rec = j.lastExecution("a_todo").get
    assert(rec.status === "FAILED")
    assert(rec.result.startsWith("scala.NotImplementedError"), rec.result)
  }

  test("failure records carry the exception class and the cause chain") {
    val j = new Journal(spark, tmpDir())
    val runner = new Runner(spark, j, clock = () => 7000000L)
    // a bare NPE has no message: getMessage alone would journal "null"
    runner.register(Job("npe", Duration.ZERO, _ => throw new NullPointerException()))
    runner.register(Job("wrapped", Duration.ZERO, _ =>
      throw new IllegalStateException("load failed",
        new java.io.IOException("disk gone", new NullPointerException()))))
    assert(runner.runOnce().toMap === Map("npe" -> "FAILED", "wrapped" -> "FAILED"))
    assert(j.lastExecution("npe").get.result === "java.lang.NullPointerException")
    assert(j.lastExecution("wrapped").get.result ===
      "java.lang.IllegalStateException: load failed" +
        " <- caused by: java.io.IOException: disk gone" +
        " <- caused by: java.lang.NullPointerException")
  }

  test("ScriptJobs recompiles only when mtime changes, closes old instances") {
    var mtime = 1L
    var src = "v1"
    var compiles = 0
    var closed = List.empty[String]
    class Inst(val v: String) extends AutoCloseable {
      def close(): Unit = closed ::= v
    }
    val jobs = new ScriptJobs[Inst](
      compile = s => { compiles += 1; new Inst(s) },
      mtimeOf = _ => mtime,
      read = _ => src)
    assert(jobs.instance("/p").v === "v1")
    assert(jobs.instance("/p").v === "v1")
    assert(compiles === 1)
    mtime = 2L; src = "v2"
    assert(jobs.instance("/p").v === "v2")
    assert(compiles === 2)
    assert(closed === List("v1"))
  }

  test("ScriptCompiler compiles and runs a task function") {
    val fn = ScriptCompiler.compileTask(
      "(spark: SparkSession) => spark.range(5).count()")
    assert(fn(spark) === 5L)
  }

  test("ScriptCompiler ENFORCES the plan-only contract (r19 verdict #3): " +
      "a plan-declaring script is accepted; a script whose returned plan " +
      "captures a toolbox-generated closure (typed map lambda / UDF) is " +
      "refused at eval time, before the cluster CNFE it would become") {
    // accepted: a declarative plan — Column expressions serialize as
    // Catalyst trees, no script-generated class travels to executors
    val plan = ScriptCompiler.compileTask(
      "(spark: SparkSession) => spark.range(5).select((col(\"id\") * 2)" +
        ".as(\"v\")).filter(col(\"v\") > 2)")(spark)
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    assert(plan.count() === 3L)
    // refused: a typed map whose lambda class exists only in the
    // toolbox's in-memory classloader
    val mapped = intercept[IllegalArgumentException] {
      ScriptCompiler.compileTask(
        "(spark: SparkSession) => { import spark.implicits._; " +
          "spark.range(5).map(x => x * 2) }")(spark)
    }
    assert(mapped.getMessage.contains("script-generated class"))
    // refused: a script-defined UDF — same driver-only class, hidden
    // one level deeper (inside ScalaUDF.function)
    val udfed = intercept[IllegalArgumentException] {
      ScriptCompiler.compileTask(
        "(spark: SparkSession) => { val f = udf((x: Long) => x + 1); " +
          "spark.range(5).select(f(col(\"id\")).as(\"v\")) }")(spark)
    }
    assert(udfed.getMessage.contains("script-generated class"))
    // non-Dataset results pass through untouched
    assert(ScriptCompiler.compileTask(
      "(spark: SparkSession) => spark.range(3).count()")(spark) === 3L)
    // refused: the closure hidden behind a TEMP-VIEW indirection — only
    // the ANALYZED plan substitutes the view; the raw logical plan shows
    // just an UnresolvedRelation (review-pass finding)
    val viewed = intercept[IllegalArgumentException] {
      ScriptCompiler.compileTask(
        "(spark: SparkSession) => { import spark.implicits._; " +
          "spark.range(5).map(_ * 2).createOrReplaceTempView(\"pv_gate\"); " +
          "spark.sql(\"select * from pv_gate\") }")(spark)
    }
    assert(viewed.getMessage.contains("script-generated class"))
    // refused: a Dataset NESTED in the result (tuple) — the gate walks
    // result containers, not just a top-level Dataset
    val nested = intercept[IllegalArgumentException] {
      ScriptCompiler.compileTask(
        "(spark: SparkSession) => { import spark.implicits._; " +
          "(42, Seq(spark.range(5).map(_ + 1))) }")(spark)
    }
    assert(nested.getMessage.contains("script-generated class"))
    // accepted: plan-declaring Datasets nested in containers
    val ok = ScriptCompiler.compileTask(
      "(spark: SparkSession) => (1, spark.range(4).select(col(\"id\")))")(
      spark).asInstanceOf[(Int, org.apache.spark.sql.DataFrame)]
    assert(ok._2.count() === 4L)
  }

  test("FsUtils cat/write/append/ls/mtime on local fs") {
    val fs = new FsUtils(spark)
    val dir = Files.createTempDirectory("graft-fs").toString
    val f = s"$dir/a.txt"
    assert(!fs.exists(f))
    fs.write(f, "hello")
    assert(fs.cat(f) === "hello")
    fs.append(f, " world")
    assert(fs.cat(f) === "hello world")
    assert(fs.ls(dir).exists(_.endsWith("a.txt")))
    assert(fs.mtime(f) > 0)
  }

  test("FsUtils mv/cp: rename moves recursively and fails loudly on a " +
      "missing source; cp snapshots a directory tree leaving the source " +
      "intact (the checkpoint-snapshot primitives of the replay gates)") {
    val fs = new FsUtils(spark)
    val dir = Files.createTempDirectory("graft-fsmv").toString
    fs.write(s"$dir/src/a/x.txt", "one")
    fs.write(s"$dir/src/y.txt", "two")
    // cp: full tree copied, source untouched
    fs.cp(s"$dir/src", s"$dir/snap")
    assert(fs.cat(s"$dir/snap/a/x.txt") === "one")
    assert(fs.cat(s"$dir/snap/y.txt") === "two")
    assert(fs.cat(s"$dir/src/a/x.txt") === "one")
    // the snapshot is independent: mutating the source after the copy
    // must not leak into it (the crash-simulation rollback relies on it)
    fs.write(s"$dir/src/y.txt", "TWO'")
    assert(fs.cat(s"$dir/snap/y.txt") === "two")
    // an EXISTING destination is refused (ADVICE r19): FileUtil.copy
    // would MERGE the trees, silently contaminating the snapshot with
    // leftover state — replacement must be an explicit rm-then-cp
    val dup = intercept[IllegalArgumentException] {
      fs.cp(s"$dir/src", s"$dir/snap")
    }
    assert(dup.getMessage.contains("already exists"))
    assert(fs.cat(s"$dir/snap/y.txt") === "two",
      "refused cp must leave the existing destination untouched")
    // mv: tree moves, source gone
    fs.mv(s"$dir/src", s"$dir/moved")
    assert(!fs.exists(s"$dir/src"))
    assert(fs.cat(s"$dir/moved/a/x.txt") === "one")
    // a missing source must throw, never silently no-op (a silent rename
    // failure mid-swap would leave saveIndex's torn states undetected).
    // The exception TYPE is filesystem-dependent (local fs throws
    // FileNotFoundException before our require sees false) — loudness is
    // the contract, not the class
    intercept[Exception] {
      fs.mv(s"$dir/nope", s"$dir/other")
    }
  }
}
