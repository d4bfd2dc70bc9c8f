package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import graft.SparkSpec

class RunnerMainSpec extends SparkSpec {

  test("interval parsed from leading comment, default PT1M") {
    assert(RunnerMain.intervalOf("-- interval: PT5M\nSELECT 1;").toMinutes === 5)
    assert(RunnerMain.intervalOf("// interval: PT30S\n(spark: SparkSession) => 1").getSeconds === 30)
    assert(RunnerMain.intervalOf("SELECT 1;").toMinutes === 1)
  }

  test("shutdown hook stops the loop, closes script instances, journals the stop") {
    val dir = Files.createTempDirectory("graft-runner-hook").toString
    val journal = new Journal(spark, s"$dir/.journal")
    val closed = new java.util.concurrent.atomic.AtomicInteger(0)
    class ClosingTask extends (SparkSession => Any) with AutoCloseable {
      def apply(s: SparkSession): Any = 1
      def close(): Unit = closed.incrementAndGet()
    }
    val jobs = new ScriptJobs[SparkSession => Any](
      compile = _ => new ClosingTask, mtimeOf = _ => 1L, read = _ => "")
    jobs.instance("a.scala")
    jobs.instance("b.scala")
    RunnerMain.running = true
    val hook = RunnerMain.installShutdownHook(journal, jobs, () => 123456L)
    hook()
    assert(!RunnerMain.running)
    assert(closed.get() === 2)
    val rec = journal.lastExecution("__engine__").get
    assert(rec.result === "shutdown" && rec.status === "SUCCEED")
    hook() // idempotent: second invocation is a no-op
    assert(closed.get() === 2)
    RunnerMain.running = true // restore for other specs
  }

  test("tick runs scala + sql scripts, journals, gates, and hot-reloads") {
    val dir = Files.createTempDirectory("graft-runner").toString
    Files.writeString(Paths.get(s"$dir/count.scala"),
      "// interval: PT1M\n(spark: SparkSession) => spark.range(7).count()")
    Files.writeString(Paths.get(s"$dir/script.sql"),
      "-- interval: PT1M\nCREATE OR REPLACE TEMPORARY VIEW rm_v AS SELECT 42 AS x;\nSELECT x FROM rm_v;")

    var now = 1000000L
    val journal = new Journal(spark, s"$dir/.journal")
    val fs = new FsUtils(spark)
    val scalaJobs = new ScriptJobs[SparkSession => Any](
      compile = ScriptCompiler.compileTask, mtimeOf = fs.mtime, read = fs.cat)

    val r1 = RunnerMain.tick(spark, dir, journal, scalaJobs, () => now).toMap
    assert(r1.keys.exists(_.endsWith("count.scala")))
    assert(r1.values.toSet === Set("SUCCEED"))
    val scalaPath = r1.keys.find(_.endsWith("count.scala")).get
    assert(journal.lastExecution(scalaPath).get.result === "7")

    // within interval: gated
    now += 10000
    assert(RunnerMain.tick(spark, dir, journal, scalaJobs, () => now).isEmpty)

    // edit the scala script; after the interval the new version runs
    Thread.sleep(1100) // local-fs mtime granularity
    Files.writeString(Paths.get(s"$dir/count.scala"),
      "// interval: PT1M\n(spark: SparkSession) => spark.range(9).count()")
    now += 60001
    val r3 = RunnerMain.tick(spark, dir, journal, scalaJobs, () => now).toMap
    assert(r3.values.toSet === Set("SUCCEED"))
    assert(journal.lastExecution(scalaPath).get.result === "9")

    // a successful sql script journals one OK per statement
    val sqlPath = r1.keys.find(_.endsWith("script.sql")).get
    assert(journal.lastExecution(sqlPath).get.result === "OK,OK")

    // a failing script journals FAILED but doesn't kill the tick
    Files.writeString(Paths.get(s"$dir/boom.sql"), "SELECT definitely_broken FROM nowhere;")
    now += 60001
    val r4 = RunnerMain.tick(spark, dir, journal, scalaJobs, () => now).toMap
    val boomPath = r4.keys.find(_.endsWith("boom.sql")).get
    assert(r4(boomPath) === "FAILED")
    assert(r4.filter(_._1 != boomPath).values.toSet === Set("SUCCEED"))
    // the record names the failed statement and carries its cause
    val boom = journal.lastExecution(boomPath).get
    assert(boom.status === "FAILED")
    assert(boom.result.startsWith("graft.etl.ScriptStatementException: " +
      "statement 0 failed"), boom.result)
    assert(boom.result.contains(
      " <- caused by: org.apache.spark.sql.AnalysisException"), boom.result)
  }

  test("a failed sql statement stops its script: later statements never run") {
    val dir = Files.createTempDirectory("graft-runner-stop").toString
    val out = s"$dir/never_written"
    Files.writeString(Paths.get(s"$dir/stop.sql"),
      s"""SELECT 1;
         |SELECT broken FROM range(1);
         |INSERT OVERWRITE DIRECTORY '$out' USING parquet SELECT 2 AS x;
         |""".stripMargin)
    val journal = new Journal(spark, s"$dir/.journal")
    val scalaJobs = new ScriptJobs[SparkSession => Any](
      compile = ScriptCompiler.compileTask, mtimeOf = _ => 1L, read = _ => "")
    val r = RunnerMain.tick(spark, dir, journal, scalaJobs, () => 1000000L)
    assert(r.map(_._2) === Seq("FAILED"))
    val rec = journal.lastExecution(r.head._1).get
    assert(rec.result.contains("statement 1 failed"), rec.result)
    assert(!Files.exists(Paths.get(out)),
      "the INSERT after the failed statement must not run")
  }

  test("a .scala script that does not compile journals FAILED with the " +
      "ToolBoxError, and the tick's .sql script still succeeds") {
    val dir = Files.createTempDirectory("graft-runner-nocompile").toString
    Files.writeString(Paths.get(s"$dir/bad.scala"),
      "(spark: SparkSession) => spark.range(3).noSuchMethod()")
    Files.writeString(Paths.get(s"$dir/ok.sql"), "SELECT 1;")
    val journal = new Journal(spark, s"$dir/.journal")
    val fs = new FsUtils(spark)
    val scalaJobs = new ScriptJobs[SparkSession => Any](
      compile = ScriptCompiler.compileTask, mtimeOf = fs.mtime, read = fs.cat)
    val r = RunnerMain.tick(spark, dir, journal, scalaJobs, () => 1000000L)
    val badPath = r.map(_._1).find(_.endsWith("bad.scala")).get
    val okPath = r.map(_._1).find(_.endsWith("ok.sql")).get
    assert(r.toMap === Map(badPath -> "FAILED", okPath -> "SUCCEED"))
    val bad = journal.lastExecution(badPath).get
    assert(bad.status === "FAILED")
    assert(bad.result.startsWith("scala.tools.reflect.ToolBoxError"), bad.result)
    assert(journal.lastExecution(okPath).get.result === "OK")
  }

  test("a script with a malformed interval header journals FAILED with the " +
      "parse error, gated at PT1M, and the tick's other scripts still run") {
    val dir = Files.createTempDirectory("graft-runner-badheader").toString
    Files.writeString(Paths.get(s"$dir/bad.sql"), "-- interval: 5m\nSELECT 1;")
    Files.writeString(Paths.get(s"$dir/ok.sql"), "SELECT 1;")
    val journal = new Journal(spark, s"$dir/.journal")
    val scalaJobs = new ScriptJobs[SparkSession => Any](
      compile = ScriptCompiler.compileTask, mtimeOf = _ => 1L, read = _ => "")
    var now = 1000000L
    val r = RunnerMain.tick(spark, dir, journal, scalaJobs, () => now).toMap
    val badPath = r.keys.find(_.endsWith("bad.sql")).get
    val okPath = r.keys.find(_.endsWith("ok.sql")).get
    assert(r === Map(badPath -> "FAILED", okPath -> "SUCCEED"))
    val bad = journal.lastExecution(badPath).get
    assert(bad.result.startsWith("java.time.format.DateTimeParseException"),
      bad.result)
    // gated at the default interval like any other failed script
    now += 30000
    assert(RunnerMain.tick(spark, dir, journal, scalaJobs, () => now).isEmpty)
    now += 30000
    assert(RunnerMain.tick(spark, dir, journal, scalaJobs, () => now).toMap ===
      Map(badPath -> "FAILED", okPath -> "SUCCEED"))
  }

  private def tickIn(dir: String, now: Long): Map[String, String] = {
    val scalaJobs = new ScriptJobs[SparkSession => Any](
      compile = ScriptCompiler.compileTask, mtimeOf = _ => 1L, read = _ => "")
    RunnerMain.tick(spark, dir, new Journal(spark, s"$dir/.journal"), scalaJobs, () => now)
      .map { case (p, st) => Paths.get(p).getFileName.toString -> st }.toMap
  }

  private def values(out: String): Seq[String] =
    spark.read.parquet(out).collect().map(_.getString(0)).toSeq

  test("scripts of one tick each see their own temp view of the same name, " +
      "and the Runner's session sees neither") {
    val dir = Files.createTempDirectory("graft-runner-views").toString
    for (who <- Seq("a", "b"))
      Files.writeString(Paths.get(s"$dir/$who.sql"),
        s"""CREATE OR REPLACE TEMPORARY VIEW rm_iso_v AS SELECT '$who' AS who;
           |INSERT OVERWRITE DIRECTORY '$dir/out_$who' USING parquet SELECT who FROM rm_iso_v;
           |""".stripMargin)
    assert(tickIn(dir, 1000000L) === Map("a.sql" -> "SUCCEED", "b.sql" -> "SUCCEED"))
    assert(values(s"$dir/out_a") === Seq("a"))
    assert(values(s"$dir/out_b") === Seq("b"))
    assert(!spark.catalog.tableExists("rm_iso_v"))
  }

  test("a script's SET leaves the Runner's session conf unchanged") {
    val dir = Files.createTempDirectory("graft-runner-set").toString
    val zone = spark.conf.get("spark.sql.session.timeZone")
    Files.writeString(Paths.get(s"$dir/zone.sql"),
      s"""SET spark.sql.session.timeZone=America/New_York;
         |INSERT OVERWRITE DIRECTORY '$dir/out' USING parquet
         |SELECT current_timezone() AS tz;
         |""".stripMargin)
    assert(tickIn(dir, 1000000L) === Map("zone.sql" -> "SUCCEED"))
    assert(values(s"$dir/out") === Seq("America/New_York"))
    assert(spark.conf.get("spark.sql.session.timeZone") === zone)
  }

  test("a macro one script defines is not visible to another script") {
    val dir = Files.createTempDirectory("graft-runner-macro").toString
    Files.writeString(Paths.get(s"$dir/def.sql"),
      "CREATE TEMPORARY MACRO rm_twice(x INT) x * 2;\nSELECT rm_twice(1);")
    assert(tickIn(dir, 1000000L) === Map("def.sql" -> "SUCCEED"))
    Files.writeString(Paths.get(s"$dir/use.sql"), "SELECT rm_twice(2);")
    // def.sql is gated: only use.sql runs, on a session without the macro
    assert(tickIn(dir, 1010000L) === Map("use.sql" -> "FAILED"))
    intercept[org.apache.spark.sql.AnalysisException](spark.sql("SELECT rm_twice(3)"))
  }

  test("a script's session is reused: its temp view is still there on its " +
      "next run") {
    val dir = Files.createTempDirectory("graft-runner-reuse").toString
    val script = Paths.get(s"$dir/keep.sql")
    Files.writeString(script,
      "CREATE OR REPLACE TEMPORARY VIEW rm_keep AS SELECT 'kept' AS v;\nSELECT 1;")
    assert(tickIn(dir, 1000000L) === Map("keep.sql" -> "SUCCEED"))
    Files.writeString(script,
      s"INSERT OVERWRITE DIRECTORY '$dir/out' USING parquet SELECT v FROM rm_keep;")
    assert(tickIn(dir, 1000000L + 60000L) === Map("keep.sql" -> "SUCCEED"))
    assert(values(s"$dir/out") === Seq("kept"))
  }

  test("a script deleted from the directory loses its session and its " +
      "compiled instance, which is closed") {
    val dir = Files.createTempDirectory("graft-runner-gone").toString
    val compiled = new java.util.concurrent.atomic.AtomicInteger(0)
    val closed = new java.util.concurrent.atomic.AtomicInteger(0)
    // tells whether its session already holds the view it creates
    class ViewTask extends (SparkSession => Any) with AutoCloseable {
      def apply(s: SparkSession): Any =
        if (s.catalog.tableExists("rm_gone_v")) "seen"
        else { s.range(1).createOrReplaceTempView("rm_gone_v"); "fresh" }
      def close(): Unit = closed.incrementAndGet()
    }
    val scalaJobs = new ScriptJobs[SparkSession => Any](
      compile = _ => { compiled.incrementAndGet(); new ViewTask }, mtimeOf = _ => 1L,
      read = _ => "")
    val journal = new Journal(spark, s"$dir/.journal")
    val script = Paths.get(s"$dir/gone.scala")
    val other = Paths.get(s"$dir/stays.scala")
    Files.writeString(script, "")
    Files.writeString(other, "")
    def tickAt(now: Long): Map[String, (String, String)] =
      RunnerMain.tick(spark, dir, journal, scalaJobs, () => now).map { case (p, st) =>
        Paths.get(p).getFileName.toString -> (st, journal.lastExecution(p).get.result)
      }.toMap
    assert(tickAt(1000000L) === Map("gone.scala" -> ("SUCCEED", "fresh"),
      "stays.scala" -> ("SUCCEED", "fresh")))
    assert(tickAt(1060000L) === Map("gone.scala" -> ("SUCCEED", "seen"),
      "stays.scala" -> ("SUCCEED", "seen")))
    assert(compiled.get === 2 && closed.get === 0)
    // a job another Runner named on the same session, no Hadoop Path
    val foreign = Runner.sessionFor(spark, "etl:daily")

    Files.delete(script)
    assert(tickAt(1120000L) === Map("stays.scala" -> ("SUCCEED", "seen")))
    assert(closed.get === 1)
    assert(Runner.sessionFor(spark, "etl:daily") eq foreign)
    // back under the same name and mtime: compiled anew, on a new session
    Files.writeString(script, "")
    assert(tickAt(1180000L) === Map("gone.scala" -> ("SUCCEED", "fresh"),
      "stays.scala" -> ("SUCCEED", "seen")))
    assert(compiled.get === 3 && closed.get === 1)
  }
}
