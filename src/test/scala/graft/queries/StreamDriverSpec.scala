package graft.queries

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The stream-gate driver's failure paths: a drain stops its query
  * whatever ends it early, and a gate whose events cannot be split into
  * micro-batches fails with the named error instead of passing over one.
  */
class StreamDriverSpec extends SparkSpec {
  import spark.implicits._

  /** A one-row parquet stream dir and a stream over it on a fresh stream
    * session (so `streams.active` sees this spec's queries only).
    */
  private def oneRowStream(tag: String): (SparkSession, String, DataFrame) = {
    val ss = StreamGates.streamSession(spark)
    val dir = java.nio.file.Files.createTempDirectory(s"graft-drain-$tag")
      .toString + "/src"
    val rows = ss.range(1).toDF("id")
    rows.write.mode("overwrite").parquet(dir)
    (ss, dir, graft.streaming.Streams.parquetStream(ss, dir, rows, "*.parquet"))
  }

  test("a drain whose later slice fails to append stops its query") {
    val (ss, dir, stream) = oneRowStream("append")
    val broken = ss.range(1).select(raise_error(lit("append failed")).as("id"))
    intercept[Exception](
      StreamGates.drain(stream, "append", dir, Seq(broken)))
    assert(ss.streams.active.isEmpty,
      "the failed drain left its query polling the stream dir")
  }

  test("a drain whose batch wait is interrupted stops its query") {
    val (ss, dir, stream) = oneRowStream("interrupt")
    DrainInterrupt.caller = Thread.currentThread()
    DrainInterrupt.fired.set(false)
    // the batch interrupts the caller once it waits on the batch, the way
    // a cancelled entry's thread is interrupted mid-drain
    val interrupting = udf { (id: Long) =>
      val caller = DrainInterrupt.caller
      val deadline = System.nanoTime() + 10000000000L
      while (caller.getState != Thread.State.TIMED_WAITING &&
          System.nanoTime() < deadline) Thread.sleep(5)
      if (DrainInterrupt.fired.compareAndSet(false, true)) caller.interrupt()
      id
    }
    try {
      intercept[InterruptedException](
        StreamGates.drain(stream.select(interrupting(col("id")).as("id")),
          "append", dir, Nil))
      assert(ss.streams.active.isEmpty,
        "the interrupted drain left its query polling the stream dir")
    } finally Thread.interrupted() // never leak the flag into later specs
  }

  test("streaming_window_counts leaves no memory-sink view in the " +
      "caller's session") {
    val dir = java.nio.file.Files.createTempDirectory("graft-swc").toString
    def at(day: Int, hour: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-0$day%d $hour%02d:00:00")
    Seq((1L, at(1, 10), 7L, "view", 1.0, "a"), (2L, at(1, 12), 8L, "click", 2.0, "b"),
      (3L, at(1, 14), 9L, "view", 1.0, "c"), (4L, at(2, 11), 7L, "view", 1.0, "d"),
      (5L, at(3, 13), 9L, "click", 1.0, "e"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/written")
    // the stream reads the one file named events.parquet, as the test tables are laid out
    val part = new java.io.File(s"$dir/written").listFiles().find(_.getName.startsWith("part-")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, "events.parquet"))
    val s = graft.GraftSession.configure(spark.newSession())
    def day(d: Int) = java.sql.Date.valueOf(s"2024-01-0$d")
    val expected = Seq((day(1), "click", 1L), (day(1), "view", 2L),
      (day(2), "view", 1L), (day(3), "click", 1L))
    (1 to 3).foreach { _ =>
      assert(Engine.streamingWindowCounts(s, dir)
        .as[(java.sql.Date, String, Long)].collect().toSeq === expected)
    }
    val views = s.catalog.listTables().collect().map(_.name)
    assert(!views.exists(_.startsWith("graft_stream_")), views.toSeq)
  }

  test("dialog_from_stream over a one-timestamp events table fails with " +
      "the degenerate-split error instead of passing over one batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dialog-1ts")
      .toString
    val at = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, at, 7L, "view", 1.0, "a b"), (2L, at, 8L, "click", 2.0, "c"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](
      Engine.dialogFromStream(spark, dir))
    assert(e.getMessage.contains("degenerate stream split"), e.getMessage)
  }
}

/** JVM-wide (not serialized into the task closure) so the interrupting
  * batch reaches the spec's own thread and fires once.
  */
object DrainInterrupt {
  @volatile var caller: Thread = null
  val fired = new AtomicBoolean(false)
}
