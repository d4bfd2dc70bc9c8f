package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.Streams

/** The restart gates claim to SELF-POLICE: a broken recovery cannot
  * silently reproduce the clean answer, so the oracle hash compare is a
  * real detector, not a formality. This spec demonstrates both sides of
  * that claim on a synthetic corpus through the SAME
  * [[StreamGatesFam.runWithRestart]] lifecycle the registry entries use:
  * a clean stop/recover run lands on the exact dedup answer, and a
  * sabotaged one (the whole checkpoint wiped between incarnations — the
  * "lost offsets + lost state" operational failure) re-processes and
  * re-emits, producing duplicate rows the DISTINCT oracle would flag red.
  */
class RestartGateSpec extends SparkSpec {
  import spark.implicits._

  /** 10 keys, each arriving in ALL THREE terciles (secs ~1000 / ~4500 /
    * ~9000) — micro-batch 2 carries real duplicates (suppressed by
    * in-query state) and batch 3's arrive only after the restart, so
    * every key's final suppression depends on state surviving it. Keys
    * 10–11 FIRST arrive in tercile 2 (and duplicate in tercile 3): batch
    * 2 therefore EMITS rows, which is what keeps full-wipe sabotage
    * detectable under the batchId-idempotent sink — the wiped rerun's
    * reprocess-everything batch 0 re-emits those keys while the original
    * `batch_id=1` directory still holds them (an all-duplicate middle
    * batch would leave nothing for the overwrite to collide with). Keys
    * 12–13 first arrive in tercile 3, so the POST-RESTART batch also
    * emits — the rows the crash-replay tests need batch 3 to own.
    */
  private def mkCorpus(ss: SparkSession): DataFrame = {
    import ss.implicits._
    ((0 until 10).flatMap { k =>
      Seq((k.toLong, 1000L + k), (k.toLong, 4500L + k), (k.toLong, 9000L + k))
    } ++ Seq((10L, 4600L), (11L, 4700L), (10L, 9600L), (11L, 9700L),
      (12L, 9800L), (13L, 9900L)))
      .toDF("k", "sec")
      .select(col("k"), timestamp_seconds(col("sec")).as("event_time"))
  }

  private val cleanKeys: Seq[Long] = 0L until 14L

  private def lifecycle(tag: String, sabotage: Boolean,
      tune: SparkSession => Unit = _ => (),
      replay: Boolean = false,
      mkSink: String => (DataFrame, Long) => Unit =
        StreamGates.idempotentSink): Seq[Long] = {
    val scratch = java.nio.file.Files
      .createTempDirectory(s"graft-rg-$tag-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft-rg-$tag-ck").toString + "/ck"
    val out = java.nio.file.Files
      .createTempDirectory(s"graft-rg-$tag-out").toString + "/out"
    val ev = mkCorpus(spark)
    // batch 1: secs < 4000; batch 2: keys 0-9's FIRST duplicate
    // (suppressed by in-query state, so the checkpoint the restart
    // resumes from covers two data-carrying batches) plus keys 10-11's
    // first arrival (emitted), secs < 5000; batch 3: the late duplicates
    // of every key
    val (later, _) = StreamGates.timeSplit(ev, col("event_time").cast("long"),
      scratch, 3, None)((_, _) => Seq(3999L, 4999L))
    def mk(sess: SparkSession): DataFrame =
      Streams.dedupWithinWatermark(
        Streams.parquetStream(sess, scratch, ev, "*.parquet"),
        keys = Seq("k"), eventTime = "event_time", delay = "3650 days")
    val fsu = new graft.engine.FsUtils(spark)
    val incarnations = new java.util.concurrent.atomic.AtomicInteger(0)
    // the sabotaged run wipes the checkpoint as the second incarnation
    // starts — the new query starts from scratch and re-processes
    // everything with fresh state
    def tuneAndSabotage(ss: SparkSession): Unit = {
      tune(ss)
      if (incarnations.incrementAndGet() == 2 && sabotage) fsu.rm(ckpt)
    }
    val result = StreamGates.runWithRestart(spark, mk, "append", ckpt, out,
      scratch, later, tuneAndSabotage, replayLastBatch = replay,
      mkSink = mkSink)
    lastCkpt = ckpt
    result.select(col("k")).as[Long].collect().toSeq
  }

  private var lastCkpt: String = ""

  test("clean checkpoint recovery lands on the exact dedup answer " +
      "(every key exactly once despite its duplicate arriving only " +
      "after the restart)") {
    val got = lifecycle("clean", sabotage = false)
    assert(got.sorted === cleanKeys)
  }

  test("CRASH-REPLAY window: the checkpoint rolled back to its " +
      "pre-batch-3 generation after recovery already committed batch 3 " +
      "(= crash between the sink write and the offset commit) re-runs " +
      "batch 3 under its original batchId — the idempotent sink lands " +
      "on the same files and the answer is unchanged") {
    val got = lifecycle("replay", sabotage = false, replay = true)
    assert(got.sorted === cleanKeys)
  }

  test("the UNGUARDED bare-append sink goes red under the SAME " +
      "crash-replay lifecycle: the replayed batch double-appends, and " +
      "the duplicate rows are exactly what the DISTINCT oracle hash " +
      "would flag (why idempotentSink is the default, r18 verdict #1)") {
    val got = lifecycle("appendsink", sabotage = false, replay = true,
      mkSink = dir => (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(dir))
    // the key SET still looks plausible...
    assert(got.toSet === cleanKeys.toSet)
    // ...but batch 3 emitted keys 12-13 (first seen post-restart), and
    // the replayed batch APPENDED them a second time
    assert(got.size > cleanKeys.size,
      s"append sink produced no duplicates under replay (${got.size} " +
        "rows) — the failure shape this spec exists to demonstrate")
    assert(got.count(_ == 12L) === 2 && got.count(_ == 13L) === 2)
  }

  test("clean recovery under the ROCKSDB state store — the production " +
      "state backend when keyed state outgrows executor memory — lands " +
      "on the same exact answer through the same checkpoint lifecycle") {
    val got = lifecycle("rocks", sabotage = false,
      tune = _.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider"))
    assert(got.sorted === cleanKeys)
    // the RocksDB provider really engaged: its checkpoint format writes
    // zip snapshots / changelogs, never the HDFS store's .delta files
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files
      .walk(java.nio.file.Paths.get(lastCkpt, "state"))
    val names =
      try walk.iterator().asScala.map(_.getFileName.toString).toList
      finally walk.close()
    assert(names.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
      s"no RocksDB snapshot files under the checkpoint: $names")
    assert(!names.exists(_.endsWith(".delta")),
      "HDFS-backed store files present — the RocksDB provider did not engage")
  }

  /** The WINDOWED-AGGREGATION twin of the dedup lifecycle — watermarked
    * KLL day windows whose flush-on-watermark emissions (unlike dedup's
    * immediate emissions) depend on the RESTORED watermark: day 0's rows
    * all arrive pre-restart, day 1 straddles it, day 2 and the far
    * sentinel arrive only post-restart, so every window finalizes from
    * checkpoint-restored partials. Returns (day, n) rows.
    */
  private def wqLifecycle(tag: String, replay: Boolean,
      mkSink: String => (DataFrame, Long) => Unit =
        StreamGates.idempotentSink): Seq[(java.sql.Date, Long)] = {
    val scratch = java.nio.file.Files
      .createTempDirectory(s"graft-rgwq-$tag-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft-rgwq-$tag-ck").toString + "/ck"
    val out = java.nio.file.Files
      .createTempDirectory(s"graft-rgwq-$tag-out").toString + "/out"
    val day = 86400L
    val far = 4000L * day
    val rows = Seq(
      (1000L, 1.0), (2000L, 2.0), (3000L, 3.0), // day 0 -> batch 1
      (day + 1000L, 10.0), (day + 2000L, 20.0), // day 1 early -> batch 2
      (day + 60000L, 30.0), (day + 70000L, 40.0), // day 1 late -> batch 3
      (2 * day + 1000L, 5.0), // day 2 -> batch 3
      (far, 0.0)) // sentinel -> batch 3: closes every real window
    val ev = rows.toDF("sec", "value")
      .select(timestamp_seconds(col("sec")).as("event_time"), col("value"))
    val (later, _) = StreamGates.timeSplit(ev, col("event_time").cast("long"),
      scratch, 3, None)((_, _) => Seq(day - 1, day + 49999L))
    def mk(sess: SparkSession): DataFrame =
      Streams.windowQuantiles(
        Streams.parquetStream(sess, scratch, ev, "*.parquet"),
        col("event_time"), col("value"), "1 day", "0 seconds",
        probs = Seq(0.5), k = 1024)
    val result = StreamGates.runWithRestart(spark, mk, "append", ckpt, out,
      scratch, later, replayLastBatch = replay, mkSink = mkSink)
    result
      .filter(col("win_start") < timestamp_seconds(lit(far - day)))
      .select(col("win_start").cast("date").as("d"), col("n"))
      .as[(java.sql.Date, Long)].collect().toSeq
  }

  test("windowed-aggregation CRASH-REPLAY: flush-on-watermark emissions " +
      "(restored partials + restored watermark) re-run under their " +
      "original batchIds and the idempotent sink lands on the same " +
      "files — one row per day, counts exact") {
    val got = wqLifecycle("replay", replay = true)
    assert(got.sortBy(_._1.toString).map(_._2) === Seq(3L, 4L, 1L))
    assert(got.map(_._1).distinct.size === 3)
  }

  test("windowed-aggregation replay under the bare-append sink " +
      "double-emits the replayed flushes — duplicate day rows, red " +
      "against any one-row-per-day oracle") {
    val got = wqLifecycle("appendwq", replay = true,
      mkSink = dir => (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(dir))
    assert(got.size > got.map(_._1).distinct.size,
      s"append sink produced no duplicate day rows under replay: $got")
  }

  test("a SABOTAGED recovery (checkpoint wiped between incarnations) " +
      "cannot silently reproduce the clean answer — the re-processing " +
      "re-emits keys, and the duplicate rows are exactly what the " +
      "DISTINCT oracle hash flags red") {
    val got = lifecycle("sabotage", sabotage = true)
    // same key SET (the answer looks superficially plausible)...
    assert(got.toSet === cleanKeys.toSet)
    // ...but the lifecycle emitted duplicates: detection is guaranteed.
    // Under the idempotent sink the wiped rerun's reprocess-everything
    // batch 0 OVERWRITES the original batch_id=0 files, so the surviving
    // evidence is the collision with batch_id=1's rows (keys 10-11) —
    // which is why mkCorpus plants first-arrivals in the middle tercile
    assert(got.size > cleanKeys.size,
      s"sabotaged run produced no duplicates (${got.size} rows) — the " +
        "gate would not detect this failure")
    assert(got.count(_ == 10L) === 2 && got.count(_ == 11L) === 2)
  }
}
