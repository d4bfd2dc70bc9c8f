package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** The storage-pinned RDDs behind a localCheckpoint'd frame. Leak
    * assertions check THESE RDDs' storage levels rather than the global
    * `getPersistentRDDs` count — the session is shared across
    * concurrently-running suites, so a global count races with whatever
    * another suite pins mid-assertion (observed flaky in full runs).
    */
  private def pinnedRdds(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  private def assertFreed(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
    val stillPinned = pinnedRdds(df)
      .filter(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert(stillPinned.isEmpty,
      s"$what leaked superseded localCheckpoint pins: RDDs ${stillPinned.map(_.id)}")
  }

  test("windowedCounts over a MemoryStream matches the batch plan") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val sdf = mem.toDF().toDF("et", "k")
    val agg = Streams.windowedCounts(sdf, col("et"), col("k"), "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("wc_test")
      .outputMode("complete").start()
    mem.addData(
      (ts("2024-01-01 00:01:00"), "a"),
      (ts("2024-01-01 00:02:00"), "a"),
      (ts("2024-01-01 00:11:00"), "a"),
      (ts("2024-01-01 00:03:00"), "b"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 00:12:00"), "b"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wc_test")
      .select(col("w.start").cast("string").as("s"), col("k"), col("n"))
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got === Array(
      ("2024-01-01 00:00:00", "a", 2L),
      ("2024-01-01 00:00:00", "b", 1L),
      ("2024-01-01 00:10:00", "a", 1L),
      ("2024-01-01 00:10:00", "b", 1L)))
  }

  test("trendingTerms: windowed Misra-Gries top terms over a stream, " +
      "identical to the batch plan") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val sdf = mem.toDF().toDF("et", "text")
    val trend = Streams.trendingTerms(sdf, col("et"), col("text"),
      "10 minutes", "0 seconds", k = 64, topN = 3)
    val q = trend.writeStream.format("memory").queryName("trend_test")
      .outputMode("complete").start()
    val rows = Seq(
      (ts("2024-01-01 00:01:00"), "alpha alpha beta"),
      (ts("2024-01-01 00:04:00"), "alpha gamma"),
      (ts("2024-01-01 00:12:00"), "delta delta delta epsilon"))
    mem.addData(rows.take(2): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("trend_test")
      .select(col("win_start").cast("string"), col("rank"), col("term"),
        col("cnt"))
      .as[(String, Int, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got === Array(
      ("2024-01-01 00:00:00", 1, "alpha", 3L),
      ("2024-01-01 00:00:00", 2, "beta", 1L),
      ("2024-01-01 00:00:00", 3, "gamma", 1L),
      ("2024-01-01 00:10:00", 1, "delta", 3L),
      ("2024-01-01 00:10:00", 2, "epsilon", 1L)))
    // batch equivalence: the same frame through the same operator
    val batch = Streams.trendingTerms(rows.toDF("et", "text"), col("et"),
        col("text"), "10 minutes", "0 seconds", k = 64, topN = 3)
      .select(col("win_start").cast("string"), col("rank"), col("term"),
        col("cnt"))
      .as[(String, Int, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(batch === got)
  }

  test("windowQuantiles: windowed KLL percentiles over a stream, exact " +
      "in-capacity and identical to batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    val sdf = mem.toDF().toDF("et", "ms")
    val q = Streams.windowQuantiles(sdf, col("et"), col("ms"),
        "10 minutes", "0 seconds", probs = Seq(0.5, 0.9), k = 64)
      .writeStream.format("memory").queryName("wq_test")
      .outputMode("complete").start()
    // window 0: 1..10 (p50 = 5, p90 = 9); window 1: 100, 200 (p50 = 100)
    val rows = (1 to 10).map(i => (ts("2024-01-01 00:01:00"), i.toDouble)) ++
      Seq((ts("2024-01-01 00:11:00"), 100.0), (ts("2024-01-01 00:12:00"), 200.0))
    mem.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wq_test")
      .select(col("win_start").cast("string"), col("p50"), col("p90"), col("n"))
      .as[(String, Double, Double, Long)].collect().sortBy(_._1)
    assert(got === Array(
      ("2024-01-01 00:00:00", 5.0, 9.0, 10L),
      ("2024-01-01 00:10:00", 100.0, 200.0, 2L)))
    val batch = Streams.windowQuantiles(rows.toDF("et", "ms"), col("et"),
        col("ms"), "10 minutes", "0 seconds", probs = Seq(0.5, 0.9), k = 64)
      .select(col("win_start").cast("string"), col("p50"), col("p90"), col("n"))
      .as[(String, Double, Double, Long)].collect().sortBy(_._1)
    assert(batch === got)
  }

  test("dedupWithinWatermark drops in-horizon duplicates with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val sdf = mem.toDF().toDF("et", "k")
    val out = Streams.dedupWithinWatermark(sdf, Seq("k"), "et", "10 minutes")
    val q = out.writeStream.format("memory").queryName("ddw_test")
      .outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 00:01:00"), "a"),
      (ts("2024-01-01 00:02:00"), "a"), // dup within horizon — dropped
      (ts("2024-01-01 00:03:00"), "b"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 01:00:00"), "z")) // advance watermark past horizon
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 01:01:00"), "a")) // 'a' state expired — re-admitted
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ddw_test").select("k", "et")
      .as[(String, Timestamp)].collect().sortBy(r => (r._1, r._2.getTime))
    assert(got.map(_._1).toSeq === Seq("a", "a", "b", "z"))
  }

  test("streamStreamJoin matches clicks within the interval of an impression") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, String, String)]
    val clicks = MemoryStream[(Timestamp, String)]
    val joined = Streams.streamStreamJoin(
      imps.toDF().toDF("imp_t", "ad", "campaign"),
      clicks.toDF().toDF("click_t", "ad"),
      keys = Seq("ad"), leftTime = "imp_t", rightTime = "click_t",
      leftDelay = "10 minutes", rightDelay = "10 minutes", within = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj_test")
      .outputMode("append").start()
    imps.addData(
      (ts("2024-01-01 00:00:00"), "ad1", "c1"),
      (ts("2024-01-01 00:00:00"), "ad2", "c2"))
    clicks.addData(
      (ts("2024-01-01 00:03:00"), "ad1"), // within 5 min — match
      (ts("2024-01-01 00:09:00"), "ad2")) // 9 min later — outside window
    q.processAllAvailable()
    // advance both watermarks so results finalize
    imps.addData((ts("2024-01-01 01:00:00"), "adx", "cx"))
    clicks.addData((ts("2024-01-01 01:00:00"), "ady"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_test").select("ad", "campaign")
      .as[(String, String)].collect().toSeq
    assert(got === Seq(("ad1", "c1")))
  }

  test("NoveltyIngest: admits by novelty vs the folded state, batch unit " +
      "semantics, replay idempotent, superseded pins freed") {
    import graft.operators.Dedup
    val seed = Seq((0L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val state0 = Dedup.corpusShingleFps(seed, col("text"), shingleK = 3)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val emitted =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val states =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val ing = new Streams.NoveltyIngest(state0, col("doc_id"), col("text"),
      minNovelty = 0.5, shingleK = 3)
    ing.onDelta = (survivors, batchId) => {
      emitted += survivors
      seen += batchId -> survivors.select(col("doc_id"))
        .collect().map(_.getLong(0)).toSeq.sorted
    }
    // batch 0: doc 10 restates the seed (novelty 0 -> rejected);
    // doc 11 is fresh (novelty 1 -> admitted)
    val b0 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    ing.handler(b0, 0L)
    states += ing.current
    // batch 1: doc 20 duplicates the ADMITTED doc 11 — rejected only if
    // batch 0's fingerprints actually folded into state; doc 21 fresh
    val b1 = Seq(
      (20L, "one two three four five six seven eight nine"),
      (21L, "completely different material about something else entirely"))
      .toDF("doc_id", "text")
    ing.handler(b1, 1L)
    states += ing.current
    assert(seen.toList === List(0L -> Seq(11L), 1L -> Seq(21L)))
    // replay of the last batch re-emits, does not re-fold
    val stateBefore = ing.current
    ing.handler(b1, 1L)
    assert(seen.toList ===
      List(0L -> Seq(11L), 1L -> Seq(21L), 1L -> Seq(21L)))
    assert(ing.current eq stateBefore)
    // older batchId: guarded no-op
    ing.handler(b0, 0L)
    assert(seen.size === 3)
    // pins: superseded state and survivors freed, latest still pinned
    assertFreed(states.head, "NoveltyIngest superseded state")
    assertFreed(emitted.head, "NoveltyIngest superseded survivors")
    assert(pinnedRdds(ing.current).nonEmpty && pinnedRdds(ing.current)
      .forall(_.getStorageLevel !=
        org.apache.spark.storage.StorageLevel.NONE))
  }

  test("FoldIngest scaffold contract: mkDelta sees the PRE-fold state and " +
      "runs once per applied batch, replay re-emits the pinned delta with " +
      "NO re-fold, older batchIds are no-ops, superseded state+delta pins " +
      "free while the caller's state0 is never unpinned") {
    // stub ingest: additive (k, c) counts, with each delta row carrying
    // the state's total mass AT mkDelta time — the probe that proves the
    // scaffold hands mkDelta the pre-fold state
    class CountIngest(state0: org.apache.spark.sql.DataFrame)
        extends Streams.FoldIngest(state0) {
      var mkDeltaCalls = 0
      var foldCalls = 0
      override protected def mkDelta(state: org.apache.spark.sql.DataFrame,
          batch: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        mkDeltaCalls += 1
        batch.groupBy(col("k")).agg(count(lit(1)).as("c"))
          .crossJoin(broadcast(state.agg(
            coalesce(sum(col("c")), lit(0L)).as("state_mass"))))
      }
      override protected def fold(state: org.apache.spark.sql.DataFrame,
          batch: org.apache.spark.sql.DataFrame,
          delta: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        foldCalls += 1
        state.unionByName(delta.select(col("k"), col("c")))
          .groupBy(col("k")).agg(sum(col("c")).as("c"))
      }
    }
    // caller-owned, caller-pinned state0: the scaffold must never unpin it
    val state0 = Seq(("a", 2L)).toDF("k", "c").localCheckpoint(true)
    val ing = new CountIngest(state0)
    val deltas = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Seq[(String, Long, Long)])]
    val deltaFrames = scala.collection.mutable
      .ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    ing.onDelta = (d, id) => {
      deltaFrames += d
      deltas += id -> d.as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    }
    def cur = ing.current.as[(String, Long)].collect().sorted.toSeq

    ing.handler(Seq("a", "b", "b").toDF("k"), 0L)
    assert(cur === Seq(("a", 3L), ("b", 2L)))
    // delta computed against the PRE-fold state (mass 2, not 5)
    assert(deltas.toList ===
      List(0L -> Seq(("a", 1L, 2L), ("b", 2L, 2L))))
    assert((ing.mkDeltaCalls, ing.foldCalls) === ((1, 1)))

    // replay of the last applied batch: delta re-emitted byte-for-byte,
    // NO mkDelta, NO fold (an additive re-fold would double-count)
    ing.handler(Seq("a", "b", "b").toDF("k"), 0L)
    assert((ing.mkDeltaCalls, ing.foldCalls) === ((1, 1)))
    assert(deltas.size === 2 && deltas(1) === deltas(0))
    assert(cur === Seq(("a", 3L), ("b", 2L)))

    val state1 = ing.current
    ing.handler(Seq("c").toDF("k"), 1L)
    assert(cur === Seq(("a", 3L), ("b", 2L), ("c", 1L)))
    // batch 1's delta saw state mass 5 (post-batch-0, pre-batch-1)
    assert(deltas.last === (1L -> Seq(("c", 1L, 5L))))
    assert((ing.mkDeltaCalls, ing.foldCalls) === ((2, 2)))

    // an OLDER batchId is a guarded no-op: no emit, no fold, no state move
    ing.handler(Seq("zzz").toDF("k"), 0L)
    assert((ing.mkDeltaCalls, ing.foldCalls) === ((2, 2)))
    assert(deltas.size === 3)
    assert(cur === Seq(("a", 3L), ("b", 2L), ("c", 1L)))

    // pin lifecycle: superseded scaffold-owned state AND superseded delta
    // freed, current state + last (re-emittable) delta pinned
    assertFreed(state1, "FoldIngest superseded state")
    assertFreed(deltaFrames.head, "FoldIngest superseded delta")
    assert(pinnedRdds(deltaFrames.last).nonEmpty &&
      pinnedRdds(deltaFrames.last).forall(_.getStorageLevel !=
        org.apache.spark.storage.StorageLevel.NONE),
      "the LAST delta must stay pinned — a replay re-emits it")
    assert(pinnedRdds(ing.current).nonEmpty && pinnedRdds(ing.current)
      .forall(_.getStorageLevel !=
        org.apache.spark.storage.StorageLevel.NONE),
      "the CURRENT state must stay pinned")
    // the caller's state0 was NOT unpinned by the scaffold (it owns only
    // the states it created)
    assert(state0.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.forall(_.getStorageLevel !=
      org.apache.spark.storage.StorageLevel.NONE),
      "caller-owned state0 must never be unpinned by the scaffold")
    state0.unpersist()
  }

  test("TokenCountIngest: an onDelta that throws leaves no fold behind; " +
      "the retry of the same batchId folds the batch exactly once") {
    import graft.operators.TextIndex
    val state0 = TextIndex.tokenFpCounts(
      Seq("a b a b", "c d").toDF("text"), col("text"))
    val ing = new Streams.TokenCountIngest(state0, col("text"))
    val deltas =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    ing.onDelta = (d, _) => {
      deltas += d
      if (deltas.size == 1) throw new RuntimeException("sink down")
    }
    val b0 = Seq("a b c", "d").toDF("text")
    assert(intercept[RuntimeException](ing.handler(b0, 0L)).getMessage ===
      "sink down")
    assert(ing.current eq state0, "a failed emit must not fold the batch")
    assertFreed(deltas.head, "the failed attempt's delta")
    ing.handler(b0, 0L) // the stream retries the same batchId
    assert(deltas.size === 2)
    val expect = TextIndex.tokenFpCounts(
        Seq("a b a b", "c d", "a b c", "d").toDF("text"), col("text"))
      .as[(Long, Long)].collect().toMap
    assert(ing.current.as[(Long, Long)].collect().toMap === expect)
  }

  test("TokenCountIngest: additive unigram-count fold equals the clean " +
      "rebuild; replay guarded; superseded pins freed; the state serves " +
      "corpusDivergenceFromCounts") {
    import graft.operators.TextIndex
    val state0 = TextIndex.tokenFpCounts(
      Seq("a b a", "c").toDF("text"), col("text"))
    val ing = new Streams.TokenCountIngest(state0, col("text"))
    ing.handler(Seq("a d").toDF("text"), 0L)
    ing.handler(Seq("b b").toDF("text"), 1L)
    def cur = ing.current.as[(Long, Long)].collect().toMap
    val expect = TextIndex.tokenFpCounts(
        Seq("a b a", "c", "a d", "b b").toDF("text"), col("text"))
      .as[(Long, Long)].collect().toMap
    assert(cur === expect)
    // replay of an applied batch must NOT double-count
    ing.handler(Seq("b b").toDF("text"), 1L)
    assert(cur === expect)
    // pin lifecycle
    val superseded =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    (2 to 4).foreach { i =>
      superseded += ing.current
      ing.handler(Seq(s"w$i").toDF("text"), i.toLong)
    }
    superseded.foreach(assertFreed(_, "TokenCountIngest state"))
    assert(pinnedRdds(ing.current).nonEmpty &&
      pinnedRdds(ing.current).forall(
        _.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE),
      "the CURRENT count table must stay pinned")
    // the maintained state is directly servable: identical corpora (the
    // state's own counts on both sides) diverge exactly 0
    val served = TextIndex.corpusDivergenceFromCounts(ing.current, ing.current)
      .select(col("hellinger"), col("tv_dist"))
      .as[(Double, Double)].collect().head
    assert(served === ((0.0, 0.0)))
  }

  test("sessionCounts merges events within the gap, splits beyond it") {
    val df = Seq(
      (ts("2024-01-01 00:00:00"), 1L),
      (ts("2024-01-01 00:10:00"), 1L), // same session (gap 30m)
      (ts("2024-01-01 01:00:00"), 1L), // new session
      (ts("2024-01-01 00:00:00"), 2L)
    ).toDF("et", "user_id")
    val got = Streams.sessionCounts(df, col("et"), col("user_id"), "30 minutes", "0 seconds")
      .select(col("user_id"), col("w.start").cast("string"), col("w.end").cast("string"), col("n"))
      .as[(Long, String, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got === Array(
      (1L, "2024-01-01 00:00:00", "2024-01-01 00:40:00", 2L),
      (1L, "2024-01-01 01:00:00", "2024-01-01 01:30:00", 1L),
      (2L, "2024-01-01 00:00:00", "2024-01-01 00:30:00", 1L)))
  }

  test("sessionTranscripts (streaming): closed sessions emit assembled " +
      "transcripts identical to the batch run and to the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (ts("2024-01-01 00:00:00"), 1L, "user", "hi"),
      (ts("2024-01-01 00:10:00"), 1L, "assistant", null: String),
      (ts("2024-01-01 00:10:00"), 1L, "user", "again"), // equal-ts tie
      (ts("2024-01-01 02:00:00"), 1L, "user", "new session"),
      (ts("2024-01-01 00:05:00"), 2L, "system", "boot"))
    val mem = MemoryStream[(Timestamp, Long, String, String)]
    val sdf = mem.toDF().toDF("et", "user_id", "role", "content")
    val q = Streams.sessionTranscripts(sdf, col("et"), col("user_id"),
        col("role"), col("content"), "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("st_test")
      .outputMode("append").start()
    mem.addData(rows.take(3): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(3): _*)
    q.processAllAvailable()
    // push the watermark far forward so every session closes and emits
    mem.addData((ts("2024-01-02 00:00:00"), 9L, "x", "y"))
    q.processAllAvailable()
    q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("session_start").cast("string"),
        col("n_turns"), col("transcript"))
      .as[(Long, String, Long, String)].collect()
      .sortBy(t => (t._1, t._2)).toSeq
    val streamed = norm(spark.table("st_test")
      .filter(col("user_id") =!= 9L))
    assert(streamed === Seq(
      (1L, "2024-01-01 00:00:00", 3L,
        "user: hi\nassistant: \nuser: again"),
      (1L, "2024-01-01 02:00:00", 1L, "user: new session"),
      (2L, "2024-01-01 00:05:00", 1L, "system: boot")))
    // batch run of the SAME function over the same frame
    val batch = norm(Streams.sessionTranscripts(
      rows.toDF("et", "user_id", "role", "content"), col("et"),
      col("user_id"), col("role"), col("content"), "30 minutes",
      "0 seconds"))
    assert(batch === streamed)
    // and the batch OPERATOR (nanosecond ts) assembles the same records
    // (off the exact gap boundary, where the two interval conventions
    // agree)
    val nanos = rows.map(r => (r._2, r._1.getTime * 1000000L, r._3, r._4))
      .toDF("user_id", "tsn", "role", "content")
    val op = graft.operators.EventAnalytics.sessionTranscripts(nanos,
        col("user_id"), col("tsn"), col("role"), col("content"))
      .select(col("user_id"), col("n_turns"), col("transcript"))
      .as[(Long, Long, String)].collect().sortBy(t => (t._1, t._3)).toSeq
    assert(op.map(t => (t._1, t._2, t._3)).sortBy(t => (t._1, t._3)) ===
      streamed.map(t => (t._1, t._3, t._4)).sortBy(t => (t._1, t._3)))
  }

  test("watermark drops data later than the threshold in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val agg = Streams.windowedCounts(mem.toDF().toDF("et", "k"),
      col("et"), col("k"), "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    mem.addData((ts("2024-01-01 00:01:00"), "a"))
    q.processAllAvailable()
    // advance watermark far past the first window -> it closes and emits
    mem.addData((ts("2024-01-01 01:00:00"), "a"))
    q.processAllAvailable()
    // this event is far behind the watermark: dropped
    mem.addData((ts("2024-01-01 00:02:00"), "a"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 02:00:00"), "a"))
    q.processAllAvailable()
    q.stop()
    val firstWindow = spark.table("wm_test")
      .filter(col("w.start") === ts("2024-01-01 00:00:00"))
      .select(col("n")).as[Long].collect()
    assert(firstWindow === Array(1L)) // late 00:02 event was not counted
  }

  test("PreferenceIngest: two-batch count fold equals the batch operator, " +
      "replay does not double-count, superseded pins freed") {
    import graft.operators.Preference
    val state0 = Preference.ballotCounts(
      Seq(("a", "b")).toDF("w", "l"), col("w"), col("l"))
    val ing = new Streams.PreferenceIngest(state0, col("w"), col("l"))
    val b0 = Seq(("a", "c"), ("c", "b")).toDF("w", "l")
    val b1 = Seq(("b", "a"), ("a", "c"), ("d", "a")).toDF("w", "l")
    ing.handler(b0, 0L)
    val midState = ing.current
    ing.handler(b1, 1L)
    // fold ≡ the batch operator over all ballots seen so far
    val allBallots = Seq(("a", "b"), ("a", "c"), ("c", "b"),
      ("b", "a"), ("a", "c"), ("d", "a")).toDF("w", "l")
    val want = Preference.ballotCounts(allBallots, col("w"), col("l"))
      .orderBy("item").as[(String, Long, Long)].collect().toSeq
    val got = ing.current.orderBy("item")
      .as[(String, Long, Long)].collect().toSeq
    assert(got === want)
    // the derived rates match winRates over the same ballots
    val wantRates = Preference.winRates(allBallots, col("w"), col("l"))
      .orderBy("item").collect().toSeq
    assert(ing.rates().orderBy("item").collect().toSeq === wantRates)
    // replay of the applied batch: counts unchanged (same object, no re-fold)
    val before = ing.current
    ing.handler(b1, 1L)
    assert(ing.current eq before)
    ing.handler(b0, 0L) // older batch: guarded no-op
    assert(ing.current eq before)
    // superseded state pin freed; latest still pinned
    assertFreed(midState, "PreferenceIngest superseded state")
    assert(pinnedRdds(ing.current).nonEmpty && pinnedRdds(ing.current)
      .forall(_.getStorageLevel !=
        org.apache.spark.storage.StorageLevel.NONE))
  }

  test("DpoIngest: prompt-keyed count fold across batches equals the " +
      "batch operator; served pairs match dpoPairs over the same ballots") {
    import graft.operators.Preference
    val state0 = Seq.empty[(Long, Long, Long, Long)]
      .toDF("prompt", "item", "wins", "n")
    val ing = new Streams.DpoIngest(state0, col("p"), col("w"), col("l"))
    val b0 = Seq((1L, 10L, 11L), (2L, 20L, 21L)).toDF("p", "w", "l")
    val b1 = Seq((1L, 10L, 12L), (1L, 11L, 12L), (2L, 21L, 20L))
      .toDF("p", "w", "l")
    ing.handler(b0, 0L)
    ing.handler(b1, 1L)
    val all = Seq((1L, 10L, 11L), (2L, 20L, 21L), (1L, 10L, 12L),
      (1L, 11L, 12L), (2L, 21L, 20L)).toDF("p", "w", "l")
    val wantCounts = Preference.dpoCounts(all, col("p"), col("w"), col("l"))
      .orderBy("prompt", "item")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(ing.current.orderBy("prompt", "item")
      .as[(Long, Long, Long, Long)].collect().toSeq === wantCounts)
    val wantPairs = Preference.dpoPairs(all, col("p"), col("w"), col("l"))
      .orderBy("prompt")
      .as[(Long, Long, Long, Double, Double, Double, Long)].collect().toSeq
    assert(ing.pairs().orderBy("prompt")
      .as[(Long, Long, Long, Double, Double, Double, Long)]
      .collect().toSeq === wantPairs)
  }
}
