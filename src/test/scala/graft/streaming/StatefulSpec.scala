package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.SparkSpec

/** Custom keyed state via flatMapGroupsWithState — the escape hatch for
  * stream logic window/session operators can't express (running per-key
  * aggregates emitted every batch, cross-batch dedup, etc.). The reference
  * had no streaming state at all (closed-window pulls); this pins the
  * engine's pattern for it.
  */
class StatefulSpec extends SparkSpec {
  import spark.implicits._

  test("running per-key count survives across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Int)]

    val counted = mem.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Int)], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          Iterator((key, total))
      }

    val q = counted.toDF("k", "n").writeStream
      .format("memory").queryName("state_test").outputMode("update").start()
    mem.addData(("a", 1), ("a", 2), ("b", 1))
    q.processAllAvailable()
    mem.addData(("a", 3), ("c", 1))
    q.processAllAvailable()
    q.stop()

    val last = spark.table("state_test").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(last === Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
  }

  test("funnelIngest: depth advances across micro-batches, within-batch " +
      "events fold in time order, and equal timestamps do not advance") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)] // (user, ts, type)
    val out = Streams.funnelIngest(mem.toDF().toDF("u", "ts", "et"),
      $"u", $"ts", $"et", Seq("A", "B", "C"))
    val q = out.toDF("user_id", "depth").writeStream
      .format("memory").queryName("funnel_state").outputMode("update").start()
    // batch 0: u1 does A,B OUT OF ORDER in the batch (B row added first);
    // u2 does B only (no A yet -> depth 0)
    mem.addData((1L, 20L, "B"), (1L, 10L, "A"), (2L, 10L, "B"))
    q.processAllAvailable()
    // batch 1: u1 completes C; u2 does A then B at the SAME ts (no advance
    // past A), then B later (advance)
    mem.addData((1L, 30L, "C"), (2L, 20L, "A"), (2L, 20L, "B"), (2L, 40L, "B"))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("funnel_state").as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(last === Map(1L -> 3, 2L -> 2))
  }

  test("transitionsIngest: cross-batch edges are produced, the session " +
      "gap is honored, and the two-batch multiset equals the batch " +
      "operator over the union") {
    implicit val sqlCtx = spark.sqlContext
    val gap = graft.operators.EventAnalytics.SessionGapNanos
    val mem = MemoryStream[(Long, Long, String, Long)] // (u, ts, et, eid)
    val out = Streams.transitionsIngest(mem.toDF().toDF("u", "ts", "et", "eid"),
      $"u", $"ts", $"et", $"eid")
    val q = out.toDF("user_id", "from_type", "to_type").writeStream
      .format("memory").queryName("trans_state").outputMode("update").start()
    // batch 0: u1 A->B (out of arrival order); u2 lone event
    mem.addData((1L, 20L, "B", 2L), (1L, 10L, "A", 1L), (2L, 10L, "A", 3L))
    q.processAllAvailable()
    // batch 1: u1's C at 30 links across the BATCH BOUNDARY to B@20;
    // u2's next event is past the gap (no edge), then one inside it
    mem.addData((1L, 30L, "C", 4L), (2L, 11L + gap, "B", 5L),
      (2L, 61L + gap, "C", 6L))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("trans_state")
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(streamed === Seq(
      (1L, "A", "B"), (1L, "B", "C"), (2L, "B", "C")))
    // multiset equivalence with the batch operator over the union
    val union = Seq(
      (1L, 10L, "A", 1L), (1L, 20L, "B", 2L), (2L, 10L, "A", 3L),
      (1L, 30L, "C", 4L), (2L, 11L + gap, "B", 5L), (2L, 61L + gap, "C", 6L))
      .toDF("u", "ts", "et", "eid")
    val batch = graft.operators.EventAnalytics.eventTransitions(union,
        $"u", $"ts", $"et", $"eid")
      .as[(String, String, Long, Long)].collect().sorted.toSeq
    val streamedCounts = streamed.groupBy(t => (t._2, t._3)).view
      .mapValues(v => (v.size.toLong, v.map(_._1).distinct.size.toLong))
      .toMap.toSeq.map { case ((f, t), (n, u)) => (f, t, n, u) }.sorted
    assert(streamedCounts === batch)
  }
}
