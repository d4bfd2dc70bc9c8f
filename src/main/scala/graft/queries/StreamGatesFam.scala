package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.TimestampType

import graft.streaming.Streams

/** What one stream gate streams and answers, shared by its two-batch
  * and restart entries. `name` scopes its scratch dirs, `key` is its
  * event-time column (the engine's LONG-nanosecond `ts` or a TIMESTAMP
  * `event_time`), `events` reads its input, `sentinel` gives the
  * far-future flush row's columns for a horizon (None when the sink
  * emits without a watermark flush), `transform` is the stream under
  * test, and `answer` turns what the sink collected, plus the horizon,
  * into the entry's result.
  */
private[queries] final case class Gate(name: String, key: Column,
    mode: String, events: (SparkSession, String) => DataFrame,
    sentinel: Option[Long => Seq[Column]],
    transform: DataFrame => DataFrame,
    answer: (DataFrame, Long) => DataFrame) {
  def stream(ss: SparkSession, dir: String, ev: DataFrame): DataFrame =
    transform(Streams.parquetStream(ss, dir, ev, "*.parquet"))
}

/** Oracle gates for the streaming handlers, each run as a REAL
  * Structured Streaming query, and the one driver every streaming
  * registry entry (these 11, plus `streaming_window_counts`,
  * `stream_stream_join` and `dialog_from_stream` in [[Engine]]) runs
  * through. The driver makes three decisions, once each:
  *
  *  - the child session: [[streamSession]], a private-SQLConf child with
  *    4 shuffle partitions;
  *  - the time split: [[timeSplit]] probes the event-time bounds once,
  *    fails fast on a span too narrow to cut, writes the first slice to
  *    the stream dir and returns the later slices (the last one carrying
  *    the far-future watermark sentinel where the gate flushes windows);
  *  - the drain: [[drain]] (memory sink) and [[runWithRestart]]
  *    (checkpointed foreachBatch sink, stopped and resumed) append each
  *    later slice, run `processAllAvailable`, and stop the query in
  *    `finally`.
  *
  * A [[Gate]] names what one gate streams and answers; [[twoBatch]] runs
  * it over a midpoint split, [[restart]] over a data-picked three-way
  * split across a checkpoint restart. Green only if the cross-batch state
  * lifecycle is exact: every entry's answer provably depends on state
  * carried from one micro-batch into the next (a transition spanning the
  * cut, a funnel step completed across it, a day window straddling it, a
  * duplicate suppressed across it).
  *
  * Sketch entries run in their EXACT regimes at the oracle SFs
  * (max 371 rows / 100 distinct tokens per day window vs k = 1024), the
  * same stance as `quantile_sketch` / `heavy_hitters_sketch`: exactness
  * oracle-gates the streaming plumbing bit-for-bit; the lossy regime
  * stays property-gated (QuantileSketchProps / FrequencySketchProps).
  */
trait StreamGatesFam {

  private val drainSeq = new AtomicInteger(0)

  /** The child session of the stream entries (shared SparkContext and
    * catalog, private SQLConf) with small stateful-shuffle sizing —
    * state stores materialize per shuffle partition, and at fixture
    * volume the store setup IS the cost (the stream_stream_join lesson).
    * The private conf keeps the sizing from racing a concurrent query in
    * the caller's session. `newSession()` starts from SparkConf defaults,
    * not the parent's runtime conf, so the engine confs are re-applied
    * first. At cluster scale the partition count should track state size
    * (rows × horizon), like any shuffle sizing.
    */
  private[graft] def streamSession(s: SparkSession): SparkSession = {
    val ss = graft.GraftSession.configure(s.newSession())
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss
  }

  /** The far-future watermark-flush sentinel's epoch second — a decade
    * past the last real event, so it closes every real window.
    */
  private def sentinelHorizon(hi: Long): Long = hi + 10L * 366 * 24 * 3600

  /** Drop the sentinel's own window from a flushed windowed result —
    * the inverse of [[sentinelHorizon]].
    */
  private def realWindows(df: DataFrame, far: Long): DataFrame =
    df.filter(col("win_start") < timestamp_seconds(lit(far - 24 * 3600)))

  /** The time split of every stream gate. One probe reads the bounds
    * (lo, hi) of `key` cast to LONG (nanoseconds for the engine's `ts`,
    * epoch seconds for a TIMESTAMP); a span under `minSpan` fails fast,
    * since a gate that cannot cut its micro-batches would pass while
    * proving nothing about the cross-batch state carry. `cuts(lo, hi)`
    * gives the ascending cut points; a TIMESTAMP key compares against
    * them as epoch seconds. Rows with `key <= cuts.head` are written to
    * `scratch` (the stream dir), and the slices between consecutive cuts
    * and past the last one come back in order, with the `sentinel` row
    * (its columns for the horizon) appended to the last. Returns (later
    * slices, sentinel horizon).
    *
    * Equal-key rows land on one side of a cut, so per-user (ts, tie)
    * delivery order — the cross-batch contract of the mapGroupsWithState
    * handlers — holds by construction. Null-key rows fall on no side;
    * every gate's oracle filters `ts IS NOT NULL` to match (the driver
    * fixtures have none).
    */
  private[queries] def timeSplit(ev: DataFrame, key: Column, scratch: String,
      minSpan: Long, sentinel: Option[Long => Seq[Column]])(
      cuts: (Long, Long) => Seq[Long]): (Seq[DataFrame], Long) = {
    val b = ev.agg(min(key.cast("long")), max(key.cast("long"))).head()
    require(!b.isNullAt(0),
      s"degenerate stream split: no row carries a $key — the gate would " +
        "run over nothing")
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    require(hi - lo >= minSpan,
      s"degenerate stream split: $key spans ${hi - lo} from $lo, under " +
        s"the $minSpan the gate needs to cut its micro-batches")
    val at: Long => Column = ev.select(key).schema.head.dataType match {
      case TimestampType => c => timestamp_seconds(lit(c))
      case _ => c => lit(c)
    }
    val cs = cuts(lo, hi).map(at)
    ev.filter(key <= cs.head).write.mode("overwrite").parquet(scratch)
    val far = sentinelHorizon(hi)
    val between = cs.sliding(2).collect {
      case Seq(c, next) => ev.filter(key > c && key <= next)
    }.toSeq
    val last = ev.filter(key > cs.last)
    (between :+ sentinel.fold(last)(cols =>
      last.unionByName(ev.sparkSession.range(1).select(cols(far): _*))), far)
  }

  /** Drain `q` over the stream dir `dir`: one `processAllAvailable` for
    * what the dir holds, then per slice an append and another. The query
    * stops in `finally`: a failed batch or append must not leak an active
    * stream polling a scratch dir the next invocation overwrites.
    */
  private def drainQuery(q: StreamingQuery, dir: String,
      slices: Seq[DataFrame]): Unit =
    try {
      q.processAllAvailable()
      slices.foreach { slice =>
        slice.write.mode("append").parquet(dir)
        q.processAllAvailable() // + the no-data batch a watermark move runs
      }
    } finally q.stop()

  /** Run `stream` into a memory sink through [[drainQuery]] and return
    * the sink's table, registered in the stream's own session.
    */
  private[queries] def drain(stream: DataFrame, mode: String, dir: String,
      later: Seq[DataFrame]): DataFrame = {
    val name = s"graft_stream_${drainSeq.incrementAndGet()}"
    drainQuery(stream.writeStream.format("memory").queryName(name)
      .outputMode(mode).start(), dir, later)
    stream.sparkSession.table(name)
  }

  /** The batchId-idempotent foreachBatch sink the restart/replay gates
    * run on — and the shape a PRODUCTION foreachBatch parquet sink must
    * have. Structured Streaming's foreachBatch contract is at-least-once:
    * a crash AFTER the sink write but BEFORE the offset commit replays
    * that batch on recovery with the SAME batchId. A bare
    * `mode("append")` therefore double-appends the replayed batch (the
    * r18 verdict's one untested window); writing each batch to its own
    * `batch_id=<id>` directory with overwrite makes the replay land on
    * the same files — exactly-once by idempotence. The layout doubles as
    * partition discovery on read (drop the synthetic `batch_id` column)
    * and gives [[graft.engine.Compaction]] a natural post-ingest unit.
    */
  def idempotentSink(outDir: String)
      : (DataFrame, Long) => Unit = { (batch: DataFrame, id: Long) =>
    // a DATA column named batch_id would collide with the identically
    // named partition directory on read (and readSinkOutput would strip
    // the real column) — fail loudly instead of corrupting silently.
    // Case-INSENSITIVE: Spark resolves columns case-insensitively by
    // default, so 'Batch_ID' collides just the same
    require(!batch.columns.exists(_.equalsIgnoreCase("batch_id")),
      "idempotentSink: the stream already carries a 'batch_id' column — " +
        "rename it; the sink owns that name for its commit bookkeeping")
    batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
  }

  /** Read everything an [[idempotentSink]] wrote, minus the synthetic
    * partition column.
    */
  def readSinkOutput(ss: SparkSession, outDir: String): DataFrame =
    ss.read.parquet(outDir).drop("batch_id")

  /** The checkpoint-restart lifecycle — the recovery path a production
    * stream lives or dies by (reference intent:
    * `process/KafkaHelper.scala:42-65` persists offsets to ZooKeeper
    * exactly so a restarted job resumes where it stopped). Runs
    * `mkStream` over the stream dir `dir` under a PERSISTENT checkpoint —
    * one micro-batch for what `dir` holds, one per slice of `later` but
    * the last — stops the query, appends the last slice, then starts a
    * BRAND-NEW query incarnation on a FRESH child session from the SAME
    * checkpoint
    * — the only carrier of offsets, watermark, and keyed state across the
    * boundary (a new runId forces the state store to reload from the
    * checkpoint files, not reuse in-memory maps). Output accumulates in
    * `outDir` via the batchId-idempotent [[idempotentSink]]: each batch
    * owns its `batch_id=<id>` directory, and a BROKEN recovery
    * self-polices — lost STATE (offsets intact) re-emits suppressed/held
    * rows into batch 3's directory; FULLY lost offsets+state restart
    * batchIds at 0, so the reprocess-everything batch OVERWRITES the old
    * `batch_id=0` and the surviving duplicate evidence is its collision
    * with the LATER batch directories' rows (which is why a gate's
    * middle/late batches must emit something — RestartGateSpec plants
    * first-arrivals there and demonstrates the detection) — either way
    * the hash gate goes red.
    * Checkpoint and output dirs are wiped at entry (scratch dirs persist
    * across invocations; resuming a checkpoint against an overwritten
    * source dir would be chaos). `tune` runs on each incarnation's
    * session before its query starts.
    *
    * `replayLastBatch = true` additionally simulates the CRASH window the
    * sink's idempotence exists for: the pre-batch-3 checkpoint is
    * snapshotted before the second incarnation runs, then restored over
    * the advanced checkpoint and a THIRD incarnation started — to the
    * engine this is indistinguishable from a crash after batch 3's sink
    * write but before its offset commit, so batch 3 re-executes with the
    * same batchId. The gate passes only if the replayed write lands on
    * the same files instead of duplicating them (RestartGateSpec proves
    * the bare-append sink goes red under this very lifecycle).
    */
  private[queries] def runWithRestart(parent: SparkSession,
      mkStream: SparkSession => DataFrame, sinkMode: String,
      ckpt: String, outDir: String, dir: String, later: Seq[DataFrame],
      tune: SparkSession => Unit = _ => (),
      replayLastBatch: Boolean = false,
      mkSink: String => (DataFrame, Long) => Unit = idempotentSink)
      : DataFrame = {
    val fs = new graft.engine.FsUtils(parent)
    val snap = s"$ckpt.prebatch3"
    fs.rm(ckpt); fs.rm(outDir); fs.rm(snap)
    // mkSink is a spec hook: RestartGateSpec swaps in the bare append
    // sink to PROVE it double-appends under the replay window the
    // default idempotent sink survives; registry entries never override
    val sink = mkSink(outDir)
    // one incarnation: a fresh session (no in-memory carry), tuned (e.g. a
    // state-store provider override), draining `slices` from the checkpoint
    def incarnation(slices: Seq[DataFrame]): SparkSession = {
      val ss = streamSession(parent)
      tune(ss)
      drainQuery(mkStream(ss).writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(sinkMode)
        .foreachBatch(sink)
        .start(), dir, slices)
      ss
    }
    incarnation(later.init) // every micro-batch but the last
    later.last.write.mode("append").parquet(dir)
    if (replayLastBatch) fs.cp(ckpt, snap) // the pre-batch-3 generation
    val resumed = incarnation(Nil) // the last batch, resumed from checkpoint
    val last =
      if (!replayLastBatch) resumed
      else {
        // crash simulation: roll the checkpoint back to before batch 3's
        // offset commit (sink output KEPT — it was "written pre-crash")
        // and recover; batch 3 re-runs under its original batchId
        fs.rm(ckpt)
        fs.mv(snap, ckpt)
        incarnation(Nil)
      }
    val out = last.read.parquet(outDir)
    // ADVICE r19: the wipe-detection story rests on batches AFTER the
    // first having emitted rows — a fully wiped checkpoint restarts
    // batchIds at 0 and its reprocess-everything batch OVERWRITES the old
    // `batch_id=0` directory, so the only surviving duplicate evidence is
    // the collision with the LATER batch directories' rows. The cuts are
    // data-picked so such emissions exist by construction; this guard
    // turns that construction into a checked invariant on EVERY gate
    // running this lifecycle. (A spec-injected sink without the
    // `batch_id=` layout — the bare-append failure demonstration — has no
    // partition column and is exempt: it exists to show the failure, not
    // to detect it.)
    if (out.columns.contains("batch_id"))
      require(out.filter(col("batch_id") >= 1).limit(1).count() == 1,
        "no micro-batch after the first emitted rows — a fully wiped " +
          "checkpoint would be UNDETECTABLE under the batchId-idempotent " +
          "sink (its batch-0 overwrite destroys the old evidence)")
    out.drop("batch_id")
  }

  /** `g` over two micro-batches: the events split at the midpoint of
    * their event-time span, drained to a memory sink.
    */
  private[queries] def twoBatch(g: Gate, s: SparkSession,
      dir: String): DataFrame = {
    val ss = streamSession(s)
    val ev = g.events(ss, dir)
    val scratch = Engine.scratchPath(s"graft-${g.name}-stream", dir)
    val (later, far) = timeSplit(ev, g.key, scratch, 1, g.sentinel)(
      (lo, hi) => Seq((lo + hi) / 2))
    g.answer(drain(g.stream(ss, scratch, ev), g.mode, scratch, later), far)
  }

  /** `g` over three micro-batches with the query stopped after the
    * second and resumed from its checkpoint for the third
    * ([[runWithRestart]]); `replay` adds the crash-replay window. `cuts`
    * picks the two cut points from the data (the gate's events, its key
    * as LONG, and the span's bounds) so the crossing the gate needs
    * exists by construction.
    */
  private def restart(g: Gate, s: SparkSession, dir: String,
      replay: Boolean)(cuts: (DataFrame, Column, Long, Long) => Seq[Long])
      : DataFrame = {
    val ss = streamSession(s)
    val ev = g.events(ss, dir)
    def scratch(suffix: String) = Engine.scratchPath(
      s"graft-${g.name}-${if (replay) "replay" else "restart"}$suffix", dir)
    val src = scratch("")
    val key = g.key.cast("long")
    val (later, far) = timeSplit(ev, key, src, 3, g.sentinel)(
      cuts(ev, key, _, _))
    g.answer(runWithRestart(s, g.stream(_, src, ev), g.mode,
      scratch("-ck"), scratch("-out"), src, later,
      replayLastBatch = replay), far)
  }

  /** The restart split's first cut halfway from `lo` to the data-picked
    * restart cut: `lo <= c1 < cut`, so all three parts are non-empty.
    */
  private def halfwayTo(lo: Long, cut: Long): Seq[Long] =
    Seq(lo + (cut - lo) / 2, cut)

  /** Session transition mining UNDER STRUCTURED STREAMING
    * ([[graft.streaming.Streams.transitionsIngest]]): per-user
    * consecutive in-session (from → to) event-type edges, emitted by a
    * REAL flatMapGroupsWithState run over the two-micro-batch time
    * split, then aggregated to the transition matrix. The edge spanning
    * the batch boundary (last pre-cut event → first post-cut event of
    * the same user, within the 30-min gap) exists ONLY if the 16-byte
    * keyed state carried across batches — the thing this gate proves.
    * State per user is (last ts, last type); the matrix aggregation is
    * |types|²-bounded.
    */
  private val transitions = Gate("transitions", col("ts"), "update",
    (ss, dir) => T.events(ss, dir).filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id")),
    sentinel = None,
    src => Streams.transitionsIngest(src, col("user_id"), col("ts"),
        col("event_type"), col("event_id"))
      .toDF("user_id", "from_et", "to_et"),
    (out, _) => out.groupBy(col("from_et"), col("to_et"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("from_et"), col("to_et")))

  def transitionsFromStreamQ(s: SparkSession, dir: String): DataFrame =
    twoBatch(transitions, s, dir)

  val transitionsFromStreamOracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) * 1000 AS tsn, event_type AS et,
      |    event_id
      |  FROM events WHERE ts IS NOT NULL),
      |w AS (
      |  SELECT user_id, et, lag(et) OVER win AS pet,
      |    tsn - lag(tsn) OVER win AS gap
      |  FROM e
      |  WINDOW win AS (PARTITION BY user_id ORDER BY tsn, event_id))
      |SELECT pet AS from_et, et AS to_et, CAST(COUNT(*) AS BIGINT) AS n
      |FROM w
      |WHERE pet IS NOT NULL AND gap <= 1800000000000
      |GROUP BY 1, 2
      |ORDER BY from_et, to_et""".stripMargin

  private val funnelSteps = Seq("view", "click", "purchase")

  /** Funnel depths UNDER STRUCTURED STREAMING
    * ([[graft.streaming.Streams.funnelIngest]]): each user's greedy
    * strict-order view→click→purchase depth, folded by a REAL
    * mapGroupsWithState run across the two-micro-batch time split, then
    * collapsed to the step report — gated by the batch `funnel_report`
    * oracle VERBATIM (the `preference_from_counts` pattern). A user whose
    * later steps arrive in batch 2 only reaches full depth if the
    * (depth, last-ts) state carried; depth is monotone, so the final
    * per-user depth is max over the Update-mode emissions. State per
    * user is 12 bytes.
    */
  private val funnel = Gate("funnel", col("ts"), "update",
    (ss, dir) => T.events(ss, dir).filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_type")),
    sentinel = None,
    src => Streams.funnelIngest(src, col("user_id"), col("ts"),
        col("event_type"), funnelSteps)
      .toDF("user_id", "depth"),
    { (out, _) =>
      val depths = out.groupBy(col("user_id")).agg(max(col("depth")).as("d"))
      val reached = funnelSteps.indices.map(i =>
        sum(when(col("d") >= i + 1, 1L).otherwise(0L)).as(s"u${i + 1}"))
      depths.agg(reached.head, reached.tail: _*)
        .select(expr("stack(3, " + funnelSteps.zipWithIndex.map {
          case (n, i) => s"${i + 1}, '$n', coalesce(u${i + 1}, 0L)"
        }.mkString(", ") + ") AS (step, step_name, users_reached)"))
        .orderBy(col("step"))
    })

  def funnelFromStreamQ(s: SparkSession, dir: String): DataFrame =
    twoBatch(funnel, s, dir)

  /** Trending terms UNDER STRUCTURED STREAMING
    * ([[graft.streaming.Streams.trendingTerms]]): per 1-day event-time
    * window, the top-5 tokens of the events props text via the mergeable
    * Misra-Gries sketch, run through a REAL watermarked windowed
    * aggregation over the two-micro-batch split (day windows straddling
    * the cut merge batch-2 partials into batch-1 state; a far-future
    * sentinel closes every real window for the append-mode flush). At
    * the oracle SFs every window holds ≤ ~100 distinct tokens « k = 1024,
    * the sketch's EXACT regime, so the oracle replays counts and the
    * (cnt desc, term) rank verbatim; the lossy regime stays
    * FrequencySketchProps-gated. State per open window is ONE k-bounded
    * buffer.
    */
  private val trending = Gate("trending", col("event_time"), "append",
    (ss, dir) => Streams.withEventTime(T.events(ss, dir))
      .filter(col("event_time").isNotNull)
      .select(col("event_time"), col("props")),
    Some(far => Seq(timestamp_seconds(lit(far)).as("event_time"),
      lit("x").as("props"))),
    src => Streams.trendingTerms(src, col("event_time"), col("props"),
      "1 day", "0 seconds", k = 1024, topN = 5),
    (out, far) => realWindows(out, far)
      .select(col("win_start").cast("date").as("day"), col("rank"),
        col("term"), col("cnt"))
      .orderBy(col("day"), col("rank")))

  def trendingFromStreamQ(s: SparkSession, dir: String): DataFrame =
    twoBatch(trending, s, dir)

  val trendingFromStreamOracle: String =
    """WITH t AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    unnest(CASE WHEN trim(props) = '' THEN []::VARCHAR[]
      |      ELSE string_split_regex(trim(props), '\s+') END) AS term
      |  FROM events WHERE ts IS NOT NULL),
      |g AS (SELECT day, term, CAST(COUNT(*) AS BIGINT) AS cnt
      |      FROM t GROUP BY 1, 2),
      |r AS (
      |  SELECT day, term, cnt,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY day
      |      ORDER BY cnt DESC, term) AS INTEGER) AS rank
      |  FROM g)
      |SELECT day, rank, term, cnt FROM r
      |WHERE rank <= 5
      |ORDER BY day, rank""".stripMargin

  /** Windowed latency-style quantiles UNDER STRUCTURED STREAMING
    * ([[graft.streaming.Streams.windowQuantiles]]): per 1-day window,
    * p50/p90/p99 of the events value column via the mergeable KLL
    * sketch, run through the same REAL watermarked two-batch fold as
    * [[trendingFromStreamQ]]. At the oracle SFs every window holds
    * ≤ 371 values « k = 1024, so NO compaction ever fires and the
    * sketch's rank-select reproduces `percentile_disc` / DuckDB
    * `quantile_disc` bit-for-bit whatever the partition/merge/batch
    * tree — which is exactly what gates the streaming merge path. State
    * per open window is one O(k log(n/k)) buffer.
    */
  private val windowQuantiles = Gate("wq", col("event_time"), "append",
    (ss, dir) => Streams.withEventTime(T.events(ss, dir))
      .filter(col("event_time").isNotNull)
      .select(col("event_time"), col("value")),
    Some(far => Seq(timestamp_seconds(lit(far)).as("event_time"),
      lit(0.0).as("value"))),
    src => Streams.windowQuantiles(src, col("event_time"), col("value"),
      "1 day", "0 seconds", probs = Seq(0.5, 0.9, 0.99), k = 1024),
    (out, far) => realWindows(out, far)
      .select(col("win_start").cast("date").as("day"),
        col("p50"), col("p90"), col("p99"), col("n"))
      .orderBy(col("day")))

  def windowQuantilesFromStreamQ(s: SparkSession, dir: String): DataFrame =
    twoBatch(windowQuantiles, s, dir)

  val windowQuantilesFromStreamOracle: String =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |  quantile_disc(value, 0.5) AS p50,
      |  quantile_disc(value, 0.9) AS p90,
      |  quantile_disc(value, 0.99) AS p99,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM events
      |WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  private val dedupKeys = Seq("user_id", "event_type")

  /** Watermark-bounded streaming dedup
    * ([[graft.streaming.Streams.dedupWithinWatermark]], the built-in
    * `dropDuplicatesWithinWatermark`): the production ingest-dedup
    * default — keyed state EXPIRES with the watermark, bounding memory
    * by horizon × arrival rate. Run over the two-micro-batch split with
    * a horizon longer than the corpus span, so every duplicate
    * (user, event_type) arriving in batch 2 must be suppressed by state
    * REMEMBERED from batch 1 — emitting exactly one row per distinct
    * key. Only the key columns are projected (which duplicate survives
    * is arrival-order-dependent, the documented dedup contract); the
    * hash gate then fails if any key re-emits across the boundary.
    */
  private val dedupWatermark = Gate("dwm", col("event_time"), "append",
    (ss, dir) => Streams.withEventTime(T.events(ss, dir))
      .filter(col("event_time").isNotNull)
      .select(col("event_time"), col("user_id"), col("event_type")),
    sentinel = None,
    src => Streams.dedupWithinWatermark(src, keys = dedupKeys,
      eventTime = "event_time",
      delay = "90 days"), // horizon > the 31-day corpus: never expires
    (out, _) => out.select(col("user_id"), col("event_type"))
      .orderBy(col("user_id"), col("event_type")))

  def dedupWatermarkFromStreamQ(s: SparkSession, dir: String): DataFrame =
    twoBatch(dedupWatermark, s, dir)

  val dedupWatermarkFromStreamOracle: String =
    """SELECT DISTINCT user_id, event_type
      |FROM events WHERE ts IS NOT NULL
      |ORDER BY user_id, event_type""".stripMargin

  /** Session transition mining ACROSS A CHECKPOINT RESTART: the
    * [[transitionsFromStreamQ]] handler run over a three-tercile time
    * split with the query STOPPED after micro-batch 2 and a brand-new
    * incarnation (fresh session, same checkpoint) processing batch 3 —
    * oracle-gated against the very same full-corpus batch replay. The
    * edges whose from-event precedes the restart cut and whose to-event
    * follows it exist in the final matrix ONLY if the per-user
    * (last ts, last type) state was restored from the checkpoint by the
    * second incarnation. The restart cut is picked FROM the data — the
    * from-event timestamp of the in-session edge nearest the 2/3 time
    * point — so a restart-crossing edge exists by construction (a
    * fixed tercile cut landed in a >30-min corpus-wide quiet gap at
    * sf0.01 and tripped the vacuity guard); a corpus with no in-session
    * edges at all still fails loudly. Lost offsets or lost state both
    * turn the hash red (see [[runWithRestart]]).
    */
  def transitionsRestartQ(s: SparkSession, dir: String): DataFrame =
    restart(transitions, s, dir, replay = false)(transitionsCut)

  /** [[transitionsRestartQ]] plus the CRASH-REPLAY window: after the
    * restarted incarnation commits batch 3, the checkpoint is rolled back
    * to its pre-batch-3 generation (sink output kept — exactly the state
    * a crash between the foreachBatch write and the offset commit leaves
    * behind) and recovery runs batch 3 AGAIN under its original batchId.
    * Gated against the same full-corpus oracle VERBATIM: green only if
    * the batchId-idempotent sink made the at-least-once replay
    * exactly-once on disk — a bare append sink double-appends batch 3 and
    * goes red (RestartGateSpec proves that failure shape directly).
    */
  def transitionsReplayQ(s: SparkSession, dir: String): DataFrame =
    restart(transitions, s, dir, replay = true)(transitionsCut)

  // cut at the from-event of the in-session edge nearest the 2/3 point
  // (pts >= lo+2 keeps all three terciles non-empty; ts > pts so a cut
  // can fall strictly between the two events)
  private def transitionsCut(ev: DataFrame, key: Column, lo: Long,
      hi: Long): Seq[Long] = {
    val target = lo + 2 * ((hi - lo) / 3)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cutRow = ev
      .select(col("ts"), lag(col("ts"), 1).over(w).as("pts"))
      .filter(col("pts").isNotNull &&
        col("ts") - col("pts") <= lit(1800L * 1000000000L) &&
        col("ts") > col("pts") && col("pts") >= lo + 2)
      .select(col("pts"))
      .orderBy(abs(col("pts") - lit(target)), col("pts"))
      .limit(1).collect()
    require(cutRow.nonEmpty,
      "no in-session edge available to span the restart cut — the " +
        "recovery gate would be vacuous")
    halfwayTo(lo, cutRow(0).getLong(0))
  }

  /** Watermarked WINDOWED-AGGREGATION state across a checkpoint restart —
    * the third state class of the recovery story
    * ([[transitionsRestartQ]] = custom keyed state,
    * [[dedupWatermarkRestartQ]] = dedup state, this = window partials +
    * the watermark itself). The [[windowQuantilesFromStreamQ]] KLL
    * windows run over three terciles with the query stopped after
    * micro-batch 2; the far-future sentinel arrives ONLY in post-restart
    * batch 3, so every real window finalizes AFTER the restart — a day
    * window straddling the cut emits correct quantiles only if its
    * sketch partials were restored from the checkpoint, and the restored
    * watermark (commit log) gates the flush. Lost partials emit
    * batch-3-only quantiles; lost offsets double-fold the straddling
    * windows' counts; a lost watermark never flushes (empty output) —
    * all hash-red against the full-corpus oracle (reused VERBATIM).
    */
  def windowQuantilesRestartQ(s: SparkSession, dir: String): DataFrame =
    restart(windowQuantiles, s, dir, replay = false)(windowCut)

  /** [[windowQuantilesRestartQ]] plus the crash-replay window (the
    * [[transitionsReplayQ]] lifecycle applied to the WINDOWED-AGGREGATION
    * state class): the checkpoint is rolled back to its pre-batch-3
    * generation after the restarted incarnation committed batch 3, and
    * recovery re-executes that batch under its original batchId — against
    * an already-advanced watermark and already-restored window partials.
    * The replayed flush-on-watermark emissions (the sentinel arrives only
    * in batch 3, so EVERY real window finalizes inside the replayed
    * batch) must land on the same `batch_id=` files, or the one-row-per-
    * day oracle goes hash-red with duplicate day rows (RestartGateSpec
    * demonstrates exactly that under a bare append sink).
    */
  def windowQuantilesReplayQ(s: SparkSession, dir: String): DataFrame =
    restart(windowQuantiles, s, dir, replay = true)(windowCut)

  // cut AT an event that has a LATER same-day event, nearest the 2/3
  // point — so a day window straddles the restart by construction (a
  // blind tercile cut landed exactly on a day boundary at sf0.001 and
  // tripped the vacuity guard); `key` is epoch seconds
  private def windowCut(ev: DataFrame, key: Column, lo: Long,
      hi: Long): Seq[Long] = {
    val target = lo + 2 * ((hi - lo) / 3)
    val day = date_trunc("day", col("event_time"))
    val dmax = ev.groupBy(day.as("d")).agg(max(key).as("mx"))
    val cutRow = ev.select(key.as("t"), day.as("d"))
      .join(dmax, Seq("d"))
      .filter(col("t") >= lo + 2 && col("t") < col("mx"))
      .select(col("t"))
      .orderBy(abs(col("t") - lit(target)), col("t"))
      .limit(1).collect()
    require(cutRow.nonEmpty,
      "no day window can span the restart cut — the windowed-state " +
        "recovery gate would be vacuous")
    halfwayTo(lo, cutRow(0).getLong(0))
  }

  /** Watermark-bounded streaming dedup ACROSS A CHECKPOINT RESTART: the
    * [[dedupWatermarkFromStreamQ]] contract with the query stopped after
    * micro-batch 2 and batch 3 processed by a new incarnation resumed
    * from the checkpoint. A key first seen before the restart cut that
    * re-arrives after it is suppressed ONLY if the dedup state store (and
    * the watermark, restored from the commit log) survived the restart —
    * a re-emitted key is a duplicate row and the DISTINCT oracle goes
    * red. The entry requires such restart-crossing duplicate keys to
    * exist, so it cannot pass vacuously — and since round 19 the FIRST
    * cut is data-picked too (the transitions/window rule applied to
    * dedup): micro-batch 2 starts AT a key's first arrival, so batch 2
    * emits a row by construction. That emission is what keeps a FULLY
    * wiped checkpoint detectable under the batchId-idempotent sink: the
    * wiped rerun's reprocess-everything batch 0 overwrites the old
    * `batch_id=0` directory, and the surviving duplicate evidence is its
    * collision with the rows batches 2+ emitted (a blind tercile cut
    * left the middle batch emission-free at sf0.001 — every key had
    * already arrived in the first tercile).
    */
  def dedupWatermarkRestartQ(s: SparkSession, dir: String): DataFrame =
    restart(dedupWatermark, s, dir, replay = false)(dedupCut)

  /** [[dedupWatermarkRestartQ]] plus the crash-replay window — the third
    * state class under the full crash lifecycle (keyed state =
    * [[transitionsReplayQ]], window partials = [[windowQuantilesReplayQ]],
    * this = the built-in dedup store + its watermark). Batch 3 re-executes
    * under its original batchId against dedup state that ALREADY admitted
    * its keys: suppression must hold on the replay (a key first seen in
    * batch 3 re-emits, and only the idempotent sink's overwrite keeps the
    * re-emission from double-appending — the DISTINCT oracle goes red
    * otherwise, as RestartGateSpec shows for the bare append sink).
    */
  def dedupWatermarkReplayQ(s: SparkSession, dir: String): DataFrame =
    restart(dedupWatermark, s, dir, replay = true)(dedupCut)

  // c1 sits just before the INTERIOR first arrival nearest the
  // midpoint, so that key's first row opens micro-batch 2 (emission by
  // construction); c2 (the restart boundary) keeps the blind 2/3 point
  // when it is at or past that arrival, clamped inside the span
  private def dedupCut(ev: DataFrame, key: Column, lo: Long,
      hi: Long): Seq[Long] = {
    val target = lo + (hi - lo) / 2
    val fRow = ev.groupBy(dedupKeys.map(col): _*).agg(min(key).as("f"))
      .filter(col("f") > lo && col("f") < hi)
      .select(col("f"))
      .orderBy(abs(col("f") - lit(target)), col("f"))
      .limit(1).collect()
    require(fRow.nonEmpty,
      "every dedup key first-arrives at the corpus boundaries — no " +
        "middle micro-batch can emit, and a fully wiped checkpoint " +
        "would be UNDETECTABLE under the batchId-idempotent sink")
    val fstar = fRow(0).getLong(0)
    val c2 = math.min(math.max(fstar, lo + 2 * ((hi - lo) / 3)), hi - 1)
    // non-vacuity: some key must occur on BOTH sides of the restart
    // cut, or suppression-by-recovered-state is never exercised
    val crossing = ev.filter(key <= c2).select(dedupKeys.map(col): _*)
      .distinct()
      .join(ev.filter(key > c2).select(dedupKeys.map(col): _*).distinct(),
        dedupKeys, "inner")
      .count()
    require(crossing > 0,
      "no dedup key spans the restart cut — the recovery gate would " +
        "be vacuous")
    Seq(fstar - 1, c2)
  }
}

object StreamGates extends StreamGatesFam {

  /** [[graft.queries.Relational.funnelReportOracle]] with the stream
    * gates' null-ts exclusion spliced into its events CTE — derived, not
    * copied, so the funnel replay itself stays single-source (editing the
    * shared oracle directly would silently change the batch
    * `funnel_report` gate too).
    */
  private val funnelStreamOracle: String = {
    val o = Relational.funnelReportOracle
    require(o.contains("FROM events)"),
      "funnelReportOracle shape changed — update the stream splice")
    o.replace("FROM events)", "FROM events WHERE ts IS NOT NULL)")
  }

  val all: Seq[Q] = Seq(
    Q("transitions_from_stream", transitionsFromStreamQ,
      Some(transitionsFromStreamOracle),
      lifecycle = true),
    // the batch funnel_report oracle with ONLY the gate's null-ts
    // contract spliced in — still one source of the funnel replay
    Q("funnel_from_stream", funnelFromStreamQ, Some(funnelStreamOracle),
      lifecycle = true),
    Q("trending_from_stream", trendingFromStreamQ,
      Some(trendingFromStreamOracle),
      lifecycle = true),
    Q("window_quantiles_from_stream", windowQuantilesFromStreamQ,
      Some(windowQuantilesFromStreamOracle),
      lifecycle = true),
    Q("dedup_watermark_from_stream", dedupWatermarkFromStreamQ,
      Some(dedupWatermarkFromStreamOracle),
      lifecycle = true),
    // checkpoint-restart recovery gates: same oracles VERBATIM — the
    // restarted run must land on the very same full-corpus answer
    Q("transitions_restart", transitionsRestartQ,
      Some(transitionsFromStreamOracle),
      lifecycle = true),
    // crash-replay gates: checkpoint rolled back to pre-batch-3 after the
    // restarted run — the at-least-once window the idempotent sink
    // closes, carried by ALL THREE state classes (r19 verdict #1/#2:
    // custom keyed state, windowed-agg partials + watermark, dedup store)
    Q("transitions_replay", transitionsReplayQ,
      Some(transitionsFromStreamOracle),
      lifecycle = true),
    Q("dedup_watermark_restart", dedupWatermarkRestartQ,
      Some(dedupWatermarkFromStreamOracle),
      lifecycle = true),
    Q("dedup_watermark_replay", dedupWatermarkReplayQ,
      Some(dedupWatermarkFromStreamOracle),
      lifecycle = true),
    Q("window_quantiles_restart", windowQuantilesRestartQ,
      Some(windowQuantilesFromStreamOracle),
      lifecycle = true),
    Q("window_quantiles_replay", windowQuantilesReplayQ,
      Some(windowQuantilesFromStreamOracle),
      lifecycle = true))
}
