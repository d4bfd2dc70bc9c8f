package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.ScriptCompiler
import graft.etl.SqlRunner
import graft.streaming.Streams

/** Engine-layer queries: the SQL script runner (Beeline replacement), hot
  * script compilation (interpreter replacement), and Structured Streaming
  * transforms — each oracle-checked on the driver tables.
  */
object Engine {

  /** Fixed-but-scoped scratch dir for sink-roundtrip queries: stable across
    * invocations (so `overwrite` reuses one path instead of accumulating a
    * table-sized dump in /tmp every sweep) yet unique per OS user and per
    * source-data dir — concurrent runs over different SFs, or different
    * users on a shared host, get disjoint paths instead of overwriting each
    * other mid-read.
    */
  private[queries] def scratchPath(name: String, dataDir: String): String = {
    val scope = s"${System.getProperty("user.name", "anon")}-${
      Integer.toHexString(dataDir.hashCode)}"
    java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"$name-$scope").toString
  }

  /** Multi-statement SQL script through SqlRunner: comments, temp-view DDL,
    * a TEMPORARY MACRO (rewritten to a registered function), and a final
    * SELECT whose DataFrame is the query result.
    */
  def etlSqlScript(s: SparkSession, dir: String): DataFrame = {
    val script =
      s"""-- pricing script (reference README.md:173-219 shape)
         |# hash comments are comments too
         |CREATE TEMPORARY MACRO disc_price(p DOUBLE, d DOUBLE) p * (1 - d);
         |CREATE OR REPLACE TEMPORARY VIEW graft_li AS
         |  SELECT * FROM parquet.`$dir/lineitem.parquet`;
         |SELECT l_returnflag,
         |  CAST(SUM(CAST(disc_price(l_extendedprice, l_discount) AS DECIMAL(14,4))) AS DOUBLE) AS rev,
         |  COUNT(*) AS n
         |FROM graft_li
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag;
         |""".stripMargin
    new SqlRunner(s).runScriptStrict(script).get
  }

  val etlSqlScriptOracle: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(14,4))) AS DOUBLE) AS rev,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** CSV sink + scan roundtrip: write a documents projection as
    * header-ful CSV (quoting handled by the writer), read it back through
    * an explicit schema, and aggregate — exercising the text-format scan
    * path end to end. The oracle aggregates the parquet source directly,
    * so any roundtrip corruption (quoting, escaping, type coercion) breaks
    * the hash.
    */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchPath("graft-csv-roundtrip", dir)
    T(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
      .write.mode("overwrite").option("header", "true").csv(tmp)
    s.read.option("header", "true")
      .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, text STRING")
      .csv(tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        sum(length(col("text"))).as("sum_text_len"))
      .orderBy(col("lang"))
  }

  val csvRoundtripOracle: String =
    """SELECT lang, COUNT(*) AS n,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_text_len
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** JSON-lines sink + scan roundtrip over events (including the embedded
    * JSON `props` string, re-extracted after the roundtrip).
    */
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchPath("graft-jsonl-roundtrip", dir)
    T(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("props"))
      .write.mode("overwrite").json(tmp)
    s.read.schema("event_id BIGINT, event_type STRING, props STRING").json(tmp)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("event_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  val jsonlRoundtripOracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MAX(event_id) AS max_id
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** XML sink + scan roundtrip over customer (Spark 4's built-in `xml`
    * source — the reference era's spark-xml, now in sql/core). Write with
    * an explicit rowTag, re-read through an explicit schema (inference
    * would widen int32 keys), and aggregate; entity escaping round-trips
    * names losslessly, so the oracle runs on the parquet original. Doubles
    * survive because the writer emits shortest-exact representations; min()
    * keeps the double output order-independent for the hash compare.
    */
  def xmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchPath("graft-xml-roundtrip", dir)
    T(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").option("rowTag", "customer").format("xml").save(tmp)
    s.read.option("rowTag", "customer")
      .schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
        "c_acctbal DOUBLE, c_mktsegment STRING")
      .format("xml").load(tmp)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        min(col("c_custkey")).as("min_key"),
        max(col("c_custkey")).as("max_key"),
        sum(col("c_nationkey").cast("long")).as("sum_nation"),
        sum(length(col("c_name"))).as("sum_name_len"),
        min(col("c_acctbal")).as("min_bal"))
      .orderBy(col("c_mktsegment"))
  }

  val xmlRoundtripOracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key,
      |  CAST(SUM(c_nationkey) AS BIGINT) AS sum_nation,
      |  CAST(SUM(length(c_name)) AS BIGINT) AS sum_name_len,
      |  MIN(c_acctbal) AS min_bal
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Hot-compiled script job (ToolBox ≈ the reference's IMain): the script
    * text itself declares the plan; the engine compiles and invokes it.
    */
  def scriptCompiled(s: SparkSession, dir: String): DataFrame = {
    val script =
      s"""(spark: SparkSession) => {
         |  val o = spark.read.parquet("$dir/orders.parquet")
         |  o.groupBy(col("o_orderstatus"))
         |    .agg(count(lit(1)).as("n"),
         |      max(col("o_totalprice")).as("max_price"))
         |    .orderBy(col("o_orderstatus"))
         |}
         |""".stripMargin
    ScriptCompiler.compileTask(script)(s).asInstanceOf[DataFrame]
  }

  val scriptCompiledOracle: String =
    """SELECT o_orderstatus, COUNT(*) AS n, MAX(o_totalprice) AS max_price
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Structured Streaming end-to-end: file-source stream over events,
    * watermarked 1-day tumbling window counts per event type, drained to a
    * memory sink in complete mode (deterministic for finite input), result
    * read back as a batch table. Runs in the stream session, which takes
    * the sink's view with it.
    */
  def streamingWindowCounts(s: SparkSession, dir: String): DataFrame = {
    val ss = StreamGates.streamSession(s)
    val batch = T(ss, dir, "events")
    val stream = Streams.withEventTime(
      Streams.parquetStream(ss, dir, batch, "events.parquet"))
    val agg = Streams.windowedCounts(stream, col("event_time"),
      col("event_type"), "1 day", "1 hour")
    StreamGates.drain(agg, "complete", dir, Nil)
      .select(col("w.start").cast("date").as("day"), col("event_type"), col("n"))
      .orderBy(col("day"), col("event_type"))
  }

  val streamingWindowCountsOracle: String =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, COUNT(*) AS n
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin

  /** Stream-stream interval join, end to end: two watermarked file-source
    * streams over the same events table (clicks and purchases), inner-joined
    * per user with a `[click, click + 30 min]` event-time constraint — the
    * canonical attribution join. Watermarks + the two-sided time bound keep
    * the join state bounded (each side drops buffered rows once the other
    * side's watermark passes the constraint — this is what makes the shape
    * run forever on unbounded streams); append-mode drain is deterministic
    * for finite input. Timestamps compare in microseconds on both engines
    * (ts DIV 1000 here, epoch_us in the oracle), so the boundary rows
    * match exactly.
    */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    // A stateful join materializes 4 state stores per shuffle partition
    // (per side × KeyWithIndex); at this fixture's volume the store setup
    // IS the cost, so the stream runs on the 4-partition stream session.
    val ss = StreamGates.streamSession(s)
    val batch = T(ss, dir, "events")
    def side(tp: String, timeCol: String) = Streams.withEventTime(
        Streams.parquetStream(ss, dir, batch, "events.parquet"))
      .filter(col("event_type") === tp)
      .select(col("user_id"), col("event_time").as(timeCol))
    val joined = Streams.streamStreamJoin(
      side("click", "c_time"), side("purchase", "p_time"), Seq("user_id"),
      leftTime = "c_time", rightTime = "p_time",
      leftDelay = "1 hour", rightDelay = "1 hour", within = "30 MINUTES")
    StreamGates.drain(joined, "append", dir, Nil)
      .select(col("user_id"),
        unix_micros(col("c_time")).as("click_us"),
        unix_micros(col("p_time")).as("purchase_us"))
      .orderBy(col("user_id"), col("click_us"), col("purchase_us"))
  }

  val streamStreamJoinOracle: String =
    """SELECT c.user_id AS user_id, epoch_us(c.ts) AS click_us,
      |  epoch_us(p.ts) AS purchase_us
      |FROM events c JOIN events p ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND epoch_us(p.ts) >= epoch_us(c.ts)
      | AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800 * 1000000
      |ORDER BY user_id, click_us, purchase_us""".stripMargin

  /** Session transcript assembly UNDER STRUCTURED STREAMING, end to end
    * ([[graft.streaming.Streams.sessionTranscripts]]) — the streaming twin
    * of `dialog_assembly`, driven through a REAL two-micro-batch ingest
    * (the `dpo_from_counts` pattern, but through the streaming engine
    * itself rather than a handler replay): the events corpus is
    * time-split at the (min+max)/2 midpoint into two parquet files that a
    * file-source stream picks up as two micro-batches (all of batch 1's
    * event times ≤ batch 2's, so the advancing watermark never drops a
    * late row); a far-future sentinel rides in batch 2 to push the
    * watermark past every real session so append mode emits them all
    * (the sentinel's own session stays open and never emits — filtered
    * defensively anyway). The assembled transcripts hash-match the
    * lag/cumsum batch replay ONLY if the session_window merge, the
    * watermark lifecycle, the (ts, role, content) turn order inside
    * `array_sort(collect_list(...))`, and the NULL-role/content coalesce
    * are all exact. The split (with its degenerate-span guard), the
    * child session and the drain are [[StreamGates.twoBatch]]'s.
    *
    * Boundary note: the native session_window starts a NEW session at
    * diff == gap where the batch rule keeps it; like `session_window`'s
    * oracle below, the replay uses the batch `>` rule — equal on this
    * data (no microsecond-exact 30-minute gap pair at any driver SF),
    * pinned off-boundary by StreamsSpec.
    *
    * Scale shape: identical to the batch twin — events shuffle once as
    * (user, session window); per-session state is that session's turns
    * (bound upstream with a turn cap where bot sessions are a risk); the
    * memory sink stands in for the production parquet/Kafka sink.
    */
  def dialogFromStream(s: SparkSession, dir: String): DataFrame =
    StreamGates.twoBatch(dialog, s, dir)

  private val dialog = Gate("dialog", col("event_time"), "append",
    (ss, dir) => Streams.withEventTime(T.events(ss, dir))
      .select(col("event_time"), col("user_id"),
        col("event_type").as("role"), col("props").as("content")),
    Some(far => Seq(timestamp_seconds(lit(far)).as("event_time"),
      lit(-1L).as("user_id"), lit("x").as("role"), lit("x").as("content"))),
    src => Streams.sessionTranscripts(src, col("event_time"),
      col("user_id"), col("role"), col("content"),
      gap = "30 minutes", watermark = "0 seconds"),
    (out, _) => out
      // null-safe: a plain =!= would also drop NULL-user sessions the
      // oracle keeps, if the driver ever generates null user_ids
      .filter(!(col("user_id") <=> lit(-1L)))
      .select(col("user_id"),
        unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"),
        col("n_turns"),
        md5(col("transcript")).as("transcript_md5"))
      .orderBy(col("user_id"), col("start_us")))

  val dialogFromStreamOracle: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |    COALESCE(event_type, '') AS role, COALESCE(props, '') AS content
      |  FROM events),
      |w AS (
      |  SELECT user_id, us, role, content,
      |    CASE WHEN lag(us) OVER win IS NULL
      |           OR us - lag(us) OVER win > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS ns
      |  FROM e
      |  WINDOW win AS (PARTITION BY user_id ORDER BY us, role, content)),
      |s AS (
      |  SELECT user_id, us, role, content,
      |    SUM(ns) OVER (PARTITION BY user_id ORDER BY us, role, content
      |      ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM w)
      |SELECT user_id, MIN(us) AS start_us,
      |  MAX(us) + 1800 * 1000000 AS end_us,
      |  CAST(COUNT(*) AS BIGINT) AS n_turns,
      |  md5(string_agg(role || ': ' || content, chr(10)
      |    ORDER BY us, role, content)) AS transcript_md5
      |FROM s GROUP BY user_id, sess
      |ORDER BY user_id, start_us""".stripMargin

  /** Native session_window (30-minute gap) per user — the batch run of the
    * streaming sessionizer; oracle rebuilds sessions with lag/cumsum logic.
    */
  def sessionWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = Streams.withEventTime(T(s, dir, "events"))
    Streams.sessionCounts(ev, col("event_time"), col("user_id"), "30 minutes",
        watermark = "0 seconds")
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n"))
      .orderBy(col("user_id"), col("start_us"))
  }

  val sessionWindowOracle: String =
    """WITH t AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
      |), sess AS (
      |  SELECT user_id, us,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
      |                     ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM t)
      |SELECT user_id, MIN(us) AS start_us,
      |  MAX(us) + 1800 * 1000000 AS end_us, COUNT(*) AS n
      |FROM sess
      |GROUP BY user_id, sid
      |ORDER BY user_id, start_us""".stripMargin

  /** The reference's flagship README ETL job (README.md:173-219), end to
    * end: a city lookup table drives per-row HTTP fetches (`t_http_get`
    * with retained ctx), the JSON `$.results` array splits on the
    * `(?<=\})],(?=\{)`-style lookaround regex and explodes to events,
    * timestamps normalize via `unix_timestamp` with the reference's
    * `yyyy-MM-dd'T'HH:mm` pattern, the event table lands as ORC
    * (`stored as orc`, README.md:205) plus an execution-journal entry, and
    * the final aggregation reads the ORC back — argmax via `max_with`.
    */
  def etlReadmeSlice(s: SparkSession, dir: String): DataFrame = {
    import graft.connectors.{Http, LocalHttpServer}
    val base = LocalHttpServer.base
    val cities = T(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val fetched = Http.withGet(cities,
      concat(lit(s"$base/events?city="), url_encode(col("n_name"))))
    val events = fetched
      .select(col("n_nationkey"),
        get_json_object(col("resp.content"), "$.results").as("results"))
      .select(col("n_nationkey"),
        explode(split(expr("substring(results, 2, length(results) - 2)"),
          "(?<=\\}),(?=\\{)")).as("ev"))
      .select(col("ev"),
        unix_timestamp(get_json_object(col("ev"), "$.timestamp"),
          "yyyy-MM-dd'T'HH:mm").as("ts_epoch"),
        get_json_object(col("ev"), "$.type").as("type"))
    // the journal beside the ORC dir is wiped with it on every run, so it
    // holds this run's record only instead of one more file per run
    val orcDir = scratchPath("graft-sp-events", dir)
    val journalDir = s"$orcDir-journal"
    new graft.engine.FsUtils(s).rm(journalDir)
    events.write.mode("overwrite").orc(orcDir)
    val journal = new graft.engine.Journal(s, journalDir)
    val now = System.currentTimeMillis()
    val rec = graft.engine.ExecutionRecord("etl_readme_slice", now, now, "ok", "SUCCEED")
    journal.save(rec)
    require(journal.lastExecution("etl_readme_slice").contains(rec),
      s"journal $journalDir does not return the record just saved")
    s.read.orc(orcDir)
      .groupBy(col("type"))
      .agg(count(lit(1)).as("n"),
        min(col("ts_epoch")).as("min_ts"),
        max(col("ts_epoch")).as("max_ts"),
        expr("max_with(named_struct('e', ts_epoch, 'v', ev), ev)").as("latest_ev"))
      .orderBy(col("type"))
  }

  val etlReadmeSliceOracle: String =
    """WITH ev AS (
      |  SELECT 'ev' || (length(n_name) + i) % 2 AS type,
      |    CAST(epoch(strptime('2024-03-0' || i || 'T0' || i || ':1' || i,
      |                        '%Y-%m-%dT%H:%M')) AS BIGINT) AS ts_epoch,
      |    '{"timestamp":"2024-03-0' || i || 'T0' || i || ':1' || i ||
      |      '","type":"ev' || (length(n_name) + i) % 2 || '"}' AS ev
      |  FROM nation, (SELECT unnest(range(1, 5)) AS i) g
      |  WHERE i <= length(n_name) % 3 + 2)
      |SELECT type, COUNT(*) AS n, MIN(ts_epoch) AS min_ts, MAX(ts_epoch) AS max_ts,
      |  (SELECT e2.ev FROM ev e2 WHERE e2.type = ev.type
      |   ORDER BY e2.ts_epoch DESC, e2.ev DESC LIMIT 1) AS latest_ev
      |FROM ev
      |GROUP BY type
      |ORDER BY type""".stripMargin

  /** Small-file compaction gated against the oracle
    * ([[graft.engine.Compaction.compactStreamOutput]] — reference intent:
    * the reference's small-file merge step; until r20 this was spec-gated
    * only). The events table is written as a SIMULATED long-running
    * idempotent-sink accretion — four `batch_id=<n>` directories of
    * deliberately small files, one of them REWRITTEN in place (the
    * crash-replay overwrite shape `StreamGates.idempotentSink` produces)
    * — then compacted into size-targeted files and re-aggregated.
    * Hash-green iff the fold is multiset-exact: the synthetic batch_id
    * bookkeeping dropped, no row lost from the replayed directory, none
    * double-counted; the file-count shrink is loudly REQUIRED (it is
    * bytes/codec-dependent, so it gates as an invariant, not a column).
    * Scale shape: one scan + one repartition exchange sized by
    * bytes/target — the same plan at 100 TB, just more output files.
    */
  def compactionRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    val sink = scratchPath("graft-compact-sink", dir)
    val outDir = scratchPath("graft-compact-out", dir)
    val fs = new graft.engine.FsUtils(s)
    fs.rm(sink); fs.rm(outDir)
    // four micro-batch directories of small files, split on a stable key
    // (coalesce: a null id must still land in SOME batch — dropping it
    // would pass the file-count require and fail the hash, but fail it
    // for the wrong reason)
    val bkey = pmod(coalesce(col("event_id"), lit(0L)), lit(4L))
    (0 until 4).foreach { b =>
      ev.filter(bkey === b).repartition(4)
        .write.mode("overwrite").parquet(s"$sink/batch_id=$b")
    }
    // the at-least-once replay shape: batch 2 overwritten with itself
    ev.filter(bkey === 2).repartition(4)
      .write.mode("overwrite").parquet(s"$sink/batch_id=2")
    def partFiles(d: String): Int =
      fs.ls(d).count(_.matches(".*/part-[^/]*\\.parquet$"))
    val inFiles = (0 until 4).map(b => partFiles(s"$sink/batch_id=$b")).sum
    graft.engine.Compaction.compactStreamOutput(s, sink, outDir,
      sortCols = Seq("user_id"))
    val outFiles = partFiles(outDir)
    require(outFiles < inFiles,
      s"compaction did not shrink the file count ($inFiles -> $outFiles)")
    s.read.parquet(outDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("event_id")).as("ids"),
        sum(col("event_id")).cast("long").as("id_sum"))
      .orderBy(col("event_type"))
  }

  val compactionRoundtripOracle: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS ids,
      |  CAST(SUM(event_id) AS BIGINT) AS id_sum
      |FROM events
      |GROUP BY 1
      |ORDER BY event_type""".stripMargin

  val all: Seq[Q] = Seq(
    Q("etl_readme_slice", etlReadmeSlice, Some(etlReadmeSliceOracle)),
    Q("compaction_roundtrip", compactionRoundtrip,
      Some(compactionRoundtripOracle)),
    Q("etl_sql_script", etlSqlScript, Some(etlSqlScriptOracle)),
    Q("etl_script_compiled", scriptCompiled, Some(scriptCompiledOracle)),
    Q("streaming_window_counts", streamingWindowCounts, Some(streamingWindowCountsOracle),
      lifecycle = true),
    Q("stream_stream_join", streamStreamJoin, Some(streamStreamJoinOracle),
      lifecycle = true),
    Q("session_window", sessionWindow, Some(sessionWindowOracle)),
    Q("dialog_from_stream", dialogFromStream, Some(dialogFromStreamOracle),
      lifecycle = true),
    Q("csv_roundtrip", csvRoundtrip, Some(csvRoundtripOracle)),
    Q("jsonl_roundtrip", jsonlRoundtrip, Some(jsonlRoundtripOracle)),
    Q("xml_roundtrip", xmlRoundtrip, Some(xmlRoundtripOracle))
  )
}
