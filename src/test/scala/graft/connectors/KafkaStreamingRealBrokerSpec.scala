package graft.connectors

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.Streams

/** Opt-in end-to-end proof that the streaming gates' handlers run UNCHANGED
  * off a real `readStream.format("kafka")` source — the one streaming claim
  * the zero-egress sandbox cannot realize (the gates run off file sources;
  * see StreamGatesFam). Same cancel-not-pass contract as
  * [[KafkaWireRealBrokerSpec]]: without `GRAFT_KAFKA_BOOTSTRAP`, a
  * `spark-sql-kafka-0-10` jar on the classpath, and a readable
  * `GRAFT_KAFKA_SMOKE_TOPIC`, each test reports "canceled" — never a
  * vacuous pass.
  *
  * The batch side pins the window deterministically through
  * [[KafkaWindow.sourceOptionsResolved]] (per-partition offsets resolved by
  * [[KafkaWireClient.offsetRangeForWindow]] — the reference's
  * offsets-for-times dance, process/KafkaHelper.scala:42-65); the streaming
  * side snapshots the same log with an available-now trigger and folds it
  * through a REAL stateful handler ([[Streams.dedupWithinWatermark]]).
  */
class KafkaStreamingRealBrokerSpec extends SparkSpec {

  private def bootstrap: Option[(String, Int)] =
    sys.env.get("GRAFT_KAFKA_BOOTSTRAP").map { hp =>
      val i = hp.lastIndexOf(':')
      require(i > 0, s"GRAFT_KAFKA_BOOTSTRAP must be host:port, got '$hp'")
      (hp.substring(0, i), hp.substring(i + 1).toInt)
    }

  /** (host, port, topic) or cancel with the specific missing prerequisite. */
  private def enabled(): (String, Int, String) = {
    val (host, port) = bootstrap.getOrElse(
      cancel("GRAFT_KAFKA_BOOTSTRAP not set — no broker in this environment"))
    if (scala.util.Try(Class.forName(
        "org.apache.spark.sql.kafka010.KafkaSourceProvider")).isFailure)
      cancel("spark-sql-kafka-0-10 not on the classpath — the Structured " +
        "Streaming Kafka source is unavailable in this environment")
    val topic = sys.env.getOrElse("GRAFT_KAFKA_SMOKE_TOPIC",
      cancel("GRAFT_KAFKA_SMOKE_TOPIC not set — need a readable topic"))
    (host, port, topic)
  }

  test("batch source reads exactly the wire-resolved offset window " +
      "(sourceOptionsResolved realized on spark.read.format(\"kafka\"))") {
    val (host, port, topic) = enabled()
    val c = new KafkaWireClient(host, port, clientId = "graft-stream-smoke")
    val earliest = c.offsetsForTimes(topic, KafkaWire.EarliestTimestamp)
    val latest = c.offsetsForTimes(topic, KafkaWire.LatestTimestamp)
    val ranges = earliest.map { case (p, s) =>
      p -> (s, math.max(s, latest.getOrElse(p, s)))
    }
    val expected = ranges.values.map { case (s, e) => e - s }.sum
    if (expected == 0) cancel(s"smoke topic $topic is empty")
    val opts = KafkaWindow.sourceOptionsResolved(s"$host:$port", topic, ranges)
    val n = spark.read.format("kafka").options(opts).load().count()
    assert(n === expected,
      s"pinned-offset batch read returned $n of $expected records")
  }

  test("dedupWithinWatermark (a stream-gate handler, unchanged) over a " +
      "real Kafka readStream lands on the batch DISTINCT answer") {
    val (host, port, topic) = enabled()
    val ss = graft.queries.StreamGates.streamSession(spark)
    def kafkaBatchKeys(): Set[String] =
      ss.read.format("kafka")
        .option("kafka.bootstrap.servers", s"$host:$port")
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("endingOffsets", "latest")
        .load()
        .select(coalesce(col("key").cast("string"), lit("")).as("k"))
        .distinct().collect().map(_.getString(0)).toSet
    val before = kafkaBatchKeys()
    if (before.isEmpty) cancel(s"smoke topic $topic is empty")
    val stream = ss.readStream.format("kafka")
      .option("kafka.bootstrap.servers", s"$host:$port")
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(coalesce(col("key").cast("string"), lit("")).as("k"),
        col("timestamp").as("event_time"))
    val dd = Streams.dedupWithinWatermark(stream, keys = Seq("k"),
      eventTime = "event_time", delay = "3650 days")
    val q = dd.writeStream.format("memory").queryName("graft_kafka_smoke")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(180000), "available-now run timed out")
    finally q.stop()
    val got = ss.table("graft_kafka_smoke")
      .select(col("k")).collect().map(_.getString(0)).toSet
    val after = kafkaBatchKeys()
    // records may land between the reads on a live topic: the streamed
    // dedup must cover everything pinned BEFORE the run and introduce
    // nothing outside the log read AFTER it — equal on a quiet topic
    assert(before.subsetOf(got), s"missing keys: ${(before -- got).take(5)}")
    assert(got.subsetOf(after), s"phantom keys: ${(got -- after).take(5)}")
  }

  test("checkpointed KAFKA offsets survive a kill-and-resume: a brand-new " +
      "incarnation (fresh session, same checkpoint) resumes from the " +
      "committed offsets and the restored dedup state — duplicates " +
      "produced across the kill are suppressed, nothing is re-read " +
      "(needs a WRITABLE GRAFT_KAFKA_RESTART_TOPIC; cancel-not-pass)") {
    val (host, port, _) = enabled()
    val topic = sys.env.getOrElse("GRAFT_KAFKA_RESTART_TOPIC",
      cancel("GRAFT_KAFKA_RESTART_TOPIC not set — need a writable scratch " +
        "topic (the smoke topic stays read-only)"))
    val servers = s"$host:$port"
    // run-scoped key namespace: the scratch topic may hold prior runs'
    // records; the dedup and the final assert see only this run's keys
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-kafka-restart-ck").toString + "/ck"
    val out = java.nio.file.Files
      .createTempDirectory("graft-kafka-restart-out").toString + "/out"
    import spark.implicits._
    def produce(keys: Range): Unit =
      keys.map(k => s"$runId-$k").toDF("value")
        .selectExpr("value AS key", "value")
        .write.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic)
        .save()
    // one incarnation = the file-source gates' runWithRestart pattern
    // realized on the Kafka source: available-now snapshot, dedup
    // handler, batchId-idempotent sink, PERSISTENT checkpoint
    def incarnation(): Unit = {
      val ss = graft.queries.StreamGates.streamSession(spark)
      val stream = ss.readStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest") // first incarnation only;
        // afterwards the CHECKPOINT owns the position — the claim under test
        .load()
        .select(col("key").cast("string").as("k"),
          col("timestamp").as("event_time"))
        .filter(col("k").startsWith(s"$runId-"))
      val dd = Streams.dedupWithinWatermark(stream, keys = Seq("k"),
        eventTime = "event_time", delay = "3650 days")
      val q = dd.writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch(graft.queries.StreamGates.idempotentSink(out))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try assert(q.awaitTermination(180000), "available-now run timed out")
      finally q.stop()
    }
    produce(0 until 10)
    incarnation() // commits offsets + dedup state, then "dies"
    produce(5 until 15) // 5-9 duplicate ACROSS the kill; 10-14 are new
    incarnation() // fresh session, same checkpoint: the recovery path
    val got = graft.queries.StreamGates.readSinkOutput(spark, out)
      .select(col("k")).as[String].collect().toSeq
    val want = (0 until 15).map(k => s"$runId-$k")
    // exactly once each: lost STATE re-emits 5-9 (duplicates), lost
    // OFFSETS re-reads and re-emits 0-9 — either inflates the multiset
    assert(got.sorted === want.sorted,
      s"kill-and-resume broke exactly-once: got ${got.size} rows " +
        s"(${got.groupBy(identity).collect { case (k, vs) if vs.size > 1 =>
          k }.take(5)} duplicated)")
  }
}
