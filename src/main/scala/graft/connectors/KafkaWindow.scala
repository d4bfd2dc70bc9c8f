package graft.connectors

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kafka batch semantics: creation-time-window pull, topic listing, per-row
  * acked push.
  *
  * Reference surface: `kf_pull` (time→offset resolution + poll loop,
  * reference: data-process/hive-udfs/src/main/java/com/thenetcircle/service/data/hive/udf/kafka/KafkaHelper.java:173-254,
  * UDFKafkaPull.java:90-133), `kf_topics` (UDFKafkaTopics.java:32),
  * `t_kf_push` (UDTFKafkaPush.java:86-111).
  *
  * Spark-native restatement: against a real broker the whole pull helper
  * collapses into the batch Kafka source with
  * `startingOffsetsByTimestamp` / `endingOffsetsByTimestamp` (SURVEY §3.3) —
  * these operators define the *contract* over a message-log DataFrame with
  * columns `(t string, p int, o long, ct long-ms, k string, v string)`, so
  * the same code runs on the zero-egress stand-in ([[fromEvents]] /
  * [[TopicStore]]) and on a `spark.read.format("kafka")` frame mapped to the
  * contract columns.
  *
  * Window contract is `[startMs, endMs)` — inclusive start, exclusive end —
  * fixing the reference's off-by-one under-read (its poll loop stops at
  * `endOffset - 1`; SURVEY §3.3 note). Null/equal/inverted windows yield an
  * empty frame (reference guard: UDFKafkaPull.java:105-108).
  */
object KafkaWindow {

  val recordType: StructType = StructType(Seq(
    StructField("t", StringType), StructField("ct", LongType),
    StructField("k", StringType), StructField("v", StringType)))

  /** Map the driver `events` table into the message-log contract:
    * topic = event_type, partition = event_id mod 4, offset = event_id,
    * creation time = ts in epoch ms, key = user_id, value = props.
    * (`ts` arrives as BIGINT nanoseconds — see GraftSession.configure.)
    */
  def fromEvents(events: DataFrame): DataFrame =
    events.select(
      col("event_type").as("t"),
      pmod(col("event_id"), lit(4)).cast("int").as("p"),
      col("event_id").as("o"),
      expr("ts DIV 1000000").as("ct"),
      col("user_id").cast("string").as("k"),
      col("props").as("v"))

  /** kf_topics: distinct (topic, partition) pairs. */
  def topics(log: DataFrame): DataFrame =
    log.select(col("t"), col("p")).distinct()

  /** Regex topic selection (reference: topic patterns matched from ZK,
    * process/KafkaHelper.scala:67-69; Kafka source `subscribePattern`).
    */
  def topicsMatching(log: DataFrame, pattern: String): DataFrame =
    topics(log).filter(col("t").rlike(pattern))

  /** kf_pull with a regex topic pattern instead of an explicit list. */
  def pullPattern(log: DataFrame, startMs: java.lang.Long, endMs: java.lang.Long,
      topicPattern: String): DataFrame = {
    val base = pull(log, startMs, endMs)
    if (startMs == null || endMs == null || startMs >= endMs) base
    else base.filter(col("t").rlike(topicPattern))
  }

  /** kf_pull: records with `ct` in `[startMs, endMs)` for the given topics
    * (all topics when none given). A pure filter — predicate pushdown prunes
    * partitions/row-groups at the source, the scale analog of
    * offsetsForTimes seeking.
    */
  def pull(log: DataFrame, startMs: java.lang.Long, endMs: java.lang.Long,
      topics: String*): DataFrame = {
    val base = log.select(col("t"), col("ct"), col("k"), col("v"))
    if (startMs == null || endMs == null || startMs >= endMs)
      base.limit(0)
    else {
      val inWindow = base.filter(col("ct") >= startMs.longValue() &&
        col("ct") < endMs.longValue())
      if (topics.isEmpty) inWindow else inWindow.filter(col("t").isin(topics: _*))
    }
  }

  /** Option map realizing the same `[startMs, endMs)` contract on the real
    * batch Kafka source: `spark.read.format("kafka").options(sourceOptions(...))`
    * — timestamp offsets resolved per partition by the source (the
    * offsetsForTimes dance of reference KafkaHelper.java:173-254),
    * `minPartitions` standing in for the reference's offset-range slicing
    * (process/KafkaHelper.scala:71-87). Defaults mirror kf_consumer_cfgs.
    */
  def sourceOptions(bootstrapServers: String, topics: Seq[String],
      startMs: Long, endMs: Long, minPartitions: Option[Int] = None): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topics.mkString(","),
      "startingTimestamp" -> startMs.toString,
      "endingTimestamp" -> endMs.toString,
      "startingOffsetsByTimestampStrategy" -> "latest"
    ) ++ minPartitions.map("minPartitions" -> _.toString)

  /** Option map for the batch Kafka source with EXACT per-partition offsets
    * (from [[KafkaWireClient.offsetRangeForWindow]]) instead of source-side
    * timestamp resolution: `startingOffsets`/`endingOffsets` JSON of the
    * form `{"topic":{"0":23,"1":45}}`. This is the reference's split —
    * helper resolves offsets once (driver-side, two ListOffsets round
    * trips), executors fetch ranges in parallel — and pins the window
    * deterministically even if records keep arriving during the read.
    */
  def sourceOptionsResolved(bootstrapServers: String, topic: String,
      ranges: Map[Int, (Long, Long)],
      minPartitions: Option[Int] = None): Map[String, String] = {
    def json(pick: ((Long, Long)) => Long): String =
      ranges.toSeq.sortBy(_._1)
        .map { case (p, r) => s""""$p":${pick(r)}""" }
        .mkString(s"""{"$topic":{""", ",", "}}")
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> json(_._1),
      "endingOffsets" -> json(_._2)
    ) ++ minPartitions.map("minPartitions" -> _.toString)
  }

  /** t_kf_push: appends `ack: struct<t,ct,k,v>` per row after recording the
    * message in `store` — one producer per partition, per-row ack, mirroring
    * the reference's bounded `send().get()` (UDTFKafkaPush.java:102-110).
    * `ct` is caller-supplied for determinism (pass a clock column in
    * production).
    */
  def push(df: DataFrame, store: TopicStore.Factory, topic: Column, ct: Column,
      key: Column, value: Column, ack: String = "ack"): DataFrame =
    PartitionAppend(df, Seq(topic, ct, key, value), StructField(ack, recordType)) { () =>
      val s = store.open()
      (args => {
        val Seq(t, c, k, v) = args
        val ctMs = c match { case null => 0L; case n: Number => n.longValue() }
        s.append(String.valueOf(t), ctMs,
          if (k == null) null else k.toString, if (v == null) null else v.toString)
        org.apache.spark.sql.Row(String.valueOf(t), ctMs,
          if (k == null) null else k.toString, if (v == null) null else v.toString)
      }, () => ())
    }

  /** Transactional t_kf_push: all records of a partition commit atomically
    * or not at all (reference ships the same helper on a real producer —
    * initTransactions/beginTransaction/commitTransaction with abort on
    * failure, KafkaHelper.java:151-171). The partition's rows are drained
    * first and the append happens only after the last row succeeded, so an
    * exception anywhere in the partition aborts with zero records visible;
    * a task retry then replays a clean slate — at-most-once per attempt,
    * exactly-once per successful task (the remaining window, a crash
    * between commit and task-success bookkeeping, is the same one a real
    * Kafka transactional producer has with retried batch tasks).
    *
    * Buffers one partition's records in memory — size output partitions
    * accordingly (the reference's transactional sends batch the same way).
    * Like [[push]], commits once per partition per materialization: the
    * output is a lazy local checkpoint ([[PartitionAppend.once]]).
    */
  def pushTransactional(df: DataFrame, store: TopicStore.Factory, topic: Column,
      ct: Column, key: Column, value: Column, ack: String = "ack"): DataFrame = {
    val in = df.withColumn("__t", topic).withColumn("__ct", ct)
      .withColumn("__k", key).withColumn("__v", value)
    val n = in.schema.size
    val outSchema = StructType(df.schema.fields :+ StructField(ack, recordType))
    PartitionAppend.once(in.mapPartitions { rows =>
      val buffered = rows.map { r =>
        val t = String.valueOf(r.get(n - 4))
        val ctMs = r.get(n - 3) match { case null => 0L; case x: Number => x.longValue() }
        val k = if (r.get(n - 2) == null) null else String.valueOf(r.get(n - 2))
        val v = if (r.get(n - 1) == null) null else String.valueOf(r.get(n - 1))
        (r.toSeq.dropRight(4), (t, ctMs, k, v))
      }.toVector // drain the whole partition BEFORE any append = the transaction body
      store.open().appendAll(buffered.map(_._2)) // commit
      buffered.iterator.map { case (orig, (t, c, k, v)) =>
        org.apache.spark.sql.Row.fromSeq(orig :+ org.apache.spark.sql.Row(t, c, k, v))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema)))
  }

  /** Read a stand-in topic back as a message-log DataFrame (partition 0). */
  def fromStore(spark: SparkSession, store: TopicStore.Factory, topic: String): DataFrame = {
    import spark.implicits._
    store.open().records(topic).zipWithIndex.map { case ((ct, k, v), i) =>
      (topic, 0, i.toLong, ct, k, v)
    }.toDF("t", "p", "o", "ct", "k", "v")
  }
}

/** JVM-global in-memory topic store — the zero-egress broker stand-in. */
object TopicStore {
  private val topics = TrieMap.empty[String, ConcurrentLinkedQueue[(Long, String, String)]]

  case class Factory(namespace: String) extends Serializable {
    def open(): TopicStore.Handle = new Handle(namespace)
  }

  final class Handle(ns: String) {
    private def q(topic: String) =
      topics.getOrElseUpdate(s"$ns/$topic", new ConcurrentLinkedQueue)
    def append(topic: String, ct: Long, k: String, v: String): Unit =
      q(topic).add((ct, k, v))
    /** Atomic multi-record append — the stand-in's commitTransaction. */
    def appendAll(records: Seq[(String, Long, String, String)]): Unit =
      records.groupBy(_._1).foreach { case (t, rs) =>
        val queue = q(t)
        rs.foreach { case (_, ct, k, v) => queue.add((ct, k, v)) }
      }
    def records(topic: String): Seq[(Long, String, String)] =
      q(topic).iterator().asScala.toSeq
  }

  def clear(ns: String): Unit =
    topics.keys.filter(_.startsWith(ns + "/")).foreach(topics.remove)
}
