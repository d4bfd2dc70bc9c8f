package graft.connectors

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** Kafka wire-protocol client — both the CONTROL plane and a bounded DATA
  * plane for the `kf_topics` / `kf_pull` window contract, the third
  * real-client connector after CuratorTree (ZooKeeper) and RespKvClient
  * (RESP/Redis).
  *
  * No kafka-clients jar ships with this Spark distribution and the build is
  * zero-egress, so like RespKvClient this speaks the public wire protocol
  * (kafka.apache.org/protocol) directly over sockets. Implemented surface:
  *
  *  - Metadata v1 (api_key 3): topic/partition listing + partition leaders
  *    — reference `kf_topics` (UDFKafkaTopics.java:32) and the leader
  *    routing its helpers rely on;
  *  - ListOffsets v1 (api_key 2): timestamp → offset per partition —
  *    reference `offsetsForTimes` resolution
  *    (kafka/KafkaHelper.java:173-254, process/KafkaHelper.scala:89-131);
  *  - Fetch v4 (api_key 1) with RecordBatch v2 / legacy MessageSet codecs
  *    — [[KafkaWireClient.fetchWindow]]'s per-partition bounded poll loop,
  *    the reference consumer's data movement;
  *  - SaslHandshake v1 / SaslAuthenticate v0 (PLAIN) and TLS sockets —
  *    the secured-cluster path.
  *
  * Scale split: the wire DATA plane is a per-executor, per-partition
  * bounded fetch ([[KafkaWindow]] parallelizes partitions across the
  * cluster); when the distribution DOES ship the Spark Kafka source,
  * [[KafkaWireClient.offsetRangeForWindow]] still resolves a
  * `[startMs, endMs)` creation-time window to exact per-partition offset
  * ranges and [[KafkaWindow.sourceOptionsResolved]] hands those to
  * `spark.read.format("kafka")` as startingOffsets/endingOffsets JSON —
  * the same split the reference makes between its helper (offset
  * resolution) and consumer poll (data movement).
  *
  * Versions are pinned to the NON-FLEXIBLE protocol encodings (v1 of both
  * APIs, request header v1): int16-length strings, int32-count arrays, no
  * tagged fields — stable on every broker since 0.10 (brokers answer any
  * supported older version).
  */
object KafkaWire {

  val ApiFetch: Short = 1
  val ApiMetadata: Short = 3
  val ApiListOffsets: Short = 2
  val ApiSaslHandshake: Short = 17
  val ApiSaslAuthenticate: Short = 36

  /** ListOffsets sentinel timestamps (public protocol constants). */
  val LatestTimestamp: Long = -1L
  val EarliestTimestamp: Long = -2L

  final case class Broker(nodeId: Int, host: String, port: Int)
  final case class PartitionMeta(topic: String, partition: Int, leader: Int,
      errorCode: Short)
  final case class Metadata(brokers: Seq[Broker], partitions: Seq[PartitionMeta],
      topicErrors: Map[String, Short])
  final case class PartitionOffset(topic: String, partition: Int,
      errorCode: Short, timestamp: Long, offset: Long)
  final case class FetchedRecord(topic: String, partition: Int, offset: Long,
      timestamp: Long, key: Array[Byte], value: Array[Byte])
  /** `nextOffset` is the offset AFTER the last complete batch in the fetched
    * record set (-1 when the set held no complete batch) — the poll loop's
    * progress marker. It is derived from batch headers, not decoded records,
    * so a fetch consisting entirely of control batches (whose records are
    * skipped) still advances the consumer, exactly like a real client's
    * position bookkeeping.
    */
  final case class PartitionFetch(topic: String, partition: Int,
      errorCode: Short, highWatermark: Long, records: Seq[FetchedRecord],
      nextOffset: Long)

  // ------------------------------------------------------------ primitives

  final class Writer {
    private val bos = new ByteArrayOutputStream()
    private val out = new DataOutputStream(bos)
    def int8(v: Byte): Writer = { out.writeByte(v.toInt); this }
    def int16(v: Short): Writer = { out.writeShort(v.toInt); this }
    def int32(v: Int): Writer = { out.writeInt(v); this }
    def int64(v: Long): Writer = { out.writeLong(v); this }
    /** Non-flexible string: int16 length + UTF-8 bytes; null encodes -1. */
    def string(s: String): Writer =
      if (s == null) int16(-1)
      else {
        val b = s.getBytes(StandardCharsets.UTF_8)
        int16(b.length.toShort)
        out.write(b); this
      }
    def raw(b: Array[Byte]): Writer = { out.write(b); this }
    /** Zigzag varint (protocol `varint` — record fields). */
    def varint(v: Int): Writer = uvarlong(((v << 1) ^ (v >> 31)).toLong & 0xffffffffL)
    /** Zigzag varlong. */
    def varlong(v: Long): Writer = uvarlong((v << 1) ^ (v >> 63))
    private def uvarlong(v0: Long): Writer = {
      var v = v0
      while ((v & ~0x7fL) != 0L) { out.writeByte(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.writeByte(v.toInt)
      this
    }
    def bytes: Array[Byte] = { out.flush(); bos.toByteArray }
  }

  final class Reader(buf: ByteBuffer) {
    def this(bytes: Array[Byte]) = this(ByteBuffer.wrap(bytes))
    def int8(): Byte = buf.get()
    def int16(): Short = buf.getShort()
    def int32(): Int = buf.getInt()
    def int64(): Long = buf.getLong()
    def string(): String = {
      val n = buf.getShort()
      if (n < 0) null
      else {
        val b = new Array[Byte](n)
        buf.get(b)
        new String(b, StandardCharsets.UTF_8)
      }
    }
    def array[A](read: => A): Seq[A] = {
      val n = buf.getInt()
      if (n < 0) Seq.empty else Seq.fill(n)(read)
    }
    def raw(n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      buf.get(b)
      b
    }
    def remaining: Int = buf.remaining()
    def varint(): Int = {
      val v = uvarlong()
      ((v >>> 1) ^ -(v & 1)).toInt
    }
    def varlong(): Long = {
      val v = uvarlong()
      (v >>> 1) ^ -(v & 1)
    }
    private def uvarlong(): Long = {
      var v = 0L
      var shift = 0
      var b = 0
      do {
        b = buf.get() & 0xff
        v |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      v
    }
  }

  /** Request header v1: api_key, api_version, correlation_id, client_id. */
  def header(apiKey: Short, apiVersion: Short, correlationId: Int,
      clientId: String): Writer =
    new Writer().int16(apiKey).int16(apiVersion).int32(correlationId)
      .string(clientId)

  // ------------------------------------------------------------ SASL/PLAIN

  /** SASL/PLAIN initial client response per the public RFC 4616:
    * `[authzid] NUL authcid NUL passwd`, authzid left empty.
    */
  def plainSaslToken(username: String, password: String): Array[Byte] =
    ("\u0000" + username + "\u0000" + password)
      .getBytes(StandardCharsets.UTF_8)

  /** SaslHandshake v1 request body: the mechanism string. v1 (not v0) so
    * the auth token travels in Kafka-framed SaslAuthenticate requests
    * (KIP-152) instead of raw unframed tokens.
    */
  def encodeSaslHandshakeRequest(correlationId: Int, clientId: String,
      mechanism: String): Array[Byte] =
    header(ApiSaslHandshake, 1, correlationId, clientId)
      .string(mechanism).bytes

  /** SaslHandshake response: (error_code, enabled_mechanisms). */
  def parseSaslHandshakeResponse(r: Reader): (Short, Seq[String]) =
    (r.int16(), r.array { r.string() })

  /** SaslAuthenticate v0 request body: the opaque auth bytes. */
  def encodeSaslAuthenticateRequest(correlationId: Int, clientId: String,
      token: Array[Byte]): Array[Byte] = {
    val w = header(ApiSaslAuthenticate, 0, correlationId, clientId)
    w.int32(token.length)
    w.raw(token)
    w.bytes
  }

  /** SaslAuthenticate response: (error_code, error_message) — the auth
    * bytes that follow are mechanism data PLAIN does not use.
    */
  def parseSaslAuthenticateResponse(r: Reader): (Short, String) =
    (r.int16(), r.string())

  /** Authenticates a freshly-connected socket via SASL/PLAIN: handshake v1
    * then one framed SaslAuthenticate round-trip. SASL state is
    * PER-CONNECTION (the broker ties it to the socket), so every new
    * socket must pass through here before any other request. Fails loudly
    * on a rejected mechanism or bad credentials — same contract as
    * [[graft.connectors.RespKvClient]]'s AUTH.
    */
  def saslPlainAuthenticate(socket: Socket, clientId: String,
      nextCorr: () => Int, username: String, password: String): Unit = {
    val hid = nextCorr()
    val (herr, mechs) = parseSaslHandshakeResponse(roundTrip(socket,
      encodeSaslHandshakeRequest(hid, clientId, "PLAIN"), hid))
    require(herr == 0,
      s"SASL handshake failed: error $herr (broker offers: ${mechs.mkString(",")})")
    val aid = nextCorr()
    val (aerr, msg) = parseSaslAuthenticateResponse(roundTrip(socket,
      encodeSaslAuthenticateRequest(aid, clientId,
        plainSaslToken(username, password)), aid))
    require(aerr == 0,
      s"SASL authentication failed: error $aerr" +
        Option(msg).fold("")(m => s" ($m)"))
  }

  // ------------------------------------------------------------- Metadata v1

  /** Metadata v1 request body: topics array; null array (-1) = all topics. */
  def encodeMetadataRequest(correlationId: Int, clientId: String,
      topics: Option[Seq[String]]): Array[Byte] = {
    val w = header(ApiMetadata, 1, correlationId, clientId)
    topics match {
      case None => w.int32(-1)
      case Some(ts) =>
        w.int32(ts.size)
        ts.foreach(w.string)
    }
    w.bytes
  }

  /** Metadata v1 response body (after the int32 correlation id). */
  def parseMetadataResponse(r: Reader): Metadata = {
    val brokers = r.array {
      val id = r.int32(); val host = r.string(); val port = r.int32()
      r.string() // rack (nullable) — unused
      Broker(id, host, port)
    }
    r.int32() // controller_id — unused
    var topicErrors = Map.empty[String, Short]
    val parts = r.array {
      val err = r.int16()
      val name = r.string()
      r.int8() // is_internal
      if (err != 0) topicErrors += name -> err
      r.array {
        val pErr = r.int16()
        val idx = r.int32()
        val leader = r.int32()
        r.array(r.int32()) // replicas
        r.array(r.int32()) // isr
        PartitionMeta(name, idx, leader, pErr)
      }
    }.flatten
    Metadata(brokers, parts, topicErrors)
  }

  // ---------------------------------------------------------- ListOffsets v1

  /** ListOffsets v1 request body: replica_id -1 (consumer), then
    * topic → (partition, target timestamp ms) entries.
    */
  def encodeListOffsetsRequest(correlationId: Int, clientId: String,
      targets: Seq[(String, Int, Long)]): Array[Byte] = {
    val w = header(ApiListOffsets, 1, correlationId, clientId)
    w.int32(-1) // replica_id: ordinary consumer
    val byTopic = targets.groupBy(_._1).toSeq.sortBy(_._1)
    w.int32(byTopic.size)
    byTopic.foreach { case (topic, ps) =>
      w.string(topic)
      w.int32(ps.size)
      ps.foreach { case (_, p, ts) => w.int32(p).int64(ts) }
    }
    w.bytes
  }

  /** ListOffsets v1 response body (after the int32 correlation id). */
  def parseListOffsetsResponse(r: Reader): Seq[PartitionOffset] =
    r.array {
      val topic = r.string()
      r.array {
        PartitionOffset(topic, r.int32(), r.int16(), r.int64(), r.int64())
      }
    }.flatten

  // --------------------------------------------------------------- Fetch v4

  /** Fetch v4 request body: replica_id -1, wait/min/max bytes,
    * isolation_level 0 (READ_UNCOMMITTED), then topic → (partition,
    * fetch_offset, partition_max_bytes). v4 is the first version carrying
    * the magic-v2 RecordBatch format on the wire (KIP-98), still with
    * non-flexible encodings — same pinning rationale as Metadata v1.
    */
  def encodeFetchRequest(correlationId: Int, clientId: String,
      targets: Seq[(String, Int, Long)], maxWaitMs: Int = 0,
      minBytes: Int = 0, maxBytes: Int = 16 << 20,
      partitionMaxBytes: Int = 1 << 20): Array[Byte] = {
    val w = header(ApiFetch, 4, correlationId, clientId)
    w.int32(-1).int32(maxWaitMs).int32(minBytes).int32(maxBytes).int8(0)
    val byTopic = targets.groupBy(_._1).toSeq.sortBy(_._1)
    w.int32(byTopic.size)
    byTopic.foreach { case (topic, ps) =>
      w.string(topic)
      w.int32(ps.size)
      ps.foreach { case (_, p, off) =>
        w.int32(p).int64(off).int32(partitionMaxBytes)
      }
    }
    w.bytes
  }

  /** Fetch v4 response body (after the int32 correlation id): throttle, then
    * topic → partition header (error, high watermark, last stable offset,
    * aborted transactions) + a raw record set decoded by
    * [[decodeRecordSet]].
    */
  def parseFetchResponse(r: Reader): Seq[PartitionFetch] = {
    r.int32() // throttle_time_ms
    r.array {
      val topic = r.string()
      r.array {
        val partition = r.int32()
        val err = r.int16()
        val hw = r.int64()
        r.int64() // last_stable_offset
        r.array { (r.int64(), r.int64()) } // aborted_transactions (nullable)
        val setLen = r.int32()
        val set = if (setLen <= 0) Array.empty[Byte] else r.raw(setLen)
        val (records, nextOffset) = decodeRecordSetWithNext(topic, partition, set)
        PartitionFetch(topic, partition, err, hw, records, nextOffset)
      }
    }.flatten
  }

  // ----------------------------------------------------- RecordBatch (magic 2)

  /** Gzip codec id in the batch attributes' 3-bit compression field
    * (public protocol constant; the reference's own default producer
    * compression — kafka/KafkaHelper.java:103-115).
    */
  val GzipCodec: Int = 1

  /** Snappy codec id — xerial stream framing ([[org.xerial.snappy.SnappyOutputStream]]),
    * the framing Kafka's own clients use for magic-v2 batches.
    */
  val SnappyCodec: Int = 2

  /** LZ4 codec id — standard LZ4 Frame format for magic-v2 batches
    * (magic v0/v1's broken-HC-checksum legacy variant predates the batch
    * format this client speaks, so plain [[net.jpountz.lz4.LZ4FrameInputStream]]
    * interops).
    */
  val Lz4Codec: Int = 3

  /** Zstandard codec id (KIP-110), standard zstd stream framing. */
  val ZstdCodec: Int = 4

  /** Encodes one magic-v2 RecordBatch (the public on-disk/wire record format
    * since Kafka 0.11): batch header with real CRC-32C (JDK CRC32C,
    * covering attributes→end per the spec), zigzag-varint record bodies, no
    * headers. `records` are (timestampMs, key, value) with offsets
    * `baseOffset + index`. `codec` 0 (none) or [[GzipCodec]]/[[SnappyCodec]]/
    * [[Lz4Codec]]/[[ZstdCodec]]: compresses the record bodies AFTER the
    * records-count field, exactly the region real brokers compress (the
    * 61-byte batch header stays plaintext so consumers can skip batches
    * without inflating them).
    * Used by the FakeBroker test double and usable as a producer-side
    * record set — EXCEPT that the `attributes` param exists for test
    * fixtures only: a batch flagged [[ControlBatchFlag]] here wraps
    * ordinary key/value records, not the spec's control-record key schema
    * (version+type int16s), so a real consumer would misparse such a
    * marker. Produce control markers with a real transactional client,
    * not this encoder.
    */
  def encodeRecordBatch(baseOffset: Long,
      records: Seq[(Long, Array[Byte], Array[Byte])],
      attributes: Short = 0, codec: Int = 0): Array[Byte] = {
    require(records.nonEmpty, "empty record batch")
    require(codec >= 0 && codec <= ZstdCodec, s"unsupported codec $codec")
    val baseTs = records.head._1
    val maxTs = records.map(_._1).max
    // everything the CRC covers: attributes → records
    val tail = new Writer()
    tail.int16((attributes | codec).toShort) // compression codec in bits 0-2
    tail.int32(records.length - 1) // lastOffsetDelta
    tail.int64(baseTs).int64(maxTs)
    tail.int64(-1L).int16(-1).int32(-1) // producerId/Epoch/baseSequence
    tail.int32(records.length)
    val recs = new Writer()
    records.zipWithIndex.foreach { case ((ts, key, value), i) =>
      val body = new Writer()
      body.int8(0) // record attributes
      body.varlong(ts - baseTs)
      body.varint(i)
      if (key == null) body.varint(-1) else { body.varint(key.length); body.raw(key) }
      if (value == null) body.varint(-1) else { body.varint(value.length); body.raw(value) }
      body.varint(0) // headers
      val b = body.bytes
      recs.varint(b.length)
      recs.raw(b)
    }
    tail.raw(compress(codec, recs.bytes))
    val tailBytes = tail.bytes
    val crc = new java.util.zip.CRC32C()
    crc.update(tailBytes)
    // partitionLeaderEpoch + magic + crc + tail = the length-prefixed region
    val w = new Writer()
    w.int64(baseOffset)
    w.int32(4 + 1 + 4 + tailBytes.length) // batchLength
    w.int32(-1) // partitionLeaderEpoch
    w.int8(2) // magic
    w.int32(crc.getValue.toInt)
    w.raw(tailBytes)
    w.bytes
  }

  /** Decodes a record set (concatenated magic-v2 batches) into records.
    * A trailing partial batch (brokers truncate at partition_max_bytes) is
    * dropped, per protocol. CRC-32C is verified per batch. All four
    * protocol codecs decode: gzip (JDK; the reference's own default
    * producer compression, kafka/KafkaHelper.java:103-115), snappy
    * (xerial framing), lz4 (LZ4 Frame), and zstd — the compression
    * libraries Spark itself ships, so the wire client reads anything the
    * engine's producers (or Kafka's stock clients) write. Reserved codec
    * ids 5-7 are rejected loudly.
    * CONTROL batches (attributes bit 0x20 — transaction commit/abort
    * markers, KIP-98) are skipped without emitting records, mirroring
    * consumer control-batch handling: their offsets are consumed but they
    * carry no data.
    */
  def decodeRecordSet(topic: String, partition: Int,
      bytes: Array[Byte]): Seq[FetchedRecord] =
    decodeRecordSetWithNext(topic, partition, bytes)._1

  /** Control-batch attribute flag (magic-v2 batch attributes bit 5). */
  val ControlBatchFlag: Int = 0x20

  /** [[decodeRecordSet]] plus the poll loop's progress marker: the offset
    * after the last COMPLETE batch (`baseOffset + lastOffsetDelta + 1`), or
    * -1 when the set held no complete batch. Computed from batch headers so
    * control batches — skipped from the record output — still advance it.
    */
  def decodeRecordSetWithNext(topic: String, partition: Int,
      bytes: Array[Byte]): (Seq[FetchedRecord], Long) = {
    val buf = new Reader(bytes)
    val out = Seq.newBuilder[FetchedRecord]
    var nextOffset = -1L
    var halt = false
    while (!halt && buf.remaining >= 12) {
      val baseOffset = buf.int64()
      val batchLength = buf.int32()
      if (batchLength <= 0 || batchLength > buf.remaining) halt = true // partial
      else {
        val batch = buf.raw(batchLength)
        val br = new Reader(batch)
        br.int32() // partitionLeaderEpoch
        val magic = br.int8()
        require(magic == 2, s"unsupported record batch magic $magic")
        val crcStored = br.int32()
        val crc = new java.util.zip.CRC32C()
        crc.update(batch, 9, batch.length - 9)
        require(crc.getValue.toInt == crcStored,
          s"record batch CRC mismatch at offset $baseOffset")
        val attributes = br.int16()
        val codec = attributes & 0x7
        require(codec <= ZstdCodec,
          s"compressed record batch (reserved codec $codec) not supported — " +
            "known codecs: none(0) gzip(1) snappy(2) lz4(3) zstd(4)")
        val lastOffsetDelta = br.int32()
        nextOffset = math.max(nextOffset, baseOffset + lastOffsetDelta + 1)
        if ((attributes & ControlBatchFlag) == 0) {
          val baseTs = br.int64()
          br.int64() // maxTimestamp
          br.int64(); br.int16(); br.int32() // producerId/Epoch/baseSequence
          val count = br.int32()
          // compression covers exactly the record bodies after the count
          // field (the 61-byte batch header is always plaintext)
          val rr = if (codec == 0) br
                   else new Reader(decompress(codec, br.raw(br.remaining)))
          var i = 0
          while (i < count) {
            rr.varint() // record length — fields below are self-delimiting
            rr.int8() // record attributes
            val tsDelta = rr.varlong()
            val offDelta = rr.varint()
            val keyLen = rr.varint()
            val key = if (keyLen < 0) null else rr.raw(keyLen)
            val valLen = rr.varint()
            val value = if (valLen < 0) null else rr.raw(valLen)
            val headers = rr.varint()
            var h = 0
            while (h < headers) { // skip headers
              val hk = rr.varint(); rr.raw(math.max(hk, 0))
              val hv = rr.varint(); if (hv > 0) rr.raw(hv)
              h += 1
            }
            out += FetchedRecord(topic, partition, baseOffset + offDelta,
              baseTs + tsDelta, key, value)
            i += 1
          }
        }
      }
    }
    (out.result(), nextOffset)
  }

  /** Compresses `bytes` with the protocol codec's framing: gzip (JDK),
    * snappy (xerial stream — Kafka's client framing), lz4 (LZ4 Frame),
    * zstd. Codec 0 passes through. The three non-JDK codecs use the
    * compression libraries Spark ships on every executor classpath
    * (snappy-java, lz4-java, zstd-jni), so no extra dependency is added.
    */
  private def compress(codec: Int, bytes: Array[Byte]): Array[Byte] = {
    if (codec == 0) return bytes
    val bos = new ByteArrayOutputStream()
    val out: java.io.OutputStream = codec match {
      case GzipCodec => new java.util.zip.GZIPOutputStream(bos)
      case SnappyCodec => new org.xerial.snappy.SnappyOutputStream(bos)
      case Lz4Codec => new net.jpountz.lz4.LZ4FrameOutputStream(bos)
      case ZstdCodec => new com.github.luben.zstd.ZstdOutputStream(bos)
      case c => throw new IllegalArgumentException(s"unsupported codec $c")
    }
    out.write(bytes)
    out.close()
    bos.toByteArray
  }

  /** Inverse of [[compress]] for the same four codec framings. */
  private def decompress(codec: Int, bytes: Array[Byte]): Array[Byte] = {
    val bis = new java.io.ByteArrayInputStream(bytes)
    val in: java.io.InputStream = codec match {
      case GzipCodec => new java.util.zip.GZIPInputStream(bis)
      case SnappyCodec => new org.xerial.snappy.SnappyInputStream(bis)
      case Lz4Codec => new net.jpountz.lz4.LZ4FrameInputStream(bis)
      case ZstdCodec => new com.github.luben.zstd.ZstdInputStream(bis)
      case c => throw new IllegalArgumentException(s"unsupported codec $c")
    }
    try in.readAllBytes() finally in.close()
  }

  // ------------------------------------------------------------- framing

  /** Frame a request (int32 size prefix), send, read the response frame and
    * verify its correlation id. Returns a Reader positioned at the body.
    */
  def roundTrip(socket: Socket, payload: Array[Byte], correlationId: Int): Reader = {
    // one write per frame: a size prefix sent alone waits out Nagle plus
    // the broker's delayed ACK (~40 ms) on a socket without TCP_NODELAY
    val frame = java.nio.ByteBuffer.allocate(4 + payload.length)
      .putInt(payload.length).put(payload).array()
    socket.getOutputStream.write(frame)
    socket.getOutputStream.flush()
    val in = new DataInputStream(socket.getInputStream)
    val size = in.readInt()
    require(size >= 4 && size <= 64 * 1024 * 1024, s"bad kafka frame size $size")
    val body = new Array[Byte](size)
    in.readFully(body)
    val r = new Reader(body)
    val corr = r.int32()
    require(corr == correlationId, s"correlation id mismatch: $corr != $correlationId")
    r
  }
}

/** Socket client over [[KafkaWire]] with leader routing: metadata comes from
  * a bootstrap broker; ListOffsets requests are grouped by partition leader
  * and sent to each leader (the protocol requires it — a non-leader answers
  * NOT_LEADER_FOR_PARTITION). Connections are opened per call and closed —
  * control-plane calls are rare (once per pull window), so pooling buys
  * nothing and leaks sockets on long-running drivers.
  */
class KafkaWireClient(bootstrapHost: String, bootstrapPort: Int,
    clientId: String = "graft", timeoutMs: Int = 10000,
    sasl: Option[(String, String)] = None,
    tls: Option[javax.net.ssl.SSLContext] = None,
    tlsVerifyHostname: Boolean = true) {
  import KafkaWire._

  private val corr = new java.util.concurrent.atomic.AtomicInteger(1)

  /** Per-call socket; with `tls` set the plaintext connection is wrapped in
    * an SSLSocket and the handshake completes BEFORE any protocol bytes —
    * SASL (if configured) then runs inside the encrypted channel, i.e. the
    * standard SASL_SSL layering. The certificate chain is validated against
    * the supplied context's trust store AND, by default, the broker hostname
    * is verified against the cert (HTTPS-style endpoint identification —
    * raw SSLSockets skip this unless asked, which would accept any cert
    * from the trust store's CAs for any host). Clusters that pin a
    * hostname-less self-signed cert can opt out via
    * `tlsVerifyHostname = false`.
    */
  private def withSocket[A](host: String, port: Int)(f: Socket => A): A = {
    val plain = new Socket()
    var s: Socket = plain
    try {
      plain.connect(new java.net.InetSocketAddress(host, port), timeoutMs)
      plain.setSoTimeout(timeoutMs)
      // request/response on one connection: no Nagle wait (Kafka's own
      // client sets it too)
      plain.setTcpNoDelay(true)
      tls.foreach { ctx =>
        val ss = ctx.getSocketFactory
          .createSocket(plain, host, port, true)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        ss.setSoTimeout(timeoutMs)
        if (tlsVerifyHostname) {
          val params = ss.getSSLParameters
          params.setEndpointIdentificationAlgorithm("HTTPS")
          ss.setSSLParameters(params)
        }
        ss.startHandshake()
        s = ss
      }
      // SASL state is per-connection: authenticate every fresh socket
      // before its first real request (auth parity with RespKvClient)
      sasl.foreach { case (user, pass) =>
        saslPlainAuthenticate(s, clientId, () => corr.getAndIncrement(),
          user, pass)
      }
      f(s)
    } finally s.close()
  }

  /** Cluster metadata for the given topics (all topics when None). */
  def metadata(topics: Option[Seq[String]] = None): Metadata =
    withSocket(bootstrapHost, bootstrapPort) { s =>
      val id = corr.getAndIncrement()
      parseMetadataResponse(
        roundTrip(s, encodeMetadataRequest(id, clientId, topics), id))
    }

  /** kf_topics over the wire: distinct (topic, partition), error-free only. */
  def listTopics(): Seq[(String, Int)] =
    metadata(None).partitions.filter(_.errorCode == 0)
      .map(p => (p.topic, p.partition)).sorted

  /** Earliest offset whose record timestamp is >= tsMs, per partition —
    * offsetsForTimes. Sentinels: [[KafkaWire.LatestTimestamp]] resolves the
    * log-end offset, [[KafkaWire.EarliestTimestamp]] the log-start offset.
    * Partitions with no record at/after tsMs return offset -1 (protocol
    * contract) and are kept so callers can substitute the log-end offset.
    */
  def offsetsForTimes(topic: String, tsMs: Long): Map[Int, Long] = {
    val md = metadata(Some(Seq(topic)))
    val brokerById = md.brokers.map(b => b.nodeId -> b).toMap
    val byLeader = md.partitions.filter(p => p.topic == topic && p.errorCode == 0)
      .groupBy(_.leader)
    byLeader.flatMap { case (leader, parts) =>
      val broker = brokerById.getOrElse(leader,
        throw new IllegalStateException(s"no broker metadata for leader $leader"))
      withSocket(broker.host, broker.port) { s =>
        val id = corr.getAndIncrement()
        val req = encodeListOffsetsRequest(id, clientId,
          parts.map(p => (topic, p.partition, tsMs)))
        parseListOffsetsResponse(roundTrip(s, req, id))
          .filter(_.errorCode == 0)
          .map(po => po.partition -> po.offset)
      }
    }
  }

  /** Resolve a `[startMs, endMs)` creation-time window to per-partition
    * offset ranges — the reference's time→offset dance, with its off-by-one
    * fixed (end bound exclusive; SURVEY §3.3). Partitions with no record in
    * the window collapse to an empty range. Feed the result to
    * [[KafkaWindow.sourceOptionsResolved]] for a parallel executor-side read.
    */
  def offsetRangeForWindow(topic: String, startMs: Long,
      endMs: Long): Map[Int, (Long, Long)] = {
    val logEnd = offsetsForTimes(topic, LatestTimestamp)
    val starts = offsetsForTimes(topic, startMs)
    val ends = offsetsForTimes(topic, endMs)
    logEnd.map { case (p, endOfLog) =>
      val s = starts.getOrElse(p, -1L) match {
        case -1L => endOfLog // no record at/after startMs
        case o => o
      }
      val e = ends.getOrElse(p, -1L) match {
        case -1L => endOfLog // window extends past the log end
        case o => o
      }
      p -> (s, math.max(s, e))
    }
  }

  /** DATA-plane poll loop over Fetch v4: drains exactly the records in each
    * partition's `[start, end)` offset range — the single-node mirror of the
    * reference's consumer poll (kafka/KafkaHelper.java:173-254), kept for
    * driver-sized pulls and integration tests; at scale the same ranges go
    * to Spark's Kafka source via [[KafkaWindow.sourceOptionsResolved]].
    * Follows partition leaders like [[offsetsForTimes]]. Brokers may return
    * a stored batch STARTING BELOW the requested offset (batch alignment) —
    * leading records are skipped; records at/after `end` are discarded.
    */
  def fetchWindow(topic: String,
      ranges: Map[Int, (Long, Long)]): Seq[KafkaWire.FetchedRecord] = {
    val md = metadata(Some(Seq(topic)))
    val brokerById = md.brokers.map(b => b.nodeId -> b).toMap
    val byLeader = md.partitions
      .filter(p => p.topic == topic && p.errorCode == 0)
      .groupBy(_.leader).toSeq.sortBy(_._1)
    byLeader.flatMap { case (leader, parts) =>
      val broker = brokerById.getOrElse(leader,
        throw new IllegalStateException(s"no broker metadata for leader $leader"))
      withSocket(broker.host, broker.port) { s =>
        parts.sortBy(_.partition).flatMap { pm =>
          val (start, end) = ranges.getOrElse(pm.partition, (0L, 0L))
          val out = Seq.newBuilder[FetchedRecord]
          var off = start
          while (off < end) {
            val id = corr.getAndIncrement()
            val resp = parseFetchResponse(roundTrip(s,
              encodeFetchRequest(id, clientId, Seq((topic, pm.partition, off))), id))
            val mine = resp.filter(p =>
              p.topic == topic && p.partition == pm.partition)
            // a partition-level error (leader moved, offset out of range)
            // must FAIL the pull, not silently truncate it — the contract
            // is "exactly the records in [start, end)"; callers retry
            mine.find(_.errorCode != 0).foreach { p =>
              throw new IllegalStateException(
                s"fetch error ${p.errorCode} for $topic-${pm.partition} at offset $off")
            }
            val recs = mine.flatMap(_.records)
            out ++= recs.filter(r => r.offset >= off && r.offset < end)
            // progress comes from batch headers (control batches advance it
            // despite emitting no records); a non-error fetch that makes NO
            // progress while off < end breaks the exactness contract — fail
            // loudly rather than return a silently short window.
            // This fail-loud check relies on each Fetch targeting a SINGLE
            // partition (one (topic, partition) per request above): KIP-74
            // guarantees the FIRST partition's first batch is returned
            // whole even when it exceeds partition_max_bytes. A future
            // multi-partition fetch could see a later partition truncated
            // before its first batch completes — that is a legitimate
            // empty-but-retryable response, not a stall, and would need a
            // retry here instead of a throw.
            val next = mine.foldLeft(-1L)((m, p) => math.max(m, p.nextOffset))
            if (next <= off)
              throw new IllegalStateException(
                s"fetch stalled for $topic-${pm.partition}: no progress at " +
                s"offset $off with end $end (high watermark " +
                s"${mine.map(_.highWatermark).maxOption.getOrElse(-1L)}) — " +
                "cannot return exactly [start, end)")
            off = next
          }
          out.result()
        }
      }
    }
  }

  /** The reference `kf_pull` contract end to end over the wire: resolve the
    * `[startMs, endMs)` creation-time window to offset ranges, then drain
    * those ranges with the Fetch poll loop.
    */
  def pullWindow(topic: String, startMs: Long,
      endMs: Long): Seq[KafkaWire.FetchedRecord] =
    fetchWindow(topic, offsetRangeForWindow(topic, startMs, endMs))
}
