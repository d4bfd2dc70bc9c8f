package graft.connectors

import java.io.{DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket}
import org.scalatest.funsuite.AnyFunSuite
import KafkaWire._

/** Wire-level tests for the Kafka control-plane client: byte-exact request
  * encoding against the public protocol spec, response parsing from canned
  * frames, and a live round-trip against [[FakeBroker]] — an in-process
  * socket server speaking Metadata v1 / ListOffsets v1, the same
  * embedded-server pattern as CuratorTreeSpec (ZK) and RespKvSpec (Redis).
  */
class KafkaWireSpec extends AnyFunSuite {

  test("Metadata v1 request bytes match the protocol spec") {
    val b = encodeMetadataRequest(7, "cid", Some(Seq("t1")))
    val r = new Reader(b)
    assert(r.int16() === ApiMetadata)
    assert(r.int16() === 1)      // api_version
    assert(r.int32() === 7)      // correlation id
    assert(r.string() === "cid") // client id
    assert(r.int32() === 1)      // topics count
    assert(r.string() === "t1")
    // null topics array encodes count -1 (= all topics)
    val all = encodeMetadataRequest(8, null, None)
    val ra = new Reader(all)
    ra.int16(); ra.int16(); ra.int32()
    assert(ra.string() === null)
    assert(ra.int32() === -1)
  }

  test("ListOffsets v1 request groups partitions by topic, replica_id -1") {
    val b = encodeListOffsetsRequest(9, "cid",
      Seq(("t", 1, 1000L), ("t", 0, 1000L)))
    val r = new Reader(b)
    r.int16(); r.int16(); r.int32(); r.string()
    assert(r.int32() === -1) // replica_id
    assert(r.int32() === 1)  // one topic
    assert(r.string() === "t")
    assert(r.int32() === 2)  // two partitions
    assert(r.int32() === 1 && r.int64() === 1000L)
    assert(r.int32() === 0 && r.int64() === 1000L)
  }

  test("Metadata v1 response parses brokers, partitions, topic errors") {
    val w = new Writer()
    w.int32(1) // one broker
    w.int32(0).string("h").int32(9092).string(null) // node, host, port, rack
    w.int32(0) // controller id
    w.int32(2) // two topics
    w.int16(0).string("good").int8(0)
    w.int32(1) // one partition
    w.int16(0).int32(0).int32(0).int32(0).int32(0) // err, idx, leader, [], []
    w.int16(3).string("bad").int8(0).int32(0) // UNKNOWN_TOPIC, no partitions
    val md = parseMetadataResponse(new Reader(w.bytes))
    assert(md.brokers === Seq(Broker(0, "h", 9092)))
    assert(md.partitions === Seq(PartitionMeta("good", 0, 0, 0)))
    assert(md.topicErrors === Map("bad" -> 3.toShort))
  }

  test("wire client against an in-process fake broker: topics, " +
      "offsetsForTimes, window resolution, source options") {
    // topic "ev" with 2 partitions; record timestamps per partition
    val broker = new FakeBroker(Map(
      ("ev", 0) -> Seq(100L, 200L, 300L, 400L),
      ("ev", 1) -> Seq(150L, 250L)))
    try {
      val c = new KafkaWireClient("127.0.0.1", broker.port)
      assert(c.listTopics() === Seq(("ev", 0), ("ev", 1)))

      // earliest / latest sentinels
      assert(c.offsetsForTimes("ev", KafkaWire.EarliestTimestamp) ===
        Map(0 -> 0L, 1 -> 0L))
      assert(c.offsetsForTimes("ev", KafkaWire.LatestTimestamp) ===
        Map(0 -> 4L, 1 -> 2L))
      // first offset with timestamp >= 200
      assert(c.offsetsForTimes("ev", 200L) === Map(0 -> 1L, 1 -> 1L))
      // past the end -> -1 per protocol
      assert(c.offsetsForTimes("ev", 999L) === Map(0 -> -1L, 1 -> -1L))

      // [200, 400) window: p0 offsets [1,3), p1 offsets [1,2)
      val ranges = c.offsetRangeForWindow("ev", 200L, 400L)
      assert(ranges === Map(0 -> (1L, 3L), 1 -> (1L, 2L)))
      // window past the log end clamps to log-end (empty range)
      assert(c.offsetRangeForWindow("ev", 500L, 600L) ===
        Map(0 -> (4L, 4L), 1 -> (2L, 2L)))

      val opts = KafkaWindow.sourceOptionsResolved("127.0.0.1:9092", "ev", ranges)
      assert(opts("startingOffsets") === """{"ev":{"0":1,"1":1}}""")
      assert(opts("endingOffsets") === """{"ev":{"0":3,"1":2}}""")
      assert(opts("subscribe") === "ev")
    } finally broker.close()
  }

  test("RecordBatch v2 codec round-trips offsets/timestamps/keys/values " +
      "and rejects CRC corruption") {
    val recs = Seq(
      (1000L, "a".getBytes("UTF-8"), "va".getBytes("UTF-8")),
      (1005L, null, "vb".getBytes("UTF-8")),
      (1010L, "c".getBytes("UTF-8"), null))
    val batch = encodeRecordBatch(7L, recs)
    val got = decodeRecordSet("t", 3, batch)
    assert(got.map(_.offset) === Seq(7L, 8L, 9L))
    assert(got.map(_.timestamp) === Seq(1000L, 1005L, 1010L))
    assert(got.map(r => Option(r.key).map(new String(_, "UTF-8"))) ===
      Seq(Some("a"), None, Some("c")))
    assert(got.map(r => Option(r.value).map(new String(_, "UTF-8"))) ===
      Seq(Some("va"), Some("vb"), None))
    assert(got.forall(r => r.topic == "t" && r.partition == 3))
    // two concatenated batches decode in sequence
    val two = batch ++ encodeRecordBatch(20L, recs.take(1))
    assert(decodeRecordSet("t", 3, two).map(_.offset) === Seq(7L, 8L, 9L, 20L))
    // a truncated trailing batch is dropped, per protocol
    assert(decodeRecordSet("t", 3, two.dropRight(5)).map(_.offset) ===
      Seq(7L, 8L, 9L))
    // flip one payload byte -> CRC verification must fail
    val corrupt = batch.clone()
    corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 0x1).toByte
    assertThrows[IllegalArgumentException](decodeRecordSet("t", 3, corrupt))
  }

  test("Fetch v4 request bytes match the protocol spec") {
    val b = encodeFetchRequest(11, "cid", Seq(("t", 0, 42L)), maxWaitMs = 5)
    val r = new Reader(b)
    assert(r.int16() === ApiFetch)
    assert(r.int16() === 4)
    assert(r.int32() === 11)
    assert(r.string() === "cid")
    assert(r.int32() === -1)      // replica_id
    assert(r.int32() === 5)       // max_wait_ms
    assert(r.int32() === 0)       // min_bytes
    assert(r.int32() === 16 << 20) // max_bytes
    assert(r.int8() === 0)        // isolation_level
    assert(r.int32() === 1 && r.string() === "t")
    assert(r.int32() === 1)
    assert(r.int32() === 0 && r.int64() === 42L && r.int32() === (1 << 20))
  }

  test("offsetRangeForWindow -> Fetch poll loop round-trips a [start,end) " +
      "window's exact records, batch alignment and off-by-ones included") {
    // batchSize 2: a 3-record range needs 2 fetches; a window starting at
    // offset 1 or 3 gets a batch based below it and must skip the head
    val broker = new FakeBroker(Map(
      ("ev", 0) -> Seq(100L, 200L, 300L, 400L, 500L),
      ("ev", 1) -> Seq(150L, 250L, 350L)))
    try {
      val c = new KafkaWireClient("127.0.0.1", broker.port)

      // [200, 500): p0 offsets [1,4) -> k1..k3; p1 offsets [1,3) -> k1..k2
      val got = c.pullWindow("ev", 200L, 500L)
        .map(r => (r.partition, r.offset, r.timestamp, new String(r.value, "UTF-8")))
        .sorted
      assert(got === Seq(
        (0, 1L, 200L, "v1"), (0, 2L, 300L, "v2"), (0, 3L, 400L, "v3"),
        (1, 1L, 250L, "v1"), (1, 2L, 350L, "v2")))

      // end bound EXCLUSIVE: a record exactly at endMs stays out
      assert(c.pullWindow("ev", 100L, 200L).map(r => (r.partition, r.offset))
        === Seq((0, 0L), (1, 0L)))
      // full log
      assert(c.pullWindow("ev", 0L, Long.MaxValue / 2).size === 8)
      // empty window past the log end
      assert(c.pullWindow("ev", 600L, 700L) === Seq.empty)
      // narrow window catching a single mid-log record on p0 only
      assert(c.pullWindow("ev", 260L, 350L).map(r => (r.partition, r.offset))
        === Seq((0, 2L)))
      // window falling entirely between records on both partitions
      assert(c.pullWindow("ev", 260L, 300L) === Seq.empty)

      // explicit ranges: start inside a stored batch (skip), end mid-batch
      val mid = c.fetchWindow("ev", Map(0 -> (1L, 2L)))
      assert(mid.map(r => (r.offset, new String(r.value, "UTF-8"))) ===
        Seq((1L, "v1")))
      assert(c.fetchWindow("ev", Map(0 -> (3L, 3L))) === Seq.empty)
    } finally broker.close()
  }

  test("gzip record batches round-trip; CRC still guards the compressed " +
      "bytes; unsupported codecs stay loud") {
    val recs = Seq(
      (1000L, "a".getBytes("UTF-8"), "va".getBytes("UTF-8")),
      (1005L, null, "vb".getBytes("UTF-8")),
      (1010L, "c".getBytes("UTF-8"), null))
    val gz = encodeRecordBatch(7L, recs, codec = GzipCodec)
    val plain = encodeRecordBatch(7L, recs)
    assert(gz.toSeq !== plain.toSeq) // really compressed on the wire
    val got = decodeRecordSet("t", 3, gz)
    val want = decodeRecordSet("t", 3, plain)
    assert(got.map(r => (r.offset, r.timestamp,
        Option(r.key).map(_.toSeq), Option(r.value).map(_.toSeq))) ===
      want.map(r => (r.offset, r.timestamp,
        Option(r.key).map(_.toSeq), Option(r.value).map(_.toSeq))))
    // mixed plain + gzip batches decode in sequence
    val two = plain ++ encodeRecordBatch(20L, recs.take(1), codec = GzipCodec)
    assert(decodeRecordSet("t", 3, two).map(_.offset) === Seq(7L, 8L, 9L, 20L))
    // CRC covers the compressed bytes: flipping one fails verification
    val corrupt = gz.clone()
    corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 0x1).toByte
    assertThrows[IllegalArgumentException](decodeRecordSet("t", 3, corrupt))
    // reserved codec ids (5-7) are rejected loudly, not skipped
    val reserved = plain.clone()
    intercept[IllegalArgumentException] {
      encodeRecordBatch(7L, recs, codec = 5)
    }
    // hand-flip the codec bits in a decoded batch to 5 and re-CRC
    val attrsOff = 8 + 4 + 4 + 1 + 4 // baseOffset+len+epoch+magic+crc
    reserved(attrsOff + 1) = 5
    val crc = new java.util.zip.CRC32C()
    crc.update(reserved, attrsOff, reserved.length - attrsOff)
    val cv = crc.getValue.toInt
    reserved(attrsOff - 4) = (cv >> 24).toByte
    reserved(attrsOff - 3) = (cv >> 16).toByte
    reserved(attrsOff - 2) = (cv >> 8).toByte
    reserved(attrsOff - 1) = cv.toByte
    val e = intercept[IllegalArgumentException](
      decodeRecordSet("t", 3, reserved))
    assert(e.getMessage.contains("codec 5"))
  }

  test("snappy, lz4 and zstd record batches round-trip like gzip — the " +
      "full protocol codec set decodes") {
    val recs = Seq(
      (1000L, "k0".getBytes("UTF-8"), ("v" * 500).getBytes("UTF-8")),
      (1005L, null, "vb".getBytes("UTF-8")),
      (1010L, "k2".getBytes("UTF-8"), null))
    val plainRecords = decodeRecordSet("t", 0, encodeRecordBatch(7L, recs))
      .map(r => (r.offset, r.timestamp,
        Option(r.key).map(_.toSeq), Option(r.value).map(_.toSeq)))
    for (codec <- Seq(KafkaWire.SnappyCodec, KafkaWire.Lz4Codec,
        KafkaWire.ZstdCodec)) {
      val enc = encodeRecordBatch(7L, recs, codec = codec)
      assert(enc.toSeq !== encodeRecordBatch(7L, recs).toSeq,
        s"codec $codec really changed the wire bytes")
      val got = decodeRecordSet("t", 0, enc).map(r => (r.offset, r.timestamp,
        Option(r.key).map(_.toSeq), Option(r.value).map(_.toSeq)))
      assert(got === plainRecords, s"codec $codec")
      // CRC still guards the compressed bytes
      val corrupt = enc.clone()
      corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 0x1).toByte
      assertThrows[IllegalArgumentException](decodeRecordSet("t", 0, corrupt))
    }
    // a mixed set with one batch per codec decodes in offset sequence
    val mixed = Seq(0, 1, 2, 3, 4).zipWithIndex.map { case (codec, i) =>
      encodeRecordBatch(i * 10L, recs.take(1), codec = codec)
    }.reduce(_ ++ _)
    assert(decodeRecordSet("t", 0, mixed).map(_.offset)
      === Seq(0L, 10L, 20L, 30L, 40L))
  }

  test("fetchWindow drains snappy/lz4/zstd-compressed topics end to end") {
    for (codec <- Seq(KafkaWire.SnappyCodec, KafkaWire.Lz4Codec,
        KafkaWire.ZstdCodec)) {
      val broker = new FakeBroker(Map(
        ("ev", 0) -> Seq(100L, 200L, 300L, 400L, 500L)), codec = codec)
      try {
        val c = new KafkaWireClient("127.0.0.1", broker.port)
        val got = c.fetchWindow("ev", Map(0 -> (1L, 4L)))
          .map(r => (r.offset, r.timestamp, new String(r.value, "UTF-8")))
        assert(got === Seq((1L, 200L, "v1"), (2L, 300L, "v2"),
          (3L, 400L, "v3")), s"codec $codec")
      } finally broker.close()
    }
  }

  test("fetchWindow drains a gzip-compressed topic end to end (the " +
      "reference's default producer compression)") {
    val broker = new FakeBroker(Map(
      ("ev", 0) -> Seq(100L, 200L, 300L, 400L, 500L)),
      codec = KafkaWire.GzipCodec)
    try {
      val c = new KafkaWireClient("127.0.0.1", broker.port)
      val got = c.fetchWindow("ev", Map(0 -> (1L, 4L)))
        .map(r => (r.offset, r.timestamp, new String(r.value, "UTF-8")))
      assert(got === Seq((1L, 200L, "v1"), (2L, 300L, "v2"), (3L, 400L, "v3")))
    } finally broker.close()
  }

  test("SASL/PLAIN: authenticated client works end to end; bad credentials " +
      "and unauthenticated requests fail loudly") {
    val broker = new FakeBroker(Map(
      ("ev", 0) -> Seq(100L, 200L, 300L)),
      saslUsers = Map("alice" -> "secret"))
    try {
      // every connection authenticates, then the normal surface works
      val c = new KafkaWireClient("127.0.0.1", broker.port,
        sasl = Some(("alice", "secret")))
      assert(c.listTopics() === Seq(("ev", 0)))
      assert(c.pullWindow("ev", 100L, 300L).map(_.offset) === Seq(0L, 1L))

      // wrong password: loud SASL error, not a hang or empty result
      val bad = new KafkaWireClient("127.0.0.1", broker.port,
        sasl = Some(("alice", "wrong")))
      val e = intercept[IllegalArgumentException](bad.listTopics())
      assert(e.getMessage.contains("SASL authentication failed"))

      // no credentials against an auth-required broker: the broker kills
      // the connection instead of answering
      val anon = new KafkaWireClient("127.0.0.1", broker.port)
      intercept[Exception](anon.listTopics())
    } finally broker.close()
  }

  test("TLS: full surface over an encrypted connection; plaintext client " +
      "fails loudly; SASL runs inside the TLS channel") {
    val (serverCtx, clientCtx) = KafkaWireSpec.makeTlsContexts()
    val broker = new FakeBroker(Map(("ev", 0) -> Seq(100L, 200L, 300L)),
      saslUsers = Map("alice" -> "secret"), tlsContext = Some(serverCtx))
    try {
      // SASL_SSL layering: handshake first, then auth, then the protocol
      val c = new KafkaWireClient("127.0.0.1", broker.port,
        sasl = Some(("alice", "secret")), tls = Some(clientCtx))
      assert(c.listTopics() === Seq(("ev", 0)))
      assert(c.pullWindow("ev", 100L, 300L).map(_.offset) === Seq(0L, 1L))

      // a plaintext client against the TLS listener dies on garbage bytes,
      // never silently returns short data
      val plain = new KafkaWireClient("127.0.0.1", broker.port,
        sasl = Some(("alice", "secret")))
      intercept[Exception](plain.listTopics())

      // a client that does not trust the broker's cert fails the handshake
      val untrusting = javax.net.ssl.SSLContext.getInstance("TLS")
      untrusting.init(null, null, null) // JDK default trust store
      val distrust = new KafkaWireClient("127.0.0.1", broker.port,
        sasl = Some(("alice", "secret")), tls = Some(untrusting))
      intercept[Exception](distrust.listTopics())
    } finally broker.close()
  }

  test("TLS: endpoint identification rejects a cert whose SAN does not " +
      "match the broker host unless explicitly opted out") {
    // cert for some OTHER host — trusted CA-wise, wrong identity
    val (serverCtx, clientCtx) =
      KafkaWireSpec.makeTlsContexts(san = "DNS:not-this-broker.example")
    val broker = new FakeBroker(Map(("ev", 0) -> Seq(100L)),
      tlsContext = Some(serverCtx))
    try {
      // default: hostname verification on → handshake must fail even though
      // the trust store contains the cert (the MITM shape ADVICE flagged)
      val strict = new KafkaWireClient("127.0.0.1", broker.port,
        tls = Some(clientCtx))
      intercept[Exception](strict.listTopics())
      // pinned-cert clusters can opt out and still get encryption
      val pinned = new KafkaWireClient("127.0.0.1", broker.port,
        tls = Some(clientCtx), tlsVerifyHostname = false)
      assert(pinned.listTopics() === Seq(("ev", 0)))
    } finally broker.close()
  }

  test("plainSaslToken encodes RFC 4616 NUL-delimited fields") {
    assert(plainSaslToken("u", "p").toSeq ===
      ("\u0000u\u0000p").getBytes("UTF-8").toSeq)
  }

  test("control batches (attributes bit 0x20) are skipped but advance the " +
      "poll position") {
    val recs = Seq((1000L, "a".getBytes("UTF-8"), "va".getBytes("UTF-8")),
      (1005L, "b".getBytes("UTF-8"), "vb".getBytes("UTF-8")))
    val data = encodeRecordBatch(0L, recs)
    val ctrl = encodeRecordBatch(2L, recs.take(1), ControlBatchFlag.toShort)
    val data2 = encodeRecordBatch(3L, recs.take(1))
    // control-only set: no records, but nextOffset moves past the marker
    assert(decodeRecordSet("t", 0, ctrl) === Seq.empty)
    assert(decodeRecordSetWithNext("t", 0, ctrl)._2 === 3L)
    // data + control + data: only the data records come out, in order
    val (got, next) = decodeRecordSetWithNext("t", 0, data ++ ctrl ++ data2)
    assert(got.map(_.offset) === Seq(0L, 1L, 3L))
    assert(next === 4L)
    // control batch CRC is still verified
    val corrupt = ctrl.clone()
    corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 0x1).toByte
    assertThrows[IllegalArgumentException](decodeRecordSet("t", 0, corrupt))
  }

  test("fetchWindow drains through a control batch mid-range and fails " +
      "loudly on a no-progress stall") {
    // p0 log: offsets 0..5 in batches of 2; the batch based at offset 2
    // (offsets 2-3) is a transaction marker — its records must not appear,
    // but the poll must advance past it to offsets 4-5
    val broker = new FakeBroker(
      Map(("ev", 0) -> Seq(100L, 200L, 300L, 400L, 500L, 600L)),
      controlBases = Map(("ev", 0) -> Set(2L)))
    try {
      val c = new KafkaWireClient("127.0.0.1", broker.port)
      val got = c.fetchWindow("ev", Map(0 -> (0L, 6L)))
      assert(got.map(_.offset) === Seq(0L, 1L, 4L, 5L))
      // a range extending past the log end can never satisfy "exactly
      // [start, end)": the stalled poll must throw, not truncate
      val ex = intercept[IllegalStateException](
        c.fetchWindow("ev", Map(0 -> (4L, 9L))))
      assert(ex.getMessage.contains("stalled"))
    } finally broker.close()
  }

  test("fake broker routes ListOffsets by leader (multi-broker metadata)") {
    // leader for p1 is a second broker; client must follow metadata
    val b2 = new FakeBroker(Map(("ev", 1) -> Seq(500L, 600L)))
    val b1 = new FakeBroker(Map(("ev", 0) -> Seq(100L)),
      extraPartitions = Map(("ev", 1) -> (1, "127.0.0.1", b2.port)), nodeId = 0)
    try {
      val c = new KafkaWireClient("127.0.0.1", b1.port)
      assert(c.offsetsForTimes("ev", KafkaWire.EarliestTimestamp) ===
        Map(0 -> 0L, 1 -> 0L))
      assert(c.offsetsForTimes("ev", 600L) === Map(0 -> -1L, 1 -> 1L))
    } finally { b1.close(); b2.close() }
  }

  test("round trips on one connection do not stall on Nagle: 20 fetches " +
      "of one-record batches average well under 40 ms") {
    val broker = new FakeBroker(Map(("ev", 0) -> Seq.tabulate(20)(i => 100L + i)),
      batchSize = 1)
    try {
      val c = new KafkaWireClient("127.0.0.1", broker.port)
      assert(c.fetchWindow("ev", Map(0 -> (0L, 20L))).size === 20) // warm-up
      val t0 = System.nanoTime()
      // one metadata round trip, then 20 fetches on the leader's socket
      assert(c.fetchWindow("ev", Map(0 -> (0L, 20L))).map(_.offset) ===
        (0L until 20L))
      val perRoundTripMs = (System.nanoTime() - t0) / 1e6 / 21
      assert(perRoundTripMs < 10.0, s"$perRoundTripMs ms per round trip")
    } finally broker.close()
  }
}

/** In-process Kafka broker stand-in for the control- and data-plane APIs.
  * Holds a timestamp log per (topic, partition); offsetsForTimes semantics
  * follow the protocol: first offset with ts >= target, -1 when none, -2/-1
  * sentinels for log start/end. `extraPartitions` lets a broker advertise
  * partitions led by ANOTHER node (leader routing tests). Fetch v4 serves
  * real magic-v2 record batches (key `k<off>`, value `v<off>`), ALIGNED to
  * `batchSize` boundaries like a broker returning stored batches — a fetch
  * offset inside a batch returns records starting below it, which clients
  * must skip; at most one batch per fetch, so multi-record ranges exercise
  * the client poll loop.
  */
object KafkaWireSpec {
  /** Self-signed broker keystore + matching client truststore, generated
    * at test time with the JDK's own keytool (no fixture files, no
    * external deps, no egress): server context serves the key pair,
    * client context trusts exactly that one exported certificate.
    */
  /** [[makeTlsContexts]] plus the on-disk truststore path + password —
    * for tests of the path-based descriptors (RespTls) that ship FILES,
    * not contexts. One copy of the keytool recipe for every consumer.
    */
  final case class TlsMaterial(serverCtx: javax.net.ssl.SSLContext,
      clientCtx: javax.net.ssl.SSLContext,
      truststorePath: String, storePass: String)

  def makeTlsContexts(san: String = "IP:127.0.0.1")
      : (javax.net.ssl.SSLContext, javax.net.ssl.SSLContext) = {
    val m = makeTlsMaterial(san)
    (m.serverCtx, m.clientCtx)
  }

  def makeTlsMaterial(san: String = "IP:127.0.0.1"): TlsMaterial = {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-tls")
    val ks = dir.resolve("server.p12").toString
    val cert = dir.resolve("server.cer").toString
    val ts = dir.resolve("trust.p12").toString
    val keytool = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "keytool").getAbsolutePath
    def run(args: String*): Unit = {
      val p = new ProcessBuilder((keytool +: args): _*)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      require(p.waitFor() == 0, s"keytool failed: $out")
    }
    run("-genkeypair", "-alias", "broker", "-keyalg", "RSA", "-keysize", "2048",
      "-storetype", "PKCS12", "-keystore", ks, "-storepass", "changeit",
      "-dname", "CN=127.0.0.1", "-validity", "2", "-ext", s"SAN=$san")
    run("-exportcert", "-alias", "broker", "-keystore", ks,
      "-storepass", "changeit", "-file", cert)
    run("-importcert", "-noprompt", "-alias", "broker", "-storetype", "PKCS12",
      "-keystore", ts, "-storepass", "changeit", "-file", cert)
    def load(path: String) = {
      val st = java.security.KeyStore.getInstance("PKCS12")
      val in = Files.newInputStream(Paths.get(path))
      try st.load(in, "changeit".toCharArray) finally in.close()
      st
    }
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(load(ks), "changeit".toCharArray)
    val serverCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    serverCtx.init(kmf.getKeyManagers, null, null)
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(load(ts))
    val clientCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    clientCtx.init(null, tmf.getTrustManagers, null)
    TlsMaterial(serverCtx, clientCtx, ts, "changeit")
  }
}

final class FakeBroker(logs: Map[(String, Int), Seq[Long]],
    extraPartitions: Map[(String, Int), (Int, String, Int)] = Map.empty,
    nodeId: Int = 0, batchSize: Int = 2,
    controlBases: Map[(String, Int), Set[Long]] = Map.empty,
    codec: Int = 0,
    saslUsers: Map[String, String] = Map.empty,
    tlsContext: Option[javax.net.ssl.SSLContext] = None)
    extends AutoCloseable {

  private val server = tlsContext match {
    case Some(ctx) => ctx.getServerSocketFactory
      .createServerSocket(0, 8, java.net.InetAddress.getByName("127.0.0.1"))
    case None => new ServerSocket(0, 8, java.net.InetAddress.getByName("127.0.0.1"))
  }
  def port: Int = server.getLocalPort
  @volatile private var running = true

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        new Thread(() => serve(s), "fake-broker-conn").start()
      } catch { case _: Exception => () }
    }
  }, "fake-broker-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(s: Socket): Unit = {
    try {
      s.setTcpNoDelay(true) // as a Kafka broker sets it
      val in = new DataInputStream(s.getInputStream)
      val out = new DataOutputStream(s.getOutputStream)
      // SASL state is per-connection, like a real broker's
      var authed = saslUsers.isEmpty
      while (running) {
        val size = in.readInt()
        val req = new Array[Byte](size)
        in.readFully(req)
        val r = new Reader(req)
        val apiKey = r.int16()
        r.int16() // api version (v1 assumed)
        val corr = r.int32()
        r.string() // client id
        val body = new Writer().int32(corr)
        apiKey match {
          case ApiSaslHandshake =>
            val mech = r.string()
            if (mech == "PLAIN") body.int16(0).int32(1).string("PLAIN")
            else body.int16(33).int32(1).string("PLAIN") // UNSUPPORTED_SASL_MECHANISM
          case ApiSaslAuthenticate =>
            val tok = new String(r.raw(r.int32()), "UTF-8").split("\u0000", -1)
            // RFC 4616: [authzid] NUL authcid NUL passwd
            if (tok.length == 3 && saslUsers.get(tok(1)).contains(tok(2))) {
              authed = true
              body.int16(0).string(null).int32(0)
            } else
              body.int16(58).string("bad credentials").int32(0) // SASL_AUTHENTICATION_FAILED
          case _ if !authed =>
            // a real broker kills unauthenticated connections
            throw new IllegalStateException("request before SASL auth")
          case ApiMetadata => metadataResponse(r, body)
          case ApiListOffsets => listOffsetsResponse(r, body)
          case ApiFetch => fetchResponse(r, body)
          case other => throw new IllegalStateException(s"unsupported api $other")
        }
        val frame = body.bytes
        out.writeInt(frame.length)
        out.write(frame)
        out.flush()
      }
    } catch { case _: Exception => () } finally s.close()
  }

  private def allPartitions: Seq[(String, Int, Int, String, Int)] =
    (logs.keys.map { case (t, p) => (t, p, nodeId, "127.0.0.1", port) } ++
      extraPartitions.map { case ((t, p), (leader, h, prt)) => (t, p, leader, h, prt) })
      .toSeq.sortBy(x => (x._1, x._2))

  private def metadataResponse(r: Reader, w: Writer): Unit = {
    val requested = {
      val n = r.int32()
      if (n < 0) None else Some(Seq.fill(n)(r.string()))
    }
    val parts = allPartitions.filter(p => requested.forall(_.contains(p._1)))
    val brokers = parts.map(p => (p._3, p._4, p._5)).distinct.sortBy(_._1)
    w.int32(brokers.size)
    brokers.foreach { case (id, h, prt) =>
      w.int32(id).string(h).int32(prt).string(null)
    }
    w.int32(nodeId) // controller
    val byTopic = parts.groupBy(_._1).toSeq.sortBy(_._1)
    w.int32(byTopic.size)
    byTopic.foreach { case (t, ps) =>
      w.int16(0).string(t).int8(0)
      w.int32(ps.size)
      ps.foreach { case (_, p, leader, _, _) =>
        w.int16(0).int32(p).int32(leader).int32(0).int32(0)
      }
    }
  }

  private def listOffsetsResponse(r: Reader, w: Writer): Unit = {
    r.int32() // replica_id
    val topics = r.array {
      val t = r.string()
      (t, r.array((r.int32(), r.int64())))
    }
    w.int32(topics.size)
    topics.foreach { case (t, ps) =>
      w.string(t)
      w.int32(ps.size)
      ps.foreach { case (p, target) =>
        val ts = logs.getOrElse((t, p), Seq.empty)
        val offset = target match {
          case KafkaWire.EarliestTimestamp => 0L
          case KafkaWire.LatestTimestamp => ts.length.toLong
          case want => ts.indexWhere(_ >= want) match {
            case -1 => -1L
            case i => i.toLong
          }
        }
        val respTs = if (offset >= 0 && offset < ts.length) ts(offset.toInt) else -1L
        w.int32(p).int16(0).int64(respTs).int64(offset)
      }
    }
  }

  private def fetchResponse(r: Reader, w: Writer): Unit = {
    r.int32(); r.int32(); r.int32(); r.int32(); r.int8() // replica/wait/min/max/isolation
    val topics = r.array {
      val t = r.string()
      (t, r.array { val p = r.int32(); val off = r.int64(); r.int32(); (p, off) })
    }
    w.int32(0) // throttle_time_ms
    w.int32(topics.size)
    topics.foreach { case (t, ps) =>
      w.string(t)
      w.int32(ps.size)
      ps.foreach { case (p, fetchOff) =>
        val ts = logs.getOrElse((t, p), Seq.empty)
        val hw = ts.length.toLong
        w.int32(p).int16(0).int64(hw).int64(hw)
        w.int32(0) // aborted_transactions: empty
        if (fetchOff < 0 || fetchOff >= hw) w.int32(0) // no record set
        else {
          val base = (fetchOff / batchSize) * batchSize
          val recs = (base until math.min(base + batchSize, hw)).map { o =>
            (ts(o.toInt), s"k$o".getBytes("UTF-8"), s"v$o".getBytes("UTF-8"))
          }
          val attrs: Short =
            if (controlBases.getOrElse((t, p), Set.empty)(base))
              KafkaWire.ControlBatchFlag.toShort
            else 0
          val batch = KafkaWire.encodeRecordBatch(base, recs, attrs, codec)
          w.int32(batch.length)
          w.raw(batch)
        }
      }
    }
  }

  override def close(): Unit = {
    running = false
    server.close()
  }
}
