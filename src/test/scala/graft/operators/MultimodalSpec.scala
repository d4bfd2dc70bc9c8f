package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Multimodal.{FakeCodec, MediaMeta}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("FakeCodec metadata is a pure function of the bytes") {
    val b = "hello media".getBytes("UTF-8")
    val Seq(m1) = FakeCodec.decode(Seq(b))
    val Seq(m2) = FakeCodec.decode(Seq(b))
    assert(m1 === m2)
    assert(m1.nBytes === b.length)
    assert(m1.width >= 64 && m1.width < 576)
    assert(m1.height >= 64 && m1.height < 576)
    assert(Seq("jpeg", "png", "webp").contains(m1.format))
    assert(FakeCodec.decode(Seq(null)) === Seq(MediaMeta(null, 0, 0, 0, 0)))
  }

  test("decodeMeta appends typed meta struct; batching covers partitions") {
    val df = (1 to 200).map(i => (i.toLong, ("x" * i).getBytes("UTF-8")))
      .toDF("id", "payload").repartition(3)
    val out = Multimodal.decodeMeta(df, col("payload"))
    assert(out.schema.fieldNames.toSeq === Seq("id", "payload", "meta"))
    val rows = out.select($"id", $"meta.n_bytes", $"meta.n_frames")
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    rows.foreach { case (id, nb, nf) =>
      assert(nb === id.toInt)
      assert(nf === (id.toInt + 255) / 256)
    }
  }

  test("batched codec sees full batches, not row-at-a-time") {
    MultimodalSpec.batchSizes.clear()
    val df = (1 to 100).map(i => (i, Array[Byte](i.toByte))).toDF("id", "p")
      .repartition(1)
    Multimodal.decodeMeta(df, col("p"), codec = MultimodalSpec.Recorder)
      .count()
    import scala.jdk.CollectionConverters._
    assert(Multimodal.DecodeBatch === 64)
    assert(MultimodalSpec.batchSizes.asScala.toList.sorted === List(36, 64))
  }

  test("sampleFrames: evenly spaced fixed-size frames, deduped when short") {
    val payload = ("a" * 1000).getBytes("UTF-8") // 4 frames of 256 (last short)
    val df = Seq(Tuple1(payload)).toDF("p")
    val frames = df.select(Multimodal.sampleFrames(col("p"), 4).as("f"))
      .select(size(col("f")).as("n"), element_at(col("f"), 1).as("f0"))
      .as[(Int, Array[Byte])].head()
    assert(frames._1 === 4)
    assert(frames._2.length === 256)
    // short payload: fewer distinct frames than k
    val shortDf = Seq(Tuple1("tiny".getBytes("UTF-8"))).toDF("p")
    val n = shortDf.select(size(Multimodal.sampleFrames(col("p"), 4)).as("n"))
      .as[Int].head()
    assert(n === 1)
  }

  test("graft_probe reports evaluation site per row") {
    val out = spark.sql("SELECT graft_probe(1, 'x') AS p").as[String].head()
    assert(out.contains("host=") && out.contains("args=[1,x]"))
  }

  // ---- perceptual hashing over REAL decoded pixels -----------------------

  /** The ONE deterministic pattern renderer, shared with the registry
    * query so the exercised picture can never drift between the spec
    * gates and `mm_phash_pairs`.
    */
  private def patternPng(w: Int, h: Int, seedShift: Int,
      noisePixels: Int = 0): Array[Byte] =
    graft.queries.Pipeline.patternPng(w, h, seedShift, noisePixels)

  test("dHash64 is resolution-invariant and separates different pictures") {
    def hashOf(png: Array[Byte]): Long =
      Multimodal.dHash64(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png)))
    val small = hashOf(patternPng(72, 64, 0))
    val big = hashOf(patternPng(144, 128, 0))
    // same picture at 2x resolution: the 9x8 box averages agree up to
    // rounding, so at most a couple of gradient signs flip
    assert(java.lang.Long.bitCount(small ^ big) <= 4,
      s"rescale moved ${java.lang.Long.bitCount(small ^ big)} bits")
    // a genuinely different picture lands far away
    val other = hashOf(patternPng(72, 64, 131))
    assert(java.lang.Long.bitCount(small ^ other) >= 12,
      s"different pictures only ${java.lang.Long.bitCount(small ^ other)} bits apart")
  }

  test("perceptualHash: images hash, non-images and nulls yield null") {
    val rows = Seq(
      (1L, patternPng(72, 64, 0)),
      (2L, "not an image at all".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]]))
    val out = Multimodal.perceptualHash(
        rows.toDF("id", "payload"), col("payload"))
      .select(col("id"), col("phash")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(out(1L).isDefined)
    assert(out(2L).isEmpty && out(3L).isEmpty)
  }

  test("imageDedupPairs finds noised/rescaled near-dups, not different " +
      "pictures, with exact block-key recall") {
    val rows = Seq(
      (1L, patternPng(72, 64, 0)),
      (2L, patternPng(72, 64, 0, noisePixels = 6)), // near-dup of 1
      (3L, patternPng(144, 128, 0)),                // rescale of 1
      (4L, patternPng(72, 64, 131)),                // different picture
      (5L, "junk".getBytes("UTF-8")))               // undecodable
    val pairs = Multimodal.imageDedupPairs(
        rows.toDF("id", "payload"), col("id"), col("payload"),
        maxHamming = 4)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)), s"noised copy missed: $pairs")
    assert(pairs.contains((1L, 3L)), s"rescaled copy missed: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"different picture matched: $pairs")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("mm fixture decode matches the pinned dHash64 values — the " +
      "mm_phash_pairs oracle replays pairs over these pins, so a decode-" +
      "path change must fail HERE, not silently diverge from the oracle") {
    val got = Multimodal.perceptualHash(
        graft.queries.Pipeline.mmFixtureImages.toDF("id", "payload"),
        col("payload"))
      .select(col("id"), col("phash"))
      .as[(Long, Long)].collect().toMap
    val pinned = graft.queries.PinnedArtifacts.MmFixtureHashes64.toMap
    assert(got.keySet === pinned.keySet,
      s"fixture ids drifted: ${got.keySet} vs ${pinned.keySet}")
    val diff = pinned.collect {
      case (id, h) if got(id) != h => (id, h, got(id))
    }
    assert(diff.isEmpty,
      s"decode drifted from pins (id, pinned, got): $diff — regenerate " +
        "via graft.tools.TrainArtifacts ONLY if the decode change is intended")
  }
}

object MultimodalSpec {
  // JVM-global so the executor-side deserialized codec copy reports into the
  // same buffer the driver asserts on (closures are serialized even in
  // local mode)
  val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()

  object Recorder extends Multimodal.Codec {
    def decode(batch: Seq[Array[Byte]]): Seq[MediaMeta] = {
      batchSizes.add(batch.size)
      FakeCodec.decode(batch)
    }
  }
}
