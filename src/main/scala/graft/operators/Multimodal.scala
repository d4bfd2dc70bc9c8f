package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, decoded through a batched partition-level [[Codec]]
  * (opened once per partition, fed [[DecodeBatch]]-row batches to amortize
  * codec init/native-call overhead).
  *
  * [[FakeCodec]] is the one shipped codec: a clearly-marked deterministic
  * FIXTURE (md5-derived pseudo-metadata) backing the SQL-oracle-checkable
  * query — an oracle can recompute its fields, which no real decoder
  * allows. A real decoder plugs in as another [[Codec]]. Images also get a
  * real perceptual hash ([[perceptualHash]], JDK javax.imageio decode)
  * for near-dup pairs ([[imageDedupPairs]]). Payloads stay `BinaryType`
  * end to end (no string round-trips), and the payload column can be
  * dropped right after decode so wide binary data doesn't cross shuffles.
  */
object Multimodal {

  final case class MediaMeta(
      format: String, width: Int, height: Int, nFrames: Int, nBytes: Int)

  val metaType: StructType = StructType(Seq(
    StructField("format", StringType), StructField("width", IntegerType),
    StructField("height", IntegerType), StructField("n_frames", IntegerType),
    StructField("n_bytes", IntegerType)))

  /** Batched decoder interface; implementations must be Serializable.
    * `open()` per partition (native contexts, model handles), `decode` per
    * batch of payloads.
    */
  trait Codec extends Serializable {
    def open(): Unit = ()
    def close(): Unit = ()
    def decode(batch: Seq[Array[Byte]]): Seq[MediaMeta]
  }

  /** STUB codec — deterministic md5-derived pseudo-metadata standing in for
    * a real image/audio decoder (no media library is a dependency). Every
    * field is a pure function of the bytes, so a SQL oracle can recompute it.
    */
  object FakeCodec extends Codec {
    private val formats = Array("jpeg", "png", "webp")

    private[operators] def hash32(bytes: Array[Byte]): Long = {
      val md = MessageDigest.getInstance("MD5")
      val hex = md.digest(bytes).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }

    def decode(batch: Seq[Array[Byte]]): Seq[MediaMeta] = batch.map { b =>
      if (b == null) MediaMeta(null, 0, 0, 0, 0)
      else {
        val h = hash32(b)
        MediaMeta(
          formats((h % 3).toInt),
          (64 + h % 512).toInt,
          (64 + (h / 512) % 512).toInt,
          ((b.length + FrameBytes - 1) / FrameBytes),
          b.length)
      }
    }
  }

  /** Fixed stand-in frame size for the "video" framing stub. */
  val FrameBytes = 256

  /** Rows per [[Codec.decode]] call. */
  private[operators] val DecodeBatch = 64

  /** Appends `meta: struct<format,width,height,n_frames,n_bytes>` by running
    * `codec` over [[DecodeBatch]]-row batches per partition.
    */
  def decodeMeta(df: DataFrame, payload: Column,
      codec: Codec = FakeCodec): DataFrame = {
    val in = df.withColumn("__graft_payload", payload)
    val n = in.schema.size
    val outSchema = StructType(df.schema.fields :+ StructField("meta", metaType))
    in.mapPartitions { rows =>
      codec.open()
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => codec.close()))
      rows.grouped(DecodeBatch).flatMap { batch =>
        val metas = codec.decode(batch.map(r =>
          r.getAs[Array[Byte]](n - 1)))
        batch.lazyZip(metas).map { (r, m) =>
          Row.fromSeq(r.toSeq.dropRight(1) :+
            Row(m.format, m.width, m.height, m.nFrames, m.nBytes))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Deterministic frame sampling for OPAQUE payloads: `k` evenly-spaced
    * [[FrameBytes]]-sized slices as `array<binary>` — the SQL-replayable
    * fixture shape of frame extraction (the oracle recomputes the slices).
    * Codegen'd built-ins only; no UDF.
    */
  def sampleFrames(payload: Column, k: Int): Column = {
    val nFrames = ceil(length(payload).cast("double") / FrameBytes).cast("int")
    val idx = transform(sequence(lit(0), lit(k - 1)), i =>
      least(i * greatest(floor(nFrames / lit(k)).cast("int"), lit(1)), nFrames - 1))
    transform(array_distinct(idx), i =>
      substring(payload, (i * FrameBytes + 1).cast("int"), lit(FrameBytes)))
  }

  /** 64-bit difference hash (dHash) over REAL decoded pixels: the image is
    * box-averaged onto a 9×8 grayscale grid (integer-arithmetic cell
    * bounds and BT.601 luma — deterministic for a given decoded bitmap,
    * and javax.imageio's PNG/BMP decodes are bit-exact), then each of the
    * 8 rows compares its 9 cells pairwise left-to-right: bit set when the
    * left cell is brighter. Downscaling to a fixed grid makes the hash
    * invariant to resolution, and the gradient-sign encoding makes it
    * robust to brightness/contrast shifts and small pixel noise — the
    * standard perceptual fingerprint for image NEAR-dup detection, where
    * a byte fingerprint only catches exact re-uploads.
    */
  private[operators] def dHash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val cells = Array.ofDim[Long](8, 9)
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 9) {
        val x0 = cx * w / 9
        val x1 = math.max((cx + 1) * w / 9, x0 + 1)
        val y0 = cy * h / 8
        val y1 = math.max((cy + 1) * h / 8, y0 + 1)
        var sum = 0L
        var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
              114L * (rgb & 0xff)
            n += 1
            x += 1
          }
          y += 1
        }
        cells(cy)(cx) = sum / n
        cx += 1
      }
      cy += 1
    }
    var hash = 0L
    cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        if (cells(cy)(cx) > cells(cy)(cx + 1)) hash |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    hash
  }

  /** Appends `phash: bigint` — the [[dHash64]] perceptual hash of each
    * binary payload, null when the payload doesn't decode as an image
    * (the quarantine signal, consistent with the codecs' null-format
    * contract). One per-row partition pass; drop the payload column right
    * after so wide binaries don't cross the shuffles downstream dedup adds.
    */
  def perceptualHash(df: DataFrame, payload: Column): DataFrame = {
    // a colliding output name would produce an ambiguous duplicate column;
    // a colliding staging name would REPLACE the caller's column in place
    // and make the kernel read the wrong bytes — guard both
    require(!df.columns.contains("phash"),
      "output column 'phash' already exists; rename it first")
    val stage = Iterator.from(0).map(i => s"__graft_payload$i")
      .find(c => !df.columns.contains(c)).get
    val in = df.withColumn(stage, payload)
    val n = in.schema.size
    val outSchema = StructType(df.schema.fields :+ StructField("phash", LongType))
    in.mapPartitions { rows =>
      rows.map { r =>
        val b = r.getAs[Array[Byte]](n - 1)
        // null payloads, undecodable images and decoder throws all yield
        // null: undecodable media is a quarantine signal, never a task
        // failure
        val v: Any =
          if (b == null) null
          else (try {
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
            if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
            else Some(java.lang.Long.valueOf(dHash64(img)))
          } catch { case _: Exception => None }).orNull
        Row.fromSeq(r.toSeq.dropRight(1) :+ v)
      }
    }(Encoders.row(outSchema))
  }

  /** Image near-dup pairs by perceptual hash: [[perceptualHash]] each
    * payload, then find id pairs whose dHashes differ in at most
    * `maxHamming` bits — the image-modality sibling of
    * [[Dedup.simHashPairs]], same block-key shape: the 64 bits split into
    * `maxHamming + 1` nearly-equal blocks, so any pair within the radius
    * agrees on at least one whole block (pigeonhole — recall is EXACT,
    * not probabilistic); candidates come from block-key equality joins on
    * 8-byte keys and only they pay the `bit_count(xor)` verification.
    * Undecodable payloads drop out before the join. Output:
    * (id_a, id_b, hamming), id_a < id_b, distinct.
    */
  def imageDedupPairs(df: DataFrame, id: Column, payload: Column,
      maxHamming: Int = 3): DataFrame = {
    val hashed = perceptualHash(
        df.select(id.as("id"), payload.as("__p")), col("__p"))
      .select(col("id"), col("phash").as("hash"))
    val ka = blockKeyed(hashed, maxHamming).select(col("block"), col("key"),
      col("id").as("id_a"), col("hash").as("ha"))
    val kb = blockKeyed(hashed, maxHamming).select(col("block"), col("key"),
      col("id").as("id_b"), col("hash").as("hb"))
    ka.join(kb, Seq("block", "key"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .filter(col("id_a") < col("id_b"))
  }

  /** block b = bits [b*64/bands, (b+1)*64/bands) of the hash, tagged by
    * block index so different blocks never collide in the join key.
    */
  private def blockKeyed(hashed: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16,
      s"maxHamming must be in [0, 16), got $maxHamming")
    val bands = maxHamming + 1
    hashed.filter(col("hash").isNotNull)
      .select(col("id"), col("hash"),
        posexplode(array((0 until bands).map { b =>
          val lo = b * 64 / bands
          val hi = (b + 1) * 64 / bands
          val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1
          shiftright(col("hash"), lo).bitwiseAND(lit(mask))
        }: _*)).as(Seq("block", "key")))
  }
}
