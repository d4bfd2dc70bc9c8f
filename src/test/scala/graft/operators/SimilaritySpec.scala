package graft.operators

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Similarity.Index

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vectors(n: Int, dim: Int, seed: Long) = {
    val rnd = new Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  /** Explicit `(cid, cv)` centroid frame: the first `max` corpus vectors
    * whose id is a multiple of `every`, keyed by their own ids.
    */
  private def everyNth(corpus: org.apache.spark.sql.DataFrame, every: Long,
      max: Int) =
    corpus.filter(pmod(col("vec_id"), lit(every)) === 0)
      .orderBy(col("vec_id")).limit(max)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))

  test("search(Exact) matches a driver-side exact computation") {
    val df = vectors(30, 8, seed = 1).cache()
    val got = Similarity.search(df.filter(col("vec_id") < 3), df, k = 4,
        Index.Exact)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Int, Double)].collect()

    val all = df.as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = for {
      (qid, qv) <- all.filter(_._1 < 3).sortBy(_._1)
      ((nid, c), r) <- all.filter(_._1 != qid)
        .map { case (nid, nv) => (nid, cos(qv, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }.take(4).zipWithIndex
    } yield (qid, nid, r + 1, c)
    assert(got.toSeq === expect.toSeq)
  }

  test("quantizeInt8: codes bounded by ±127, zero vector → zeros, " +
      "unit directions hit ±127 exactly") {
    import org.apache.spark.sql.graft.VectorFunctions
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, -3.5f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f)),
      (4L, Array(1.0f, 1.0f, 1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val codes = df.select(col("vec_id"),
        VectorFunctions.quantizeInt8(col("embedding")).as("c"))
      .as[(Long, Array[Int])].collect().toMap
    assert(codes(1L).toSeq === Seq(127, 0, 0))
    assert(codes(2L).toSeq === Seq(0, -127, 0))
    assert(codes(3L).toSeq === Seq(0, 0, 0))
    // 1/sqrt(4) = 0.5 per coordinate → round(63.5) = 64 (half away from zero)
    assert(codes(4L).toSeq === Seq(64, 64, 64, 64))
    val rand = vectors(50, 16, seed = 7)
      .select(explode(VectorFunctions.quantizeInt8(col("embedding"))).as("v"))
      .as[Int].collect()
    assert(rand.forall(v => v >= -127 && v <= 127))
    // packing is lossless on the codes and really is 1 B/coord
    val (code, arr) = vectors(1, 16, seed = 7)
      .select(
        VectorFunctions.packInt8(
          VectorFunctions.quantizeInt8(col("embedding"))).as("code"),
        VectorFunctions.quantizeInt8(col("embedding")).as("arr"))
      .as[(Array[Byte], Array[Int])].head()
    assert(code.length === 16)
    assert(code.map(_.toInt).toSeq === arr.toSeq)
  }

  test("dotInt: exact integer dot; null on length mismatch") {
    import org.apache.spark.sql.graft.VectorFunctions
    val out = Seq((Array(1, -2, 3), Array(4, 5, -6)))
      .toDF("a", "b")
      .select(VectorFunctions.dotInt(col("a"), col("b")).as("d"))
      .as[Long].head()
    assert(out === (4 - 10 - 18).toLong)
    val mism = Seq((Array(1, 2), Array(1, 2, 3))).toDF("a", "b")
      .select(VectorFunctions.dotInt(col("a"), col("b")).as("d"))
      .collect()
    assert(mism.head.isNullAt(0))
  }

  test("search(Int8) ranks close to exact cosine top-k (high recall)") {
    val df = vectors(60, 16, seed = 11).cache()
    val exact = Similarity.search(df.filter(col("vec_id") < 5), df, k = 5,
        Index.Exact)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val quant = Similarity.search(df.filter(col("vec_id") < 5), df, k = 5,
        Index.Int8)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    // int8 quantization of 16-dim unit vectors perturbs cosine by ~1/127 —
    // the overwhelming majority of true top-5 neighbors must survive.
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
    // scores are exact integers and symmetric quantization keeps self-rank:
    // dot of a code vector with itself is the max for that direction. The
    // query ids are shifted out of the corpus id range, so the vector's own
    // corpus row is not excluded as a self-pair.
    val shift = 1000L
    val self = Similarity.search(df.filter(col("vec_id") < 2)
          .select((col("vec_id") + shift).as("vec_id"), col("embedding")),
        df, k = 1, Index.Int8)
      .filter(col("rank") === 1).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect()
    assert(self.length === 2)
    assert(self.forall(p => p._1 - shift == p._2))
  }

  test("knnLabel takes the majority label of the k nearest; ties → smaller label") {
    // queries at the origin-ish corners; labeled corpus in two tight blobs
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 1), (11L, Array(0.9f, 0.1f), 1),
      (12L, Array(0.95f, 0.05f), 2), // minority label inside blob A
      (20L, Array(0.0f, 1.0f), 2), (21L, Array(0.1f, 0.9f), 2),
      (22L, Array(0.05f, 0.95f), 2)
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (1L, Array(1.0f, 0.01f)), (2L, Array(0.01f, 1.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.knnLabel(queries, corpus, k = 3)
      .orderBy("query_id").as[(Long, Int, Long)].collect()
    assert(got(0) === ((1L, 1L, 2L))) // blob A: labels {1,1,2} → 1 wins 2 votes
    assert(got(1) === ((2L, 2L, 3L))) // blob B: all label 2
    // 2-2 tie: k=2 over one blob with labels {1,2} → smaller label wins
    val tie = Similarity.knnLabel(queries.filter(col("vec_id") === 1), corpus, k = 2)
      .as[(Long, Int, Long)].head()
    assert(tie === ((1L, 1L, 1L)))
  }

  test("srpBucket is deterministic and within [0, 2^bits)") {
    val df = vectors(50, 8, seed = 2)
    val b1 = df.select(Similarity.srpBucket(col("embedding"), 6).as("b")).as[Long].collect()
    val b2 = df.select(Similarity.srpBucket(col("embedding"), 6).as("b")).as[Long].collect()
    assert(b1.toSeq === b2.toSeq)
    assert(b1.forall(b => b >= 0 && b < 64))
    assert(b1.distinct.length > 1) // planes actually split the space
  }

  test("search(Lsh) returns exact cosine ranks within each shared bucket") {
    val df = vectors(60, 8, seed = 3).cache()
    val got = Similarity.search(df.filter(col("vec_id") < 5), df, k = 3,
        Index.Lsh(bits = 4, multiProbe = false))
      .as[(Long, Long, Int, Double)].collect()
    // every returned neighbor must share the query's bucket; ranks contiguous from 1
    val buckets = df.select(col("vec_id"), Similarity.srpBucket(col("embedding"), 4))
      .as[(Long, Long)].collect().toMap
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
      rows.foreach { case (_, n, _, _) => assert(buckets(n) === buckets(q)) }
    }
  }

  test("trained k-means centroids drive search(Ivf) with exact in-cell ranking") {
    val df = vectors(100, 8, seed = 11).cache()
    val cents = Similarity.trainCentroids(df, k = 4)
    assert(cents.count() === 4)
    val got = Similarity.search(df.filter(col("vec_id") < 5), df, k = 3,
        Index.Ivf(cents, nprobe = 2, Index.Exact))
      .as[(Long, Long, Int, Double)].collect()
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq === (1 to rows.length)) // contiguous ranks
      assert(sorted.map(_._4).toSeq === sorted.map(_._4).sortBy(-_).toSeq) // cos desc
    }
  }

  test("multi-probe widens candidates to hamming-1 buckets and never hurts recall") {
    val df = vectors(80, 8, seed = 7).cache()
    val qs = df.filter(col("vec_id") < 8)
    val buckets = df.select(col("vec_id"), Similarity.srpBucket(col("embedding"), 4))
      .as[(Long, Long)].collect().toMap
    val single = Similarity.search(qs, df, k = 3,
        Index.Lsh(bits = 4, multiProbe = false))
      .as[(Long, Long, Int, Double)].collect()
    val multi = Similarity.search(qs, df, k = 3,
        Index.Lsh(bits = 4, multiProbe = true))
      .as[(Long, Long, Int, Double)].collect()
    // every multi-probe neighbor is within hamming 1 of the query's bucket
    multi.foreach { case (q, n, _, _) =>
      assert(java.lang.Long.bitCount(buckets(q) ^ buckets(n)) <= 1)
    }
    // the exact top-k within the probed space can only grow per query
    val bySingle = single.groupBy(_._1).view.mapValues(_.length).toMap
    multi.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length >= bySingle.getOrElse(q, 0))
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
    }
    // and against brute force, multi-probe recall >= single-probe recall
    val exact = Similarity.search(qs, df, k = 3, Index.Exact)
      .as[(Long, Long, Int, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    def recall(rows: Array[(Long, Long, Int, Double)]): Double =
      if (exact.isEmpty) 1.0
      else rows.count(r => exact((r._1, r._2))).toDouble / exact.size
    assert(recall(multi) >= recall(single))
  }

  test("search(Pq) with entryEvery=1 degenerates to the exact quantized scan") {
    // Every corpus vector is a codebook entry → each sub-code assigns to
    // itself (distance 0, tie → its own smallest entry among equal codes)
    // → ADC score = exact integer dot of the int8 codes. PQ with the
    // finest codebook must therefore reproduce the Int8 scan bit-for-bit.
    val df = vectors(30, 16, seed = 13).cache()
    val qs = df.filter(col("vec_id") < 4)
    val exact = Similarity.search(qs, df, k = 5, Index.Int8)
      .orderBy("query_id", "rank").as[(Long, Long, Int, Long)].collect()
    val pq = Similarity.search(qs, df, k = 5,
        Index.Pq(Similarity.pqCodebook(df, m = 4, entryEvery = 1), m = 4))
      .orderBy("query_id", "rank").as[(Long, Long, Int, Long)].collect()
    assert(pq.toSeq === exact.toSeq)
  }

  test("sampling quantizers are CAPPED: codebook entries and coarse cells " +
      "stop growing with the corpus (the models-don't-track-data contract)") {
    // 600 vectors with entryEvery=4: uncapped would give 150 entries, the
    // cap is 128; the coarse cells are a fixed explicit set of 16
    val corpus = vectors(600, 16, seed = 11).cache()
    val codebook = Similarity.pqCodebook(corpus, m = 4, entryEvery = 4)
    val cb = codebook
      .groupBy(col("sub")).agg(countDistinct(col("entry")).as("j"))
      .select(col("j")).distinct().as[Long].collect()
    assert(cb === Array(128L), "codebook must be rectangular at exactly the cap")
    // capped quantizers still return full, well-formed top-k
    val cents = everyNth(corpus, 4, 16)
    val probes = corpus.filter(col("vec_id") < 2)
    assert(Similarity.search(probes, corpus, k = 3,
      Index.Ivf(cents, nprobe = 2, Index.Exact)).count() === 6)
    assert(Similarity.search(probes, corpus, k = 3,
      Index.Ivf(cents, nprobe = 16, Index.Pq(codebook, m = 4))).count() === 6)
    corpus.unpersist()
  }

  test("trained PQ codebook: fixed m×j size, packed ≡ relational, decent recall") {
    val df = vectors(60, 16, seed = 19).cache()
    val qs = df.filter(col("vec_id") < 5)
    val cb = Similarity.pqCodebookTrained(df, m = 4, j = 8).cache()
    assert(cb.count() === 4L * 8)
    // entries stay one-byte packable and sub-codes keep subspace width
    val rows = cb.as[(Long, Long, Seq[Int])].collect()
    assert(rows.forall { case (s, e, sc) => s < 4 && e < 128 && sc.length == 4 })
    val relational = Similarity.search(qs, df, k = 5, Index.Pq(cb, m = 4))
      .orderBy("query_id", "rank").as[(Long, Long, Int, Long)].collect()
    // one coarse cell holds the whole corpus: the packed native-ADC scan
    val packed = Similarity.search(qs, df, k = 5,
        Index.Ivf(everyNth(df, 60, 1), nprobe = 1, Index.Pq(cb, m = 4)))
      .orderBy("query_id", "rank").as[(Long, Long, Int, Long)].collect()
    assert(packed.toSeq === relational.toSeq)
    // k-means sub-codebooks should beat random chance by a wide margin:
    // most exact quantized top-5 neighbors survive the 8-entry compression
    val exact = Similarity.search(qs, df, k = 5, Index.Int8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = relational.map(r => (r._1, r._2)).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall")
  }

  test("search(Ivf over Pq): probing every cell degenerates to the full " +
      "PQ scan; " +
      "nprobe=1 only returns neighbors from the query's nearest cell") {
    val df = vectors(40, 16, seed = 23).cache()
    val qs = df.filter(col("vec_id") < 4)
    val cb = Similarity.pqCodebook(df, m = 4, entryEvery = 5)
    // every 10th id → 4 cells; probing all 4 = unpruned PQ scan, identical
    // to the relational form
    val cents = everyNth(df, 10, 4)
    val full = Similarity.search(qs, df, k = 5, Index.Pq(cb, m = 4))
      .orderBy("query_id", "rank").as[(Long, Long, Int, Long)].collect()
    val allCells = Similarity.search(qs, df, k = 5,
        Index.Ivf(cents, nprobe = 4, Index.Pq(cb, m = 4)))
      .orderBy("query_id", "rank").as[(Long, Long, Int, Long)].collect()
    assert(full.nonEmpty)
    assert(allCells.toSeq === full.toSeq)
    // the packed codes the scan reads are m bytes per vector (16× smaller
    // than the float embeddings)
    val codes = Similarity.pqPack(Similarity.pqEncode(df, cb, m = 4))
      .select("pqcode").as[Array[Byte]].collect()
    assert(codes.length === 40)
    assert(codes.forall(_.length === 4))

    // nprobe=1: every neighbor must sit in its query's single probed cell
    val one = Similarity.search(qs, df, k = 5,
        Index.Ivf(cents, nprobe = 1, Index.Pq(cb, m = 4)))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(one.nonEmpty)
    import org.apache.spark.sql.graft.VectorFunctions
    def nearestCell(ids: org.apache.spark.sql.DataFrame) = ids
      .join(broadcast(cents), lit(true))
      .withColumn("c", VectorFunctions.cosineSim(col("embedding"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("c"), (-col("cid")).as("nc"))).as("cell"))
      .as[(Long, Long)].collect().toMap
    val cellOf = nearestCell(df)
    one.foreach { case (q, nb) => assert(cellOf(nb) === cellOf(q)) }
  }

  test("fully-trained IVF-PQ: k-means centroids + per-subspace codebooks " +
      "compose through search(Ivf over Pq)") {
    val df = vectors(60, 16, seed = 29).cache()
    val qs = df.filter(col("vec_id") < 4)
    val cents = Similarity.trainCentroids(df, k = 3)
    val cb = Similarity.pqCodebookTrained(df, m = 4, j = 8).cache()
    val got = Similarity.search(qs, df, k = 5, // all 3 cells probed →
        Index.Ivf(cents, nprobe = 3, Index.Pq(cb, m = 4))) // full PQ scan
      .orderBy("query_id", "rank").as[(Long, Long, Int, Long)].collect()
    val full = Similarity.search(qs, df, k = 5, Index.Pq(cb, m = 4))
      .orderBy("query_id", "rank").as[(Long, Long, Int, Long)].collect()
    assert(got.toSeq === full.toSeq)
    assert(got.nonEmpty)
  }

  test("PqAdcPacked: exact lookup sum; null on bad LUT size or out-of-range entry") {
    import org.apache.spark.sql.graft.VectorFunctions
    // m=2, J=3: lut = [s0e0, s0e1, s0e2, s1e0, s1e1, s1e2]
    val lut = Array(10L, 20L, 30L, 1L, 2L, 3L)
    val ok = Seq((Array[Byte](2, 0), lut)).toDF("code", "lut")
      .select(VectorFunctions.pqAdcPacked(col("code"), col("lut")).as("s"))
      .as[Long].head()
    assert(ok === 30L + 1L)
    val badSize = Seq((Array[Byte](1, 0, 1, 0), lut)).toDF("code", "lut")
      .select(VectorFunctions.pqAdcPacked(col("code"), col("lut")).as("s"))
      .collect()
    assert(badSize.head.isNullAt(0)) // 6 is not a multiple of 4
    val outOfRange = Seq((Array[Byte](3, 0), lut)).toDF("code", "lut")
      .select(VectorFunctions.pqAdcPacked(col("code"), col("lut")).as("s"))
      .collect()
    assert(outOfRange.head.isNullAt(0))
  }

  test("capped quantizers survive non-dense ids: corpus offset by 10^9 " +
      "returns the id-shifted dense results, never empty") {
    // The old `vec_id < every*max` cap predicate assumed ids dense from 0;
    // a corpus whose ids all exceed the bound produced an EMPTY codebook
    // and silently zero neighbors. The sort+limit + rank-entry selection
    // must pick the same vectors under any id offset that preserves the
    // modulus classes (10^9 is divisible by 25 and 50), and a selection
    // with no divisible id at all must fail loudly.
    val off = 1_000_000_000L
    val dense = vectors(400, 16, seed = 13).cache()
    val shifted = dense.select((col("vec_id") + off).as("vec_id"),
      col("embedding")).cache()
    val qDense = dense.filter(col("vec_id") < 10)
    val qShift = shifted.filter(col("vec_id") < off + 10)

    def collect3(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank").as[(Long, Long, Int)].collect().toSeq

    // IVF over explicit centroids: ids {0,50,100,150} and their shifted
    // twins {off, off+50, …} — cell ids carry the offset too
    val centsDense = everyNth(dense, 50, 4)
    val centsShift = everyNth(shifted, 50, 4)
    val ivfDense = collect3(Similarity.search(qDense, dense, k = 3,
      Index.Ivf(centsDense, nprobe = 2, Index.Exact)))
    val ivfShift = collect3(Similarity.search(qShift, shifted, k = 3,
      Index.Ivf(centsShift, nprobe = 2, Index.Exact)))
    assert(ivfDense.nonEmpty)
    assert(ivfShift === ivfDense.map { case (q, n, r) => (q + off, n + off, r) })

    // PQ: entryEvery=25 over 400 ids — entry ids must stay dense 0..15
    // under the offset (rank-based, not vec_id div entryEvery).
    val cb = Similarity.pqCodebook(shifted, m = 4, entryEvery = 25)
    val entries = cb.select("entry").distinct()
      .as[Long].collect().toSet
    assert(entries === (0L until 16L).toSet)
    val noneDivisible = intercept[IllegalArgumentException] {
      Similarity.pqCodebook(shifted.filter(pmod(col("vec_id"), lit(25L)) =!= 0),
        m = 4, entryEvery = 25)
    }
    assert(noneDivisible.getMessage.contains("no vec_id divisible by 25"))
    val pqDense = collect3(Similarity.search(qDense, dense, k = 3,
      Index.Pq(Similarity.pqCodebook(dense, m = 4, entryEvery = 25), m = 4)))
    val pqShift = collect3(Similarity.search(qShift, shifted, k = 3,
      Index.Pq(Similarity.pqCodebook(shifted, m = 4, entryEvery = 25), m = 4)))
    assert(pqDense.nonEmpty)
    assert(pqShift === pqDense.map { case (q, n, r) => (q + off, n + off, r) })

    // IVF-PQ composed
    val ipDense = collect3(Similarity.search(qDense, dense, k = 3,
      Index.Ivf(centsDense, nprobe = 2, Index.Pq(
        Similarity.pqCodebook(dense, m = 4, entryEvery = 25), m = 4))))
    val ipShift = collect3(Similarity.search(qShift, shifted, k = 3,
      Index.Ivf(centsShift, nprobe = 2, Index.Pq(
        Similarity.pqCodebook(shifted, m = 4, entryEvery = 25), m = 4))))
    assert(ipDense.nonEmpty)
    assert(ipShift === ipDense.map { case (q, n, r) => (q + off, n + off, r) })
  }

  test("a semi-join pre-filter scores only kept ids and equals " +
      "search(Exact) over the kept corpus") {
    val corpus = vectors(40, 8, seed = 7).cache()
    val queries = corpus.filter(col("vec_id") < 3)
    val keepIds = (0L until 40L).filter(_ % 3 == 0)
    val keep = keepIds.toDF("vec_id")
    val got = Similarity.search(queries,
      corpus.join(keep, Seq("vec_id"), "left_semi"), k = 4, Index.Exact)
    val gotRows = got.select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    // neighbors come only from the keep set
    assert(gotRows.forall { case (_, n, _) => keepIds.contains(n) })
    // identical to brute force over the pre-filtered corpus
    val want = Similarity.search(queries,
        corpus.filter(pmod(col("vec_id"), lit(3L)) === 0), k = 4, Index.Exact)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(gotRows === want)
    // each query gets its full k (enough kept candidates exist)
    assert(got.groupBy("query_id").count().as[(Long, Long)].collect()
      .forall(_._2 === 4L))
  }

  test("hardNegatives returns only cross-label neighbors, ranked like " +
      "brute force over the cross-label corpus") {
    val base = vectors(40, 8, seed = 21)
    val df = base.withColumn("label",
      (col("vec_id") % 3).cast("int")).cache()
    val got = Similarity.hardNegatives(df.filter(col("vec_id") < 4), df, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Int, Int, Double)].collect()
    // no neighbor shares its query's label
    got.foreach { case (qid, nid, nlabel, _, _) =>
      assert(nlabel !== (qid % 3).toInt)
      assert(nlabel === (nid % 3).toInt)
    }
    // ranks are per-query 1..5 with non-increasing cosine
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1 to 5))
      val byRank = rows.sortBy(_._4).map(_._5)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    assert(got.length === 4 * 5)
  }

  test("mmrTopK replays a driver-side greedy MMR over the exact shortlist") {
    val df = vectors(30, 8, seed = 11).cache()
    val (wRel, wDiv, k, shortlist) = (0.7, 0.3, 4, 8)
    val got = Similarity.mmrTopK(df.filter(col("vec_id") < 3), df,
        k = k, shortlist = shortlist, relWeight = wRel, divWeight = wDiv)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Int, Double)].collect()

    val all = df.as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = all.filter(_._1 < 3).sortBy(_._1).flatMap { case (qid, qv) =>
      val cand = all.filter(_._1 != qid)
        .map { case (nid, nv) => (nid, nv, cos(qv, nv)) }
        .sortBy { case (nid, _, c) => (-c, nid) }.take(shortlist)
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
      (1 to k).foreach { r =>
        val scored = cand.filter(c => !sel.exists(_._1 == c._1)).map { c =>
          val maxSim = if (sel.isEmpty) 0.0 else sel.map(s => cos(c._2, s._2)).max
          (c._1, c._2, wRel * c._3 - wDiv * maxSim)
        }
        val best = scored.minBy { case (nid, _, sc) => (-sc, nid) }
        sel += ((best._1, best._2))
        out += ((qid, best._1, r, best._3))
      }
      out
    }
    assert(got.toSeq === expect.toSeq)
    // diversity actually kicks in: greedy order differs from pure relevance
    val pureRel = Similarity.search(df.filter(col("vec_id") < 3), df, k,
        Index.Exact)
      .orderBy("query_id", "rank").as[(Long, Long, Int, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSeq !== pureRel.map(r => (r._1, r._2)).toSeq)
  }

  test("mmrTopK survives zero-norm embeddings (NaN cosine) instead of " +
      "crashing the query group") {
    // vec 99 is all-zeros: its cosine against anything is 0/0 = NaN, so its
    // greedy score never compares true — the loop must stop cleanly, not
    // index used(-1)
    val base = vectors(6, 8, seed = 33)
    val zero = Seq((99L, Array.fill(8)(0f))).toDF("vec_id", "embedding")
    val corpus = base.unionByName(zero)
    val got = Similarity.mmrTopK(base.filter(col("vec_id") < 2), corpus,
        k = 4, shortlist = 7)
      .as[(Long, Long, Int, Double)].collect()
    // both query groups completed, never picked the NaN-scored zero vector
    assert(got.map(_._1).distinct.sorted.toSeq === Seq(0L, 1L))
    assert(!got.exists(_._2 == 99L))
    assert(got.forall(r => !r._4.isNaN))
  }

  test("labelNoiseScreen flags exactly the planted mislabel") {
    // two tight clusters; vec 4 sits in cluster A but carries label 9
    def near(x: Float, y: Float, eps: Float) = Array(x + eps, y, 0f, 0f)
    val rows = Seq(
      (0L, near(1f, 0f, 0.00f), 0),
      (1L, near(1f, 0f, 0.01f), 0),
      (2L, near(1f, 0f, 0.02f), 0),
      (3L, near(1f, 0f, 0.03f), 0),
      (4L, near(1f, 0f, 0.04f), 9), // mislabeled
      (10L, near(0f, 1f, 0.00f), 1),
      (11L, near(0f, 1f, 0.01f), 1),
      (12L, near(0f, 1f, 0.02f), 1),
      (13L, near(0f, 1f, 0.03f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelNoiseScreen(rows, rows, k = 3)
      .as[(Long, Int, Int, Long)].collect().toSeq
    assert(got === Seq((4L, 9, 0, 3L)))
  }

  test("marginMine: ratio margin de-hubs raw cosine, one best match per " +
      "query, threshold drops weak alignments, reference-fold equality") {
    // q1 has an exact twin (c1); q2's best (c3) is also exact but q2's
    // denser forward neighborhood shrinks its margin below q1's
    val qs = Seq((0L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val cs = Seq((11L, Array(1f, 0f)), (13L, Array(0.75f, 0.25f)),
      (15L, Array(0f, 1f))).toDF("vec_id", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // reference margins with k = 2 (rank-ordered folds, same chain)
    val qv = Map(0L -> Array(1f, 0f), 2L -> Array(0f, 1f))
    val cv = Map(11L -> Array(1f, 0f), 13L -> Array(0.75f, 0.25f),
      15L -> Array(0f, 1f))
    def avgTop(xs: Seq[Double], k: Int) = {
      val top = xs.sorted.reverse.take(k)
      top.foldLeft(0.0)(_ + _) / top.size
    }
    val fa = qv.map { case (q, v) =>
      q -> avgTop(cv.values.map(cos(v, _)).toSeq, 2) }
    val ba = cv.map { case (c, v) =>
      c -> avgTop(qv.values.map(cos(v, _)).toSeq, 2) }
    def margin(q: Long, c: Long) =
      cos(qv(q), cv(c)) / ((fa(q) + ba(c)) / 2.0)
    val expBest = Map(
      0L -> cv.keys.maxBy(c => (margin(0L, c), -c)),
      2L -> cv.keys.maxBy(c => (margin(2L, c), -c)))
    val out = Similarity.marginMine(qs, cs, Index.Exact, k = 2, threshold = 0.0)
      .as[(Long, Long, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._4))).toMap
    assert(out.keySet === Set(0L, 2L))
    assert(out(0L)._1 === expBest(0L) && out(2L)._1 === expBest(2L))
    assert(math.abs(out(0L)._2 - margin(0L, expBest(0L))) < 1e-12)
    assert(math.abs(out(2L)._2 - margin(2L, expBest(2L))) < 1e-12)
    // a threshold between the two best margins keeps exactly the stronger
    val (lo, hi) = (out.values.map(_._2).min, out.values.map(_._2).max)
    assert(lo < hi, "fixture must separate the two margins")
    val cut = (lo + hi) / 2.0
    val kept = Similarity.marginMine(qs, cs, Index.Exact, k = 2, threshold = cut)
      .as[(Long, Long, Double, Double)].collect()
    assert(kept.length === 1 && kept.head._4 === hi)
    // bitext joins two INDEPENDENT id spaces: a candidate sharing the
    // query's numeric id must still be minable
    val csOverlap = Seq((0L, Array(1f, 0f)), (15L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val mined = Similarity.marginMine(qs, csOverlap, Index.Exact, k = 2,
        threshold = 0.0)
      .as[(Long, Long, Double, Double)].collect()
      .map(t => t._1 -> t._2).toMap
    assert(mined(0L) === 0L, "the id-coincident twin must be minable")
  }

  test("marginMine: degenerate neighborhoods (zero-norm vectors, all-zero " +
      "k-NN averages) mine nothing instead of a NaN/Inf-margin match") {
    // one-hot query orthogonal to the whole corpus: every cosine is 0, so
    // fa = ba = 0 and the unguarded margin would be 0/0 = NaN — which
    // Spark orders above every double, passing any threshold
    val qs = Seq((0L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val cs = Seq((11L, Array(0f, 1f, 0f)), (13L, Array(0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.marginMine(qs, cs, Index.Exact,
        k = 2, threshold = 1.0).count()
      === 0L, "orthogonal query must mine nothing, not a NaN match")
    // zero-norm vectors cosine to NULL: dropped from scoring (no crash in
    // the non-nullable top-k buffer), and a whole-corpus-zero case mines
    // nothing at all
    val qsZ = Seq((0L, Array(0f, 0f, 0f)), (2L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val mined = Similarity.marginMine(qsZ, cs, Index.Exact, k = 2, threshold = 0.0)
      .as[(Long, Long, Double, Double)].collect().map(_._1).toSet
    assert(!mined.contains(0L), "zero-norm query must mine nothing")
    assert(mined.contains(2L), "healthy queries still mine")
    val csZ = Seq((11L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding")
    assert(Similarity.marginMine(qsZ, csZ, Index.Exact,
        k = 2, threshold = 0.0).count()
      === 0L)
    // all-NEGATIVE neighborhood (anti-similar corpus): fa + ba < 0 would
    // flip the margin positive — must mine nothing, not an anti-match
    val qsN = Seq((0L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val csN = Seq((11L, Array(-1f, 0f, 0f)), (13L, Array(-1f, -0.1f, 0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.marginMine(qsN, csN, Index.Exact,
        k = 2, threshold = 0.0).count()
      === 0L, "negative-denominator neighborhoods must mine nothing")
  }

  test("marginMine over Lsh: a fully-covering probe set (bits=1, " +
      "multiprobe) reproduces the Exact source; narrow buckets only shrink " +
      "the candidate set") {
    val qs = vectors(8, 16, seed = 7).withColumnRenamed("vec_id", "vid")
      .select((col("vid") * 2).as("vec_id"), col("embedding"))
    val cs = vectors(40, 16, seed = 8).withColumnRenamed("vec_id", "vid")
      .select((col("vid") * 2 + 1).as("vec_id"), col("embedding"))
    // bits = 1 with 1-bit multiprobe probes BOTH buckets -> the shortlist
    // is every pair, so the shortlisted margin chain must equal the scan
    val full = Similarity.marginMine(qs, cs, Index.Exact, k = 3, threshold = 0.0)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val lsh = Similarity.marginMine(qs, cs,
        Index.Lsh(bits = 1, multiProbe = true), k = 3, threshold = 0.0)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(lsh === full)
    // narrow (8-bit) buckets: every mined pair's candidates came from the
    // bucket join, so each query mines at most one row and margins are
    // finite doubles
    val narrow = Similarity.marginMine(qs, cs,
        Index.Lsh(bits = 8, multiProbe = true), k = 3, threshold = 0.0)
      .as[(Long, Long, Double, Double)].collect()
    assert(narrow.map(_._1).distinct.length === narrow.length)
    assert(narrow.forall(r => !r._4.isNaN && !r._4.isInfinite))
  }

  test("matryoshkaRecall: the full-length prefix reproduces the exact " +
      "ranking; a lossy prefix loses the neighbor whose signal lives in " +
      "the tail dims") {
    // q's full top-2 is {a, b}; c hides its bulk in dim 3, so at the
    // 2-dim prefix c is parallel to q (cos ~1) and displaces b
    val emb = Seq(
      (0L, Seq(1f, 1f, 0f, 0f)),     // q (probe)
      (1L, Seq(1f, 0.9f, 0f, 0f)),   // a: near-parallel at every prefix
      (2L, Seq(0f, 1f, 0f, 0f)),     // b: full cos .707, prefix cos .707
      (3L, Seq(1f, 1f, 2f, 0f))      // c: full cos .577, prefix-2 cos ~1
    ).toDF("vec_id", "embedding")
    val out = Similarity.matryoshkaRecall(
        emb.filter(col("vec_id") === 0), emb, prefixDims = Seq(2, 4), k = 2)
      .as[(Int, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out === Seq((2, 0L, 2L, 1L, 0.5), (4, 0L, 2L, 2L, 1.0)))
  }

  test("prefixCosines kernel: every element bit-equals cosineSim over the " +
      "sliced arrays — zero-norm prefixes null, mismatched lengths null, " +
      "full dim last — on randomized and adversarial vectors") {
    val rnd = new scala.util.Random(7)
    def vec(n: Int) = Seq.fill(n)(rnd.nextFloat() * 2 - 1)
    val rows = (1 to 40).map(i => (i.toLong, vec(16), vec(16))) ++ Seq(
      (101L, Seq(0f, 0f, 0f, 1f) ++ vec(12), vec(16)), // zero-norm prefix
      (102L, vec(16), Seq(0f, 0f, 0f, 0f) ++ vec(12)),
      (103L, vec(16), vec(12)),                        // length mismatch
      (104L, vec(8), vec(16)),
      (105L, Seq.fill(16)(0f), vec(16))                // zero-norm full
    )
    val df = rows.toDF("id", "a", "b")
    val dims = Seq(2, 3, 8, 16)
    val kernel = df.select(col("id"),
        org.apache.spark.sql.graft.VectorFunctions.prefixCosines(col("a"), col("b"),
          dims).as("cs"))
      .as[(Long, Seq[Option[Double]])].collect().toMap
    val sliced = dims.map(m => df.select(col("id"),
        org.apache.spark.sql.graft.VectorFunctions.cosineSim(
          slice(col("a"), 1, m), slice(col("b"), 1, m)).as("c"))
      .as[(Long, Option[Double])].collect().toMap)
    val full = df.select(col("id"),
        org.apache.spark.sql.graft.VectorFunctions.cosineSim(col("a"), col("b")).as("c"))
      .as[(Long, Option[Double])].collect().toMap
    rows.map(_._1).foreach { id =>
      dims.indices.foreach { j =>
        assert(kernel(id)(j) === sliced(j)(id), s"id=$id m=${dims(j)}")
      }
      assert(kernel(id)(dims.length) === full(id), s"id=$id full")
    }
  }

  test("labelNoiseScreen: a clean labeling yields an empty screen") {
    def near(x: Float, y: Float, eps: Float) = Array(x + eps, y, 0f, 0f)
    val rows = Seq(
      (0L, near(1f, 0f, 0.00f), 0), (1L, near(1f, 0f, 0.01f), 0),
      (2L, near(1f, 0f, 0.02f), 0), (3L, near(1f, 0f, 0.03f), 0),
      (10L, near(0f, 1f, 0.00f), 1), (11L, near(0f, 1f, 0.01f), 1),
      (12L, near(0f, 1f, 0.02f), 1), (13L, near(0f, 1f, 0.03f), 1)
    ).toDF("vec_id", "embedding", "label")
    assert(Similarity.labelNoiseScreen(rows, rows, k = 3).count() === 0L)
  }

  test("retrievalLabelMetrics: hand-checkable MRR / recall / precision; " +
      "no-relevant query reports rr = 0; singleton label reports null " +
      "recall") {
    val topk = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), // q1: rel at ranks 2, 3
      (2L, 10L, 1), (2L, 11L, 2)                // q2: nothing shares C
    ).toDF("query_id", "neighbor_id", "rank")
    val labels = Seq(
      (1L, "A"), (2L, "C"),
      (10L, "B"), (11L, "A"), (12L, "A"), (13L, "A")
    ).toDF("vec_id", "label")
    val out = Similarity.retrievalLabelMetrics(topk, labels, k = 3)
      .as[(Long, String, Option[Int], Double, Long, Long, Option[Double],
        Double)].collect().sortBy(_._1).toSeq
    // q1 (label A, |A| = 4): first relevant at rank 2, 2 of 3 relevant
    // corpus members found
    assert(out(0) === ((1L, "A", Some(2), 0.5, 2L, 3L, Some(2.0 / 3.0),
      2.0 / 3.0)))
    // q2 (label C, singleton): rr 0, recall undefined
    assert(out(1) === ((2L, "C", None, 0.0, 0L, 0L, None, 0.0)))
  }

  test("retrievalLabelMetrics: a DISJOINT query/corpus id space with " +
      "corpusLabels counts relevant corpus members without the blind " +
      "self-exclusion; a query label absent from the corpus still reports") {
    // queries 100/200 are NOT corpus rows; corpus ids are 10..13
    val topk = Seq(
      (100L, 10L, 1), (100L, 11L, 2), (100L, 12L, 3), // A at ranks 2, 3
      (200L, 10L, 1), (200L, 11L, 2)                  // label Z: no corpus
    ).toDF("query_id", "neighbor_id", "rank")
    val corpus = Seq((10L, "B"), (11L, "A"), (12L, "A"), (13L, "A"))
      .toDF("vec_id", "label")
    val labels = Seq((100L, "A"), (200L, "Z")).toDF("vec_id", "label")
      .union(corpus)
    val out = Similarity.retrievalLabelMetrics(topk, labels, k = 3,
        corpusLabels = Some(corpus))
      .as[(Long, String, Option[Int], Double, Long, Long, Option[Double],
        Double)].collect().sortBy(_._1).toSeq
    // q100 (label A): 3 corpus members carry A and the query is NOT one
    // of them — denominator 3, not 3 − 1 (the off-by-one the explicit
    // self-exclusion removes)
    assert(out(0) === ((100L, "A", Some(2), 0.5, 2L, 3L, Some(2.0 / 3.0),
      2.0 / 3.0)))
    // q200 (label Z, zero corpus members): surfaces with n_rel_corpus 0
    // and null recall instead of dropping
    assert(out(1) === ((200L, "Z", None, 0.0, 0L, 0L, None, 0.0)))
    // and the same-corpus DEFAULT still self-excludes: corpus row 11
    // querying its own corpus sees |A| − 1 = 2 relevant others
    val self = Seq((11L, 12L, 1), (11L, 10L, 2)).toDF(
      "query_id", "neighbor_id", "rank")
    val d = Similarity.retrievalLabelMetrics(self, corpus, k = 2)
      .as[(Long, String, Option[Int], Double, Long, Long, Option[Double],
        Double)].collect().head
    assert(d === ((11L, "A", Some(1), 1.0, 1L, 2L, Some(0.5), 0.5)))
  }
}
