package graft.operators

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.SparkSpec

class EmbeddingDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Clustered vectors: near-dups are tight perturbations of shared bases. */
  private def clustered(n: Int, dim: Int, seed: Long) = {
    val rnd = new Random(seed)
    val bases = Array.fill(5)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    (0 until n).map { i =>
      val base = bases(i % 5)
      val jitter = if (i < 10) 0.01f else 1.0f // first 10 are near-dups of their base
      (i.toLong, base.map(x => x + (rnd.nextFloat() * 2 - 1) * jitter))
    }.toDF("vec_id", "embedding")
  }

  test("embeddingPairsExact finds all pairs >= threshold (matches driver calc)") {
    val df = clustered(40, 16, seed = 1).cache()
    val got = Dedup.embeddingPairsExact(df, col("vec_id"), col("embedding"), 0.95)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    val all = df.as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = (for {
      (ia, va) <- all; (ib, vb) <- all if ia < ib
      c = cos(va, vb) if c >= 0.95
    } yield (ia, ib, c)).sortBy(p => (p._1, p._2))
    assert(got.toSeq === expect.toSeq)
    assert(got.nonEmpty) // the clustered near-dups exist
  }

  test("search(Ivf) ranks exactly within probed cells") {
    val df = clustered(100, 16, seed = 3).cache()
    // every 10th vector is a centroid
    val cents = df.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val got = Similarity.search(df.filter(col("vec_id") < 5), df, k = 3,
        Similarity.Index.Ivf(cents, nprobe = 2, Similarity.Index.Exact))
      .as[(Long, Long, Int, Double)].collect()
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
      // ranks ordered by descending cosine
      val byRank = rows.sortBy(_._3).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    assert(got.nonEmpty)
  }

  test("semanticDedup matches driver-side assign + keep-lowest-id prune") {
    val rnd = new Random(7)
    val dim = 16
    val bases = Array.fill(4)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    // tight perturbations → same-cluster near-dups; loose ones → kept
    val rows = (0 until 50).map { i =>
      val b = bases(i % 4)
      val jitter = if (i < 12) 0.005f else 0.8f
      (i.toLong, b.map(x => x + (rnd.nextFloat() * 2 - 1) * jitter))
    }
    val df = rows.toDF("vec_id", "embedding").cache()
    val cents = bases.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq.toDF("cid", "cv")

    val got = Dedup.semanticDedup(df, col("vec_id"), col("embedding"),
        cents, threshold = 0.98)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)

    def cos(a: Array[Float], b: Array[Float]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val assign = rows.map { case (id, v) =>
      val cid = bases.zipWithIndex
        .map { case (c, i) => (cos(v, c), i) }
        .maxBy { case (c, i) => (c, -i) }._2.toLong
      (id, cid, v)
    }
    val expect = assign.map { case (id, cid, v) =>
      val kept = !assign.exists { case (id2, cid2, v2) =>
        id2 < id && cid2 == cid && cos(v, v2) >= 0.98 }
      (id, cid, kept)
    }
    assert(got.toSeq === expect)
    assert(got.exists(!_._3), "the planted near-dups must be dropped")
    assert(got.count(_._3) > 30, "loose vectors must survive")
  }

  test("semanticDecontaminate: per-doc closest needle + flag matches the " +
      "driver calc; planted leak flagged, orthogonal doc clean, cosine " +
      "ties break to the lowest needle id") {
    import spark.implicits._
    val needles = Seq(
      (100L, Seq(1f, 0f, 0f, 0f)),
      (101L, Seq(0f, 1f, 0f, 0f)),
      // needle 102 duplicates needle 100's direction — a corpus doc along
      // it ties at cosine 1.0 against both; the report must name 100
      (102L, Seq(2f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(0.9f, 0.1f, 0f, 0f)),   // leaked: near needle 100/102
      (2L, Seq(0f, 0f, 1f, 0f)),       // orthogonal to every needle
      (3L, Seq(3f, 0f, 0f, 0f)))       // exact direction: cos 1.0 tie
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticDecontaminate(
        corpus, col("vec_id"), col("embedding"),
        needles, col("vec_id"), col("embedding"), threshold = 0.9)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    def cos(a: Seq[Float], b: Seq[Float]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val c1 = cos(Seq(0.9f, 0.1f, 0f, 0f), Seq(1f, 0f, 0f, 0f))
    assert(got(0) === ((1L, 100L, c1, true)))
    // doc 2 is orthogonal to every needle: cos 0.0 three-way tie → the
    // lowest needle id is reported, and the flag stays clean
    assert(got(1) === ((2L, 100L, 0.0, false)))
    assert(got(2) === ((3L, 100L, 1.0, true)),
      "cosine tie must resolve to the LOWEST needle id")
    // an EMPTY needle set (mistyped benchmark predicate) must still
    // report every corpus doc — clean, null needle/cosine — not return
    // an empty frame a downstream inner join would turn into dropping
    // the whole corpus
    val none = Dedup.semanticDecontaminate(
        corpus, col("vec_id"), col("embedding"),
        needles.filter(col("vec_id") < 0), col("vec_id"), col("embedding"),
        threshold = 0.9)
      .collect().sortBy(_.getLong(0))
    assert(none.length === 3)
    none.foreach { r =>
      assert(r.isNullAt(1) && r.isNullAt(2) && !r.getBoolean(3))
    }
  }

  test("semanticDecontaminateLsh: exact precision (flags are a subset of " +
      "the exact screen's), planted near-copies of needles recovered, " +
      "one report row per corpus doc") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def unit() = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val needleVecs = (0 until 10).map(i => (100L + i, unit()))
    // planted leaks: tiny perturbations of the first 5 needles; the rest
    // of the corpus is random (may or may not brush a needle's bucket)
    val planted = needleVecs.take(5).zipWithIndex.map { case ((_, v), i) =>
      (i.toLong, v.map(x => x + (rnd.nextFloat() * 2 - 1) * 0.002f).toSeq)
    }
    val rest = (10 until 30).map(i => (i.toLong, unit().toSeq))
    val corpus = (planted ++ rest).toDF("vec_id", "embedding")
    val needles = needleVecs.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) false else r.getBoolean(3))).toMap
    val exact = run(Dedup.semanticDecontaminate(
      corpus, col("vec_id"), col("embedding"),
      needles, col("vec_id"), col("embedding"), threshold = 0.98))
    val lsh = run(Dedup.semanticDecontaminateLsh(
      corpus, col("vec_id"), col("embedding"),
      needles, col("vec_id"), col("embedding"), threshold = 0.98))
    assert(lsh.keySet === corpus.select("vec_id").as[Long].collect().toSet,
      "one row per corpus doc even when a doc's bucket holds no needle")
    // precision is exact: anything the LSH screen flags, the exact
    // screen flags too (every reported cosine is really computed)
    assert(lsh.filter(_._2).keySet.subsetOf(exact.filter(_._2).keySet))
    // the planted 0.002-perturbed copies land in their needle's bucket
    // (or a 1-bit neighbor under multiprobe) and must all be recovered
    (0L until 5L).foreach(i => assert(lsh(i), s"planted leak $i missed"))
  }
}
