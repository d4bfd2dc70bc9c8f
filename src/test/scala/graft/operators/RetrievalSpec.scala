package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** BM25 retrieval ([[TextIndex.bm25TopK]]) and DSIR importance resampling
  * ([[Sampling.dsirScores]]/[[Sampling.dsirTopN]]/[[Sampling.trainDsirWeights]]).
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------------ BM25

  private def bm25Ref(tf: Long, df: Long, n: Long, dl: Long, avgdl: Double,
      k1: Double = 1.2, b: Double = 0.75): Double = {
    val idf = (n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5)
    val contrib = idf * ((tf.toDouble * (k1 + 1.0)) /
      (tf.toDouble + k1 * (1.0 - b + b * (dl.toDouble / avgdl))))
    // the engine's 2^20 fixed-point quantization (single-term query)
    math.round(contrib * TextIndex.Bm25Scale).toDouble / TextIndex.Bm25Scale
  }

  test("bm25TopK: single-term query scores match the closed form and rank " +
      "by tf with the doc-length penalty") {
    // doc 1: apple x2 in 4 tokens; doc 2: apple x2 in 8 tokens (longer ->
    // penalized); doc 3: apple x1; doc 4: no apple
    val docs = Seq(
      (1L, "apple apple pear plum"),
      (2L, "apple apple pear plum fig fig fig fig"),
      (3L, "apple pear plum fig"),
      (4L, "pear plum fig date")).toDF("doc_id", "text")
    val q = Seq((10L, "apple")).toDF("qid", "term")
    val out = TextIndex.bm25TopK(docs, col("doc_id"), col("text"), q, k = 4)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    val avgdl = 20.0 / 4.0
    assert(out.map(_._3).toSeq === Seq(1L, 2L, 3L)) // doc 4 never matches
    assert(out.map(_._2).toSeq === Seq(1, 2, 3))
    val expected = Seq(
      bm25Ref(tf = 2, df = 3, n = 4, dl = 4, avgdl = avgdl),
      bm25Ref(tf = 2, df = 3, n = 4, dl = 8, avgdl = avgdl),
      bm25Ref(tf = 1, df = 3, n = 4, dl = 4, avgdl = avgdl))
    out.map(_._4).zip(expected).foreach { case (got, want) =>
      assert(got === want, s"exact closed-form mismatch: $got vs $want")
    }
  }

  test("bm25TopK: multi-term scores add per-term contributions; rare terms " +
      "outweigh common ones at equal tf; k bounds the result") {
    val docs = Seq(
      (1L, "common rare alpha beta"),
      (2L, "common alpha beta gamma"),
      (3L, "common alpha beta gamma"),
      (4L, "common alpha beta gamma"),
      (5L, "common alpha beta gamma")).toDF("doc_id", "text")
    val q = Seq((7L, "common"), (7L, "rare")).toDF("qid", "term")
    val out = TextIndex.bm25TopK(docs, col("doc_id"), col("text"), q, k = 2)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    assert(out.length === 2, "k = 2 must cap the per-query rows")
    // doc 1 matches both terms (and 'rare' has df = 1 -> big idf): rank 1
    assert(out.head._3 === 1L)
    assert(out.head._4 > out(1)._4)
    // rank-2 tie between docs 2..5 (identical score) -> smallest id
    assert(out(1)._3 === 2L)
  }

  test("bm25TopK: deterministic under repartitioning (ordered fold, " +
      "bounded top-k)") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val q = Seq((1L, "the"), (1L, "data"), (2L, "with")).toDF("qid", "term")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextIndex.bm25TopK(df, col("doc_id"), col("text"), q, k = 5)
        .as[(Long, Int, Long, Double)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(run(docs) === run(docs.repartition(13)))
  }

  // ------------------------------------------------------------------ DSIR

  test("trainDsirWeights: target-only vocabulary gets positive weight, " +
      "raw-only negative, both-unseen buckets get the corpus-size baseline") {
    val target = Seq(Tuple1("aa aa aa"), Tuple1("aa bb")).toDF("text")
    val raw = Seq(Tuple1("cc cc"), Tuple1("cc dd dd")).toDF("text")
    val w = Sampling.trainDsirWeights(target, raw, col("text"), numBuckets = 8)
    assert(w.size === 8)
    def bucket(t: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 8).toInt
    }
    assert(w(bucket("aa")) > 0, "target-dominant bucket must score positive")
    assert(w(bucket("cc")) < 0, "raw-dominant bucket must score negative")
    val occupied = Set("aa", "bb", "cc", "dd").map(bucket)
    val baseline = math.log((1.0 / (5 + 8)) / (1.0 / (5 + 8)))
    (0 until 8).filterNot(occupied).foreach { b =>
      assert(w(b) === baseline, s"empty bucket $b gets the smoothed baseline")
    }
  }

  test("dsirScores: per-doc score is the ordered fold of count x weight; " +
      "docs without tokens score 0 and are retained") {
    val weights = (0 until 8).map(b => b * 0.125 - 0.5)
    val df = Seq((1L, "aa aa bb"), (2L, ""), (3L, "cc")).toDF("id", "text")
    val out = Sampling.dsirScores(df, col("id"), col("text"), weights)
      .as[(Long, Double)].collect().toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(2L) === 0.0)
    def bucket(t: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 8).toInt
    }
    val exp1 = Seq(bucket("aa") -> 2L, bucket("bb") -> 1L)
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
      .foldLeft(0.0) { case (acc, (b, c)) => acc + c.toDouble * weights(b) }
    assert(out(1L) === exp1)
    assert(out(3L) === 1.0 * weights(bucket("cc")))
  }

  test("dsirTopN: selects the n highest-importance docs, score desc then " +
      "id asc, stable under repartitioning") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val w = graft.queries.PinnedArtifacts.DsirWeights64
    val all = Sampling.dsirScores(docs, col("doc_id"), col("text"), w)
      .as[(Long, Double)].collect()
    val expect = all.sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    val got = Sampling.dsirTopN(docs, col("doc_id"), col("text"), w, n = 10)
      .as[(Long, Double)].collect().sortBy { case (id, s) => (-s, id) }.toSeq
    assert(got === expect)
    val got2 = Sampling.dsirTopN(docs.repartition(11), col("doc_id"),
        col("text"), w, n = 10)
      .as[(Long, Double)].collect().sortBy { case (id, s) => (-s, id) }.toSeq
    assert(got2 === expect)
  }

  // --------------------------------------------------- hashed tf-idf vectors

  test("hashedTfidfVectors: hand-checkable weights, zero vector for blank " +
      "docs, bit-identical under repartitioning") {
    def bucket(t: String, dims: Int): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % dims).toInt
    }
    val df = Seq((1L, "aa aa bb"), (2L, "aa cc"), (3L, "")).toDF("doc_id", "text")
    val out = TextIndex.hashedTfidfVectors(df, col("doc_id"), col("text"),
        dims = 16).as[(Long, Seq[Float])].collect().toMap
    assert(out(3L).forall(_ === 0.0f), "blank doc must get the zero vector")
    // doc 1: aa tf=2 df=2 -> 2*(3/2)=3.0; bb tf=1 df=1 -> 1*3=3.0
    // (fixed-point longs summed per bucket, ONE conversion at the end —
    // robust to aa/bb hashing into the same bucket)
    val s = 1048576.0
    val sums = Seq("aa" -> 2.0 * (3.0 / 2.0), "bb" -> 3.0)
      .groupMapReduce(e => bucket(e._1, 16))(e => math.rint(e._2 * s).toLong)(_ + _)
    val v1 = Array.tabulate(16)(d => (sums.getOrElse(d, 0L).toDouble / s).toFloat)
    assert(out(1L).toArray.toSeq === v1.toSeq)
    val out2 = TextIndex.hashedTfidfVectors(df.repartition(5), col("doc_id"),
        col("text"), dims = 16).as[(Long, Seq[Float])].collect().toMap
    assert((1L to 3L).forall(i => out(i) === out2(i)))
  }

  // ---------------------------------------------------------- ann recall

  test("recallReport: exact per-query hit ratio, zero-hit and missing " +
      "queries included") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 21L), (2L, 20L), (9L, 1L))
      .toDF("query_id", "neighbor_id")
    val out = Similarity.recallReport(exact, approx)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // q1: 1/2, q2: 2/2, q3: 0/1; approx-only q9 doesn't appear (no truth)
    assert(out === Seq((1L, 2L, 1L, 0.5), (2L, 2L, 2L, 1.0), (3L, 1L, 0L, 0.0)))
  }

  test("bm25TopKFromPostings: serving from a maintained (incrementally " +
      "folded) index equals scoring the raw corpus") {
    val v1 = Seq((1L, "apple pear plum"), (2L, "apple apple fig")).toDF("doc_id", "text")
    val batch = Seq((2L, "apple fig fig"), (3L, "pear pear apple")).toDF("doc_id", "text")
    val finalCorpus = Seq((1L, "apple pear plum"), (2L, "apple fig fig"),
      (3L, "pear pear apple")).toDF("doc_id", "text")
    val idx = TextIndex.postingsIncremental(
      TextIndex.postings(v1, col("doc_id"), col("text")),
      batch, col("doc_id"), col("text"))
    val q = Seq((9L, "apple"), (9L, "pear")).toDF("qid", "term")
    val n = idx.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("__n"))
    val served = TextIndex.bm25TopKFromPostings(idx, n, q, k = 3)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2).toSeq
    val direct = TextIndex.bm25TopK(finalCorpus, col("doc_id"), col("text"),
        q, k = 3)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2).toSeq
    assert(served === direct)
  }

  // ------------------------------------------------- weighted sampling

  test("weightedSample: exact-n, reproducible, zero/negative weights " +
      "excluded, and heavier rows are sampled proportionally more often") {
    val df = (1L to 400L).map(i => (i, if (i <= 200) 1.0 else 9.0))
      .toDF("id", "w")
    val kept = Sampling.weightedSample(df, col("id"), col("w"), n = 100)
      .as[(Long, Double)].collect()
    assert(kept.length === 100)
    // E[heavy kept] >> E[light kept]: with 9:1 weights, the heavy half
    // should dominate the sample decisively (prob. of this failing for a
    // correct A-ES sampler is negligible)
    val heavy = kept.count(_._1 > 200)
    assert(heavy >= 75, s"heavy rows under-sampled: $heavy/100")
    // reproducible under repartitioning
    val kept2 = Sampling.weightedSample(df.repartition(7), col("id"),
        col("w"), n = 100).as[(Long, Double)].collect()
    assert(kept.map(_._1).sorted.toSeq === kept2.map(_._1).sorted.toSeq)
    // zero/negative/NaN weights never selected even with room
    val z = Seq((1L, 1.0), (2L, 0.0), (3L, -1.0), (4L, Double.NaN))
      .toDF("id", "w")
    val kz = Sampling.weightedSample(z, col("id"), col("w"), n = 4)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(kz === Seq(1L))
    // duplicate keys collapse to one slot (max weight); every row of a
    // selected key survives the semi-join
    val dup = Seq((1L, 5.0), (1L, 0.5), (2L, 5.0), (3L, 5.0)).toDF("id", "w")
    val kd = Sampling.weightedSample(dup, col("id"), col("w"), n = 2)
      .as[(Long, Double)].collect()
    assert(kd.map(_._1).distinct.length === 2)
    // astronomically large weights still rank by hash, not by id order
    // (the direct u^(1/w) form would round every rank to exactly 1.0 and
    // degenerate to the n smallest ids)
    val big = (1L to 200L).map(i => (i, 1e18)).toDF("id", "w")
    val kb = Sampling.weightedSample(big, col("id"), col("w"), n = 50)
      .as[(Long, Double)].collect().map(_._1).sorted.toSeq
    assert(kb !== (1L to 50L).toSeq, "huge equal weights must not collapse to the id head")
  }

  // ----------------------------------------------------------- fertility

  test("fertilityByGroup: counts and ratios match hand computation over a " +
      "pinned merge table") {
    // merges: (a,b) -> "ab"; ("ab","</w>") -> word "ab" = 1 token
    val merges = Seq(("a", "b"), ("ab", "</w>"))
    val df = Seq(
      ("en", "ab ab cd"), // ab=1 tok x2, cd=3 toks (c,d,</w>) -> 5 tokens
      ("en", ""),         // empty: counts docs and chars only
      ("de", "ba")        // b,a,</w> -> 3 tokens
    ).toDF("lang", "text")
    val out = Bpe.fertilityByGroup(df, col("text"), col("lang"), merges)
      .orderBy(col("grp"))
      .as[(String, Long, Long, Long, Long, Double, Double)].collect()
    assert(out.length === 2)
    val Array(de, en) = out
    assert(de === (("de", 1L, 2L, 1L, 3L, 3.0, 2.0 / 3.0)))
    assert(en === (("en", 2L, 8L, 3L, 5L, 5.0 / 3.0, 8.0 / 5.0)))
  }

  test("the documented brute->LSH swap gate composes end to end: hashed " +
      "TF-IDF vectors feed BOTH searchers and recallReport scores the " +
      "approximate one against the exact one per query") {
    // clustered corpus: 3 topic vocabularies, several docs each — docs of
    // a topic share terms, so their hashed vectors are close and LSH
    // buckets them together; probes are one doc per topic
    val topics = Seq(
      Seq("alpha", "beta", "gamma", "delta"),
      Seq("epsilon", "zeta", "eta", "theta"),
      Seq("iota", "kappa", "lambda", "mu"))
    val docs = (for {
      (vocab, t) <- topics.zipWithIndex
      d <- 0 until 4
    } yield ((t * 10 + d).toLong,
      (vocab ++ vocab.take(d + 1)).mkString(" "))).toDF("doc_id", "text")
    val vecs = TextIndex.hashedTfidfVectors(
        docs, col("doc_id"), col("text"), dims = 64)
      .select(col("doc_id").as("vec_id"), col("vec").as("embedding"))
    val probes = vecs.filter(col("vec_id") % 10 === 0)
    val exact = Similarity.search(probes, vecs, k = 3, Similarity.Index.Exact)
    val approx = Similarity.search(probes, vecs, k = 3,
      Similarity.Index.Lsh(bits = 8, multiProbe = true))
    val report = Similarity.recallReport(exact, approx)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(report.map(_._1) === Seq(0L, 10L, 20L), "one row per probe")
    report.foreach { case (qid, nExact, nHit, recall) =>
      assert(nExact === 3L)
      assert(recall === nHit.toDouble / nExact)
      // same-topic docs dominate each probe's exact top-k and share the
      // probe's bucket — the swap gate must show high recall here
      assert(recall >= 2.0 / 3.0, s"probe $qid recall $recall")
    }
  }

  test("rrfFuse: both-list docs beat single-list docs, absent ranks " +
      "contribute zero, ties break by doc_id, order is hand-checked") {
    def rrf(ranks: Int*): Double =
      ranks.map(r => 1.0 / (60.0 + r)).reduceLeft(_ + _)
    val lex = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("qid", "doc_id", "rank")
    val dense = Seq((1L, 11L, 1), (1L, 13L, 2), (1L, 12L, 3))
      .toDF("qid", "doc_id", "rank")
    val out = TextIndex.rrfFuse(Seq(lex, dense), k = 4)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2).toSeq
    // 11: 1/(60+2)+1/(60+1); 12: 1/(60+3)+1/(60+3);
    // 10: 1/(60+1); 13: 1/(60+2)
    assert(out === Seq(
      (1L, 1, 11L, 1.0 / 62 + 1.0 / 61),
      (1L, 2, 12L, rrf(3, 3)),
      (1L, 3, 10L, 1.0 / 61),
      (1L, 4, 13L, 1.0 / 62)))
    // equal fused scores (both single-list at the same rank) break by id:
    // docs 10 (lex r1) and 13 (dense r1, after removing the overlaps)
    val lexOnly = Seq((2L, 20L, 1)).toDF("qid", "doc_id", "rank")
    val denseOnly = Seq((2L, 19L, 1)).toDF("qid", "doc_id", "rank")
    val tied = TextIndex.rrfFuse(Seq(lexOnly, denseOnly), k = 2)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2).toSeq
    assert(tied.map(_._3) === Seq(19L, 20L))
    // fusing a single list preserves its order (monotone transform)
    val solo = TextIndex.rrfFuse(Seq(lex), k = 3)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2).map(_._3).toSeq
    assert(solo === Seq(10L, 11L, 12L))
  }

  test("phraseMining: exact counts and lift, collocations outrank " +
      "frequent-but-independent pairs, minCount floors hapax pairs") {
    // "new york" always adjacent (5x); "of" and "the" frequent but paired
    // only twice out of many occurrences; "rare gem" appears once (floored)
    val docs = Seq(
      "new york of the of a the b of c the d",
      "new york of e the f of g the h rare gem",
      "new york new york new york of the").toDF("text")
    val out = TextIndex.phraseMining(docs, col("text"), k = 10,
        minCount = 2L)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    val byPair = out.map(r => (r._1, r._2) -> r).toMap
    val ny = byPair(("new", "york"))
    // counts: new=5, york=5, (new,york)=5; N = total tokens
    val nTokens = docs.as[String].collect()
      .map(_.split("\\s+").length).sum.toLong
    assert((ny._3, ny._4, ny._5) === (5L, 5L, 5L))
    assert(ny._6 === 5.0 * nTokens / (5.0 * 5.0))
    val ofThe = byPair(("of", "the"))
    assert(ofThe._3 === 2L)
    assert(ny._6 > ofThe._6,
      "the true collocation must outrank the frequent-word pair")
    // hapax pair floored out; ranking is lift desc with (w1, w2) ties
    assert(!byPair.contains(("rare", "gem")))
    assert(out === out.sortBy(r => (-r._6, r._1, r._2)))
  }
}
