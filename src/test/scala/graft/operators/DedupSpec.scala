package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TextFunctions

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup
    (4L, "completely different content here entirely now"),
    (5L, "short")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per identical text with group size") {
    val out = Dedup.exact(docs, col("doc_id"), col("text"))
      .orderBy("keep_id").as[(Long, Long)].collect()
    assert(out === Array((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("exactScoped: collapses within a scope only, retains and counts " +
      "cross-scope copies") {
    val d = Seq(
      (1L, "s1", "same text"), (2L, "s1", "same text"), // in-scope dup
      (3L, "s2", "same text"),                          // cross-scope copy
      (4L, "s2", "only here")
    ).toDF("id", "src", "text")
    val out = Dedup.exactScoped(d, col("id"), col("text"), col("src"))
      .as[(String, Long, Long, Long)].collect()
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out === Seq(
      ("s1", 1L, 2L, 1L),  // dup collapsed in s1, one other scope has it
      ("s2", 3L, 1L, 1L),  // retained in s2, s1 has it too
      ("s2", 4L, 1L, 0L))) // unique everywhere
  }

  test("wordShingles: sliding k-grams; short docs yield whole-text shingle") {
    val s = Seq(Tuple1("a b c d")).toDF("t")
      .select(TextFunctions.wordShingles(col("t"), 3).as("sh"))
      .as[Seq[String]].head()
    assert(s === Seq("a b c", "b c d"))
    val short = Seq(Tuple1("a b")).toDF("t")
      .select(TextFunctions.wordShingles(col("t"), 3).as("sh"))
      .as[Seq[String]].head()
    assert(short === Seq("a b"))
  }

  test("minHashPairs finds the exact and near dup, verified by true jaccard") {
    val pairs = Dedup.minHashPairs(docs, col("doc_id"), col("text"),
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)) === Array((1L, 2L), (1L, 3L), (2L, 3L)))
    val exact = pairs.find(p => p._1 == 1 && p._2 == 2).get
    assert(exact._3 === 1.0)
  }

  test("jaccardPairs exact inverted-index join matches brute force (both strategies)") {
    val idx = Dedup.shingleIndex(docs, col("doc_id"), col("text"), 2)
    val countRes = Dedup.jaccardCount(idx, 0.3)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect()
    val prefixRes = Dedup.jaccardPrefix(idx, 0.3)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect()
    assert(countRes.toSeq === prefixRes.toSeq)
    assert(Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
        shingleK = 2, threshold = 0.3)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect().toSeq ===
      countRes.toSeq)
    val got = countRes
    // brute force on driver
    def shingles(t: String) =
      t.split("\\s+").sliding(2).map(_.mkString(" ")).toSet
    val texts = Seq(1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "the quick brown fox jumps over the lazy cat",
      4L -> "completely different content here entirely now",
      5L -> "short")
    val expect = (for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      sa = if (ta.split("\\s+").length < 2) Set(ta) else shingles(ta)
      sb = if (tb.split("\\s+").length < 2) Set(tb) else shingles(tb)
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.3
    } yield (ia, ib, j)).sortBy(p => (p._1, p._2))
    assert(got.toSeq === expect)
  }

  test("jaccardHistogram: integer buckets match the driver calc, every " +
      "bin reported, exact dups fold into the top bucket") {
    val got = Dedup.jaccardHistogram(docs, col("doc_id"), col("text"),
        bins = 10, shingleK = 2)
      .orderBy("bucket").as[(Int, Double, Double, Long)].collect().toSeq
    assert(got.map(_._1) === (0 until 10))
    assert(got.map(_._2) === (0 until 10).map(_ / 10.0))
    // driver brute force over the same fixture (candidates = pairs with
    // at least one shared shingle; bucket = (inter * bins) div union,
    // jaccard 1.0 folded into the last bin)
    def shingles(t: String) = {
      val w = t.split("\\s+")
      if (w.length < 2) Set(t) else w.sliding(2).map(_.mkString(" ")).toSet
    }
    val texts = Seq(1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "the quick brown fox jumps over the lazy cat",
      4L -> "completely different content here entirely now",
      5L -> "short")
    val expect = (for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      inter = shingles(ta).intersect(shingles(tb)).size
      if inter > 0
      union = shingles(ta).union(shingles(tb)).size
    } yield math.min(inter * 10 / union, 9))
      .groupBy(identity).map { case (b, xs) => (b, xs.size.toLong) }
    assert(got.map(g => g._1 -> g._4).toMap.filter(_._2 > 0) === expect)
    // the identical pair (1, 2) must land in the top bucket
    assert(got(9)._4 >= 1L)
  }

  test("components: chains collapse to the minimum id per component") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L))
      .toDF("id_a", "id_b")
    val got = Dedup.components(pairs).as[(Long, Long)].collect().sortBy(_._1)
    assert(got === Array((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L), (22L, 20L), (23L, 20L)))
  }

  test("components: a 300-hop chain converges inside the default round " +
      "budget (star rounds are O(log² n), not O(diameter))") {
    // plain min-label propagation needs ~300 rounds here and would return
    // unconverged labels under 20 rounds; large-star/small-star collapses
    // the chain in a handful of rounds. starComponents is the DISTRIBUTED
    // star loop — components() would collect 300 edges and union-find
    // them on the driver, testing nothing about the rounds.
    val chain = (0L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.starComponents(Dedup.downhillEdges(chain),
        Dedup.ComponentsMaxIter)
      .as[(Long, Long)].collect()
    assert(got.length === 301)
    assert(got.forall(_._2 == 0L))
  }

  test("components: an exhausted round budget still yields exactly one " +
      "well-formed downhill label per node") {
    // a 40-hop chain cannot converge in one star round; the labeling must
    // stay one-row-per-node with downhill labels (an over-approximation),
    // never duplicate conflicting rows
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.starComponents(Dedup.downhillEdges(chain), 1)
      .as[(Long, Long)].collect()
    assert(got.length === 41)
    assert(got.map(_._1).distinct.length === 41, "duplicate node rows")
    assert(got.forall { case (id, c) => c <= id }, "label not downhill")
  }

  test("components: local union-find and distributed star loop agree on a " +
      "mixed graph (chains, merged stars, self-loops, singleton pairs)") {
    // the {(3,1),(3,2)} shape is the probe counterexample: no dst is a src,
    // yet 1 and 2 must still merge through 3 — an early-terminating
    // flatness-only probe returns two components here
    val pairs = Seq((3L, 1L), (3L, 2L), (7L, 7L), (5L, 4L), (6L, 5L),
      (10L, 12L), (12L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val local = Dedup.components(pairs).as[(Long, Long)].collect().sortBy(_._1)
    val dist = Dedup.starComponents(Dedup.downhillEdges(pairs),
        Dedup.ComponentsMaxIter)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(local === dist)
    assert(local === Array((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L), (7L, 7L), (10L, 10L), (11L, 10L), (12L, 10L),
      (20L, 20L), (21L, 20L)))
  }

  test("dedup operators handle empty and single-doc inputs") {
    val empty = docs.filter(col("doc_id") < 0)
    assert(Dedup.exact(empty, col("doc_id"), col("text")).count() === 0)
    assert(Dedup.minHashPairs(empty, col("doc_id"), col("text")).count() === 0)
    assert(Dedup.simHashPairs(empty, col("doc_id"), col("text")).count() === 0)
    val emptyIdx = Dedup.shingleIndex(empty, col("doc_id"), col("text"), 3)
    assert(Dedup.jaccardCount(emptyIdx, 0.8).count() === 0)
    assert(Dedup.jaccardPrefix(emptyIdx, 0.8).count() === 0)
    assert(Dedup.components(empty.select(col("doc_id").as("id_a"),
      col("doc_id").as("id_b"))).count() === 0)
    val single = docs.filter(col("doc_id") === 1)
    assert(Dedup.exact(single, col("doc_id"), col("text")).count() === 1)
    assert(Dedup.minHashPairs(single, col("doc_id"), col("text")).count() === 0)
  }

  test("operators are total on null-text rows and empty inputs") {
    val withNull = docs.unionAll(Seq((99L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    // nothing throws; null rows contribute no signatures/postings
    assert(Dedup.minHashPairs(withNull, col("doc_id"), col("text"),
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .count() === 3L) // same pairs as without the null row
    assert(Dedup.simHashPairs(withNull, col("doc_id"), col("text")).count() >= 1L)
    assert(Dedup.jaccardPrefix(
        Dedup.shingleIndex(withNull, col("doc_id"), col("text"), 2), 0.3)
      .filter(col("id_a") === 99 || col("id_b") === 99).count() === 0L)
    assert(Dedup.containmentPairs(
      withNull.filter(col("doc_id") === 99), col("doc_id"), col("text"),
      docs, col("doc_id"), col("text")).count() === 0L)
    // empty pair set: collapseByPriority is a passthrough
    val emptyPairs = docs.filter(col("doc_id") < 0)
      .select(col("doc_id").as("id_a"), col("doc_id").as("id_b"))
    assert(Dedup.collapseByPriority(docs, col("doc_id"), emptyPairs,
      col("doc_id")).count() === docs.count())
    // chunking and repetition stats over empty/whitespace text don't throw
    val weird = Seq((1L, ""), (2L, "   "), (3L, "one")).toDF("doc_id", "text")
    assert(TextIndex.chunks(weird, col("doc_id"), col("text"), 4, 2).count() === 3L)
    assert(TextIndex.repetitionStats(weird, col("doc_id"), col("text")).count() === 3L)
  }

  test("jaccard strategies agree on the real documents table (sf0.001)") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val idx = Dedup.shingleIndex(real, col("doc_id"), col("text"), 3)
    val a = Dedup.jaccardCount(idx, 0.8)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    val b = Dedup.jaccardPrefix(idx, 0.8)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    assert(a.toSeq === b.toSeq)
  }

  test("containment finds a needle quoted inside a longer doc where jaccard dilutes") {
    val needles = Seq((1L, "alpha beta gamma delta")).toDF("id", "text") // 2 shingles
    val corpus = Seq(
      (10L, "intro words alpha beta gamma delta and a long outro tail here"),
      (11L, "completely unrelated content with many different words")
    ).toDF("id", "text")
    val got = Dedup.containmentPairs(needles, col("id"), col("text"),
        corpus, col("id"), col("text"), shingleK = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq === Seq((1L, 10L, 1.0))) // both needle shingles inside doc 10
    // jaccard on the same pair is heavily diluted by doc 10's extra shingles
    val jac = Dedup.jaccardPairs(
        needles.select(col("id"), col("text"))
          .unionAll(corpus.select(col("id"), col("text"))),
        col("id"), col("text"), shingleK = 3, threshold = 0.9)
      .count()
    assert(jac === 0L)
  }

  test("collapseByPriority keeps the best-priority member per component") {
    // docs 1,2,3 form one near-dup component at threshold 0.5; priority
    // crowns doc 2, so the collapse must keep 2 (not the min id)
    val pri = docs.withColumn("pr",
      when(col("doc_id") === 2, lit(100L)).otherwise(col("doc_id").cast("long")))
    val pairs = Dedup.minHashPairs(docs, col("doc_id"), col("text"),
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
    val kept = Dedup.collapseByPriority(pri, col("doc_id"), pairs, col("pr"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(2L, 4L, 5L))
  }

  test("prefix candidates stay bounded under a universal stop-shingle") {
    // 40 docs all sharing one 3-shingle, otherwise unique: the unbounded
    // inverted index co-occurs every pair (40·39/2 = 780 candidates); the
    // PPJoin prefix ranks the universal shingle last by rarity so it enters
    // no prefix, and candidate volume collapses to zero.
    val corpus = (1 to 40)
      .map(i => (i.toLong, s"the quick fox u$i v$i w$i x$i y$i z$i a$i b$i"))
      .toDF("id", "text")
    val posting = Dedup.shingleIndex(corpus, col("id"), col("text"), 3).indexed
    val unbounded = posting.select(col("sfp"), col("id").as("id_a"))
      .join(posting.select(col("sfp"), col("id").as("id_b")), Seq("sfp"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct().count()
    assert(unbounded === 780L)
    assert(Dedup.prefixCandidates(posting, 0.8).count() === 0L)
    // end-to-end default (auto) agrees with brute force: no pairs
    assert(Dedup.jaccardPairs(corpus, col("id"), col("text"),
      shingleK = 3, threshold = 0.8).count() === 0L)
  }

  test("jaccardPairs picks its path from the measured max shingle df: " +
      "each side of CountMaxDf gives the other path's exact pairs") {
    def corpus(n: Int) = ((1 to n).map(i =>
        (i.toLong, s"the quick fox u$i v$i w$i x$i y$i z$i a$i b$i")) ++
      Seq((5001L, "the quick fox u1 v1 w1 x1 y1 z1 a1 b1"),
        (5002L, "the quick fox u2 v2 w2 x2 y2 z2 a2 b2 c2")))
      .toDF("id", "text")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    // the prefix path ranks postings by rarity (a Window); count has none
    def isPrefix(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.contains("Window")
    // "the quick fox" sits in every doc: 42 docs stay under the constant
    val small = corpus(40)
    val smallPairs = Dedup.jaccardPairs(small, col("id"), col("text"))
    assert(!isPrefix(smallPairs))
    assert(sorted(smallPairs) === sorted(Dedup.jaccardPrefix(
      Dedup.shingleIndex(small, col("id"), col("text"), 3), 0.8)))
    // ...and CountMaxDf + 2 docs cross it
    val big = corpus(Dedup.CountMaxDf.toInt)
    val bigPairs = Dedup.jaccardPairs(big, col("id"), col("text"))
    assert(isPrefix(bigPairs))
    val got = sorted(bigPairs)
    assert(got === sorted(Dedup.jaccardCount(
      Dedup.shingleIndex(big, col("id"), col("text"), 3), 0.8)))
    assert(got.map(p => (p._1, p._2)) === Seq((1L, 5001L), (2L, 5002L)))
  }

  test("simHashPairs with blocks=5 (12-bit keys) finds the same hamming<=3 pairs") {
    // radius 4 takes 5 pigeonhole blocks of 12 bits: its pairs are the
    // brute-force hamming <= 4 set, and the hamming <= 3 ones among them
    // are exactly the 4 × 15-bit join's
    val base = Dedup.simHashPairs(docs, col("doc_id"), col("text"), maxHamming = 3)
      .orderBy("id_a", "id_b").as[(Long, Long, Int)].collect()
    val five = Dedup.simHashPairs(docs, col("doc_id"), col("text"), maxHamming = 4)
      .orderBy("id_a", "id_b").as[(Long, Long, Int)].collect()
    assert(base.toSeq === five.filter(_._3 <= 3).toSeq)
    val sigs = docs.select(col("doc_id"), Dedup.simHash(col("text")).as("sh"))
      .as[(Long, Long)].collect()
    val expect = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 4
    } yield (ia, ib, h)).sortBy(p => (p._1, p._2))
    assert(five.toSeq === expect.toSeq)
    intercept[IllegalArgumentException] {
      Dedup.simHashPairs(docs, col("doc_id"), col("text"),
        maxHamming = Dedup.SimHashBits)
    }
  }

  test("simHashPairs128 block join matches brute-force hamming (recall 1)") {
    val sigs = docs.select(col("doc_id"), Dedup.simHash128(col("text")).as("sh"))
      .as[(Long, Seq[Long])].collect()
    val expect = (for {
      (ia, sa) <- sigs
      (ib, sb) <- sigs
      if ia < ib
      h = java.lang.Long.bitCount(sa(0) ^ sb(0)) + java.lang.Long.bitCount(sa(1) ^ sb(1))
      if h <= 3
    } yield (ia, ib, h)).sortBy(p => (p._1, p._2))
    val got = Dedup.simHashPairs128(docs, col("doc_id"), col("text"), maxHamming = 3)
      .orderBy("id_a", "id_b").as[(Long, Long, Int)].collect()
    assert(got.toSeq === expect.toSeq)
    assert(got.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0)) // exact dups
    intercept[IllegalArgumentException] { // 3 doesn't split 128 word-aligned
      Dedup.simHashPairs128(docs, col("doc_id"), col("text"), blocks = 3)
    }
  }

  test("simHash: identical texts collide at hamming 0") {
    val pairs = Dedup.simHashPairs(docs, col("doc_id"), col("text"), maxHamming = 3)
      .orderBy("id_a", "id_b").as[(Long, Long, Int)].collect()
    val exact = pairs.find(p => p._1 == 1 && p._2 == 2)
    assert(exact.isDefined && exact.get._3 === 0)
  }

  test("simHash block-join recall equals all-pairs at hamming <= 3") {
    val sigs = docs.select(col("doc_id"), Dedup.simHash(col("text")).as("sh"))
      .as[(Long, Long)].collect()
    val expect = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb)
      if h <= 3
    } yield (ia, ib, h)).sortBy(p => (p._1, p._2))
    val got = Dedup.simHashPairs(docs, col("doc_id"), col("text"), maxHamming = 3)
      .orderBy("id_a", "id_b").as[(Long, Long, Int)].collect()
    assert(got.toSeq === expect.toSeq)
  }

  test("canonicalize collapses case/punct/whitespace variants to one form") {
    val variants = Seq(
      (1L, "Hello,  World!"),
      (2L, "hello world"),
      (3L, "HELLO ... WORLD"),
      (4L, "a genuinely different text")
    ).toDF("doc_id", "text")
    val out = Dedup.exact(variants, col("doc_id"),
        TextFunctions.canonicalize(col("text")))
      .orderBy("keep_id").as[(Long, Long)].collect()
    assert(out === Array((1L, 3L), (4L, 1L)))
  }

  test("minHashIncremental: batch collapses internally, then against state; " +
      "state admits only survivors") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps running onward"),
      (2L, "completely different content about something else entirely here today")
    ).toDF("doc_id", "text")
    val state0 = Dedup.NearDupState.build(corpus, col("doc_id"), col("text"))

    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and keeps running onward"), // dup of state 1
      (11L, "a brand new document with fresh wording nobody has seen before now"),
      (12L, "a brand new document with fresh wording nobody has seen before today"), // near dup of 11
      (13L, "yet another topic unrelated to every other document in this corpus")
    ).toDF("doc_id", "text")

    val (survivors, state1) = Dedup.minHashIncremental(
      batch, col("doc_id"), col("text"), state0)
    val ids = survivors.select(col("doc_id")).as[Long].collect().sorted
    // 10 drops (matches state), 12 drops (11 is its cluster's min id)
    assert(ids === Array(11L, 13L))

    // replaying the SAME batch against the updated state admits nothing new
    val (replay, _) = Dedup.minHashIncremental(
      batch, col("doc_id"), col("text"), state1)
    assert(replay.count() === 0L)

    // state grew by exactly the survivors' ids
    val stateIds = state1.postings.select(col("id")).distinct()
      .as[Long].collect().sorted
    assert(stateIds === Array(1L, 2L, 11L, 13L))
  }

  test("NearDupState save/load round-trip: loaded state yields identical survivors") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps running onward"),
      (2L, "completely different content about something else entirely here today")
    ).toDF("doc_id", "text")
    val state0 = Dedup.NearDupState.build(corpus, col("doc_id"), col("text"))
    Dedup.NearDupState.save(state0, "ndstate_rt", buckets = 4)
    val loaded = Dedup.NearDupState.load(spark, "ndstate_rt")

    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and keeps running onward"),
      (11L, "a brand new document with fresh wording nobody has seen before now"),
      (12L, "a brand new document with fresh wording nobody has seen before today"),
      (13L, "yet another topic unrelated to every other document in this corpus")
    ).toDF("doc_id", "text")
    val (sMem, _) = Dedup.minHashIncremental(
      batch, col("doc_id"), col("text"), state0)
    val (sLoaded, state1) = Dedup.minHashIncremental(
      batch, col("doc_id"), col("text"), loaded)
    assert(sLoaded.select(col("doc_id")).as[Long].collect().sorted ===
      sMem.select(col("doc_id")).as[Long].collect().sorted)

    // save compacts the post-batch unionAll lineage too, and a second
    // round-trip keeps working (overwrite mode)
    Dedup.NearDupState.save(state1, "ndstate_rt", buckets = 4)
    val reloaded = Dedup.NearDupState.load(spark, "ndstate_rt")
    val (replay, _) = Dedup.minHashIncremental(
      batch, col("doc_id"), col("text"), reloaded)
    assert(replay.count() === 0L)
  }

  test("NearDupState postings pin the persisted layout: (id, sz, sfp) with " +
      "sfp the fingerprint64 of each distinct word 3-shingle string and sz " +
      "their count — changing the state fingerprint must bump " +
      "StateFormatVersion") {
    val corpus = Seq(
      (1L, "the cat sat on the mat the cat sat on the mat"),
      (2L, "über café 😀 naïve"),
      (3L, "short")).toDF("doc_id", "text")
    val state = Dedup.NearDupState.build(corpus, col("doc_id"), col("text"))
    try {
      val want = corpus
        .select(col("doc_id").as("id"),
          TextFunctions.wordShingleSet(col("text"), 3).as("set"))
        .select(col("id"), size(col("set")).as("sz"), explode(col("set")).as("s"))
        .select(col("id"), col("sz"), TextFunctions.fingerprint64(col("s")).as("sfp"))
        .as[(Long, Int, Long)].collect().sorted.toSeq
      assert(state.postings.columns.toSeq === Seq("id", "sz", "sfp"))
      assert(state.postings.as[(Long, Int, Long)].collect().sorted.toSeq === want)
      // the repeated sentence posts each of its 6 distinct shingles once
      assert(want.count(_._1 == 1L) === 6 && want.forall(p => p._1 != 1L || p._2 == 6))
      assert(Dedup.StateFormatVersion === 1)
    } finally state.close()
  }

  test("fingerprint state save/load round-trip") {
    def fps(batch: org.apache.spark.sql.DataFrame) =
      batch.select(TextFunctions.fingerprint64(col("t")).as("fp")).distinct()
    val b1 = Seq((1L, "aa"), (2L, "aa"), (3L, "bb")).toDF("id", "t")
    Dedup.saveFingerprints(fps(b1), "fps_rt", buckets = 4)
    val loaded = Dedup.loadFingerprints(spark, "fps_rt")
    assert(loaded.as[Long].collect().sorted === fps(b1).as[Long].collect().sorted)
    // the reloaded state screens a later batch: only unseen content passes
    val b2 = Seq((4L, "aa"), (5L, "cc")).toDF("id", "t")
    val unseen = b2.withColumn("fp", TextFunctions.fingerprint64(col("t")))
      .join(loaded, Seq("fp"), "left_anti")
    assert(unseen.select(col("id")).as[Long].collect().sorted === Array(5L))
  }

  test("minHashIncremental skips the components loop when the batch has no " +
      "within-batch near-dups (fewer jobs)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps running onward"))
      .toDF("doc_id", "text")
    val state0 = Dedup.NearDupState.build(corpus, col("doc_id"), col("text"))
    def countJobs(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(500) } finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    val unique = Seq(
      (10L, "a brand new document with fresh wording nobody has seen before now"),
      (11L, "yet another topic unrelated to every other document in this corpus"))
      .toDF("doc_id", "text")
    val withDups = Seq(
      (20L, "a brand new document with fresh wording nobody has seen before now"),
      (21L, "a brand new document with fresh wording nobody has seen before today"),
      (22L, "yet another topic unrelated to every other document in this corpus"))
      .toDF("doc_id", "text")
    val fastJobs = countJobs {
      Dedup.minHashIncremental(unique, col("doc_id"), col("text"), state0)._1.count(); ()
    }
    val slowJobs = countJobs {
      Dedup.minHashIncremental(withDups, col("doc_id"), col("text"), state0)._1.count(); ()
    }
    // the empty-pair fast path must save the label-propagation loop's jobs
    assert(fastJobs < slowJobs,
      s"expected fast path to launch fewer jobs: fast=$fastJobs slow=$slowJobs")
  }

  test("jaccardJoin links near-identical rows across two tables") {
    val catalogA = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "an entirely unrelated description of a product")
    ).toDF("id", "name")
    val catalogB = Seq(
      (10L, "the quick brown fox jumps over the lazy cat"), // near dup of A:1
      (11L, "the quick brown fox jumps over the lazy dog"), // exact dup of A:1
      (12L, "nothing in common with anything at all here")
    ).toDF("key", "title")
    val pairs = Dedup.jaccardJoin(
        catalogA, col("id"), col("name"),
        catalogB, col("key"), col("title"), shingleK = 3, threshold = 0.5)
      .orderBy("left_id", "right_id")
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)) === Array((1L, 10L), (1L, 11L)))
    val exact = pairs.find(_._2 == 11L).get
    assert(exact._3 === 1.0)
    val near = pairs.find(_._2 == 10L).get
    assert(near._3 > 0.5 && near._3 < 1.0)
  }

  test("noveltyScores: zero for recombined corpus text, one for fresh " +
      "text, exact fractions in between, blank docs report a row") {
    val corpus = Seq(
      "alpha beta gamma delta epsilon",
      "one two three four five").toDF("text")
    val batch = Seq(
      (1L, "alpha beta gamma delta"),          // all 2 shingles seen -> 0.0
      (2L, "totally novel words here now"),    // nothing seen -> 1.0
      // 4 shingles: "alpha beta gamma" and "beta gamma delta" seen,
      // the two crossing into novel text unseen -> 2/4
      (3L, "alpha beta gamma delta novel tail"),
      (4L, "")                                  // one "" shingle, unseen
    ).toDF("doc_id", "text")
    val out = Dedup.noveltyScores(batch, col("doc_id"), col("text"),
        corpus, col("text"), shingleK = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      (1L, 2L, 2L, 0.0),
      (2L, 3L, 0L, 1.0),
      (3L, 4L, 2L, 0.5),
      (4L, 1L, 0L, 1.0)))
  }

  test("purgeDeletes: direct / exact / near reasons with priority " +
      "arbitration and smallest-deleted-id matching") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact copy of 1
      (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
      (4L, "an entirely unrelated description of a product"),
      (5L, "the quick brown fox jumps over the lazy dog")  // exact copy, 2nd
    ).toDF("doc_id", "text")
    val dels = Seq(1L, 5L).toDF("id")
    val out = Dedup.purgeDeletes(docs, col("doc_id"), col("text"),
        dels, col("id"), shingleK = 3, threshold = 0.5)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    // 1, 5: direct (self-matched). 2: byte-identical to BOTH deleted docs
    //   -> exact_dup, matched to the SMALLEST (1) -- and although it also
    //   near-matches at jaccard 1.0, exact wins the arbitration.
    // 3: near_dup of 1. 4: survives -- not in the manifest.
    assert(out === Seq(
      (1L, "direct", 1L), (2L, "exact_dup", 1L),
      (3L, "near_dup", 1L), (5L, "direct", 5L)))
    // empty deletion set -> empty manifest (nothing to purge)
    val none = Dedup.purgeDeletes(docs, col("doc_id"), col("text"),
        dels.filter(col("id") < 0), col("id"))
      .collect()
    assert(none.isEmpty)
    // deleting a doc with no copies purges exactly itself
    val solo = Dedup.purgeDeletes(docs, col("doc_id"), col("text"),
        Seq(4L).toDF("id"), col("id"), threshold = 0.5)
      .as[(Long, String, Long)].collect().toSeq
    assert(solo === Seq((4L, "direct", 4L)))
  }

  test("jaccardJoin maxDocFreq drops stop-shingles from both indexes") {
    // A shingle present in EVERY row of both sides ("common common common")
    // would contribute |L|x|R| join rows; capped at df<=1 it is never
    // indexed, and the surviving rare shingles still link the true pair.
    val l = Seq(
      (1L, "common common common alpha beta gamma"),
      (2L, "common common common one two three")
    ).toDF("id", "t")
    val r = Seq(
      (10L, "common common common alpha beta gamma"),
      (11L, "common common common four five six")
    ).toDF("id", "t")
    val pairs = Dedup.jaccardJoin(l, col("id"), col("t"),
        r, col("id"), col("t"), shingleK = 3, threshold = 0.5,
        maxDocFreq = Some(1L))
      .as[(Long, Long, Double)].collect()
    // with the ubiquitous shingles capped away, only (1,10) shares the
    // rare "alpha beta gamma"-side shingles
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 10L)))
    // sizes come from the KEPT shingles, so the identical pair scores a
    // self-consistent 1.0 (full-set denominators would bias it to 3/5)
    assert(pairs.head._3 === 1.0)
  }

  // Shared boilerplate so tile positions are easy to reason about: docs 1
  // and 2 share a 24-char run ("AAAA...") placed at DIFFERENT offsets (so
  // aligned segmenting would miss it); doc 3 is unrelated; doc 4 is too
  // short to tile.
  private def spanDocs = {
    val shared = "A" * 24
    Seq(
      (1L, "x" * 10 + shared + "y" * 10), // shared at [10, 34) of 44
      (2L, shared + "z" * 20),            // shared at [0, 24) of 44
      (3L, "q" * 44),
      (4L, "tiny")
    ).toDF("doc_id", "text")
  }

  test("repeatedSpanIntervals merges overlapping tiles into maximal spans") {
    // window 8, stride 4: doc1/doc2 share every 8-char tile inside the A-run
    // at offsets that differ by 10 vs 0 — stride 4 still aligns the pure-A
    // tiles because any 8 consecutive As hash identically.
    val spans = Dedup.repeatedSpanIntervals(spanDocs, col("doc_id"),
        col("text"), window = 8, stride = 4, minDocs = 2)
      .orderBy("id", "span_start").as[(Long, Long, Long)].collect()
    // All-A tiles occur at many offsets in both docs; each doc's hits must
    // merge into ONE contiguous interval covering its A-run (tile starts
    // within the run, so coverage is [first_tile, last_tile + 8)).
    assert(spans.map(_._1).distinct.sorted === Array(1L, 2L))
    val d1 = spans.filter(_._1 == 1L)
    val d2 = spans.filter(_._1 == 2L)
    assert(d1.length === 1 && d2.length === 1)
    // doc2's A-run starts at 0 → tiles 0,4,8,12,16 (16+8=24 ends the run)
    assert(d2.head._2 === 0L && d2.head._3 === 24L)
    // doc1's A-run spans [10,34): pure-A tiles start at 12,16,20,24 → [12,32)
    assert(d1.head._2 === 12L && d1.head._3 === 32L)
  }

  test("repeatedSpanStats covers every doc; zero rows for clean/short docs") {
    val stats = Dedup.repeatedSpanStats(spanDocs, col("doc_id"), col("text"),
        window = 8, stride = 4, minDocs = 2)
      .orderBy("id").as[(Long, Long, Long, Long)].collect()
    assert(stats.map(_._1) === Array(1L, 2L, 3L, 4L))
    val byId = stats.map(s => s._1 -> s).toMap
    assert(byId(1L) === ((1L, 1L, 20L, 24L)))
    assert(byId(2L) === ((2L, 1L, 24L, 20L)))
    assert(byId(3L) === ((3L, 0L, 0L, 44L)))
    assert(byId(4L) === ((4L, 0L, 0L, 4L)))
  }

  test("repeated spans: multiple disjoint spans in one doc stay separate") {
    val shared1 = "B" * 12
    val shared2 = "C" * 12
    val df = Seq(
      (1L, shared1 + "-" * 10 + shared2),
      (2L, shared1 + "_" * 30 + shared2)
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpanIntervals(df, col("doc_id"), col("text"),
        window = 8, stride = 4, minDocs = 2)
      .orderBy("id", "span_start").as[(Long, Long, Long)].collect()
    val d1 = spans.filter(_._1 == 1L)
    assert(d1.length === 2)
    assert(d1(0)._2 === 0L && d1(0)._3 === 12L)
    assert(d1(1)._2 === 24L && d1(1)._3 === 32L)
  }

  test("editDistanceLinkage: blocking recalls shingle-similar pairs, " +
      "the edit refine keeps true near-dups and kills reordered text " +
      "that Jaccard cannot tell apart") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val left = Seq((1L, base), (2L, "totally unrelated content here"))
      .toDF("id", "text")
    val right = Seq(
      (10L, base + " x"),                      // true near-dup: tiny suffix edit
      (11L, base.split(" ").reverse.mkString(" ")), // same tokens, reversed
      (12L, "totally different other stuff"))
      .toDF("id", "text")
    val got = Dedup.editDistanceLinkage(
        left, col("id"), col("text"), right, col("id"), col("text"),
        shingleK = 1, blockJaccard = 0.3, prefixLen = 100, maxDist = 10)
      .as[(Long, Long, Int)].collect().toSeq
    // (1, 10): 2 edits (" x"); (1, 11) shares ALL unigram shingles
    // (Jaccard 1.0 at k=1) but the reversal costs >> 10 edits -> killed
    // by the refine; doc 2 pairs block out at 0.3
    assert(got === Seq((1L, 10L, 2)))
  }

  test("editDistanceLinkage distances are exact Levenshtein and the " +
      "band returns every pair within maxDist") {
    import spark.implicits._
    val l = Seq((1L, "abcdefgh abcdefgh abcdefgh")).toDF("id", "text")
    val r = Seq(
      (10L, "abcdefgh abcdefgh abcdefgh"),     // dist 0
      (11L, "abcdefgh abcdefgX abcdefgh"),     // dist 1 (substitution)
      (12L, "abcdefgh abcdefgh abcdefghZZZZ")) // dist 4 (insertions)
      .toDF("id", "text")
    val got = Dedup.editDistanceLinkage(
        l, col("id"), col("text"), r, col("id"), col("text"),
        shingleK = 1, blockJaccard = 0.2, prefixLen = 100, maxDist = 4)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got === Seq((1L, 10L, 0), (1L, 11L, 1), (1L, 12L, 4)))
  }

  test("selfContainmentPairs: near-subset pair found at a threshold where " +
      "Jaccard is diluted below the cut; count and prefix strategies agree") {
    val d = Seq(
      (1L, "a b c d e f"),          // 4 distinct 3-shingles
      (2L, "a b c d e f g h"),      // 6 shingles, superset of doc 1's
      (3L, "x y z w v u")           // disjoint
    ).toDF("doc_id", "text")
    val out = Dedup.selfContainmentPairs(d, col("doc_id"), col("text"),
        shingleK = 3, threshold = 0.9)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq((1L, 2L, 4L, 4L, 6L, 1.0)))
    // the same pair's symmetric Jaccard is 4/6 — invisible at 0.9
    assert(Dedup.jaccardPairs(d, col("doc_id"), col("text"),
      shingleK = 3, threshold = 0.9).count() === 0L)
    val pf = Dedup.containmentPrefix(
        Dedup.shingleIndex(d, col("doc_id"), col("text"), 3), 0.9)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(pf === out)
  }

  test("pairBudget guard: a planted quadratic corpus trips the budget and " +
      "degrades BOTH pair joins to the exact join over a deterministic " +
      "doc sample; under the budget the output is untouched; the pair " +
      "estimate is exact at fraction 1") {
    // 120 near-identical docs -> ~120·119/2 = 7140 output pairs at any
    // sane threshold: the ANSWER is quadratic, the shape the 27-minute
    // ×64 containment abort had
    val quad = (1 to 120).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta marker$i"))
      .toDF("doc_id", "text")
    def jac(budget: Dedup.PairBudget) =
      Dedup.jaccardPairs(quad, col("doc_id"), col("text"),
          threshold = 0.5, pairBudget = budget)
        .as[(Long, Long, Double)].collect().sortBy(t => (t._1, t._2)).toSeq
    val full = jac(Dedup.PairBudget.Unbounded)
    assert(full.size === 120 * 119 / 2) // the quadratic answer, complete
    val guarded = jac(Dedup.PairBudget.Fixed(200L))
    // fraction = sqrt(200/estimate) thins docs ~6x, pairs ~36x; the
    // surviving pairs must be EXACTLY the full join's pairs among the
    // sampled ids (deterministic hash sample, not an approximation)
    assert(guarded.nonEmpty && guarded.size < full.size / 4,
      s"guard did not thin: ${guarded.size} of ${full.size}")
    val sampledIds = guarded.flatMap(p => Seq(p._1, p._2)).toSet
    val expected = full.filter(p =>
      sampledIds.contains(p._1) && sampledIds.contains(p._2))
    assert(guarded.toSet.subsetOf(full.toSet))
    // every full-join pair between two sampled docs survives (exactness
    // over the subset): near-identical docs pair all-with-all, so the
    // guarded output IS the complete clique over sampledIds
    assert(guarded.size === expected.size)
    // a budget ABOVE the estimate changes nothing
    assert(jac(Dedup.PairBudget.Fixed(1000000L)) === full)
    // the DEFAULT budget (Auto) also changes nothing here — the derived
    // shuffle-partitions × pairs-per-task default is far above this
    // corpus's ~50k-pair estimate
    assert(jac(Dedup.PairBudget.Auto) === full)
    // ...but Auto IS load-bearing: shrink the per-task cap and the
    // DEFAULT-argument call (no pairBudget passed at all) must trip the
    // guard on the planted quadratic corpus — the 100 TB safety rail is
    // on for callers who never heard of it
    val capKey = Dedup.PairsPerTaskConf
    spark.conf.set(capKey, "10")
    try {
      val auto = Dedup.jaccardPairs(quad, col("doc_id"), col("text"),
        threshold = 0.5).count()
      assert(auto > 0 && auto < full.size / 4,
        s"default budget did not trip: $auto of ${full.size}")
      assert(Dedup.selfContainmentPairs(quad, col("doc_id"), col("text"),
        threshold = 0.5).count() < full.size / 4)
    } finally spark.conf.unset(capKey)
    // containment shares the guard
    val cFull = Dedup.selfContainmentPairs(quad, col("doc_id"), col("text"),
      threshold = 0.5, pairBudget = Dedup.PairBudget.Unbounded).count()
    val cGuard = Dedup.selfContainmentPairs(quad, col("doc_id"), col("text"),
      threshold = 0.5, pairBudget = Dedup.PairBudget.Fixed(200L)).count()
    assert(cFull === (120L * 119 / 2))
    assert(cGuard > 0 && cGuard < cFull / 4, s"$cGuard of $cFull")
    // the estimator itself: at fraction 1 the stats pass counts
    // Σ df(df−1)/2 exactly — on this corpus every one of the 7 shared
    // 3-shingles has df = 120 (the marker tail shingles are unique)
    val idx = Dedup.shingleIndex(quad, col("doc_id"), col("text"), 3).indexed
    val (maxDf, est) = Dedup.indexStats(idx)
    assert(maxDf === 120L)
    assert(est >= 120L * 119 / 2) // at least the shared-shingle cliques
  }

  test("prefixKeepCount: the Column expr equals the pure-integer core " +
      "(the CurationProps laws certify the SHIPPED arithmetic) over a " +
      "size sweep at several thresholds") {
    val szs = (1 to 500).map(_.toLong)
    for (t <- Seq(0.5, 7.0 / 12.0, 0.8, 0.999, 1.0)) {
      val got = szs.toDF("sz")
        .select(col("sz"), Dedup.prefixKeepCount(t).cast("long").as("k"))
        .as[(Long, Long)].collect().toMap
      szs.foreach { sz =>
        assert(got(sz) === Dedup.prefixKeepCountInt(t, sz), s"t=$t sz=$sz")
      }
    }
  }

  test("onDegrade: a tripped pair budget is VISIBLE — the callback fires " +
      "with the exact estimate/budget/fraction on every guarded entry " +
      "point, and stays silent when the budget holds (ADVICE r18: a " +
      "degraded answer was indistinguishable from a complete one)") {
    val quad = (1 to 120).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta marker$i"))
      .toDF("doc_id", "text")
    // 9 tokens -> 7 3-shingles, the last ("eta theta markerN") unique per
    // doc: 6 SHARED shingles, each df = 120 -> estimate 6·120·119/2 = 42 840
    val expectEst = 6L * 120 * 119 / 2
    var seen: Option[Dedup.PairDegrade] = None
    Dedup.jaccardPairs(quad, col("doc_id"), col("text"), threshold = 0.5,
      pairBudget = Dedup.PairBudget.Fixed(200L),
      onDegrade = d => seen = Some(d)).count()
    assert(seen === Some(Dedup.PairDegrade(expectEst, 200L,
      math.sqrt(200.0 / expectEst))))
    // containment and the minhash calibration report share the surface
    seen = None
    Dedup.selfContainmentPairs(quad, col("doc_id"), col("text"),
      threshold = 0.5, pairBudget = Dedup.PairBudget.Fixed(200L),
      onDegrade = d => seen = Some(d)).count()
    assert(seen.exists(d => d.budget === 200L &&
      d.estimatedPairs === expectEst))
    seen = None
    Diagnostics.minhashErrorReport(quad, col("doc_id"), col("text"),
      threshold = 0.5, pairBudget = Dedup.PairBudget.Fixed(200L),
      onDegrade = d => seen = Some(d)).count()
    assert(seen.isDefined)
    // under-budget runs never invoke it: silence MEANS complete
    seen = None
    Dedup.jaccardPairs(quad, col("doc_id"), col("text"), threshold = 0.5,
      pairBudget = Dedup.PairBudget.Fixed(1000000L),
      onDegrade = d => seen = Some(d)).count()
    assert(seen === None)
    seen = None
    Dedup.jaccardPairs(quad, col("doc_id"), col("text"), threshold = 0.5,
      pairBudget = Dedup.PairBudget.Unbounded,
      onDegrade = d => seen = Some(d)).count()
    assert(seen === None)
  }

  test("safePartitions: numeric confs parse, an AQE-managed non-numeric " +
      "value ('auto') falls back to default parallelism instead of " +
      "throwing, and the result is clamped positive (ADVICE r18: the " +
      "DEFAULT budget path must never throw on a sizing conf)") {
    assert(Dedup.safePartitions("200", 8L) === 200L)
    assert(Dedup.safePartitions(" 32 ", 8L) === 32L)
    assert(Dedup.safePartitions("auto", 8L) === 8L)
    assert(Dedup.safePartitions("", 8L) === 8L)
    assert(Dedup.safePartitions("0", 8L) === 1L)
    assert(Dedup.safePartitions("-5", 8L) === 1L)
    // the fallback is lazy: a numeric conf never evaluates it
    assert(Dedup.safePartitions("16",
      sys.error("fallback must not evaluate")) === 16L)
  }

  test("state layout version: save stamps the format version on both " +
      "NearDupState tables and the fingerprint table; load REFUSES a " +
      "mismatched or missing stamp instead of misfolding reinterpreted " +
      "state") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps running onward"))
      .toDF("doc_id", "text")
    Dedup.NearDupState.save(
      Dedup.NearDupState.build(corpus, col("doc_id"), col("text")),
      "ndstate_ver", buckets = 2)
    // round-trips under the current version
    Dedup.NearDupState.load(spark, "ndstate_ver")
    // a FUTURE layout bump must refuse this build's reader
    spark.sql("ALTER TABLE `ndstate_ver_bands` SET TBLPROPERTIES " +
      "('graft.state.format.version' = '999')")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.NearDupState.load(spark, "ndstate_ver")
    }
    assert(e1.getMessage.contains("layout version 999"))
    // a MISSING stamp (pre-versioning writer) refuses too
    spark.sql("ALTER TABLE `ndstate_ver_bands` UNSET TBLPROPERTIES " +
      "('graft.state.format.version')")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.NearDupState.load(spark, "ndstate_ver")
    }
    assert(e2.getMessage.contains("<missing>"))
    // fingerprint state shares the gate
    val fps = Seq("aa").toDF("t")
      .select(TextFunctions.fingerprint64(col("t")).as("fp"))
    Dedup.saveFingerprints(fps, "fps_ver", buckets = 2)
    Dedup.loadFingerprints(spark, "fps_ver")
    spark.sql("ALTER TABLE `fps_ver` SET TBLPROPERTIES " +
      "('graft.state.format.version' = '999')")
    intercept[IllegalArgumentException] {
      Dedup.loadFingerprints(spark, "fps_ver")
    }
    // ...and the refused future-version table RECOVERS by re-bootstrap
    // (r19 verdict #7): one save with this build restamps data + version
    // atomically through the staged swap, and loading resumes
    Dedup.saveFingerprints(fps, "fps_ver", buckets = 2)
    Dedup.loadFingerprints(spark, "fps_ver")
  }

  test("stampUnversionedStateTable (ADVICE r19): the automated upgrade " +
      "path for tables written before version stamping — audits " +
      "existence + expected columns, stamps version 1 exactly once, and " +
      "REFUSES already-stamped or foreign-layout tables") {
    val fps = Seq("aa").toDF("t")
      .select(TextFunctions.fingerprint64(col("t")).as("fp"))
    Dedup.saveFingerprints(fps, "fps_mig", buckets = 2)
    // simulate the pre-versioning writer: strip the stamp
    spark.sql("ALTER TABLE `fps_mig` UNSET TBLPROPERTIES " +
      "('graft.state.format.version')")
    intercept[IllegalArgumentException] {
      Dedup.loadFingerprints(spark, "fps_mig")
    }
    // the one-shot migration makes it loadable again
    Dedup.stampUnversionedStateTable(spark, "fps_mig", Seq("fp"))
    Dedup.loadFingerprints(spark, "fps_mig")
    // already stamped (any version) → refuse, never restamp
    val e1 = intercept[IllegalArgumentException] {
      Dedup.stampUnversionedStateTable(spark, "fps_mig", Seq("fp"))
    }
    assert(e1.getMessage.contains("already carries layout version"))
    spark.sql("ALTER TABLE `fps_mig` SET TBLPROPERTIES " +
      "('graft.state.format.version' = '999')")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.stampUnversionedStateTable(spark, "fps_mig", Seq("fp"))
    }
    assert(e2.getMessage.contains("999"))
    // a table whose columns don't match the expected layout → refuse
    spark.sql("ALTER TABLE `fps_mig` UNSET TBLPROPERTIES " +
      "('graft.state.format.version')")
    val e3 = intercept[IllegalArgumentException] {
      Dedup.stampUnversionedStateTable(spark, "fps_mig",
        Seq("fp", "band_key"))
    }
    assert(e3.getMessage.contains("band_key"))
    // a missing table → refuse with the explicit message
    val e4 = intercept[IllegalArgumentException] {
      Dedup.stampUnversionedStateTable(spark, "fps_never_saved", Seq("fp"))
    }
    assert(e4.getMessage.contains("does not exist"))
  }

  test("prefixKeepCount: survives an IntegerType sz column at long-document " +
      "sizes (production sz = size(set) is INT; a bare int literal multiply " +
      "overflowed under ANSI at sz >= ~2561 for t = 0.8)") {
    // 2561 is the first overflow size at t = 0.8 with 32-bit arithmetic
    // (838860 * 2561 > Int.MaxValue); sweep well past it and to the size of
    // a genuinely huge document.
    val szs = Seq(1, 2048, 2560, 2561, 3000, 10000, 100000, 1000000)
    for (t <- Seq(0.5, 0.8, 0.999, 1.0)) {
      val got = szs.toDF("sz") // IntegerType, like size(set) in production
        .select(col("sz"), Dedup.prefixKeepCount(t).cast("long").as("k"))
        .as[(Int, Long)].collect().toMap
      szs.foreach { sz =>
        assert(got(sz) === Dedup.prefixKeepCountInt(t, sz.toLong),
          s"t=$t sz=$sz")
      }
    }
  }

  test("no operator builds a shingle string set: no wordShingleSet( call " +
      "and no per-shingle fingerprint64(col(\"s\")) under operators") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val hits = Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { (f: Path) =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if l.contains("wordShingleSet(") ||
              l.contains("fingerprint64(col(\"s\"))") =>
            s"$f:${i + 1}: ${l.trim}"
        }
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
