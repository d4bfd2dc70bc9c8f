package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextClassifierSpec extends SparkSpec {
  import spark.implicits._

  test("charNgrams: sliding substrings; short text survives as one term") {
    val got = Seq(("abcd", 1L), ("ab", 2L)).toDF("t", "id")
      .select(col("id"), TextClassifier.charNgrams(col("t"), 3).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) === Seq("abc", "bcd"))
    assert(got(2L) === Seq("ab"))
  }

  test("classifyLinearPinned: hand-computable integer scores, ties break " +
      "toward the sorted-label index, short text scores its single gram, " +
      "partition-invariant") {
    // class a: bias 0, weight 1 everywhere -> score_q = n_grams;
    // class b: bias 5, weight 0 everywhere -> score_q = 5
    val w = Seq(
      ("a", 0L, Seq.fill(4)(1L)),
      ("b", 5L, Seq.fill(4)(0L)))
    val d = Seq(
      (1L, "abcde"),    // 3 grams -> a = 3 < 5 -> b
      (2L, "abcdefgh"), // 6 grams -> a = 6 > 5 -> a
      (3L, "abcdefg"),  // 5 grams -> TIE 5 = 5 -> sorted-first "a"
      (4L, "x")         // short text: the single "x" gram -> a = 1 -> b
    ).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextClassifier.classifyLinearPinned(
          df, col("doc_id"), col("text"), w, n = 3, dims = 4)
        .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    val out = run(d)
    assert(out.map(r => (r._1, r._2)) ===
      Seq((1L, "b"), (2L, "a"), (3L, "a"), (4L, "b")))
    // score is score_q / 2^20 of the WINNING class
    assert(out(1)._3 === 6.0 / 1048576.0)
    assert(out(3)._3 === 5.0 / 1048576.0)
    assert(run(d.repartition(3)) === out)
  }

  test("duplicate-id frames: every additive consumer sees the same scores " +
      "from both families' count shapes (md5 merges per (id, dim), fast " +
      "emits per input row — the documented contract)") {
    // unit weights make scoreq = total gram count + bias, a
    // hash-family-independent number — so the two families' scores must
    // agree EXACTLY on a frame where id 1 appears twice
    val w = Seq(("a", 0L, Seq.fill(8)(1L)), ("b", 5L, Seq.fill(8)(0L)))
    val dup = Seq((1L, "abcdef"), (1L, "xyzw"), (2L, "hello"))
      .toDF("doc_id", "text")
    val scores = Seq("md5", "fast").map { fam =>
      TextClassifier.linearScoresPinned(dup, col("doc_id"), col("text"),
          w, n = 3, dims = 8, family = fam)
        .as[(Long, String, Long, Long)].collect()
        .sortBy(t => (t._1, t._2)).toSeq
    }
    assert(scores(0) === scores(1))
    // id 1: 4 grams of "abcdef" + 2 of "xyzw" = 6; id 2: 3 grams
    assert(scores(0).map(r => (r._1, r._2, r._4)) === Seq(
      (1L, "a", 6L), (1L, "b", 5L), (2L, "a", 3L), (2L, "b", 5L)))
  }

  test("fast featurizer kernel: bit-equal to the declarative built-in " +
      "xxhash64 composition on unicode/empty/short/long texts AND the " +
      "real documents corpus") {
    val tricky = Seq(
      (1L, ""), (2L, "a"), (3L, "ab"), (4L, "abc"), (5L, "abcd"),
      (6L, "héllo wörld"), (7L, "中文字符测试"), (8L, "a😀b😁c"),
      (9L, "  spaced   text  "), (10L, "x" * 5000),
      (11L, ("the quick brown fox " * 50).trim)
    ).toDF("doc_id", "text")
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    for ((df, what) <- Seq((tricky, "tricky"), (real, "documents"));
         (n, dims) <- Seq((3, 128), (2, 7), (5, 1 << 12))) {
      // the executable spec: explode the SAME grams (short text -> the
      // whole text as one gram) through Spark's own xxhash64 (seed 42)
      val reference = df
        .select(col("doc_id").as("id"),
          explode(TextClassifier.charNgrams(col("text"), n)).as("__g"))
        .select(col("id"), pmod(xxhash64(col("__g")), lit(dims.toLong)).as("dim"))
        .groupBy(col("id"), col("dim")).agg(count(lit(1)).as("c"))
        .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
      val kernel = TextClassifier.hashedGramCounts(
          df, col("doc_id"), col("text"), n = n, dims = dims, family = "fast")
        .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
      assert(kernel === reference, s"corpus=$what n=$n dims=$dims")
    }
  }

  test("md5 featurizer kernel: bit-equal to the declarative " +
      "hash32-composition it replaced (explode charNgrams -> md5-32 -> " +
      "mod -> groupBy count) on unicode/empty/short/long texts AND the " +
      "real documents corpus — the oracle featurization cannot drift") {
    val tricky = Seq(
      (1L, ""), (2L, "a"), (3L, "ab"), (4L, "abc"), (5L, "abcd"),
      (6L, "héllo wörld"), (7L, "中文字符测试"), (8L, "a😀b😁c"),
      (9L, "  spaced   text  "), (10L, "x" * 5000),
      (11L, ("the quick brown fox " * 50).trim)
    ).toDF("doc_id", "text")
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    for ((df, what) <- Seq((tricky, "tricky"), (real, "documents"));
         (n, dims) <- Seq((3, 128), (2, 7), (5, 1 << 12))) {
      // the executable spec: the exact pre-round-20 declarative chain —
      // gram strings through TextFunctions.hash32 (first 8 md5 hex
      // digits), mod dims, per-(id, dim) occurrence count
      val reference = df
        .select(col("doc_id").as("id"),
          explode(TextClassifier.charNgrams(col("text"), n)).as("__g"))
        .select(col("id"),
          TextClassifier.hashedGramDim(col("__g"), dims).as("dim"))
        .groupBy(col("id"), col("dim")).agg(count(lit(1)).as("c"))
        .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
      val kernel = TextClassifier.hashedGramCounts(
          df, col("doc_id"), col("text"), n = n, dims = dims, family = "md5")
        .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
      assert(kernel === reference, s"corpus=$what n=$n dims=$dims")
    }
  }

  test("pinned families: each family reproduces its own recorded training " +
      "accuracy on the training corpus, the fast family within noise of " +
      "md5, and agreement is far above the independent-predictions " +
      "baseline — the md5-vs-fast parity gate") {
    import graft.queries.PinnedArtifacts._
    // the TRAINING corpus (sf0.01): each family's weights were fit here
    // (TrainArtifacts), so accuracy against `lang` must reproduce the
    // recorded training accuracies (md5 0.668, fast 0.648). Predictions
    // are NOT expected identical doc-by-doc — different hash buckets are
    // different features, and the fixture's lang signal is weak — so the
    // parity gate is accuracy-band + agreement-floor, while the kernel
    // itself is gated bit-for-bit by the previous test.
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    def preds(w: Seq[(String, Long, Seq[Long])], fam: String) =
      TextClassifier.classifyLinearPinned(d, col("doc_id"), col("text"),
          w, n = LangLrGramN, dims = LangLrDims, family = fam)
        .select(col("id"), col("pred"))
    val md5P = preds(LangLrWeights, "md5").withColumnRenamed("pred", "p_md5")
    val fastP = preds(LangLrWeightsFast, "fast").withColumnRenamed("pred", "p_fast")
    val j = md5P.join(fastP, Seq("id"))
      .join(d.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      .select(col("p_md5"), col("p_fast"), col("lang"))
      .as[(String, String, String)].collect()
    assert(j.length === d.count())
    val agree = j.count(r => r._1 == r._2)
    val accMd5 = j.count(r => r._1 == r._3)
    val accFast = j.count(r => r._2 == r._3)
    info(s"n=${j.length} agree=$agree accMd5=$accMd5 accFast=$accFast")
    // recorded training accuracies (TrainArtifacts, 2026-08): md5 334,
    // fast 324 of 500 — reproduce them within a regeneration band, keep
    // fast within noise of md5, and keep agreement far above the
    // independent-predictions baseline (~0.45 for two 0.65-accuracy
    // 5-class models agreeing only where both are right)
    assert(accMd5.toDouble / j.length >= 0.60, s"md5 accuracy $accMd5")
    assert(accFast >= accMd5 - j.length / 20,
      s"fast family materially less accurate: $accFast vs $accMd5")
    assert(agree.toDouble / j.length >= 0.55,
      s"family agreement ${agree.toDouble / j.length}")
  }

  test("lang_classifier_fast pin integrity: the production featurizer run " +
      "over the fixture corpus reproduces LangFastFixtureDims EXACTLY per " +
      "doc — the pin the oracle replays cannot drift from the kernel " +
      "silently (the MmFixtureHashes64 pattern)") {
    import spark.implicits._
    val P = graft.queries.PinnedArtifacts
    val live = TextClassifier.hashedGramCounts(
        P.LangFastFixture.toDF("doc_id", "lang", "text"),
        col("doc_id"), col("text"),
        n = P.LangLrGramN, dims = P.LangLrDims, family = "fast")
      .select(col("id"), col("dim").cast("int").as("dim"), col("c"))
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val pinned = P.LangFastFixtureDims.sorted
    assert(live.size === pinned.size,
      s"dim-row count drifted: kernel ${live.size} vs pin ${pinned.size}")
    // per-doc equality gives a readable failure when a single text or
    // the hash recipe changes
    val liveBy = live.groupBy(_._1)
    val pinBy = pinned.groupBy(_._1)
    P.LangFastFixture.foreach { case (id, _, _) =>
      assert(liveBy.getOrElse(id, Nil) === pinBy.getOrElse(id, Nil),
        s"doc $id featurization drifted from the pin — regenerate with " +
          "graft.tools.FixtureDims ONLY if the change was deliberate")
    }
  }
}
