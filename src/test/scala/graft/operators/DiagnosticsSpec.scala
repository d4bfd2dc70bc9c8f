package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DiagnosticsSpec extends SparkSpec {
  import spark.implicits._

  test("skewReport ranks heavy keys with exact shares and ceil salt factors") {
    // 80 rows of "hot", 16 of "warm", 4 singles → total 100
    val rows = Seq.fill(80)("hot") ++ Seq.fill(16)("warm") ++
      Seq("a", "b", "c", "d")
    val df = rows.toDF("k")
    val got = Diagnostics.skewReport(df, col("k"), topN = 3, partitions = 10)
      .as[(String, Long, Double, Long)].collect()
    assert(got.map(_._1).toSeq === Seq("hot", "warm", "a"))
    val hot = got(0)
    assert(hot._2 === 80L && hot._3 === 0.8)
    // 80 rows over 10 partitions of avg 10 → split hot into 8 salt buckets
    assert(hot._4 === 8L)
    val warm = got(1)
    assert(warm._2 === 16L && warm._4 === 2L) // ceil(16·10/100) = 2
    assert(got(2)._4 === 1L) // singletons never need salting
  }

  test("skewReport topN bounds the output and keeps heaviest-first order") {
    val df = (1 to 50).flatMap(i => Seq.fill(i)(s"k$i")).toDF("k")
    val got = Diagnostics.skewReport(df, col("k"), topN = 5)
      .as[(String, Long, Double, Long)].collect()
    assert(got.length === 5)
    assert(got.map(_._2).toSeq === Seq(50L, 49L, 48L, 47L, 46L))
  }

  test("lengthHistogram: exact power-of-two buckets, counts and token mass") {
    val docs = Seq("a", "a b", "a b c", "a b c d", "1 2 3 4 5 6 7 8 9")
      .toDF("text") // token counts 1, 2, 3, 4, 9
    val got = Diagnostics.lengthHistogram(docs, col("text"))
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (0, 1L, 1L, 1L, 1L),   // [1,2): the 1-token doc
      (1, 2L, 2L, 5L, 3L),   // [2,4): 2 + 3 tokens
      (2, 4L, 1L, 4L, 4L),   // [4,8)
      (3, 8L, 1L, 9L, 9L))) // [8,16)
  }

  test("corpusDiff classifies added/removed/changed/unchanged by content") {
    val v1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "text")
    val v2 = Seq((2L, "beta"), (3L, "gamma prime"), (4L, "delta")).toDF("id", "text")
    val got = Diagnostics.corpusDiff(v1, v2, col("id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, "removed"), (2L, "unchanged"), (3L, "changed"), (4L, "added")))
  }

  test("corpusReport: per-lang rows plus an all-corpus rollup, exact ratios") {
    val docs = Seq(
      ("en", "web", "one two three"),
      ("en", "books", "a b"),
      ("de", "web", "eins zwei drei vier")
    ).toDF("lang", "source", "text")
    val got = Diagnostics.corpusReport(docs, col("lang"), col("source"),
        col("text"), shortTokens = 3)
      .as[(String, Long, Long, Long, Long, Double, Long)]
      .collect().sortBy(_._1)
    //                       lang docs srcs toks chars      avg  short
    assert(got(0) === (("*",   3L,  2L,  9L, 35L, 3.0, 1L)))
    assert(got(1) === (("de",  1L,  1L,  4L, 19L, 4.0, 0L)))
    assert(got(2) === (("en",  2L,  2L,  5L, 16L, 2.5, 1L)))
  }

  test("corpusReport: a genuine NULL-lang group stays distinct from the " +
      "rollup total row") {
    val docs = Seq(
      (Option("en"), "web", "one two three"),
      (Option.empty[String], "web", "mystery tongue")
    ).toDF("lang", "source", "text")
    val langs = Diagnostics.corpusReport(docs, col("lang"), col("source"),
        col("text"))
      .select("lang").as[String].collect().sorted
    // one total row, one NULL-lang row, one en row — no "*" collision
    assert(langs.toSeq === Seq("*", "<null>", "en"))
  }

  test("corpusManifest: one digest row per file; digests compose to the " +
      "table digest; total digest is row-order invariant; the sum fold " +
      "catches even-multiplicity edits XOR is blind to") {
    val docs = (1 to 40).map(i => (i.toLong, s"document number $i body"))
      .toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest")
      .toString
    docs.repartition(2).write.mode("overwrite").parquet(dir)
    val m = Diagnostics.corpusManifest(
        spark.read.parquet(dir), col("text"))
      .as[(String, Long, Long, BigDecimal)].collect()
    assert(m.length === 2, s"expected one row per file: ${m.toSeq}")
    assert(m.map(_._2).sum === 40)
    // per-file digests compose to the whole-table folds
    val whole = docs.select(
        graft.functions.TextFunctions.fingerprint64(col("text")).as("fp"))
      .agg(org.apache.spark.sql.functions.expr("bit_xor(fp)"),
        org.apache.spark.sql.functions.sum(col("fp").cast("decimal(38,0)")))
      .as[(Long, BigDecimal)].head()
    assert(m.map(_._3).reduce(_ ^ _) === whole._1)
    assert(m.map(_._4).sum === whole._2)
    // rewriting the same rows in a different order/partitioning moves rows
    // between files but cannot change the composed digests
    val dir2 = java.nio.file.Files.createTempDirectory("graft-manifest2")
      .toString
    docs.orderBy(col("id").desc).repartition(5).write
      .mode("overwrite").parquet(dir2)
    val m2 = Diagnostics.corpusManifest(
        spark.read.parquet(dir2), col("text"))
      .as[(String, Long, Long, BigDecimal)].collect()
    assert(m2.map(_._3).reduce(_ ^ _) === whole._1)
    assert(m2.map(_._4).sum === whole._2)
    // [A,B,B] -> [A,C,C]: count and XOR both blind (fp^fp = 0), the sum
    // fold must catch it — the one failure mode a change manifest can't have
    def digest(texts: Seq[String]): (Long, BigDecimal) = {
      val d = java.nio.file.Files.createTempDirectory("graft-m3").toString
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text").coalesce(1).write.mode("overwrite").parquet(d)
      val r = Diagnostics.corpusManifest(spark.read.parquet(d), col("text"))
        .as[(String, Long, Long, BigDecimal)].collect()
      assert(r.length === 1)
      (r.head._3, r.head._4)
    }
    val before = digest(Seq("aaa", "bbb", "bbb"))
    val after = digest(Seq("aaa", "ccc", "ccc"))
    assert(before._1 === after._1, "XOR is expected blind here")
    assert(before._2 !== after._2, "sum fold must detect the edit")
  }

  test("minhashErrorReport: identical docs estimate 1.0 exactly; near-dups " +
      "estimate within the ~1/sqrt(numHashes) concentration band") {
    import spark.implicits._
    val words = (1 to 60).map(i => s"w$i")
    val near = words.updated(30, "EDIT")
    val df = Seq(
      (1L, words.mkString(" ")),
      (2L, words.mkString(" ")),   // exact dup of 1
      (3L, near.mkString(" ")),    // near dup of 1 (3 shingles differ)
      (4L, (1 to 60).map(i => s"z$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val out = Diagnostics.minhashErrorReport(df, col("doc_id"), col("text"),
        shingleK = 3, numHashes = 128, threshold = 0.5)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // identical sets -> identical signatures -> est exactly 1.0, err 0
    assert(out((1L, 2L))._4 === 1.0)
    assert(out((1L, 2L))._5 === 0.0)
    // true near-dup pairs present, unrelated doc absent
    assert(out.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // 128 hashes: sd ~ sqrt(j(1-j)/128) ~ 0.02 at j~0.9; 5 sd bound
    out.values.foreach { case (a, b, jac, est, err) =>
      assert(err <= 0.12, s"estimator off for ($a,$b): jac=$jac est=$est")
      assert(err === math.abs(est - jac))
    }
  }

  test("sourceDrift: exact class counts, hand-computed chi-square, and a " +
      "source matching the corpus profile scores below a drifted one") {
    val docs = Seq(
      // clean: 8 letters, 1 space, 1 digit per doc
      ("clean", "abcd efgh1"), ("clean", "ijkl mnop2"),
      // drifted: all punctuation/other
      ("junk", "!!!$$$%%%&")).toDF("source", "text")
    val out = Diagnostics.sourceDrift(docs, col("source"), col("text"))
      .as[(String, Long, Long, Long, Long, Long, Double)]
      .collect().sortBy(_._1).toMap2
    val (cn, cl, cd, cs, co, cChi) = out("clean")
    val (jn, jl, jd, js, jo, jChi) = out("junk")
    assert((cn, cl, cd, cs, co) === (20L, 16L, 2L, 2L, 0L))
    assert((jn, jl, jd, js, jo) === (10L, 0L, 0L, 0L, 10L))
    // replay the fixed-order chain: g = (30, 16, 2, 2, 10)
    def chi(n: Long, o: Seq[Long], g: Seq[Long], gAll: Long): Double =
      o.zip(g).map { case (oc, gc) =>
        if (gc == 0L || n == 0L) 0.0
        else {
          val e = n.toDouble * (gc.toDouble / gAll.toDouble)
          (oc.toDouble - e) * (oc.toDouble - e) / e
        }
      }.reduceLeft(_ + _)
    val g = Seq(16L, 2L, 2L, 10L)
    assert(cChi === chi(20L, Seq(16L, 2L, 2L, 0L), g, 30L))
    assert(jChi === chi(10L, Seq(0L, 0L, 0L, 10L), g, 30L))
    assert(jChi > cChi, "the drifted source must outscore the clean one")
    // an all-empty source contributes zeros, never NaN
    val withEmpty = docs.union(Seq(("blank", "")).toDF("source", "text"))
    val blank = Diagnostics.sourceDrift(withEmpty, col("source"), col("text"))
      .filter(col("grp") === "blank")
      .as[(String, Long, Long, Long, Long, Long, Double)].collect().head
    assert(blank._7 === 0.0)
  }

  test("cohenKappa matches the textbook 2x2 example") {
    // 20 yes/yes, 15 no/no, 10 yes/no, 5 no/yes over 50 items:
    // p_o = 35/50 = 0.7; marginals A(yes)=30, B(yes)=25 →
    // p_e = (30·25 + 20·25)/2500 = 0.5; κ = (0.7 − 0.5)/0.5 = 0.4
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(15)(("n", "n")) ++
      Seq.fill(10)(("y", "n")) ++ Seq.fill(5)(("n", "y"))
    val got = Diagnostics.cohenKappa(rows.toDF("a", "b"), col("a"), col("b"))
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert(got === ((50L, 35L, 0.7, 0.5,
      (0.7 - 0.5) / (1.0 - 0.5))))
  }

  test("cohenKappa: perfect agreement gives κ = 1, chance-level gives κ ≈ 0") {
    val perfect = Seq(("x", "x"), ("y", "y"), ("z", "z"), ("x", "x"))
    val g1 = Diagnostics.cohenKappa(perfect.toDF("a", "b"), col("a"), col("b"))
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert(g1._5 === 1.0)
    // annotator b is constant: agreement equals b's marginal share of a,
    // which is exactly p_e → κ = 0
    val indep = Seq(("x", "x"), ("y", "x"), ("x", "x"), ("y", "x"))
    val g2 = Diagnostics.cohenKappa(indep.toDF("a", "b"), col("a"), col("b"))
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert(g2._5 === 0.0)
  }

  test("cohenKappa: disjoint label sets give zero expected agreement") {
    val rows = Seq(("x", "p"), ("y", "q"))
    val got = Diagnostics.cohenKappa(rows.toDF("a", "b"), col("a"), col("b"))
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert(got === ((2L, 0L, 0.0, 0.0, 0.0)))
  }

  test("cohenKappa is partitioning-independent") {
    val rnd = new scala.util.Random(3)
    val rows = Seq.fill(500)((s"c${rnd.nextInt(5)}", s"c${rnd.nextInt(5)}"))
    val a = Diagnostics.cohenKappa(rows.toDF("a", "b"), col("a"), col("b"))
      .collect().toSeq
    val b = Diagnostics.cohenKappa(rows.toDF("a", "b").repartition(13),
      col("a"), col("b")).collect().toSeq
    assert(a === b)
  }

  test("calibrationReport: hand bins, clamping, and empty bins absent") {
    val rows = Seq((0.1, true), (0.3, false), (0.26, true), (0.6, false),
      (0.9, true), (1.0, true)) // 1.0 clamps into the top bin
    val got = Diagnostics.calibrationReport(
        rows.toDF("s", "p"), col("s"), col("p"), bins = 4)
      .as[(Int, Double, Long, Long, Double, Double)].collect().toSeq
    assert(got.map(_._1) === Seq(0, 1, 2, 3)) // bin 2 covers 0.5-0.75
    val byBin = got.map(r => r._1 -> r).toMap
    assert(byBin(0) === ((0, 0.125, 1L, 1L, 1.0, 1.0 - 0.125)))
    assert(byBin(1) === ((1, 0.375, 2L, 1L, 0.5, 0.5 - 0.375)))
    assert(byBin(2) === ((2, 0.625, 1L, 0L, 0.0, 0.0 - 0.625)))
    assert(byBin(3) === ((3, 0.875, 2L, 2L, 1.0, 1.0 - 0.875)))
  }

  test("robustStats: hand percentiles, clamped mean resists the outlier") {
    // group g: 1..100 plus one 100000-outlier
    val rows = (1L to 100L).map(("g", _)) :+ (("g", 100000L))
    val got = Diagnostics.robustStats(rows.toDF("s", "v"), col("s"),
        col("v"))
      .as[(String, Long, Long, Long, Long, Double)].collect().head
    // discrete percentiles over 101 values: ceil(0.05*101)=6th=6,
    // ceil(0.5*101)=51st=51, ceil(0.95*101)=96th=96
    assert(got._2 === 101L && got._3 === 6L && got._4 === 51L &&
      got._5 === 96L)
    // clamp to [6,96]: five 6s, 6..96, five 96s -> sum 5151
    assert(got._6 === 5151.0 / 101.0)
    // the raw mean (~1040) is ruined by the outlier; the winsorized one isn't
    assert(got._6 < 60.0)
  }

  test("robustStats: per-group independence and exact n") {
    val rows = Seq(("a", 1L), ("a", 100L), ("b", 5L))
    val got = Diagnostics.robustStats(rows.toDF("s", "v"), col("s"),
        col("v"))
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("a")._2 === 2L && got("b")._2 === 1L)
    // a single-value group: all percentiles and the mean are that value
    assert(got("b")._3 === 5L && got("b")._4 === 5L && got("b")._5 === 5L)
    assert(got("b")._6 === 5.0)
  }

  test("calibrationReport drops NULL and NaN scores instead of " +
      "mis-bucketing them") {
    val rows = Seq((Some(0.15), true), (None, true), (Some(Double.NaN), true),
      (Some(0.95), false))
    val got = Diagnostics.calibrationReport(
        rows.toDF("s", "p"), col("s"), col("p"), bins = 10)
      .as[(Int, Double, Long, Long, Double, Double)].collect().toSeq
    // only the two finite scores appear; the null did NOT land in bin 9
    assert(got.map(r => (r._1, r._3)) === Seq((1, 1L), (9, 1L)))
  }

  test("robustStats ignores NULL values in n, percentiles, and the " +
      "winsorized mean") {
    val rows = Seq(("g", Some(1L)), ("g", Some(2L)), ("g", Some(3L)),
      ("g", None), ("g", None))
    val got = Diagnostics.robustStats(rows.toDF("s", "v"), col("s"),
        col("v"))
      .as[(String, Long, Long, Long, Long, Double)].collect().head
    assert(got._2 === 3L) // nulls not counted
    assert(got._6 === 2.0) // mean of 1,2,3 — no p_hi-clamped phantom rows
  }

  test("calibrationReport: a perfectly calibrated score has small gaps") {
    // score = k/10 + 0.05 with exactly that fraction positive per bucket
    val rows = (0 until 10).flatMap { k =>
      (0 until 20).map(i => (k / 10.0 + 0.05, i < 2 * k))
    }
    val got = Diagnostics.calibrationReport(
        rows.toDF("s", "p"), col("s"), col("p"), bins = 10)
      .as[(Int, Double, Long, Long, Double, Double)].collect()
    assert(got.length === 10)
    got.foreach(r => assert(math.abs(r._6) <= 0.05 + 1e-12,
      s"bin ${r._1} gap ${r._6}"))
  }

  private implicit class ToMap2(
      rows: Array[(String, Long, Long, Long, Long, Long, Double)]) {
    def toMap2: Map[String, (Long, Long, Long, Long, Long, Double)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
  }

  test("rankingAucReport: hand AUC — perfect ranking 1.0, inverted 0.0, " +
      "ties average to 0.5, one-class groups NULL") {
    import spark.implicits._
    val rows = Seq(
      // "good": positives always score higher -> AUC 1
      ("good", 0.9, true), ("good", 0.8, true), ("good", 0.1, false),
      ("good", 0.2, false),
      // "bad": inverted -> AUC 0
      ("bad", 0.1, true), ("bad", 0.9, false),
      // "tied": every score equal -> AUC exactly 0.5 via average ranks
      ("tied", 0.5, true), ("tied", 0.5, false), ("tied", 0.5, false),
      // "onecls": no negatives -> NULL
      ("onecls", 0.3, true), ("onecls", 0.7, true))
      .toDF("src", "s", "y")
    val got = graft.operators.Diagnostics.rankingAucReport(
        rows, col("src"), col("s"), col("y"))
      .as[(String, Long, Long, Option[Double])].collect().toSeq
    assert(got === Seq(
      ("bad", 1L, 1L, Some(0.0)),
      ("good", 2L, 2L, Some(1.0)),
      ("onecls", 2L, 0L, None),
      ("tied", 1L, 2L, Some(0.5))))
  }

  test("rankingAucReport: partial overlap gives the exact pair fraction") {
    import spark.implicits._
    // pos scores {3, 1}, neg scores {2, 0}: ordered pairs correct:
    // (3>2), (3>0), (1>0) = 3 of 4 -> AUC 0.75
    val rows = Seq(("s", 3.0, true), ("s", 1.0, true),
      ("s", 2.0, false), ("s", 0.0, false)).toDF("src", "s", "y")
    val got = graft.operators.Diagnostics.rankingAucReport(
        rows, col("src"), col("s"), col("y"))
      .as[(String, Long, Long, Option[Double])].collect().head
    assert(got === (("s", 2L, 2L, Some(0.75))))
  }

  test("shuffleQualityReport: hand adjacency counts and exact expected " +
      "rate; a sorted (unshuffled) shard reads far above expectation") {
    import spark.implicits._
    // shard 0: sources A,A,A,B,B in pos order -> adj_same 3 of 4 pairs;
    // expected = (3*2 + 2*1) / (5*4) = 8/20 = 0.4
    // shard 1: perfectly interleaved A,B,A,B -> adj_same 0;
    // expected = (2*1 + 2*1) / (4*3) = 4/12
    // shard 2: single row -> NULL rates
    val rows = Seq(
      (0, 1, "A"), (0, 2, "A"), (0, 3, "A"), (0, 4, "B"), (0, 5, "B"),
      (1, 1, "A"), (1, 2, "B"), (1, 3, "A"), (1, 4, "B"),
      (2, 1, "A"))
      .toDF("shard", "pos", "src")
    val got = graft.operators.Diagnostics.shuffleQualityReport(
        rows, col("shard"), col("pos"), col("src"))
      .as[(Int, Long, Long, Option[Double], Option[Double])]
      .collect().toSeq
    assert(got === Seq(
      (0, 5L, 3L, Some(0.75), Some(0.4)),
      (1, 4L, 0L, Some(0.0), Some(4.0 / 12.0)),
      (2, 1L, 0L, None, None)))
  }

  test("tableProfile: hand stats for two columns in one pass, nulls " +
      "counted, exact decimal mean, discrete median") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some(BigDecimal("10.50"))),
      (Some(2L), Some(BigDecimal("20.25"))),
      (Some(3L), None),
      (Some(4L), Some(BigDecimal("0.25"))),
      (None, Some(BigDecimal("1.00"))))
      .toDF("a", "b")
    val got = graft.operators.Diagnostics.tableProfile(df,
        Seq("a" -> col("a"), "b" -> col("b").cast("decimal(18,2)")))
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    // a: n=5, null=1, min 1, max 4, mean 10/4 = 2.5, p50 = 2 (disc)
    assert(got(0) === ("a", 5L, 1L, 1.0, 4.0, 2.5, 2.0))
    // b: n=5, null=1, min 0.25, max 20.25, mean 32.00/4 = 8.0, p50 = 1.00
    assert(got(1) === ("b", 5L, 1L, 0.25, 20.25, 8.0, 1.0))
  }

  test("kAnonymousRelease: cells >= k released verbatim, smaller cells " +
      "generalize to the '*' aggregate, and a suppressed total under k " +
      "is dropped entirely") {
    import spark.implicits._
    def rows(cell: (String, String), n: Int) = Seq.fill(n)(cell)
    // (a, x): 4 rows -> released; (b, x): 2 + (b, y): 1 -> '*' total 3 >= 3
    val df = (rows(("a", "x"), 4) ++ rows(("b", "x"), 2) ++
      rows(("b", "y"), 1)).toDF("s", "l")
    val out = graft.operators.Diagnostics.kAnonymousRelease(
        df, Seq(col("s"), col("l")), k = 3)
      .as[(String, String, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(out === Seq(("*", "*", 3L), ("a", "x", 4L)))
    // raise k to 4: the suppressed total (3) itself violates k -> dropped
    val out2 = graft.operators.Diagnostics.kAnonymousRelease(
        df, Seq(col("s"), col("l")), k = 4)
      .as[(String, String, Long)].collect().toSeq
    assert(out2 === Seq(("a", "x", 4L)))
  }

  test("tableProfile: an all-null column profiles to nulls, not errors") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
      .toDF("a", "b")
    val got = graft.operators.Diagnostics.tableProfile(df,
        Seq("b" -> col("b")))
      .select(col("col_name"), col("n"), col("n_null"),
        col("min_v").isNull, col("mean").isNull, col("p50").isNull)
      .as[(String, Long, Long, Boolean, Boolean, Boolean)].collect().toSeq
    assert(got === Seq(("b", 2L, 2L, true, true, true)))
  }

  test("splitLeakReport: cross-split duplicate pairs counted with " +
      "multiplicity, within-split duplicates ignored, clean split is empty") {
    // fp X: 2 in train, 1 in val -> (train, val) shares 1 fp, 2 pairs;
    // fp Y: 2 in train only -> within-split, no row;
    // fp Z: 1 in each of the three splits -> 3 pair rows with 1 each
    val df = Seq(
      ("train", "X"), ("train", "X"), ("val", "X"),
      ("train", "Y"), ("train", "Y"),
      ("train", "Z"), ("val", "Z"), ("test", "Z")
    ).toDF("split", "text")
    val out = graft.operators.Diagnostics.splitLeakReport(df,
        col("split"), col("text"))
      .as[(String, String, Long, Long)].collect()
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out === Seq(
      ("test", "train", 1L, 1L), // 'test' < 'train' lexicographically
      ("test", "val", 1L, 1L),
      ("train", "val", 2L, 3L))) // X: 2x1 pairs, Z: 1x1
    val clean = Seq(("train", "A"), ("val", "B")).toDF("split", "text")
    assert(graft.operators.Diagnostics.splitLeakReport(clean,
      col("split"), col("text")).count() === 0L)
  }

  test("bootstrapCiMean: constant metric collapses the interval to the " +
      "mean; varied metric is bracketed; partition-invariant") {
    val rows = (1 to 200).map(i => ("a", 7L, i.toLong)) ++
      (1 to 300).map(i => ("b", (i % 11).toLong, (1000 + i).toLong))
    val df = rows.toDF("g", "v", "k")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Diagnostics.bootstrapCiMean(
          d, col("g"), col("v"), col("k"))
        .as[(String, Long, Double, Double, Double, Long)]
        .collect().sortBy(_._1).toSeq
    val out = run(df)
    val a = out(0); val b = out(1)
    // every Poisson replicate of a constant metric averages to exactly it
    assert(a === (("a", 200L, 7.0, 7.0, 7.0, 64L)))
    assert(b._2 === 300L && b._6 === 64L)
    assert(b._4 <= b._3 && b._3 <= b._5) // ci_lo <= mean <= ci_hi
    assert(b._4 < b._5)                  // genuinely varied -> open interval
    assert(run(df.repartition(7)) === out)
  }

  test("bootstrapCiMean: a group whose EVERY replicate draws zero weight " +
      "keeps its point-estimate row with n_reps 0 and null bounds " +
      "instead of vanishing") {
    // Find a key whose b = 4 replicates ALL land in the Poisson(1) w = 0
    // band (u < e^-1; ~e^-4 of keys) via the SAME md5 ladder the operator
    // uses — deterministic, no fixture file.
    val p0 = graft.operators.Diagnostics.PoissonCdf1.head.toDouble
    def u(k: String, b: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$k:$b".getBytes("UTF-8"))
      val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      v / 4294967296.0
    }
    val dead = (0 to 100000).map(i => s"dead$i")
      .find(k => (0 until 4).forall(b => u(k, b) < p0))
      .getOrElse(fail("no all-zero-weight key in the search range"))
    val df = ((1 to 50).map(i => ("a", 7L, s"k$i")) :+ (("z", 9L, dead)))
      .toDF("g", "v", "k")
    val out = graft.operators.Diagnostics.bootstrapCiMean(
        df, col("g"), col("v"), col("k"), b = 4)
      .as[(String, Long, Double, Option[Double], Option[Double], Long)]
      .collect().sortBy(_._1).toSeq
    assert(out.map(_._1) === Seq("a", "z")) // z SURVIVES
    assert(out(1) === (("z", 1L, 9.0, None, None, 0L)))
  }

  test("conformalCalibration: hand order-statistic quantile and coverage; " +
      "a calibration group too small for the index reports null q_hat " +
      "with everything covered; test-absent groups report n_test 0; " +
      "test-ONLY groups surface with n_cal 0 and full coverage") {
    val cal = ((1 to 9).map(i => ("a", i.toDouble)) ++
      Seq(("b", 42.0)) ++ (1 to 5).map(i => ("c", i.toDouble)))
      .toDF("g", "s")
    val tst = Seq(("a", 5.0), ("a", 9.0), ("a", 9.5), ("a", 20.0),
      ("b", 1e9), ("b", -1e9), ("d", 0.0)).toDF("g", "s")
    val out = graft.operators.Diagnostics.conformalCalibration(
        cal, col("g"), col("s"), tst, col("g"), col("s"))
      .as[(String, Long, Option[Double], Long, Long, Option[Double])]
      .collect().sortBy(_._1).toSeq
    // a: n=9 -> idx = ceil(0.9*10) = 9 -> q_hat = 9.0; covered 5, 9 of 4
    assert(out(0) === (("a", 9L, Some(9.0), 4L, 2L, Some(0.5))))
    // b: n=1 -> idx 2 > n -> conformal +inf -> null q_hat, all covered
    assert(out(1) === (("b", 1L, None, 2L, 2L, Some(1.0))))
    // c: calibrated but never tested — and n = 5 is still too small for
    // alpha = 0.1 (idx = ceil(0.9 * 6) = 6 > 5), so q_hat is +inf/null
    assert(out(2) === (("c", 5L, None, 0L, 0L, None)))
    // d appears ONLY in test — drift the audit exists to surface: it
    // reports n_cal = 0 with the +inf-quantile convention (null q_hat,
    // everything covered) instead of silently vanishing — the same
    // full-outer contract as conformalPredictionSets
    assert(out(3) === (("d", 0L, None, 1L, 1L, Some(1.0))))
    assert(out.size === 4)
  }

  test("conformalPredictionSets: hand-checkable quantiles, set sizes and " +
      "coverage; an under-calibrated class gets the +inf quantile and " +
      "admits everything") {
    // class a: 10 calibration docs, nonconformities 1..10 ->
    // idx = ceil(0.9 * 11) = 10 -> q_hat = 10
    // class b: 2 calibration docs -> idx 3 > 2 -> q_hat = +inf (null)
    val scores = ((1 to 10).map(i => (i.toLong, "a", -i.toLong)) ++
      Seq((11L, "b", -1L), (12L, "b", -1L),
        (13L, "c", -1L), (14L, "c", -1L),  // class c: calibrated only
        (21L, "a", -5L), (21L, "b", 0L),   // nonconf 5 <= 10: a in set
        (22L, "a", -11L), (22L, "b", 0L),  // nonconf 11 > 10: a out
        (23L, "a", -20L), (23L, "b", 0L),
        (24L, "d", 0L))                    // class d: test only
      ).toDF("id", "label", "scoreq")
    val truth = ((1 to 10).map(i => (i.toLong, "a", true)) ++
      Seq((11L, "b", true), (12L, "b", true),
        (13L, "c", true), (14L, "c", true),
        (21L, "a", false), (22L, "a", false), (23L, "b", false),
        (24L, "d", false)))
      .toDF("id", "truth", "is_cal")
    val out = graft.operators.Diagnostics.conformalPredictionSets(
        scores, truth)
      .as[(String, Long, Option[Double], Long, Long, Option[Double],
        Option[Double])]
      .collect().sortBy(_._1).toSeq
    // a: doc 21 gets set {a, b} (b always admits) and is covered; doc 22
    // gets {b} and is not
    assert(out(0) === (("a", 10L, Some(10.0 / 1048576.0), 2L, 1L,
      Some(0.5), Some(1.5))))
    // b: its only test doc gets {b} (a's quantile excludes nonconf 20)
    assert(out(1) === (("b", 2L, None, 1L, 1L, Some(1.0), Some(1.0))))
    // c: calibrated, never tested — reported with n_test = 0, not dropped
    assert(out(2) === (("c", 2L, None, 0L, 0L, None, None)))
    // d: tested, never calibrated — +inf quantile admits its own label
    assert(out(3) === (("d", 0L, None, 1L, 1L, Some(1.0), Some(1.0))))
    assert(out.size === 4)
  }
}
