package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def df = (1 to 99).map(i => (i.toLong, s"c${i % 3}", s"payload$i"))
    .toDF("id", "cls", "payload")

  test("fixedSizeSample keeps exactly n rows per stratum, reproducibly") {
    val s1 = Sampling.fixedSizeSample(df, col("cls"), col("id"), 10)
    val counts = s1.groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(counts === Map("c0" -> 10L, "c1" -> 10L, "c2" -> 10L))
    // deterministic: a second evaluation selects the identical ids
    val ids1 = s1.select("id").as[Long].collect().sorted
    val ids2 = Sampling.fixedSizeSample(df, col("cls"), col("id"), 10)
      .select("id").as[Long].collect().sorted
    assert(ids1.toSeq === ids2.toSeq)
    // all original columns survive (semi-join, not projection)
    assert(s1.columns === Array("id", "cls", "payload"))
  }

  test("fixedSizeSample returns whole strata smaller than n") {
    val kept = Sampling.fixedSizeSample(df, col("cls"), col("id"), 50)
    assert(kept.count() === 99) // every class has 33 rows — all kept
  }

  test("clusterBalancedSample: exactly n per cluster, assignment by " +
      "nearest centroid, deterministic") {
    val rnd = new scala.util.Random(5)
    val bases = Array.fill(3)(Array.fill(8)(rnd.nextFloat() * 2 - 1))
    // 60 tight satellites of 3 bases → clusters of 20 each
    val vecs = (0 until 60).map { i =>
      val b = bases(i % 3)
      (i.toLong, b.map(x => x + (rnd.nextFloat() * 2 - 1) * 0.01f))
    }.toDF("vec_id", "embedding")
    val cents = bases.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toSeq.toDF("cid", "cv")
    val got = Sampling.clusterBalancedSample(vecs, col("vec_id"),
        col("embedding"), cents, nPerCluster = 5)
      .as[(Long, Long)].collect().sortBy(r => (r._1, r._2))
    // exactly 5 per cluster, and each member really belongs to its cluster
    assert(got.groupBy(_._1).view.mapValues(_.length).toMap ===
      Map(0L -> 5, 1L -> 5, 2L -> 5))
    got.foreach { case (cid, id) => assert(cid === id % 3) }
    // reproducible
    val again = Sampling.clusterBalancedSample(vecs, col("vec_id"),
        col("embedding"), cents, nPerCluster = 5)
      .as[(Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(again.toSeq === got.toSeq)
  }

  test("hashSample membership is a pure function of the key") {
    val a = Sampling.hashSample(df, col("id"), 0.3).select("id").as[Long].collect().sorted
    val b = Sampling.hashSample(df, col("id"), 0.3).select("id").as[Long].collect().sorted
    assert(a.toSeq === b.toSeq)
    assert(a.nonEmpty && a.length < 99)
    // fraction monotonicity: a larger fraction is a superset
    val big = Sampling.hashSample(df, col("id"), 0.6).select("id").as[Long].collect().toSet
    assert(a.forall(big))
  }

  test("splitByHash: every row in exactly one split, stable across partitionings") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Sampling.splitByHash(df, col("id"), splits)
    assert(out.count() === 99) // no row dropped or duplicated
    val names = out.select("split").distinct().as[String].collect().toSet
    assert(names.subsetOf(Set("train", "val", "test")))
    val assign1 = out.select("id", "split").as[(Long, String)].collect().sortBy(_._1)
    val assign2 = Sampling.splitByHash(df.repartition(7), col("id"), splits)
      .select("id", "split").as[(Long, String)].collect().sortBy(_._1)
    assert(assign1.toSeq === assign2.toSeq)
    // rough proportions on 99 rows: train should dominate
    val counts = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts("train") > 60, counts)
  }

  test("splitByHash: relative weights and degenerate cases") {
    // weights need not sum to 1 — 4:1 behaves like 0.8/0.2
    val a = Sampling.splitByHash(df, col("id"), Seq("a" -> 4.0, "b" -> 1.0))
      .select("id", "split").as[(Long, String)].collect().toMap
    val b = Sampling.splitByHash(df, col("id"), Seq("a" -> 0.8, "b" -> 0.2))
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(a === b)
    // single split takes everything; zero-weight split gets nothing
    val single = Sampling.splitByHash(df, col("id"), Seq("all" -> 1.0))
    assert(single.filter(col("split") === "all").count() === 99)
    val zero = Sampling.splitByHash(df, col("id"), Seq("none" -> 0.0, "rest" -> 1.0))
    assert(zero.filter(col("split") === "none").count() === 0)
    intercept[IllegalArgumentException] {
      Sampling.splitByHash(df, col("id"), Seq.empty)
    }
  }

  test("epochShuffle: a permutation into shards, stable per epoch, " +
      "re-dealt across epochs") {
    val e3 = Sampling.epochShuffle(df, col("id"), numShards = 8, epoch = 3)
    // every row exactly once, shards in range, original columns survive
    assert(e3.count() === 99)
    assert(e3.select("id").distinct().count() === 99)
    assert(e3.columns === Array("id", "cls", "payload", "shard", "pos"))
    val shards = e3.select("shard").distinct().as[Int].collect().sorted
    assert(shards.forall(s => s >= 0 && s < 8))
    // positions are 1..n_shard within each shard (a dense in-shard order)
    val bad = e3.groupBy("shard")
      .agg(count("*").as("n"), max("pos").as("mx"), min("pos").as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(bad.count() === 0)
    // deterministic: same (corpus, epoch) deals identically
    val again = Sampling.epochShuffle(df, col("id"), 8, 3)
      .select("id", "shard", "pos").as[(Long, Int, Int)].collect().toSet
    assert(e3.select("id", "shard", "pos")
      .as[(Long, Int, Int)].collect().toSet === again)
    // a different epoch re-deals (some row changes shard or position)
    val e4 = Sampling.epochShuffle(df, col("id"), 8, 4)
      .select("id", "shard", "pos").as[(Long, Int, Int)].collect().toSet
    assert(e4 !== again)
    intercept[IllegalArgumentException] {
      Sampling.epochShuffle(df, col("id"), 0, 1)
    }
  }

  test("mixtureSampleByTokens: saturated domains keep all rows, absent " +
      "domains drop, thresholds are exact and deterministic") {
    // three domains with very different token masses: a=1-token docs,
    // b=10-token docs, c=5-token docs
    val docs = ((1 to 60).map(i => (i.toLong, "a", "t")) ++
      (61 to 90).map(i => (i.toLong, "b", Seq.fill(10)("w").mkString(" "))) ++
      (91 to 99).map(i => (i.toLong, "c", Seq.fill(5)("w").mkString(" "))))
      .toDF("id", "dom", "text")
    // total tokens = 60 + 300 + 45 = 405; budget = 405/2 = 202 (floor)
    // weights: a=1, b=1 (c absent -> dropped)
    val out = Sampling.mixtureSampleByTokens(docs, col("dom"), col("id"),
      col("text"), Map("a" -> 1L, "b" -> 1L), 1, 2)
    val byDom = out.groupBy("dom").count().as[(String, Long)].collect().toMap
    // a's target (101 tokens) exceeds its 60-token mass -> keep ALL of a
    assert(byDom("a") === 60L)
    // b is down-sampled: target 101 of 300 tokens -> roughly a third
    assert(byDom("b") > 0L && byDom("b") < 30L)
    assert(!byDom.contains("c"))
    // pure function of the key: identical on re-evaluation
    val ids1 = out.select("id").as[Long].collect().sorted.toSeq
    val ids2 = Sampling.mixtureSampleByTokens(docs, col("dom"), col("id"),
      col("text"), Map("a" -> 1L, "b" -> 1L), 1, 2)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids1 === ids2)
    intercept[IllegalArgumentException] {
      Sampling.mixtureSampleByTokens(docs, col("dom"), col("id"),
        col("text"), Map.empty, 1, 2)
    }
    intercept[IllegalArgumentException] {
      Sampling.mixtureSampleByTokens(docs, col("dom"), col("id"),
        col("text"), Map("a" -> 1L), 1, 0)
    }
  }

  test("cluster-keyed split is leakage-free: near-dup cluster members " +
      "always land in the same split") {
    // three near-identical docs (one token changed) + enough distinct
    // docs that multiple splits actually appear
    val base = (1 to 40).map(i => s"w${i * 13 % 101}t$i").mkString(" ")
    val docs = (Seq(
      (1L, base),
      (2L, base.replace("t5", "t5x")),
      (3L, base.replace("t7", "t7y"))) ++
      (10 to 69).map(i => (i.toLong,
        new scala.util.Random(i).shuffle((1 to 40).map(j => s"u${i}v$j")).mkString(" ")))
    ).toDF("doc_id", "text")
    val comp = Dedup.components(Dedup.minHashPairs(
      docs, col("doc_id"), col("text"),
      shingleK = 3, numHashes = 128, bands = 16, threshold = 0.8))
    val split = Sampling.splitByCluster(docs, col("doc_id"), comp,
        Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25))
      .select(col("id"), col("split"))
      .as[(Long, String)].collect().toMap
    // the planted cluster stays together
    assert(split(1L) === split(2L) && split(2L) === split(3L))
    // and the split machinery actually splits (multiple labels appear)
    assert(split.values.toSet.size >= 2, split.values.toSet)
  }

  test("quantileNormalize: percent-rank within group, hand-computed") {
    val rows = Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L), (4L, "a", 40L),
      (5L, "a", 50L),
      (6L, "b", 1000L), (7L, "b", 3000L),
      (8L, "c", 7L)) // single-row group → 0.0
    val got = Sampling.quantileNormalize(
        rows.toDF("id", "src", "score"), col("src"), col("score"), col("id"))
      .as[(Long, String, Long, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(got(1L) === 0.0 && got(2L) === 0.25 && got(3L) === 0.5 &&
      got(4L) === 0.75 && got(5L) === 1.0)
    assert(got(6L) === 0.0 && got(7L) === 1.0)
    assert(got(8L) === 0.0)
  }

  test("quantileNormalize: score ties rank deterministically by tiebreak") {
    val rows = Seq((1L, "a", 5L), (2L, "a", 5L), (3L, "a", 5L))
    val got = Sampling.quantileNormalize(
        rows.toDF("id", "src", "score"), col("src"), col("score"), col("id"))
      .as[(Long, String, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(got === Map(1L -> 0.0, 2L -> 0.5, 3L -> 1.0))
    // and it is stable across partitionings
    val re = Sampling.quantileNormalize(
        rows.toDF("id", "src", "score").repartition(3),
        col("src"), col("score"), col("id"))
      .as[(Long, String, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(re === got)
  }

  test("mixtureWaterfill: hand allocation — small sources fully funded, " +
      "large capped at the level, remainder to the first uncapped, " +
      "budget exactly spent") {
    import spark.implicits._
    val counts = Seq(("a", 10L), ("b", 100L), ("c", 100L), ("d", 5L))
      .toDF("source", "tokens")
    // sorted: d(5) a(10) b(100) c(100); budget 85:
    // d,a fully funded (cum 15); rem 70 over b,c -> level 35, extra 0
    val got = graft.operators.Sampling.mixtureWaterfill(
        counts, col("source"), col("tokens"), budget = 85L)
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("a", 10L, 10L), ("b", 100L, 35L),
      ("c", 100L, 35L), ("d", 5L, 5L)))
    assert(got.map(_._3).sum === 85L)
    // budget 86: rem 71 -> level 35, extra 1 -> the FIRST uncapped in
    // (tokens, source) order (b) gets the +1
    val got2 = graft.operators.Sampling.mixtureWaterfill(
        counts, col("source"), col("tokens"), budget = 86L)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got2 === Map("a" -> 10L, "b" -> 36L, "c" -> 35L, "d" -> 5L))
  }

  test("mixtureWaterfill: budget >= total funds everything; tiny budget " +
      "splits evenly; no allocation ever exceeds its source") {
    import spark.implicits._
    val counts = Seq(("a", 7L), ("b", 3L), ("c", 12L))
      .toDF("source", "tokens")
    val full = graft.operators.Sampling.mixtureWaterfill(
        counts, col("source"), col("tokens"), budget = 22L)
      .as[(String, Long, Long)].collect().toSeq
    assert(full.forall(r => r._3 === r._2)) // 22 = total -> all funded
    val tiny = graft.operators.Sampling.mixtureWaterfill(
        counts, col("source"), col("tokens"), budget = 2L)
      .as[(String, Long, Long)].collect().toSeq
    // level 0, extra 2 -> first two in (tokens, source) order: b, a
    assert(tiny.map(r => r._1 -> r._3).toMap ===
      Map("a" -> 1L, "b" -> 1L, "c" -> 0L))
    assert(tiny.forall(r => r._3 <= r._2 && r._3 >= 0))
  }

  test("timeEmbargoSplit: exact boundaries — train ends a full embargo " +
      "before the cut, the gap rows are excluded from both sides") {
    import spark.implicits._
    val us = 1000L // the cut is micro-granular by contract
    // 10 events at micros 1..10; p80 discrete of [1..10] = 8
    val rows = (1L to 10L).map(i => (i, i * us)).toDF("id", "ts")
    val got = graft.operators.Sampling.timeEmbargoSplit(
        rows, col("id"), col("ts"), trainFrac = 0.8,
        embargoNanos = 3 * us)
      .as[(Long, String)].collect().toMap
    // cut = 8 us; train: ts <= 5 us; embargo: 5 < ts <= 8; test: > 8
    assert((1L to 5L).forall(got(_) == "train"))
    assert((6L to 8L).forall(got(_) == "embargo"))
    assert((9L to 10L).forall(got(_) == "test"))
  }

  test("timeEmbargoSplit: no temporal leakage — max train ts + embargo " +
      "<= min test ts on a realistic spread") {
    import spark.implicits._
    val rows = (1L to 500L).map(i => (i, i * 7919L * 1000L))
      .toDF("id", "ts")
    val embargo = 100000L
    val split = graft.operators.Sampling.timeEmbargoSplit(
      rows, col("id"), col("ts"), trainFrac = 0.7, embargoNanos = embargo)
    val byTs = split.join(rows, "id").as[(Long, String, Long)].collect()
    val trainMax = byTs.filter(_._2 == "train").map(_._3).max
    val testMin = byTs.filter(_._2 == "test").map(_._3).min
    assert(trainMax + embargo <= testMin)
  }

  test("weightedSample: ranks replay the max-of-w-hash keys, weights " +
      "clamp into [1, maxWeight], deterministic under repartition") {
    import graft.functions.TextFunctions
    val d = Seq((1L, 3L), (2L, 0L), (3L, 100L), (4L, 5L))
      .toDF("id", "w")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Sampling.weightedSample(
          df, col("id"), col("w"), n = 10, maxWeight = 5)
        .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    val out = run(d)
    assert(out.map(_._1) === Seq(1L, 2L, 3L, 4L))      // n >= corpus
    assert(out.map(_._2) === Seq(3L, 1L, 5L, 5L))      // clamped weights
    assert(out.map(_._3).sorted === Seq(1, 2, 3, 4))
    // expected order: key = max of w hashes, desc, tie toward smaller id
    val keys = Seq((1L, 3L), (2L, 1L), (3L, 5L), (4L, 5L)).map {
      case (id, w) =>
        val k = (1L to w).map { j =>
          d.sparkSession.range(1)
            .select(TextFunctions.hash32(lit(s"$id:$j")).as("h"))
            .head().getLong(0)
        }.max
        (id, k)
    }
    val expRank = keys.sortBy { case (id, k) => (-k, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    assert(out.forall { case (id, _, r) => expRank(id) == r })
    assert(run(d.repartition(3)) === out)
  }

  test("kCenterSelect: hand-verifiable greedy maxmin picks on the unit " +
      "circle; zero vectors never participate (even as seed); k beyond " +
      "the pool truncates; partition-invariant") {
    val d = Seq(
      (0L, Seq(0f, 0f)),          // zero norm: excluded, must NOT seed
      (1L, Seq(1f, 0f)),          // seed (smallest usable id)
      (2L, Seq(0.996f, 0.087f)),  // ~5 deg from the seed
      (3L, Seq(0f, 1f)),          // 90 deg
      (4L, Seq(-1f, 0f))          // 180 deg
    ).toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Sampling.kCenterSelect(
          df, col("vec_id"), col("embedding"), k = 10)
        .as[(Int, Long, Option[Double])].collect().sortBy(_._1).toSeq
    val out = run(d)
    // greedy: 1 seeds; 4 is antipodal (d = 2 exactly); 3 is orthogonal to
    // both (d = 1 exactly); the near-duplicate 2 comes last
    assert(out.map(_._2) === Seq(1L, 4L, 3L, 2L))
    assert(out(0)._3 === None)
    assert(out(1)._3 === Some(2.0))
    assert(out(2)._3 === Some(1.0))
    assert(out(3)._3.get > 0.0 && out(3)._3.get < 0.01)
    assert(run(d.repartition(3)) === out)
  }

  test("kCenterCoverage: assignment replays the greedy centers — exact " +
      "distance ties go to the smaller center id; every-point-is-a-center " +
      "degenerates to singletons; partition-invariant") {
    val d = Seq(
      (0L, Seq(0f, 0f)),          // zero norm: not assigned anywhere
      (1L, Seq(1f, 0f)),
      (2L, Seq(0.996f, 0.087f)),
      (3L, Seq(0f, 1f)),          // EXACTLY distance 1.0 from centers 1 and 4
      (4L, Seq(-1f, 0f))
    ).toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame, k: Int) =
      graft.operators.Sampling.kCenterCoverage(
          df, col("vec_id"), col("embedding"), k)
        .as[(Int, Long, Long, Option[Double], Option[Double])]
        .collect().sortBy(_._1).toSeq
    // k = 2: centers {1, 4}; point 3 ties at d = 1.0 exactly -> center 1;
    // the near-duplicate 2 goes to 1; 4 keeps only itself
    val k2 = run(d, 2)
    assert(k2.map(r => (r._1, r._2, r._3)) === Seq((1, 1L, 3L), (2, 4L, 1L)))
    assert(k2(0)._5.get === 1.0) // max_dist of center 1 is the tied point
    // k = 4: every usable point is a center -> four singletons, zero-norm
    // row in none of them
    val k4 = run(d, 4)
    assert(k4.map(_._3) === Seq(1L, 1L, 1L, 1L))
    assert(k4.map(_._3).sum === 4L)
    assert(run(d.repartition(3), 2) === k2)
  }

  test("kCenterSelect: the coverage-radius curve is non-increasing on a " +
      "random corpus (the greedy maxmin invariant — each pick's dmin is " +
      "the max over a shrinking running minimum)") {
    val rnd = new scala.util.Random(7)
    val d = (0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val dm = graft.operators.Sampling.kCenterSelect(
        d, col("vec_id"), col("embedding"), k = 8)
      .orderBy(col("rank"))
      .as[(Int, Long, Option[Double])].collect().toSeq
      .flatMap(_._3)
    assert(dm.size === 7)
    assert(dm.zip(dm.tail).forall { case (a, b) => a >= b }, dm)
  }
}
