package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class UnigramSpec extends SparkSpec {
  import spark.implicits._

  private val toyDict = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L),
    ("low low", 0L) // zero-freq words contribute nothing
  ).filter(_._2 > 0)

  test("trainUnigram: coverage, normalization, and EM likelihood ascent") {
    val pieces = Unigram.trainUnigram(toyDict)
    val probs = pieces.map { case (p, lnp) => p -> math.exp(lnp) }.toMap
    // every corpus character is a piece (coverage is unconditional)
    val chars = toyDict.flatMap(_._1.toSeq).map(_.toString).toSet
    assert(chars.subsetOf(probs.keySet))
    // probabilities normalize
    assert(math.abs(probs.values.sum - 1.0) < 1e-9)
    // EM rounds never decrease the corpus likelihood: from a uniform
    // table over every substring of up to 6 code points, the exact
    // marginal log-likelihood (forward pass over all segmentations)
    // ascends round by round
    val words = toyDict.sortBy(_._1).map { case (w, f) =>
      (Unigram.codePoints(w), f) }
    val subs = words.flatMap { case (cps, _) =>
      for (i <- cps.indices; j <- i + 1 to math.min(cps.length, i + 6))
        yield cps.slice(i, j).mkString
    }.distinct
    def ll(table: Map[String, Double]): Double = words.map { case (cps, f) =>
      val alpha = new Array[Double](cps.length + 1)
      alpha(0) = 1.0
      for (j <- 1 to cps.length; i <- math.max(0, j - 6) until j)
        alpha(j) += alpha(i) * table.getOrElse(cps.slice(i, j).mkString, 0.0)
      f * math.log(alpha(cps.length))
    }.sum
    val rounds = Iterator.iterate(subs.map(_ -> 1.0 / subs.size).toMap)(
      Unigram.emStep(words, chars.toSeq.sorted, _)).take(4).toSeq
    rounds.sliding(2).foreach { case Seq(a, b) =>
      assert(ll(b) >= ll(a) - 1e-9 * math.abs(ll(a)), s"${ll(a)} -> ${ll(b)}")
    }
    assert(ll(rounds.last) > ll(rounds.head))
    // determinism: same dictionary -> bit-identical table
    val again = Unigram.trainUnigram(toyDict)
    assert(again === pieces)
  }

  test("segmentCost: exact-integer Viterbi with fewest-pieces tie-break " +
      "and UNK fallback") {
    // equal-cost tie: "ab" (20) vs "a"+"b" (10+10) -> fewer pieces wins
    val costs = Map("a" -> 10L, "b" -> 10L, "ab" -> 20L)
    assert(Unigram.segmentCost("ab", costs, 2) === ((1, 20L)))
    // cheaper composite beats the pair outright
    val cheap = Map("a" -> 10L, "b" -> 10L, "ab" -> 5L)
    assert(Unigram.segmentCost("abab", cheap, 2) === ((2, 10L)))
    // pricier composite loses to singles
    val dear = Map("a" -> 10L, "b" -> 10L, "ab" -> 50L)
    assert(Unigram.segmentCost("ab", dear, 2) === ((2, 20L)))
    // uncovered code point consumes one UnkCost token, only when its
    // single-char piece is absent
    assert(Unigram.segmentCost("axb", costs, 2) ===
      ((3, 20L + Unigram.UnkCost)))
    // over a trained table every training word tiles at most one piece
    // per code point, and never costs more than its all-single-character
    // tiling (every character is a trained piece, so no UNK is needed)
    val trained = Unigram.toCosts(Unigram.trainUnigram(toyDict)).toMap
    toyDict.foreach { case (w, _) =>
      val (pieces, cost) = Unigram.segmentCost(w, trained, 6)
      assert(pieces >= 1 && pieces <= w.length, w)
      assert(cost <= w.map(c => trained(c.toString)).sum, w)
    }
  }

  test("tokenCounts: per-doc totals via the distinct-word join, empty " +
      "docs report 0; an empty piece table is rejected with a clear error") {
    val costs = Seq(("a", 10L), ("b", 10L), ("ab", 5L), ("c", 10L))
    val err = intercept[IllegalArgumentException] {
      Unigram.tokenCounts(Seq((1L, "x")).toDF("id", "text"),
        col("id"), col("text"), Seq.empty)
    }
    assert(err.getMessage.contains("empty piece table"))
    val docs = Seq((1L, "ab ab c"), (2L, "abab"), (3L, " "))
      .toDF("id", "text")
    val got = Unigram.tokenCounts(docs, col("id"), col("text"), costs)
      .as[(Long, Long)].collect().sortBy(_._1)
    // "ab" -> 1 piece, twice; "c" -> 1; "abab" -> 2
    assert(got === Array((1L, 3L), (2L, 2L), (3L, 0L)))
  }

  test("fertilityByGroup mirrors the BPE diagnostic's shape") {
    val costs = Seq(("a", 10L), ("b", 10L), ("ab", 5L))
    val docs = Seq(("en", "ab ab"), ("en", "a b"), ("de", "abab"))
      .toDF("lang", "text")
    val got = Unigram.fertilityByGroup(docs, col("text"), col("lang"), costs)
      .as[(String, Long, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got.map(r => (r._1, r._4, r._5)) ===
      Seq(("de", 1L, 2L), ("en", 4L, 4L)))
  }

  test("greedyCount: longest match wins at each position, UNK consumes " +
      "one code point, and maximal munch can differ from Viterbi") {
    val vocab = Set("ab", "a", "b", "abc", "c")
    assert(Unigram.greedyCount("abcab", vocab, maxPieceLen = 3) === 2) // abc|ab
    assert(Unigram.greedyCount("abq", vocab, maxPieceLen = 3) === 2)   // ab|UNK
    assert(Unigram.greedyCount("qq", vocab, maxPieceLen = 3) === 2)    // UNK|UNK
    assert(Unigram.greedyCount("", vocab, maxPieceLen = 3) === 0)
    // greedy "aa|b" loses to Viterbi "a|ab" when costs favor the split —
    // the divergence the three-entry tokenizer audit is built to show
    val costs = Seq(("a", 1L), ("ab", 1L), ("aa", 100L), ("b", 100L))
    assert(Unigram.greedyCount("aab", costs.map(_._1).toSet, 2) === 2) // aa|b
    assert(Unigram.segmentCost("aab", costs.toMap, 2) === ((2, 2L)))   // a|ab
  }

  test("greedyTokenCounts: per-doc totals via the distinct-word join") {
    val docs = Seq((1L, "abcab abq"), (2L, ""), (3L, "qq qq")).toDF("id", "text")
    val vocab = Seq("ab", "a", "b", "abc", "c")
    val got = Unigram.greedyTokenCounts(docs, col("id"), col("text"), vocab)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 4L), (2L, 0L), (3L, 4L)))
  }
}
