package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Unigram-LM subword tokenizer (SentencePiece-style; Kudo 2018,
  * "Subword Regularization", arXiv:1804.10959 — public algorithm),
  * simplified: seed the piece inventory from frequent word substrings,
  * estimate piece probabilities with soft EM (forward–backward over each
  * distinct word's segmentation lattice), prune to the vocabulary budget,
  * re-estimate. The other half of the production tokenizer family next to
  * [[Bpe]] — BPE composes greedily bottom-up, the unigram LM picks each
  * word's maximum-likelihood segmentation top-down, and the two are what
  * `tokenizer_fertility`-style audits compare before committing a vocab.
  *
  * Training is driver-local over the COLLECTED word dictionary — the same
  * move as [[Bpe.trainBpeLocal]] and the k-means centroid trainer: the
  * dictionary is Heaps-law-bounded (independent of corpus size), the
  * corpus itself is touched exactly once by the distributed word count.
  *
  * APPLICATION is exact integer math: piece log-probabilities quantize
  * once to fixed-point COSTS (`cost = round(−ln p · 2^20)`, the bm25
  * fixed-point discipline — `ln` runs only in the trainer), and Viterbi
  * minimizes total cost with a fewest-pieces tie-break. Integer costs
  * make the DP provably order-independent AND replayable bit-for-bit by
  * an ANSI engine (a float Viterbi's ties would hang on the last ulp).
  *
  * Scale shape of application: the corpus collapses to per-doc
  * (word, count) rows once; Viterbi runs once per DISTINCT word (a UDF
  * over the dictionary — the merge loop is inherently sequential per
  * word, the dictionary is the small side); token totals come from
  * `Σ count · n_sub`, so per-occurrence work never happens.
  */
object Unigram {

  /** Cost charged per code point no piece covers (unknown character —
    * a char outside the training corpus): an e^-24 probability floor.
    * UNK applies ONLY when the single-character piece is absent, so it
    * can never shadow a real piece regardless of relative cost — do NOT
    * read this as an upper bound on trained piece costs (a floored rare
    * character in a pinned table can legitimately cost far more). Small
    * enough that a 10⁶-char pathological token stays within long range.
    */
  val UnkCost: Long = 24L * (1L << 20)

  /** Split into code-point strings (the SQL engines' character unit —
    * Java substring-by-char would disagree on surrogate pairs; the same
    * convention as [[Bpe.applyMerges]]).
    */
  private[operators] def codePoints(word: String): Array[String] = {
    val b = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      b += word.substring(i, i + n)
      i += n
    }
    b.result()
  }

  // ------------------------------------------------------------- training

  /** Sizes of [[trainUnigram]]: 48 multi-character pieces kept, pieces up
    * to 6 code points, 512 seed substrings, 4 EM rounds — the settings
    * the pinned unigram table was trained with. */
  private val UnigramVocabExtra = 48
  private val UnigramMaxPieceLen = 6
  private val UnigramSeedSize = 512
  private val UnigramEmIters = 4

  /** Soft-EM unigram-LM training over a `(word, freq)` dictionary.
    * Returns `(piece, ln prob)` for the pruned vocabulary: every corpus
    * character (coverage is unconditional — Viterbi must always have a
    * path) plus the [[UnigramVocabExtra]] best multi-character pieces.
    *
    * Deterministic: words iterate in sorted order, per-piece expected
    * counts accumulate in that order, and normalization sums fold over
    * sorted keys — the same table on every run over the same dictionary.
    *
    * Simplifications vs full SentencePiece (documented, not hidden): the
    * seed is frequency-weighted substrings (not the ESA suffix-array
    * seed), pruning keeps the top pieces by probability once (not the
    * iterated least-loss 20% shrink), and there is no subword
    * regularization sampling — the artifact is a deterministic
    * maximum-likelihood table, which is what a hash-gated pipeline can
    * carry.
    */
  def trainUnigram(dict: Seq[(String, Long)]): Seq[(String, Double)] = {
    val words = dict.sortBy(_._1).map { case (w, f) => (codePoints(w), f) }

    // character inventory (always kept) + substring seed candidates
    val charW = scala.collection.mutable.HashMap.empty[String, Double]
    val candW = scala.collection.mutable.HashMap.empty[String, Double]
    words.foreach { case (cps, f) =>
      var i = 0
      while (i < cps.length) {
        charW(cps(i)) = charW.getOrElse(cps(i), 0.0) + f.toDouble
        var l = 2
        while (l <= UnigramMaxPieceLen && i + l <= cps.length) {
          val sub = cps.slice(i, i + l).mkString
          candW(sub) = candW.getOrElse(sub, 0.0) + f.toDouble
          l += 1
        }
        i += 1
      }
    }
    val chars = charW.keys.toSeq.sorted
    val seeds = candW.toSeq
      .sortBy { case (p, w) => (-w, p) }
      .take(UnigramSeedSize).map(_._1)

    var probs = normalized(
      chars.map(c => c -> charW(c)) ++ seeds.map(p => p -> candW(p)))

    var it = 0
    while (it < UnigramEmIters) { probs = emStep(words, chars, probs); it += 1 }
    // prune to chars + the UnigramVocabExtra best multi-char pieces, re-estimate
    val keptMulti = probs.toSeq
      .filter { case (p, _) => codePoints(p).length >= 2 }
      .sortBy { case (p, w) => (-w, p) }
      .take(UnigramVocabExtra).map(_._1).toSet
    probs = normalized(probs.toSeq.filter { case (p, _) =>
      keptMulti(p) || codePoints(p).length == 1 })
    it = 0
    while (it < 2) { probs = emStep(words, chars, probs); it += 1 }
    probs.toSeq.sortBy { case (p, w) => (-w, p) }
      .map { case (p, w) => (p, math.log(w)) }
  }

  /** Weights over their total, summed in sorted key order. */
  private def normalized(weights: Seq[(String, Double)]): Map[String, Double] = {
    val total = weights.sortBy(_._1).foldLeft(0.0)(_ + _._2)
    weights.map { case (p, w) => p -> w / total }.toMap
  }

  /** One soft-EM round of [[trainUnigram]]: forward-backward expected
    * piece counts of `words` under `table`, renormalized, with a floor
    * on every `chars` entry so coverage never collapses to 0. */
  private[operators] def emStep(words: Seq[(Array[String], Long)],
      chars: Seq[String], table: Map[String, Double]): Map[String, Double] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Double]
    words.foreach { case (cps, f) =>
      val n = cps.length
      val alpha = new Array[Double](n + 1)
      val beta = new Array[Double](n + 1)
      alpha(0) = 1.0
      var j = 1
      while (j <= n) {
        var i = math.max(0, j - UnigramMaxPieceLen)
        var a = 0.0
        while (i < j) {
          if (alpha(i) > 0) {
            table.get(cps.slice(i, j).mkString)
              .foreach(p => a += alpha(i) * p)
          }
          i += 1
        }
        alpha(j) = a
        j += 1
      }
      if (alpha(n) > 0) {
        beta(n) = 1.0
        var i = n - 1
        while (i >= 0) {
          var b = 0.0
          var jj = i + 1
          while (jj <= math.min(n, i + UnigramMaxPieceLen)) {
            if (beta(jj) > 0) {
              table.get(cps.slice(i, jj).mkString)
                .foreach(p => b += p * beta(jj))
            }
            jj += 1
          }
          beta(i) = b
          i -= 1
        }
        var ii = 0
        while (ii < n) {
          var jj = ii + 1
          while (jj <= math.min(n, ii + UnigramMaxPieceLen)) {
            val piece = cps.slice(ii, jj).mkString
            table.get(piece).foreach { p =>
              val post = alpha(ii) * p * beta(jj) / alpha(n)
              if (post > 0)
                counts(piece) = counts.getOrElse(piece, 0.0) + f * post
            }
            jj += 1
          }
          ii += 1
        }
      }
    }
    val floored = counts.toMap ++
      chars.filter(c => counts.getOrElse(c, 0.0) <= 0.0)
        .map(c => c -> 1e-9).toMap
    normalized(floored.toSeq)
  }

  /** Quantize trained `(piece, ln prob)` to the fixed-point integer costs
    * application runs on: `cost = round(−lnp · 2^20)` — the only place a
    * transcendental touches this module is [[trainUnigram]]'s log.
    */
  def toCosts(pieces: Seq[(String, Double)]): Seq[(String, Long)] =
    pieces.map { case (p, lnp) => (p, math.round(-lnp * (1L << 20))) }

  // ---------------------------------------------------------- application

  /** Exact-integer Viterbi segmentation cost of one word: minimal total
    * piece cost, ties broken toward FEWER pieces (both components are
    * additive, so the lexicographic DP is prefix-optimal). A code point no
    * piece covers consumes one [[UnkCost]] token — only when its
    * single-character piece is absent, so UNK can never shadow a real
    * piece. Returns (n_pieces, total_cost).
    */
  def segmentCost(word: String, costs: Map[String, Long],
      maxPieceLen: Int): (Int, Long) = {
    val cps = codePoints(word)
    val n = cps.length
    val INF = Long.MaxValue
    val best = Array.fill(n + 1)(INF)
    val cnt = Array.fill(n + 1)(Int.MaxValue)
    best(0) = 0
    cnt(0) = 0
    def relax(j: Int, c: Long, k: Int): Unit =
      if (c < best(j) || (c == best(j) && k < cnt(j))) {
        best(j) = c; cnt(j) = k
      }
    var i = 0
    while (i < n) {
      if (best(i) < INF) {
        var matched1 = false
        var l = 1
        while (l <= maxPieceLen && i + l <= n) {
          costs.get(cps.slice(i, i + l).mkString).foreach { c =>
            if (l == 1) matched1 = true
            relax(i + l, best(i) + c, cnt(i) + 1)
          }
          l += 1
        }
        if (!matched1) relax(i + 1, best(i) + UnkCost, cnt(i) + 1)
      }
      i += 1
    }
    (cnt(n), best(n))
  }

  private def maxLenOf(costs: Seq[(String, Long)]): Int = {
    require(costs.nonEmpty,
      "empty piece table — train one first (trainUnigram over a non-empty dictionary)")
    costs.map(p => codePoints(p._1).length).max
  }

  /** Per-document unigram token counts over a corpus: one (id, word)
    * count aggregation, Viterbi once per DISTINCT word, token totals as
    * `Σ count · n_sub`. Output: (id, n_tokens) — docs with no whitespace
    * tokens report 0.
    */
  def tokenCounts(df: DataFrame, id: Column, text: Column,
      costs: Seq[(String, Long)]): DataFrame = {
    val cmap = costs.toMap
    val maxLen = maxLenOf(costs)
    countsWith(df, id, text,
      udf((w: String) => segmentCost(w, cmap, maxLen)._1))
  }

  private def countsWith(df: DataFrame, id: Column, text: Column,
      nsub: org.apache.spark.sql.expressions.UserDefinedFunction)
      : DataFrame = {
    val words = df.select(id.as("id"),
        explode(TextFunctions.tokensWs(text)).as("word"))
      .groupBy(col("id"), col("word")).agg(count(lit(1)).as("cnt"))
    val dict = words.select(col("word")).distinct()
      .withColumn("n_sub", nsub(col("word")))
    val counted = words.join(dict, Seq("word"))
      .groupBy(col("id"))
      .agg(sum(col("cnt") * col("n_sub")).as("n_tokens"))
    df.select(id.as("id")).distinct()
      .join(counted, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }

  // ------------------------------------------- greedy longest-match (WordPiece)

  /** Greedy longest-match-first segment count over a piece VOCABULARY —
    * the WordPiece inference rule (MaxMatch; Wu et al. 2016, the BERT
    * tokenizer's matching, sans the `##` continuation marking which is a
    * display convention over the same walk): at each position consume the
    * LONGEST vocabulary piece that matches; a position no piece covers
    * consumes one code point as UNK. Pure exact string work — no costs,
    * no DP — so an ANSI oracle replays it with a deterministic recursive
    * walk. The third segmentation family next to [[Bpe]] (bottom-up
    * greedy merges) and the Viterbi [[segmentCost]] (global argmin):
    * same vocabulary, three different token streams — which is exactly
    * what a tokenizer-selection audit compares.
    */
  def greedyCount(word: String, vocab: Set[String], maxPieceLen: Int): Int = {
    val cps = codePoints(word)
    var i = 0
    var n = 0
    while (i < cps.length) {
      var l = math.min(maxPieceLen, cps.length - i)
      var step = 1 // UNK fallback: consume one code point
      var found = false
      while (!found && l >= 1) {
        if (vocab.contains(cps.slice(i, i + l).mkString)) {
          step = l; found = true
        }
        l -= 1
      }
      i += step
      n += 1
    }
    n
  }

  /** Per-document greedy longest-match token counts over a corpus — the
    * WordPiece twin of [[tokenCounts]], same scale shape: one (id, word)
    * count aggregation, the greedy walk once per DISTINCT word, token
    * totals as `Σ count · n_sub`.
    */
  def greedyTokenCounts(df: DataFrame, id: Column, text: Column,
      vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "empty vocabulary — nothing to match")
    val vset = vocab.toSet
    val maxLen = vocab.map(p => codePoints(p).length).max
    countsWith(df, id, text, udf((w: String) => greedyCount(w, vset, maxLen)))
  }

  /** Tokenizer fertility diagnostics per group — the unigram twin of
    * [[Bpe.fertilityByGroup]], same output shape: (grp, n_docs, n_chars,
    * n_words, n_tokens, tokens_per_word, chars_per_token).
    */
  def fertilityByGroup(df: DataFrame, text: Column, group: Column,
      costs: Seq[(String, Long)]): DataFrame = {
    val cmap = costs.toMap
    val maxLen = maxLenOf(costs)
    fertilityWith(df, text, group,
      udf((w: String) => segmentCost(w, cmap, maxLen)._1))
  }

  /** The greedy longest-match twin of [[fertilityByGroup]] — same
    * diagnostic shape over [[greedyCount]]'s walk.
    */
  def greedyFertilityByGroup(df: DataFrame, text: Column, group: Column,
      vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "empty vocabulary — nothing to match")
    val vset = vocab.toSet
    val maxLen = vocab.map(p => codePoints(p).length).max
    fertilityWith(df, text, group,
      udf((w: String) => greedyCount(w, vset, maxLen)))
  }

  private def fertilityWith(df: DataFrame, text: Column, group: Column,
      nsub: org.apache.spark.sql.expressions.UserDefinedFunction)
      : DataFrame = {
    val words = df.select(group.as("grp"),
        explode(TextFunctions.tokensWs(text)).as("word"))
      .groupBy(col("grp"), col("word")).agg(count(lit(1)).as("n"))
    val dict = words.select(col("word")).distinct()
      .withColumn("n_sub", nsub(col("word")))
    val tok = words.join(dict, Seq("word"))
      .groupBy(col("grp"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_sub")).as("n_tokens"))
    val base = df.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(length(text)).as("n_chars"))
    base.join(tok, Seq("grp"), "left")
      .select(col("grp"), col("n_docs"), col("n_chars"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .withColumn("tokens_per_word",
        when(col("n_words") === 0, lit(0.0))
          .otherwise(col("n_tokens").cast("double") / col("n_words").cast("double")))
      .withColumn("chars_per_token",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("n_chars").cast("double") / col("n_tokens").cast("double")))
  }
}
