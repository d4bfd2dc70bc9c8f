package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Linear text classifier — the classifier-based curation stage of a
  * training-data pipeline (language ID backing the n-gram heuristic in
  * [[graft.functions.TextFunctions.langId]], quality scoring against
  * labeled exemplars, topic/domain routing): hashed character-n-gram
  * counts scored by a PINNED integer-quantized linear model (public
  * fastText-style recipe: bag of hashed n-grams + linear model).
  *
  * Training runs offline ([[graft.tools.TrainArtifacts]], MLlib logistic
  * regression over the same featurization) and ships the weights as
  * literals, so the apply path is exact integer arithmetic a SQL oracle
  * replays. Scale shape: featurization is MAP-ONLY (a codegen'd gram
  * kernel; hashing needs no vocabulary pass, the feature space is fixed
  * by `dims`), the weight table is (classes × dims) rows and broadcasts,
  * and scoring is partial-first aggregation on 8-byte keys.
  */
object TextClassifier {

  /** Character n-grams of `c` as an array column — the native one-pass
    * [[org.apache.spark.sql.graft.CharNgrams]] gram kernel (the
    * declarative substring-per-position transform this replaced is
    * O(len²) per document — measured 65 s at stress ×16 on the
    * classifier before the switch, the same lesson char_trigram_profile
    * learned in round 13). Text shorter than `n` yields the text itself
    * so no document featurizes to nothing.
    */
  def charNgrams(c: Column, n: Int): Column =
    when(length(c) < n, array(c))
      .otherwise(org.apache.spark.sql.graft.TextStats.charNgrams(c, n))

  /** md5 bucket of a character n-gram — `hash32(gram) mod dims`: the
    * vocabulary-free featurization BOTH the pinned-weight apply path and
    * a SQL oracle can replay bit-for-bit (MLlib HashingTF's murmur3
    * cannot be reproduced in DuckDB, so [[graft.tools.TrainArtifacts]]
    * trains on THIS hashing and the pinned weights match the apply path).
    */
  def hashedGramDim(gram: Column, dims: Int): Column =
    graft.functions.TextFunctions.hash32(gram) % dims

  /** The full pinned-path featurization — (id, dim, c) hashed-gram counts
    * — in ONE place, consumed by BOTH [[classifyLinearPinned]] and the
    * trainer ([[graft.tools.TrainArtifacts]]): a drift between the
    * features the weights were trained on and the features the apply
    * path computes is invisible to the oracle gate (it replays only the
    * apply side) and silently degrades predictions toward the majority
    * prior — so the two sides must SHARE the chain, not re-type it.
    *
    * `family` picks the hash: "md5" (default) is the ORACLE featurizer —
    * per-gram md5, SQL-replayable, but the md5 constant dominates the
    * classifier's cost at scale (~600 grams/doc); "fast" is the
    * PRODUCTION featurizer — the one-pass native
    * [[org.apache.spark.sql.graft.CharNgramDimCounts]] kernel (xxhash64
    * off the UTF-8 bytes, counts finished per document at map time, so
    * the (id, dim) aggregation exchange disappears too). Weights are
    * family-specific ([[graft.queries.PinnedArtifacts.LangLrWeights]] vs
    * `LangLrWeightsFast`) — NEVER apply one family's weights to the
    * other's features.
    *
    * Duplicate-id contract: "md5"'s groupBy merges rows sharing an id
    * into one (id, dim) count; "fast" stays map-only and emits one count
    * set PER INPUT ROW, so a duplicate-id frame yields duplicate
    * (id, dim) rows. Identical for every additive consumer
    * ([[linearScoresPinned]] sums either shape to the same scores —
    * spec'd); a consumer that assumes unique (id, dim) keys (sparse
    * vector assembly) must merge first, as
    * [[graft.tools.TrainArtifacts]] does.
    */
  def hashedGramCounts(df: DataFrame, id: Column, text: Column,
      n: Int, dims: Int, family: String = "md5"): DataFrame = {
    val base = df.select(id.as("id"), text.as("__text"))
    family match {
      case "md5" =>
        // ONE compiled pass ([[org.apache.spark.sql.graft
        // .CharNgramMd5DimCounts]]): same md5-32 per gram, counts
        // finished per document at map time — the explode used to carry
        // every gram occurrence (with its rendered md5 hex) into the
        // (id, dim) aggregation exchange; now ≤ min(grams, dims) rows
        // per document reach it. The groupBy stays for this branch's
        // documented duplicate-id merge contract (sum of per-row counts
        // ≡ the old per-occurrence count).
        base.select(col("id"),
            explode(org.apache.spark.sql.graft.CharNgramMd5DimCounts
              .charNgramMd5DimCounts(col("__text"), n, dims)).as("__dc"))
          .select(col("id"), col("__dc.dim").cast("long").as("dim"),
            col("__dc.c").as("__c0"))
          .groupBy(col("id"), col("dim")).agg(sum(col("__c0")).as("c"))
      case "fast" =>
        base.select(col("id"),
            explode(org.apache.spark.sql.graft.CharNgramDimCounts
              .charNgramDimCounts(col("__text"), n, dims)).as("__dc"))
          .select(col("id"), col("__dc.dim").cast("long").as("dim"),
            col("__dc.c").as("c")) // long dim, like the md5 branch
      case other =>
        throw new IllegalArgumentException(
          s"unknown featurizer family '$other' (md5 | fast)")
    }
  }

  /** Apply a PINNED linear text classifier — the deployment shape of
    * classifier-based curation (fastText-style language ID / quality
    * routing): weights are trained ONCE offline
    * ([[graft.tools.TrainArtifacts]], logistic regression over
    * [[hashedGramDim]] char-n-gram counts), INTEGER-QUANTIZED at 2^20
    * fixed point, and shipped as literals — so scoring is exact integer
    * arithmetic end to end (order-free sums, no float-ordering anywhere)
    * and a SQL oracle replays the whole chain: per class,
    * score_q = bias_q + Σ_dim count(doc, dim) · w_q[class][dim]; argmax
    * with ties toward the sorted-label index.
    *
    * `weights`: (label, bias_q, w_q[dims]) rows sorted by label. Output:
    * (id, pred, score) with `score` = score_q / 2^20.
    *
    * Scale shape: one gram explode into a per-(doc, dim) count aggregate
    * (≤ dims rows per doc however long the text, map-side partials), a
    * broadcast join against the (dims × classes)-row weight table, a
    * per-(doc, class) sum and a per-doc argmax — all partial-first
    * HashAggregates on 8-byte keys; text never shuffles past the gram
    * projection. Overflow bound: count·w_q per (doc, dim) stays under
    * 2^62 for any realistic document at |w| ≤ 2^10.
    */
  def classifyLinearPinned(df: DataFrame, id: Column, text: Column,
      weights: Seq[(String, Long, Seq[Long])], n: Int = 3,
      dims: Int = 128, family: String = "md5"): DataFrame =
    linearScoresPinned(df, id, text, weights, n, dims, family)
      .groupBy(col("id"))
      .agg(max_by(struct(col("label"), col("scoreq")),
        struct(col("scoreq"), (-col("tie")).as("nt"))).as("m"))
      .select(col("id"), col("m.label").as("pred"),
        (col("m.scoreq").cast("double") / lit(1048576.0)).as("score"))

  /** The full per-class score table behind [[classifyLinearPinned]] —
    * (id, label, tie, scoreq) for EVERY class, in the same exact integer
    * arithmetic: the input to calibrated/uncertainty consumers (conformal
    * prediction sets, margin audits) that need more than the argmax.
    */
  def linearScoresPinned(df: DataFrame, id: Column, text: Column,
      weights: Seq[(String, Long, Seq[Long])], n: Int = 3,
      dims: Int = 128, family: String = "md5"): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.map(_._1) == weights.map(_._1).sorted &&
      weights.map(_._1).distinct.size == weights.size,
      "weight labels must be unique and sorted")
    require(weights.forall(_._3.size == dims),
      s"every weight vector must have $dims entries")
    val spark = df.sparkSession
    import spark.implicits._
    val wDf = broadcast(weights.zipWithIndex.flatMap {
      case ((l, _, w), i) =>
        w.zipWithIndex.map { case (wq, d) => (d, l, i.toLong, wq) }
    }.toDF("dim", "label", "tie", "wq"))
    val biases = broadcast(weights.zipWithIndex.map {
      case ((l, b, _), i) => (l, i.toLong, b)
    }.toDF("label", "tie", "biasq"))
    val counts = hashedGramCounts(df, id, text, n, dims, family)
      .withColumnRenamed("c", "__c")
    counts.join(wDf, Seq("dim"))
      .groupBy(col("id"), col("label"), col("tie"))
      .agg(sum(col("__c") * col("wq")).as("__s0"))
      .join(biases, Seq("label", "tie"))
      .select(col("id"), col("label"), col("tie"),
        (col("__s0") + col("biasq")).as("scoreq"))
  }
}
