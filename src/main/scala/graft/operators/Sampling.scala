package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deterministic sampling for training-data curation.
  *
  * RNG-based `sample()` changes membership on retry/recompute and can't be
  * reproduced outside Spark; hashing a stable key gives samples that are
  * reproducible across runs, engines, and cluster layouts (the property
  * curation pipelines need for auditability) — membership is a pure
  * function of the row key. Uniformity comes from md5's avalanche over the
  * 32-bit prefix.
  */
object Sampling {

  /** Keep rows where hash32(key)/2^32 < fraction. Map-only, no shuffle. */
  def hashSample(df: DataFrame, key: Column, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction out of range: $fraction")
    df.filter(TextFunctions.hash32(key.cast("string")) <
      lit((fraction * 4294967296.0).toLong))
  }

  /** Per-stratum fractions: rows in strata absent from `fractions` are
    * dropped (sampleBy semantics). One map-only pass regardless of the
    * number of strata.
    */
  def stratifiedHashSample(df: DataFrame, stratum: Column, key: Column,
      fractions: Map[String, Double]): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1), "fractions out of range")
    val cut = fractions.foldLeft(lit(-1L)) { case (acc, (s, f)) =>
      when(stratum === s, lit((f * 4294967296.0).toLong)).otherwise(acc)
    }
    df.filter(TextFunctions.hash32(key.cast("string")) < cut)
  }

  /** Deterministic FIXED-SIZE sample per stratum (class balancing: exactly
    * `n` rows per class, or all of a class smaller than `n`): the n rows
    * with the smallest md5-derived rank of `id` per stratum, ties toward the
    * smaller id.
    *
    * Scale shape: bounded top-k aggregation (per-partition buffers of n
    * entries — never a per-stratum sort of the full data), then the kept id
    * set (strata × n rows, tiny) broadcasts into a semi-join, so the big
    * side is scanned twice and never shuffled. Fraction-based sampling
    * can't give fixed counts; a row_number window would sort every stratum's
    * rows through one reducer.
    */
  def fixedSizeSample(df: DataFrame, stratum: Column, id: Column, n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val topk = graft.functions.TopKAggregator.topK(n)
    // highest score = smallest hash rank; tiebreak in the aggregator is
    // the smaller id, matching ORDER BY hash, id
    val keyed = df.select(stratum.as("__s"), id.cast("long").as("__id"))
      .withColumn("__score",
        -TextFunctions.hash32(col("__id").cast("string")).cast("double"))
    val keep = keyed.groupBy(col("__s"))
      .agg(topk(col("__id"), col("__score")).as("top"))
      .select(explode(col("top.id")).as("__keep_id"))
    df.join(broadcast(keep), id.cast("long") === col("__keep_id"), "left_semi")
  }

  /** Exact-n GLOBAL deterministic sample: the n rows with the smallest
    * content hash of `id` (ties toward the smaller id) — "give me exactly
    * 10k documents, reproducibly" regardless of partitioning, insertion
    * order, or cluster size. [[fixedSizeSample]] with one stratum: the
    * bounded top-k aggregator partial-aggregates map-side (each task
    * ships at most n candidates, no global sort), kept ids broadcast back
    * as a semi-join.
    */
  def fixedSizeSampleGlobal(df: DataFrame, id: Column, n: Int): DataFrame =
    fixedSizeSample(df, lit(1), id, n)

  /** WEIGHTED sampling without replacement, deterministically — keep
    * exactly `n` rows with inclusion odds proportional to an integer
    * `weight` (quality score, token count bucket): the curation move
    * "subsample the corpus but keep the good documents more often",
    * reproducible across runs, engines, and cluster layouts like every
    * sampler here.
    *
    * Algorithm: Efraimidis–Spirakis A-ES assigns each row the key
    * u^(1/w), u ~ U(0,1), and keeps the top n. Computing u^(1/w) needs
    * `pow` — a libm call with no cross-engine bit guarantee — so this
    * uses the EXACT distributional identity u^(1/w) ~ max(u_1..u_w)
    * instead: the key is the MAXIMUM of w independent md5-derived 32-bit
    * hashes (`hash32(id:j)`, j = 1..w), pure integer comparisons end to
    * end, ties toward the smaller id. Same law, zero float risk.
    *
    * `maxWeight` caps the per-row hash count (and is the weight
    * resolution — odds saturate there); weights clamp into
    * [1, maxWeight], so a zero/negative weight still participates at the
    * floor rather than silently vanishing.
    *
    * Output: (id, weight, rank) — rank by (key desc, id asc), the
    * audit-friendly "why is this row in the sample" readout.
    *
    * Scale shape: one map-only pass computes each row's key (≤ maxWeight
    * compiled md5 evals inside the row — no explode, no extra rows), then
    * the bounded global top-n aggregator ([[fixedSizeSample]]'s shape):
    * every task ships at most n candidates, no global sort, kept rows
    * return via a broadcast join carrying (id, weight, rank) longs.
    */
  def weightedSample(df: DataFrame, id: Column, weight: Column, n: Int,
      maxWeight: Int = 16): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(maxWeight >= 1 && maxWeight <= 64,
      s"maxWeight out of [1,64]: $maxWeight")
    val topk = graft.functions.TopKAggregator.topK(n)
    val keyed = df.select(id.cast("long").as("__id"),
        greatest(lit(1L), least(lit(maxWeight.toLong), weight.cast("long")))
          .as("__w"))
      .withColumn("__key", array_max(transform(
        sequence(lit(1L), col("__w")),
        j => TextFunctions.hash32(
          concat(col("__id").cast("string"), lit(":"), j.cast("string"))))))
    val kept = keyed.groupBy(lit(1).as("__g"))
      .agg(topk(col("__id"), col("__key").cast("double")).as("top"))
      .select(posexplode(col("top.id")).as(Seq("__pos", "__kid")))
      .select(col("__kid"), (col("__pos") + 1).cast("int").as("rank"))
    keyed.join(broadcast(kept), col("__id") === col("__kid"))
      .select(col("__id").as("id"), col("__w").as("weight"), col("rank"))
  }

  /** Greedy k-center (Gonzalez) coreset selection over an embedding
    * column — the maxmin-DIVERSE subset: start from the smallest id,
    * then k−1 times pick the point FARTHEST (cosine distance) from every
    * center chosen so far. The classic 2-approximation to the k-center
    * objective, and the standard "cover the embedding space with k
    * exemplars" move for eval-set construction, prompt-pool seeding, and
    * annotation budgeting — where cluster-balanced sampling keeps density,
    * this keeps COVERAGE (every point is within the final `dmin` radius
    * of some pick).
    *
    * Output: (rank, vec_id, dmin) — `dmin` is the selected point's
    * distance to the nearest EARLIER center (null for the rank-1 seed):
    * read top-down it is the coverage-radius curve, the "how large must
    * k be" readout (the k where dmin elbows is the intrinsic exemplar
    * count).
    *
    * Deterministic: every distance is the
    * [[org.apache.spark.sql.graft.CosineSimilarity]] index-order fold
    * against EXACT collected center floats re-injected as literals; the
    * per-round argmax ties toward the smaller id; zero-norm vectors carry
    * no direction and never participate. The oracle replays all k rounds
    * as unrolled CTEs.
    *
    * Scale shape: k rounds, each ONE map-only corpus pass (the ≤ k
    * accumulated centers ride as literals — per-row work is ≤ k compiled
    * cosine kernels, no join, no shuffle of vectors) into a single-row
    * max_by aggregate; the driver collects exactly one row per round
    * (the bounded-collect stance of the trainers). O(k²·n) kernel evals
    * total — at large k switch to the incremental-dmin variant
    * (checkpointed running minimum, O(k·n)) the same loop supports.
    */
  def kCenterSelect(df: DataFrame, id: Column, vec: Column,
      k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    kCenterRounds(df, id, vec, k)
      .map { case (r, cid, _, dm) => (r, cid, dm) }
      .toDF("rank", "vec_id", "dmin")
  }

  /** [[kCenterSelect]]'s greedy rounds with the center VECTORS retained:
    * (rank, id, vector, dmin-at-selection) — the shared core of the
    * selection readout and the [[kCenterCoverage]] audit. Bounded driver
    * state: exactly one collected row per round.
    */
  private[operators] def kCenterRounds(df: DataFrame, id: Column,
      vec: Column, k: Int): Vector[(Int, Long, Seq[Float], Option[Double])] = {
    require(k >= 1, s"k must be positive, got $k")
    import org.apache.spark.sql.graft.VectorFunctions
    val base = df.select(id.cast("long").as("vec_id"), vec.as("__v"))
      .filter(VectorFunctions.cosineSim(vec, vec).isNotNull) // zero-norm out
    val seedRow = base.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("__v")).collect()
    if (seedRow.isEmpty) return Vector.empty
    var out = Vector[(Int, Long, Seq[Float], Option[Double])](
      (1, seedRow.head.getLong(0), seedRow.head.getSeq[Float](1), None))
    (2 to k).foreach { r =>
      val centsLit = array(out.map { case (_, _, cv, _) =>
        array(cv.map(lit(_)): _*)
      }: _*)
      val dmin = array_min(transform(centsLit,
        c => lit(1.0) - VectorFunctions.cosineSim(col("__v"), c)))
      val picked = base
        .filter(!col("vec_id").isInCollection(out.map(_._2)))
        .select(col("vec_id"), col("__v"), dmin.as("__dm"))
        .agg(max_by(struct(col("vec_id"), col("__v"), col("__dm")),
          struct(col("__dm"), (-col("vec_id")).as("ni"))).as("m"))
        .select(col("m.vec_id"), col("m.__v"), col("m.__dm"))
        .collect()
      if (picked.nonEmpty && !picked.head.isNullAt(0)) {
        val row = picked.head
        out :+= ((r, row.getLong(0), row.getSeq[Float](1),
          Some(row.getDouble(2))))
      }
    }
    out
  }

  /** Coverage audit of the [[kCenterSelect]] coreset — the "is k enough"
    * readout: every (non-zero-norm) point assigned to its nearest
    * selected center (cosine distance, ties toward the smaller center
    * id), then per center the assigned count and the
    * distance distribution. A center hoarding most of the corpus at
    * large max_dist says k is too small; a center with n_assigned ≈ 1
    * is an outlier exemplar (often exactly what the eval set wanted to
    * capture).
    *
    * Output: (rank, center_id, n_assigned, mean_dist, max_dist) —
    * mean_dist a 2^24 fixed-point mean ([[EmbeddingStats
    * .labelCentroids]] pattern and scale), max order-free.
    *
    * Scale shape: the k greedy rounds ([[kCenterRounds]]), then ONE
    * map-only corpus pass — centers ride as ≤ k exact float literals,
    * the argmin runs within the row — into a k-sized partial-aggregated
    * groupBy. No join, no window, no N-row exchange.
    */
  def kCenterCoverage(df: DataFrame, id: Column, vec: Column,
      k: Int): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions
    val spark = df.sparkSession
    import spark.implicits._
    val rounds = kCenterRounds(df, id, vec, k)
    if (rounds.isEmpty) {
      return Seq.empty[(Int, Long, Long, Double, Double)]
        .toDF("rank", "center_id", "n_assigned", "mean_dist", "max_dist")
    }
    val scale = math.pow(2, 24)
    val centsLit = array(rounds.map { case (_, cid, cv, _) =>
      struct(lit(cid).as("cid"), array(cv.map(lit(_)): _*).as("cv"))
    }: _*)
    val dists = transform(centsLit, c => struct(
      (lit(1.0) - VectorFunctions.cosineSim(col("__v"), c.getField("cv")))
        .as("d"),
      c.getField("cid").as("cid")))
    val ranks = rounds.map { case (r, cid, _, _) => (r, cid) }
      .toDF("rank", "center_id")
    val assigned = df.select(id.cast("long").as("vec_id"), vec.as("__v"))
      .filter(VectorFunctions.cosineSim(vec, vec).isNotNull)
      .withColumn("__a", array_min(dists))
      .groupBy(col("__a.cid").as("center_id"))
      .agg(count(lit(1)).as("n_assigned"),
        sum(round(col("__a.d") * lit(scale)).cast("long")).as("__sq"),
        max(col("__a.d")).as("max_dist"))
      .select(col("center_id"), col("n_assigned"),
        (col("__sq").cast("double") /
          (col("n_assigned").cast("double") * lit(scale))).as("mean_dist"),
        col("max_dist"))
    ranks.join(assigned, Seq("center_id"), "left")
      .select(col("rank"), col("center_id"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
        col("mean_dist"), col("max_dist"))
  }

  /** Cluster-balanced subsampling: assign every embedding to its nearest
    * centroid ([[Similarity.assignToCentroids]]) and keep a deterministic
    * fixed-size sample per cluster ([[fixedSizeSample]] on the cell id) —
    * the diversity-preserving selection step of SemDeDup-style curation
    * (drop mass from dense regions, keep coverage of sparse ones: uniform
    * per-cluster instead of uniform per-row). Output: (cid, id).
    *
    * Scale shape: broadcast-argmax assignment (n rows exchanged) into the
    * bounded per-stratum top-k — no per-cluster sort, kept ids broadcast
    * back as a semi-join. K × n kept rows; everything shuffled is ids and
    * cell ids.
    */
  def clusterBalancedSample(df: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, nPerCluster: Int): DataFrame = {
    val asg = Similarity.assignToCentroids(df, id, vec, centroids)
      .select(col("id"), col("cid"))
    fixedSizeSample(asg, col("cid"), col("id"), nPerCluster)
      .select(col("cid"), col("id"))
  }

  /** Deterministic training-epoch shuffle: every row gets a shard id and a
    * position within its shard, both pure functions of (key, epoch) — the
    * global random-order pass a training run needs before sharding data
    * across workers, without `rand()` (not reproducible) or a single
    * global sort by random key (one total order through range
    * partitioning). The seeded 32-bit hash `h = hash32(key || ':' ||
    * epoch)` drives both: `shard = h mod numShards` and `pos = row_number
    * within shard ordered by (h, key)`. Changing `epoch` re-deals every
    * row to a new shard and order; the same (corpus, epoch) always deals
    * identically, so a crashed epoch resumes bit-for-bit.
    *
    * Scale shape: one hash shuffle on `shard` plus an independent sort per
    * shard — with numShards sized to O(cluster cores) each sort is
    * partition-local and they all run in parallel (this is exactly
    * Window.partitionBy(shard), no corpus-wide window). The canonical
    * epoch-shuffle cost: you cannot order data randomly without moving it
    * once.
    */
  def epochShuffle(df: DataFrame, key: Column, numShards: Int,
      epoch: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    require(epoch >= 0, s"epoch must be >= 0, got $epoch")
    import org.apache.spark.sql.expressions.Window
    // hash32 is a non-negative 32-bit value in a long, so % == pmod here
    val h = TextFunctions.hash32(
      concat(key.cast("string"), lit(":"), lit(epoch.toString)))
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), key)
    df.withColumn("__h", h)
      .withColumn("shard", (col("__h") % numShards).cast("int"))
      .withColumn("pos", row_number().over(w))
      .drop("__h")
  }

  /** Domain-mixture rebalancing to a token budget: given relative integer
    * `weights` per domain and a target budget of `budgetNum/budgetDen` of
    * the corpus's total tokens, down-samples each domain so its share of
    * the sampled TOKENS (not rows) approaches `weight/Σweights` — the
    * "data mixture" step of a pre-training pipeline, where e.g. web text
    * is capped and code upweighted by token count. Domains absent from
    * `weights` are dropped.
    *
    * Membership is `hash32(key) < threshold(domain)` with thresholds
    * computed in EXACT integer arithmetic (BigInt here, HUGEINT in the
    * SQL oracle): `thr_d = min(2^32, 2^32 * budget * w_d / (Σw * tok_d))`
    * with floor division — bit-identical across engines, no doubles. A
    * domain whose target exceeds its size keeps all rows (thr = 2^32);
    * under-represented domains can't be over-sampled (no repetition), the
    * standard single-epoch mixture behavior.
    *
    * Scale shape: one small aggregate (rows = #domains — collected to the
    * driver) to learn per-domain token
    * totals, then a map-only filter with the thresholds folded in as
    * literals. No join, no second shuffle.
    */
  def mixtureSampleByTokens(df: DataFrame, domain: Column, key: Column,
      text: Column, weights: Map[String, Long],
      budgetNum: Long, budgetDen: Long): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0), "bad weights")
    require(budgetNum >= 0 && budgetDen > 0, "bad budget fraction")
    val Full = BigInt(4294967296L) // 2^32 — hash32's exclusive upper bound
    val toks = df.groupBy(domain.cast("string").as("__d"))
      .agg(sum(TextFunctions.tokenCountWs(text).cast("long")).as("__t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val budget = BigInt(toks.values.sum) * budgetNum / budgetDen
    val sw = BigInt(weights.values.sum)
    val cut = weights.foldLeft(lit(-1L)) { case (acc, (d, w)) =>
      val t = toks.getOrElse(d, 0L)
      val thr = if (t <= 0 || sw == 0) BigInt(0)
                else (Full * budget * w / (sw * t)).min(Full)
      when(domain.cast("string") === d, lit(thr.toLong)).otherwise(acc)
    }
    df.filter(TextFunctions.hash32(key.cast("string")) < cut)
  }

  /** LEAKAGE-FREE deterministic split: [[splitByHash]] keyed on the
    * near-dup CLUSTER id instead of the document id, so near-duplicates
    * can never straddle a split boundary (the contamination channel a
    * per-document split leaves open — a test document's near-copy in
    * train scores memorization as generalization). `components` is the
    * (id, component) frame from [[Dedup.components]] over whatever pair
    * generator fits the corpus; documents absent from it (singletons) key
    * on their own id, preserving the plain split's distribution. One
    * 8-byte-key left join on top of the map-only split.
    */
  def splitByCluster(df: DataFrame, id: Column, components: DataFrame,
      splits: Seq[(String, Double)]): DataFrame = {
    val keyed = df.select(id.as("id"))
      .join(components.select(col("id"), col("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("__ck"))
    splitByHash(keyed, col("__ck"), splits).drop("__ck")
  }

  /** DSIR-style importance scores (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169): score
    * every document by how target-domain-like its hashed-unigram bucket
    * profile is. `weights(b)` is the per-bucket log likelihood ratio
    * `ln(p_target(b) / p_raw(b))` of a trained bucket model — trained ONCE
    * ([[trainDsirWeights]]) and shipped as a build artifact (the same
    * pinned-artifact pattern as the IVF quantizer and BPE merge table:
    * training runs `ln`, which is not bit-stable across engines, but the
    * APPLICATION is pure exact arithmetic over the pinned weight literals,
    * so it oracle-checks at any scale). A document's score is
    * `Σ_b count_doc(b) · weights(b)` — its log importance weight under the
    * bag-of-hashed-unigrams model.
    *
    * The per-doc sum folds bucket contributions in ascending-bucket order
    * (floats are order-sensitive; a plain SUM lets the engine pick).
    * Documents with no tokens score 0.0 and are retained — the caller's
    * threshold or top-n decides.
    *
    * Scale shape: map-only tokenize + bucket-hash (md5 builtin, codegen),
    * one groupBy (id, bucket) with map-side partials over 20-byte rows —
    * text never shuffles — then a per-doc fold over ≤ |buckets| entries.
    * The weight table is a literal array in the plan (no join).
    */
  def dsirScores(df: DataFrame, id: Column, text: Column,
      weights: Seq[Double]): DataFrame = {
    require(weights.nonEmpty, "need at least one bucket weight")
    val nB = weights.size
    val warr = array(weights.map(lit): _*)
    val bucketed = df.select(id.as("id"),
        explode(TextFunctions.tokensWs(text)).as("term"))
      .select(col("id"), pmod(TextFunctions.hash32(col("term")), lit(nB)).as("b"))
      .groupBy(col("id"), col("b")).agg(count(lit(1)).as("c"))
    val scored = bucketed
      .select(col("id"), col("b"),
        (col("c").cast("double") * element_at(warr, col("b").cast("int") + 1))
          .as("cw"))
      .groupBy(col("id"))
      .agg(aggregate(array_sort(collect_list(struct(col("b"), col("cw")))),
        lit(0.0), (acc, x) => acc + x.getField("cw")).as("score"))
    df.select(id.as("id")).join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** [[dsirScores]] + keep the `n` highest-importance documents (score
    * desc, id asc) — the selection half of importance resampling. Bounded
    * top-k aggregation (map-side partial prune to n), never a global sort.
    */
  def dsirTopN(df: DataFrame, id: Column, text: Column,
      weights: Seq[Double], n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val topk = graft.functions.TopKAggregator.topK(n)
    dsirScores(df, id, text, weights)
      .groupBy(lit(1).as("__g"))
      .agg(topk(col("id"), col("score")).as("top"))
      .select(explode(col("top")).as("s"))
      .select(col("s.id").as("id"), col("s.score").as("score"))
  }

  /** Train the DSIR bucket weights: hashed-unigram token counts over the
    * target and raw corpora, Laplace-smoothed to probabilities, one `ln`
    * per bucket on the DRIVER over the collected (≤ numBuckets-sized)
    * count arrays. Returns `weights(b) = ln(p_t(b) / p_r(b))` ready to pin
    * ([[graft.queries.PinnedArtifacts.DsirWeights64]]). The two count
    * aggregations are distributed; only 2·numBuckets longs ever reach the
    * driver.
    */
  def trainDsirWeights(target: DataFrame, raw: DataFrame, text: Column,
      numBuckets: Int = 64): Seq[Double] = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    def bucketCounts(df: DataFrame): Map[Int, Long] =
      df.select(explode(TextFunctions.tokensWs(text)).as("term"))
        .select(pmod(TextFunctions.hash32(col("term")), lit(numBuckets)).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val t = bucketCounts(target)
    val r = bucketCounts(raw)
    val tTot = t.values.sum.toDouble + numBuckets
    val rTot = r.values.sum.toDouble + numBuckets
    (0 until numBuckets).map { b =>
      val pt = (t.getOrElse(b, 0L) + 1.0) / tTot
      val pr = (r.getOrElse(b, 0L) + 1.0) / rTot
      math.log(pt / pr)
    }
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006, A-ES): keep the `n` keys with the largest
    * `ln(u)/w` where `u` is the key's content-hash uniform in (0,1) —
    * the log-space form of the paper's `u^(1/w)` rank (same selection,
    * monotone transform) chosen because the direct power rounds to
    * exactly 1.0 for every key once `w` is huge (|ln u|/w < 2^-53),
    * which would silently collapse the sample to an id-ordered head;
    * the log form keeps resolution to astronomically large weights.
    * Inclusion probability is weight-proportional and membership is a
    * pure function of (key, weight) like every sampler here
    * (reproducible across runs, partitionings, and cluster layouts; no
    * RNG state). Rows with weight <= 0 or NaN are excluded (NaN would
    * poison the top-k comparator). Duplicate keys are collapsed to
    * their MAX weight before ranking (one slot per key, deterministic)
    * — the semi-join then keeps every row of a selected key, so with
    * duplicate keys "exact-n" means n distinct KEYS. Spec-gated, not
    * oracle-gated: the rank needs libm `ln` — fine for a SAMPLING
    * decision, not for a hash-compared output.
    *
    * Scale shape: one map-only rank projection (plus a key-collapse agg
    * only meaningful under duplicate keys), then the bounded global
    * top-k aggregator — no sort, no shuffle of the payload; kept keys
    * broadcast back as a semi-join.
    */
  def weightedSample(df: DataFrame, key: Column, weight: Column,
      n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val topk = graft.functions.TopKAggregator.topK(n)
    // u in (0,1): (hash32 + 1) / (2^32 + 1) keeps both endpoints open
    // (u = 0 would make ln diverge; u = 1 would erase weights)
    val u = (TextFunctions.hash32(col("__id").cast("string")) + lit(1.0)) /
      lit(4294967297.0)
    val keyed = df.select(key.cast("long").as("__id"),
        weight.cast("double").as("__w"))
      .filter(col("__w") > 0 && !isnan(col("__w")))
      .groupBy(col("__id")).agg(max(col("__w")).as("__w"))
      .select(col("__id"), (log(u) / col("__w")).as("__rank"))
    val keep = keyed.groupBy(lit(1).as("__g"))
      .agg(topk(col("__id"), col("__rank")).as("top"))
      .select(explode(col("top.id")).as("__keep_id"))
    df.join(broadcast(keep), key.cast("long") === col("__keep_id"), "left_semi")
  }

  /** Per-group quantile normalization of a score — map each row's score
    * to its percent-rank WITHIN its group, so scores from differently-
    * calibrated sources become comparable before cross-source mixing or
    * thresholding (a 90th-percentile wiki doc and a 90th-percentile crawl
    * doc get the same 0.9, whatever their raw scales). `q` is the SQL
    * standard percent_rank (rank−1)/(n−1); a single-row group gets 0.0.
    *
    * Ordering inside a group is (score, `tieBreak`) — pass a unique id so
    * ties rank identically in any engine; equal scores therefore get
    * DISTINCT quantiles (the price of bit-determinism — use the rank
    * semantics deliberately).
    *
    * Scale shape: ONE window partitioned by group (Spark's window sort
    * spills, so a big group is slow but not fatal); the skew ceiling is
    * the largest single group on one reducer — past ~10⁸ rows/group, cut
    * with [[Layout.curriculumShards]]'s KLL-sketch band assignment
    * instead (approximate quantiles, map-only assign, no per-group
    * window).
    */
  def quantileNormalize(df: DataFrame, group: Column, score: Column,
      tieBreak: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__qn_g")).orderBy(score, tieBreak)
    df.withColumn("__qn_g", group)
      .withColumn("q", percent_rank().over(w))
      .drop("__qn_g")
  }

  /** Deterministic train/validation/test split: every row lands in exactly
    * one named split, chosen by its 32-bit content hash against cumulative
    * weight cuts — a pure function of the key, so assignment is stable
    * across runs, partitionings, and engines (no rand(), no zipWithIndex),
    * and a re-processed corpus never migrates rows between splits. Map-only
    * at any scale. Weights are relative (they need not sum to 1); splits
    * are cut in the given order.
    */
  def splitByHash(df: DataFrame, key: Column,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 >= 0), "weights must be >= 0")
    val total = splits.map(_._2).sum
    require(total > 0, "weights must sum > 0")
    val h = TextFunctions.hash32(key.cast("string"))
    val cuts = splits.dropRight(1)
      .scanLeft(("", 0.0)) { case ((_, acc), (name, w)) => (name, acc + w) }
      .drop(1)
      .map { case (name, acc) => (name, (acc / total * 4294967296.0).toLong) }
    val assigned = cuts.foldRight(lit(splits.last._1)) { case ((name, cut), els) =>
      when(h < lit(cut), lit(name)).otherwise(els)
    }
    df.withColumn("split", assigned)
  }

  /** Water-filling token-budget allocation across sources — the standard
    * "spend `budget` tokens as evenly as possible without over-drawing
    * any source" mixture solve (max-min fair allocation): every source
    * gets `min(its tokens, level)` where the common level exhausts the
    * budget exactly. Small sources are fully taken; large sources are
    * capped at the level — the allocation a token-budget mixture sampler
    * then executes per source. Output: (source, tokens, alloc),
    * Σ alloc = min(budget, Σ tokens), 0 ≤ alloc ≤ tokens, ordered by
    * source.
    *
    * Determinism: ENTIRELY integer — the level is found by the sorted
    * prefix-sum test (source `i` in (tokens, source) order is fully
    * funded iff cum_i + (n-i)·tokens_i ≤ budget), the residual splits as
    * `div`/`mod`, and the `mod` remainder goes to the FIRST uncapped
    * sources in the same sort order. No floats anywhere; any engine
    * replays it bit-for-bit.
    *
    * Scale shape: the input is the per-source token table — dimension-
    * sized (one row per source), NOT the corpus — so the single-partition
    * rank/prefix windows here are over |sources| rows by construction
    * (the corpus-sized token count that produces the input is the
    * caller's one 2-phase aggregation). Document-level skew never
    * reaches this operator.
    */
  def mixtureWaterfill(counts: DataFrame, source: Column, tokens: Column,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("tokens"), col("source"))
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(col("tokens"), col("source"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    // explicit ROWS frame: the default ORDER BY frame is RANGE, which
    // merges ties — (tokens, source) is unique here, but spell it out so
    // the oracle's ROWS frame is the same expression by construction
    val wCum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val ranked = counts.select(source.as("source"),
        tokens.cast("long").as("tokens"))
      .select(col("source"), col("tokens"),
        row_number().over(w).as("i"),
        sum(col("tokens")).over(wCum).as("cum"),
        count(lit(1)).over(wAll).as("n"))
      .withColumn("funded",
        col("cum") + (col("n") - col("i")) * col("tokens") <= budget)
    val ranked2 = ranked
      .withColumn("k", max(when(col("funded"), col("i")).otherwise(0L))
        .over(wAll))
      .withColumn("cumk", max(when(col("funded"), col("cum")).otherwise(0L))
        .over(wAll))
      .withColumn("m", col("n") - col("k"))
    ranked2.select(col("source"), col("tokens"),
        when(col("i") <= col("k"), col("tokens"))
          .otherwise(
            expr(s"($budget - cumk) div m") +
            when(col("i") - col("k") <= expr(s"($budget - cumk) % m"), 1L)
              .otherwise(0L))
          .as("alloc"))
      .orderBy(col("source"))
  }

  /** Chronological train/test split with an embargo gap — the temporal
    * leakage guard for time-series / events data: the cut is the exact
    * `trainFrac` discrete percentile of the timestamp, TEST is
    * everything after the cut, TRAIN is everything at least
    * `embargoNanos` BEFORE it, and rows inside the gap are labeled
    * `embargo` and excluded from both (a model scoring near-cut test
    * rows must not have trained on their immediate past — lookahead
    * features bleed across a gapless boundary). Output: the input keyed
    * rows as (id, split ∈ train|embargo|test).
    *
    * Determinism: the cut is an actual data value (the discrete
    * percentile pick, == `percentile_disc` bit-for-bit — QuantilesSpec)
    * at MICROSECOND granularity — the pick round-trips through DOUBLE
    * exactly like percentile_disc, and a nanosecond epoch (~1.7·10^18)
    * is beyond 2^53, so a nano-granular cut would shift by up to
    * ~256 ns in the mantissa; microsecond epochs (~1.7·10^15) are
    * exactly representable. The cut is the p-th distinct
    * microsecond · 1000; both boundaries are exact long comparisons.
    * Train: ts ≤ cut − embargo; embargo: cut − embargo < ts ≤ cut;
    * test: ts > cut.
    *
    * Scale shape: the cut comes from [[Quantiles.discPicks]] — per-value
    * counts (the exchange carries DISTINCT microseconds only) and a
    * spillable ordered pick, NOT the `percentile_disc` aggregate, whose
    * final merge would hold EVERY distinct timestamp of the corpus in
    * one task's OpenHashMap (timestamps are near-unique, so that buffer
    * is the corpus — the flagged OOM-at-100TB shape). Then a one-row
    * broadcast and a map-only labeling pass — no corpus shuffle.
    */
  def timeEmbargoSplit(df: DataFrame, id: Column, tsNanos: Column,
      trainFrac: Double = 0.8, embargoNanos: Long): DataFrame = {
    require(trainFrac > 0 && trainFrac < 1, s"bad trainFrac $trainFrac")
    require(embargoNanos >= 0, s"embargo must be >= 0, got $embargoNanos")
    val base = df.select(id.as("id"), tsNanos.cast("long").as("ts"))
    val cut = broadcast(Quantiles.discPicks(
        base.select(expr("ts div 1000").as("__us")), Seq.empty,
        Seq(("__p", "__us", trainFrac)))
      .select((col("__p").cast("bigint") * 1000L).as("__cut")))
    base.crossJoin(cut)
      .select(col("id"),
        when(col("ts") <= col("__cut") - embargoNanos, "train")
          .when(col("ts") <= col("__cut"), "embargo")
          .otherwise("test").as("split"))
      .orderBy(col("id"))
  }
}
