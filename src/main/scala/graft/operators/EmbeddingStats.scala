package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic embedding-corpus statistics.
  *
  * The problem these solve: float sums across ROWS are order-sensitive, and
  * a distributed engine picks the order per plan/partitioning — so a naive
  * `avg(embedding[d])` is not reproducible run-to-run, let alone across
  * engines. The fix is the fixed-point pattern (same as
  * [[TextIndex.bm25TopK]]'s score sum): quantize each per-row term to a
  * long at a power-of-two scale, sum exactly in integers (order-free), and
  * convert once at the end — the divide by 2^bits is an exponent shift
  * with no rounding. Quantization error is bounded and identical
  * everywhere; reproducibility is what a curation audit needs (per-class
  * embedding drift between corpus versions must not depend on partition
  * count).
  */
object EmbeddingStats {

  /** Per-(label, dimension) centroid and variance over an
    * `array<float>` column, deterministically.
    *
    * Output: (label, dim, n, mean, variance) — mean in 2^[[MeanBits]]
    * fixed point, variance via E[x²] − E[x]² with E[x²] in 2^[[SqBits]]
    * fixed point (coarser, because x² of unit-scale embeddings needs
    * headroom: the scaled x² stays ≤ 2^20·max x², so a billion-row label
    * sums to ≈ 2^50 — inside long range, and every per-label sum stays
    * exactly representable when n·2^24 < 2^53). Variance can
    * quantize epsilon-negative for a near-constant dimension; both engines
    * agree bit-for-bit, so the oracle is unaffected — clamp downstream if
    * sign matters.
    *
    * Scale shape: one posexplode to (label, dim, q) ints, then a single
    * 2-phase HashAggregate keyed on (label, dim) — map-side partials
    * reduce every partition to |labels|·dims rows before the exchange;
    * vectors themselves never shuffle.
    */
  def labelCentroids(df: DataFrame, label: Column, vec: Column): DataFrame = {
    val mScale = math.pow(2, MeanBits)
    val sScale = math.pow(2, SqBits)
    val xd = col("x").cast("double")
    val e = df.select(label.as("label"), posexplode(vec).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        round(xd * lit(mScale)).cast("long").as("qm"),
        round(xd * xd * lit(sScale)).cast("long").as("qs"))
    val mean = col("sm").cast("double") / (col("n").cast("double") * lit(mScale))
    val ex2 = col("ss").cast("double") / (col("n").cast("double") * lit(sScale))
    e.groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("qm")).as("sm"),
        sum(col("qs")).as("ss"))
      .select(col("label"), col("dim"), col("n"),
        mean.as("mean"), (ex2 - mean * mean).as("variance"))
  }

  /** Fixed-point scales of [[labelCentroids]]: 2^24 for the means and
    * 2^20 for the squares, the oracles' literal scales. */
  private val MeanBits = 24
  private val SqBits = 20

  /** The [[labelCentroids]] means reassembled to one `array<double>` per
    * label (dims in order) — the join-ready centroid table.
    */
  def centroidVectors(df: DataFrame, label: Column, vec: Column): DataFrame =
    labelCentroids(df, label, vec)
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
        x => x.getField("mean")).as("centroid"))

  /** Embedding outliers: the `k` vectors farthest (squared L2) from their
    * own label's deterministic centroid — the mislabeled / noisy-encode
    * screen run before contrastive training or kNN labeling. Output:
    * (vec_id, label, dist2, rank) with `rank` the (dist2 desc, vec_id
    * asc) position — carried as a COLUMN because the final label
    * re-join does not preserve row order.
    *
    * Determinism: the centroid is fixed-point exact ([[labelCentroids]]),
    * and the per-row distance folds (x_d − c_d)² in DIMENSION order — a
    * within-row fold over the array, so no cross-row float-sum ordering
    * exists anywhere. The fold is a higher-order function (interpreted):
    * fine at report cardinalities; lift it into a codegen'd expression
    * next to [[org.apache.spark.sql.graft]]'s cosine kernel if it ever
    * sits on a corpus-sized hot path.
    *
    * Scale shape: centroids are a |labels|-row broadcast; the corpus is
    * scanned once map-only, then pruned by the bounded global top-k
    * aggregator (partition-local k buffers, one |k| merge).
    */
  def embeddingOutliers(df: DataFrame, id: Column, label: Column,
      vec: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val base = df.select(id.as("vec_id"), label.as("label"), vec.as("__v"))
    val cents = centroidVectors(df, label, vec)
    val dist2 = aggregate(
      zip_with(col("__v"), col("centroid"),
        (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0), (acc, d) => acc + d)
    val scored = base.join(broadcast(cents), Seq("label"))
      .select(col("vec_id"), dist2.as("dist2"))
    val topk = graft.functions.TopKAggregator.topK(k)
    val kept = scored.groupBy(lit(1).as("__g"))
      .agg(topk(col("vec_id"), col("dist2")).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("s.id").as("vec_id"), col("s.score").as("dist2"),
        (col("pos") + 1).cast("int").as("rank"))
    // label rides back in via the k-row broadcast (reports want it; the
    // top-k buffer itself carries only (id, score))
    base.select(col("vec_id"), col("label")).join(broadcast(kept), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("dist2"), col("rank"))
  }

  /** Full d×d embedding covariance matrix, deterministically — the
    * whitening / PCA-prep / representation-drift input (compare two corpus
    * versions' covariance spectra to see a collapsed or rotated encoder
    * long before downstream metrics move). Same fixed-point stance as
    * [[labelCentroids]]: quantize to 2^bits, accumulate n / Σq_i / Σq_iq_j
    * as EXACT longs in one
    * [[graft.functions.CovMomentsAggregator]] pass, then compute each
    * entry with a fixed two-operand IEEE chain over exactly-representable
    * longs — bit-identical in any engine:
    * cov_ij = (P_ij/n − (S_i·S_j)/n²) / 2^2bits.
    *
    * Output: (dim_i, dim_j, n, cov) — d² rows, the full symmetric matrix
    * (consumers slicing the upper triangle filter dim_j ≥ dim_i).
    *
    * Scale shape: ONE aggregation — every partition reduces to a single
    * (1+d+d²)-long buffer before the exchange (32 KB at d = 64; the
    * per-row O(d²) accumulate is the irreducible covariance work), the
    * final merge is |partitions| buffer adds, and the d²-row expansion
    * happens after, on one row. Vectors never shuffle; no join, no
    * window. Overflow bound as documented on the aggregator: bits ≤
    * (62 − log2 n)/2 for unit-scale embeddings.
    */
  def embeddingCovariance(df: DataFrame, vec: Column,
      bits: Int = 20): DataFrame = {
    val mom = df.select(vec.as("__v"))
      .agg(graft.functions.VectorAgg.covMoments(bits)(col("__v")).as("m"))
      .select(col("m.moments").as("mm"))
      // empty / all-null-vector input finishes to an EMPTY moments buffer
      // (unlike CmsAggregator, which zero-fills): without this filter the
      // dC recovery below goes sqrt(-3) → null and emits one confusing
      // null-dimension row. Zero rows is the honest answer.
      .filter(size(col("mm")) > 0)
    // 1 + d + d² = len ⇒ 4·len − 3 = (2d+1)², exact in double for any
    // realistic d — recover d from the buffer instead of trusting a param
    val dC = ((sqrt(size(col("mm")).cast("double") * 4.0 - 3.0) - 1.0) / 2.0)
      .cast("int")
    val denom = math.pow(2, 2 * bits)
    mom
      .select(element_at(col("mm"), 1).as("n"), dC.as("d"),
        slice(col("mm"), lit(2), dC).as("s"),
        slice(col("mm"), dC + 2, dC * dC).as("p"))
      .select(col("n"), col("d"), col("s"),
        posexplode(col("p")).as(Seq("k", "pij")))
      // integer div/mod for the (i, j) unflatten — Column./ is double
      // division (the funnel_report day-math lesson)
      .select(expr("CAST(k div d AS INT)").as("dim_i"),
        expr("CAST(k % d AS INT)").as("dim_j"),
        col("n"), col("s"), col("pij"))
      .select(col("dim_i"), col("dim_j"), col("n"),
        ((col("pij").cast("double") / col("n").cast("double") -
          (element_at(col("s"), col("dim_i") + 1).cast("double") *
            element_at(col("s"), col("dim_j") + 1).cast("double")) /
            (col("n").cast("double") * col("n").cast("double"))) /
          lit(denom)).as("cov"))
  }



  /** Label-cluster silhouette audit (simplified/centroid silhouette,
    * cosine distance): per vector, a = distance to its OWN label's
    * deterministic centroid, b = the nearest OTHER label's centroid
    * distance, s = (b − a) / max(a, b) ∈ (−1, 1] — the standard
    * clustering-quality readout, against LABELS instead of learned
    * clusters, so it audits the labeling itself: s < 0 means the vector
    * sits closer to another label's centroid (the per-point mislabel
    * signal [[embeddingOutliers]]'s within-label distance can't see), and
    * a label whose mean s hovers near 0 is not a separable class —
    * balance it, merge it, or fix the encoder before training on it.
    *
    * Output: (label, n, mean_sil, min_sil, max_sil, n_negative), one row
    * per label. `mean_sil` is a 2^24 fixed-point mean (the
    * [[labelCentroids]] pattern — order-free exact integer sum, so the
    * value is partition-independent and engine-reproducible); min/max are
    * order-free by nature; `n_negative` counts the mislabel-signal
    * vectors. Vectors with a zero norm (or a degenerate zero-norm
    * centroid) carry no direction and are excluded from every stat.
    *
    * Determinism: centroids are [[labelCentroids]] fixed-point means cast
    * to float (one correctly-rounded cast, identical in any engine); each
    * distance is the [[org.apache.spark.sql.graft.CosineSimilarity]]
    * index-order fold; s is a fixed two-operand IEEE chain. The oracle
    * replays all three.
    *
    * Scale shape: the |labels|·d centroid aggregation, then ONE map-only
    * corpus pass — the centroid table rides along as a single collected
    * array row (|labels| structs) in a broadcast cross join, and the
    * per-vector argmin/argmin-other run WITHIN the row (the lambda calls
    * the compiled [[org.apache.spark.sql.graft.CosineSimilarity]] kernel
    * per centroid — K tight-loop evals per row, no N-row shuffle, no
    * window) — into a |labels|-sized partial-aggregated groupBy.
    */
  def silhouetteReport(df: DataFrame, label: Column, vec: Column): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions
    val scale = math.pow(2, MeanBits)
    val centsRow = broadcast(centroidVectors(df, label, vec)
      .agg(sort_array(collect_list(struct(col("label").as("clabel"),
        col("centroid").cast("array<float>").as("cv")))).as("__cents")))
    val dists = filter(
      transform(col("__cents"), c => struct(
        (lit(1.0) - VectorFunctions.cosineSim(col("__v"), c.getField("cv")))
          .as("d"),
        c.getField("clabel").as("clabel"))),
      x => x.getField("d").isNotNull)
    val scored = df.select(label.as("label"), vec.as("__v"))
      .crossJoin(centsRow)
      .withColumn("__ds", dists)
      // try_element_at: a zero-norm vector drops its own-label entry from
      // __ds, and ANSI element_at throws on the empty array where the
      // contract here is "excluded from every stat" (null -> filtered)
      .withColumn("__a", try_element_at(
        filter(col("__ds"), x => x.getField("clabel") === col("label")),
        lit(1)))
      .withColumn("__b", array_min(
        filter(col("__ds"), x => x.getField("clabel") =!= col("label"))))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .withColumn("__s",
        when(greatest(col("__a.d"), col("__b.d")) === 0.0, lit(0.0))
          .otherwise((col("__b.d") - col("__a.d")) /
            greatest(col("__a.d"), col("__b.d"))))
    scored.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("__s") * lit(scale)).cast("long")).as("__sq"),
        min(col("__s")).as("min_sil"), max(col("__s")).as("max_sil"),
        sum(when(col("__s") < 0.0, 1L).otherwise(0L)).as("n_negative"))
      .select(col("label"), col("n"),
        (col("__sq").cast("double") / (col("n").cast("double") * lit(scale)))
          .as("mean_sil"),
        col("min_sil"), col("max_sil"), col("n_negative"))
  }

  /** Int8-quantization error audit — the acceptance gate before switching
    * a serving corpus to [[graft.operators.Similarity.Index.Int8]]'s
    * 4×-smaller codes: per label (or any grouping), the distribution of
    * per-vector reconstruction error between the L2-normalized vector and
    * its ±127 code ([[org.apache.spark.sql.graft.QuantizeInt8]] — same
    * norm fold, same half-away-from-zero rounding). A p90 MSE that moves
    * the cosine ordering (≳ 1e-4 at d = 64) says this corpus needs PQ or
    * float16 instead.
    *
    * Per vector everything is ONE fixed-order expression chain — the norm
    * fold, the per-dim error zip, the seeded mse/max folds — so an ANSI
    * oracle replays it bit-for-bit; the only cross-row aggregates are
    * discrete percentiles and max (order-free). Zero vectors carry no
    * direction to reconstruct and are reported in `n_zero`, excluded from
    * the error stats.
    *
    * Output: (label, n_vecs, n_zero, mse_p50, mse_p90, mse_max,
    * abserr_max).
    *
    * Scale shape: map-only per-vector work, then ONE melt into
    * per-(label, value) DISTINCT counts from which every output derives
    * ([[graft.operators.Quantiles.discPicks]]): the picks, both maxes
    * (distributive over value counts), n_vecs (rowCountCol) and n_zero
    * (the null-mse bucket count — __mse is null exactly when the norm
    * is zero). The `percentile_disc` aggregate this replaces buffered a
    * label's ENTIRE mse set (one distinct double per vector) in one
    * task's OpenHashMap with no spill path; the pick's per-label
    * ordered cumulative is a sort-based window that spills.
    */
  def quantErrorReport(df: DataFrame, label: Column, vec: Column)
      : DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions
    val nrm = sqrt(aggregate(col("__v"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val errs = zip_with(col("__v"), col("__c"),
      (x, c) => x.cast("double") / col("__n") - c.cast("double") / lit(127.0))
    val base = df.select(label.as("label"), vec.as("__v"))
      .withColumn("__c", VectorFunctions.quantizeInt8(col("__v")))
      .withColumn("__n", nrm)
      .withColumn("__mse",
        when(col("__n") === 0.0, lit(null).cast("double"))
          .otherwise(aggregate(errs, lit(0.0), (acc, e) => acc + e * e) /
            size(col("__v")).cast("double")))
      .withColumn("__maxe",
        when(col("__n") === 0.0, lit(null).cast("double"))
          .otherwise(aggregate(errs, lit(0.0),
            (acc, e) => greatest(acc, abs(e)))))
    // the picks and maxes skip NULLs exactly like percentile_disc/max,
    // so the zero-vector rows drop out of the error stats while still
    // counting in n_vecs (rowCountCol = count(*)) and n_zero (__mse is
    // null iff __n == 0, so the null bucket's count IS n_zero)
    Quantiles.discPicks(
        base.select(col("label"), col("__mse"), col("__maxe")), Seq("label"),
        Seq(("mse_p50", "__mse", 0.5), ("mse_p90", "__mse", 0.9)),
        rowCountCol = Some("n_vecs"),
        maxCols = Seq(("mse_max", "__mse"), ("abserr_max", "__maxe")),
        nullCountCols = Seq(("n_zero", "__mse")))
      .select(col("label"), col("n_vecs"), col("n_zero"), col("mse_p50"),
        col("mse_p90"), col("mse_max"), col("abserr_max"))
  }
}
