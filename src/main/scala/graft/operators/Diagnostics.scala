package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pre-flight diagnostics for shuffle-heavy plans. At 100 TB the difference
  * between a join that finishes and one that stalls is usually ONE skewed
  * key; measuring the key distribution BEFORE the big job is how the salt
  * factor / AQE skew thresholds get chosen instead of guessed.
  */
object Diagnostics {

  /** Dataset-card summary of a text corpus, per language plus an all-corpus
    * rollup row (lang = "*"): doc counts, distinct sources, token/char
    * totals, exact-ratio mean length, and the count of sub-`shortTokens`
    * docs — the first page of a dataset card, from one aggregation.
    *
    * One pass: a map-only projection (token count is a native one-pass
    * size, no explode) into a ROLLUP aggregation — partial-aggregated
    * map-side, shuffling one row per (lang, partition). countDistinct
    * expands the rollup internally but stays keyed on (lang, source):
    * thousands of groups at most, independent of corpus size.
    */
  def corpusReport(df: DataFrame, lang: Column, source: Column, text: Column,
      shortTokens: Int = 16): DataFrame =
    df.select(lang.as("lang"), source.as("source"),
        graft.functions.TextFunctions.tokenCountWs(text).as("ntok"),
        length(text).as("nchr"))
      .rollup(col("lang"))
      // grouping() (legal only inside the rollup aggregate) distinguishes
      // the grand-total row from a genuine NULL-lang group — a plain
      // coalesce would collapse both to "*"
      .agg(grouping(col("lang")).as("__g"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("ntok").cast("long")).as("total_tokens"),
        sum(col("nchr").cast("long")).as("total_chars"),
        sum(when(col("ntok") < shortTokens, 1L).otherwise(0L)).as("n_short"))
      .select(when(col("__g") === 1, lit("*"))
          .otherwise(coalesce(col("lang"), lit("<null>"))).as("lang"),
        col("n_docs"),
        col("n_sources"), col("total_tokens"), col("total_chars"),
        (col("total_tokens").cast("double") / col("n_docs").cast("double"))
          .as("avg_tokens"),
        col("n_short"))

  /** Sequence-length histogram in power-of-two buckets — the planning
    * report for [[Packing]] budgets and inference batch shaping: how much
    * of the corpus (docs and token mass) sits in each length doubling.
    * Bucket k covers [2^k, 2^(k+1)); the bucket index is
    * `length(bin(n)) - 1`, an exact integer formulation (a float
    * floor(log2(n)) would sit one ulp from the boundary at exact powers
    * of two in some engines). Output: (bucket, lo_tokens, n_docs,
    * total_tokens, max_tokens), one aggregation pass, map-side partial.
    */
  def lengthHistogram(df: DataFrame, text: Column): DataFrame =
    df.select(graft.functions.TextFunctions.tokenCountWs(text)
        .cast("long").as("ntok"))
      .select(col("ntok"), (length(bin(col("ntok"))) - 1).cast("int").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("total_tokens"),
        max(col("ntok")).as("max_tokens"))
      .select(col("bucket"), expr("shiftleft(1L, bucket)").as("lo_tokens"),
        col("n_docs"), col("total_tokens"), col("max_tokens"))

  /** Corpus snapshot diff for incremental pipelines: compare two versions
    * of a document table by content fingerprint and classify every id as
    * added / removed / changed / unchanged — the pre-flight that decides
    * whether an incremental run (dedup state update, embedding refresh)
    * is worth it and which ids it must touch. Output: (id, status).
    *
    * One full-outer join on the id carrying only 8-byte md5-derived
    * fingerprints — document bodies are hashed where they lie and never
    * shuffle. Co-partition/bucket both versions by id to make the join
    * shuffle-free on repeated runs.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, id: Column,
      text: Column): DataFrame = {
    val o = oldDf.select(id.as("id"),
      graft.functions.TextFunctions.fingerprint64(text).as("__ofp"))
    val n = newDf.select(id.as("id"),
      graft.functions.TextFunctions.fingerprint64(text).as("__nfp"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__ofp").isNull, lit("added"))
          .when(col("__nfp").isNull, lit("removed"))
          .when(col("__ofp") =!= col("__nfp"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Pairwise corpus-overlap matrix from KMV sketches — the 100-TB scale
    * path for the exact `source_overlap` report: per group (source), ONE
    * aggregation reduces all of its shingle hashes to the k smallest
    * distinct values ([[graft.functions.DistinctSketch]]); every pairwise
    * estimate is then sketch-against-sketch algebra on rows the size of a
    * group count, with the corpus never joined against itself. The exact
    * report's verified-pair join touches O(pairs) rows of text-derived
    * data; this touches O(groups · k) longs however large the corpus.
    *
    * Per pair: L = the k smallest distinct hashes of A ∪ B (a valid union
    * sketch, computable from the two sketches alone), Jaccard estimate
    * ρ = |L ∩ A ∩ B| / |L|, union estimate from L's kth minimum, and
    * intersection estimate ρ·|A∪B|. While every group's distinct-shingle
    * count stays ≤ k these are EXACT distinct-set statistics (the
    * oracle-gated regime); saturated sketches estimate with relative
    * error ~1/sqrt(k-2).
    *
    * Output: (source_a, source_b, d_a, d_b, d_union, common_k, jaccard,
    * d_inter) for every unordered group pair. The pair join is a
    * nested-loop over group-count-sized sides — thousands of groups at
    * most; the corpus-sized work is all in the one sketch aggregation.
    */
  def sourceOverlapSketch(df: DataFrame, source: Column, text: Column,
      shingleK: Int = 3, k: Int = 4096): DataFrame = {
    import graft.functions.{DistinctSketch, TextFunctions}
    import org.apache.spark.sql.graft.HashFunctions
    // one native compiled pass per document: the 32-bit width of the
    // kernel whose distinct 60-bit form is the dedup joins' shingle
    // fingerprint set, so gram strings never become rows
    // (explode(wordShingles) + hash32 is the bit-identical spec form,
    // ~4× slower — the n-gram-family lesson from the LM scorers)
    val sk = df
      .select(source.as("source"),
        explode(HashFunctions.shingleFps32(
          TextFunctions.tokensWs(text), shingleK)).as("h"))
      .groupBy(col("source"))
      .agg(DistinctSketch.kmv(k)(col("h")).as("sk"))
    val a = sk.select(col("source").as("source_a"), col("sk").as("sk_a"))
    val b = sk.select(col("source").as("source_b"), col("sk").as("sk_b"))
    val l = DistinctSketch.unionSketch(k, col("sk_a"), col("sk_b"))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), col("sk_a"), col("sk_b"),
        l.as("l"))
      .select(col("source_a"), col("source_b"),
        DistinctSketch.estimate(k, col("sk_a")).as("d_a"),
        DistinctSketch.estimate(k, col("sk_b")).as("d_b"),
        DistinctSketch.estimate(k, col("l")).as("d_union"),
        size(array_intersect(array_intersect(col("l"), col("sk_a")),
          col("sk_b"))).cast("long").as("common_k"),
        col("l"))
      .select(col("source_a"), col("source_b"), col("d_a"), col("d_b"),
        col("d_union"), col("common_k"),
        (col("common_k").cast("double") / size(col("l")).cast("double"))
          .as("jaccard"))
      .withColumn("d_inter", col("jaccard") * col("d_union"))
  }

  /** Content-addressed corpus manifest: one row per underlying data FILE
    * with its row count and the XOR-fold of per-row content fingerprints —
    * the bookkeeping primitive behind manifest-driven incremental
    * processing: re-running the manifest after a delivery and diffing it
    * against the stored one identifies exactly which files changed
    * (rewritten, appended, corrupted) WITHOUT re-reading unchanged
    * content downstream. XOR is order-insensitive and overflow-free, so
    * the digest is stable under any row order or partitioning — and two
    * files differing in any row differ in the digest (barring md5-prefix
    * cancellation). Map-only per file + a file-count-sized aggregation;
    * at 100 TB the output is one row per parquet file.
    */
  def corpusManifest(df: DataFrame, content: Column): DataFrame =
    df.select(col("_metadata.file_path").as("path"),
        graft.functions.TextFunctions.fingerprint64(content).as("__fp"))
      // the FULL path is the grouping key: basenames repeat across
      // partition directories (date=…/data.parquet), and merging
      // same-named files would hide row moves between them
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__fp)").as("fp_xor"),
        // sum-fold companion: XOR alone is blind to EVEN-multiplicity
        // changes ([A,B,B]→[A,C,C] keeps count and XOR), which a
        // change-detection digest must catch; DECIMAL(38) absorbs 2^60
        // values × any realistic row count without overflow, stays exact,
        // and is as order/partitioning-invariant as the XOR
        sum(col("__fp").cast("decimal(38,0)")).as("fp_sum"))

  /** Pre-flight join-size estimate from counted KMV sketches
    * ([[graft.functions.KmvCountedAggregator]]): one k-bounded aggregation
    * per side reduces each table to its k smallest distinct key-hashes
    * with exact occurrence counts; because both sides hash with the SAME
    * function, they sample the SAME keys (everything below
    * θ = min of the two admission thresholds), and
    * Σ cA(h)·cB(h) over the common tracked hashes, scaled by 2^32/θ,
    * estimates |A ⋈ B| — row-sampling two tables independently almost
    * never collides on the join key, which is why the shared-hash trick
    * is the standard fix (correlated sampling). The answer arrives for
    * the cost of two scans + two k-long exchanges, BEFORE the join's
    * shuffle is paid — the "will this join explode" sibling of
    * [[skewReport]].
    *
    * While both sides' distinct-key counts stay ≤ k the estimate is the
    * EXACT join cardinality (θ = 2^32, scale = 1, counts exact — see the
    * aggregator's survival argument). Output (one row): d_a, d_b
    * (distinct-key estimates), common_keys (tracked hashes shared below
    * θ), est_join_rows.
    */
  def joinSizeEstimate(dfA: DataFrame, keyA: Column,
      dfB: DataFrame, keyB: Column, k: Int = 4096): DataFrame = {
    import graft.functions.{DistinctSketch, TextFunctions}
    val spark = dfA.sparkSession
    import spark.implicits._
    // One aggregation job per side; the collected synopsis is ≤ k (hash,
    // count) pairs — 64 KB at k = 4096 — the same bounded-scalar-job
    // stance as the quantizer caps. Keeping the pair algebra relational
    // instead re-evaluates each sketch subtree at every reference (the
    // first cut's plan re-scanned both tables SIX times; ReuseExchange
    // does not fire across these independent global aggregates).
    def sketchOf(df: DataFrame, key: Column): Seq[(Long, Long)] =
      df.select(TextFunctions.hash32(key.cast("string")).as("h"))
        .agg(DistinctSketch.kmvCounted(k)(col("h")).as("sk"))
        .as[Seq[(Long, Long)]].head()
    val ska = sketchOf(dfA, keyA)
    val skb = sketchOf(dfB, keyB)
    def thetaOf(sk: Seq[(Long, Long)]): Long =
      if (sk.size < k) DistinctSketch.HashDomain.toLong else sk.last._1
    def dEst(sk: Seq[(Long, Long)]): Double =
      DistinctSketch.estimateLocal(k, sk.size,
        if (sk.isEmpty) 1L else sk.last._1)
    val theta = math.min(thetaOf(ska), thetaOf(skb))
    val bMap = skb.toMap
    var common = 0L
    var raw = 0L
    ska.foreach { case (h, ca) =>
      if (h < theta) bMap.get(h).foreach { cb => common += 1; raw += ca * cb }
    }
    // identical operation order to the DuckDB oracle: raw as double times
    // one double division — bit-stable across engines
    val est = raw.toDouble * (DistinctSketch.HashDomain / theta.toDouble)
    Seq((dEst(ska), dEst(skb), common, est))
      .toDF("d_a", "d_b", "common_keys", "est_join_rows")
  }

  /** MinHash estimator quality report — the sketch-side twin of
    * [[Similarity.recallReport]]: for every TRUE near-dup pair (exact
    * shingle Jaccard >= `threshold`), the signature-match estimate
    * `matches / numHashes` next to the exact value and the absolute
    * error. Run before trusting a (numHashes, bands) configuration on a
    * new corpus: the estimator's error concentrates as
    * ~1/sqrt(numHashes), and a domain whose shingle distribution breaks
    * that needs more hashes before LSH thresholds mean anything.
    *
    * Everything is exact integer arithmetic over the deterministic
    * signature (match count, one division), so the report oracle-checks.
    * Scale shape: one signature projection (map-only native expression)
    * joined to the pair table on 8-byte ids; the fold compares
    * numHashes-length arrays per PAIR — pairs, not the corpus, bound the
    * work.
    */
  def minhashErrorReport(df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, numHashes: Int = 128,
      threshold: Double = 0.5,
      pairBudget: Dedup.PairBudget = Dedup.PairBudget.Auto,
      onDegrade: Dedup.PairDegrade => Unit = _ => ()): DataFrame = {
    // under the default budget a near-dup-dense corpus degrades the true-
    // pair table to the deterministic √(budget/estimate) doc sample — the
    // error DISTRIBUTION over that sample is the same calibration answer;
    // pass PairBudget.Unbounded to audit literally every true pair, or
    // onDegrade to learn (machine-readably) whether the sample fired
    val pairs = Dedup.jaccardPairs(df, id, text, shingleK, threshold,
      pairBudget = pairBudget, onDegrade = onDegrade)
    val sigs = df.select(id.as("id"), Dedup.minHashSignature(text, shingleK, numHashes).as("sig"))
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("n_match", aggregate(
        zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (a, x) => a + x))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        (col("n_match").cast("double") / lit(numHashes.toDouble))
          .as("est_jaccard"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
  }

  /** Pairwise source/domain vocabulary affinity: cosine similarity between
    * the exact term-count vectors of every pair of groups — the corpus-
    * mixing diagnostic ("which sources are near-duplicates of each other,
    * which one is the odd domain out") run before choosing mixture weights.
    * All sums are exact integers (dot = Σ c_a·c_b, norms = Σ c², order-free
    * long addition), so the only float ops are two correctly-rounded sqrts
    * and one divide — deterministic in any engine. Output:
    * (grp_a, grp_b, dot, cos) for grp_a < grp_b, zero-overlap pairs
    * included with cos = 0.
    *
    * Scale shape: (group, term) counts with map-side partials; the pair
    * dot joins counts on `term` (the same posting-join family as the
    * n-gram dedups — Σ over terms of groups-sharing-term², bounded by
    * |groups|²·|vocab|); norms are one more partial agg. At trillion-token
    * groups the c² products approach int64 — ANSI mode (Spark 4's
    * default, which this engine keeps) throws on the overflow rather
    * than corrupting; switch the aggregation to DecimalType(38,0) there.
    */
  def sourceAffinity(df: DataFrame, group: Column, text: Column): DataFrame = {
    val counts = df.select(group.as("grp"),
        explode(graft.functions.TextFunctions.tokensWs(text)).as("term"))
      .groupBy(col("grp"), col("term")).agg(count(lit(1)).as("c"))
    val norms = counts.groupBy(col("grp"))
      .agg(sum(col("c") * col("c")).as("n2"))
    val dots = counts.as("a")
      .join(counts.as("b"),
        col("a.term") === col("b.term") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"))
      .agg(sum(col("a.c") * col("b.c")).as("dot"))
    norms.as("na")
      .join(norms.as("nb"), col("na.grp") < col("nb.grp"))
      .select(col("na.grp").as("grp_a"), col("nb.grp").as("grp_b"),
        col("na.n2").as("na2"), col("nb.n2").as("nb2"))
      .join(dots, Seq("grp_a", "grp_b"), "left")
      .select(col("grp_a"), col("grp_b"),
        coalesce(col("dot"), lit(0L)).as("dot"),
        (coalesce(col("dot"), lit(0L)).cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
          .as("cos"))
  }

  /** Duplicate-rate attribution: per source/domain, how many documents
    * are exact duplicates of ANY corpus document (corpus-wide fingerprint
    * df > 1, so a doc duplicated across two sources counts against both)
    * — the "which feed is polluting the corpus" dashboard row that
    * decides where dedup budget and crawler fixes go. Output:
    * (grp, n_docs, n_dup, dup_rate) with the rate an exact integer-ratio
    * double.
    *
    * Scale shape: one fingerprint projection (text never shuffles), a
    * (fp, count) aggregation with map-side partials, and one 8-byte-key
    * join back; the hot-fp set is dup-count-sized by construction.
    */
  def dupRateByGroup(df: DataFrame, group: Column, text: Column): DataFrame = {
    val f = df.select(group.as("grp"),
      graft.functions.TextFunctions.fingerprint64(text).as("fp"))
    val dups = f.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("fp"), lit(1).as("__dup"))
    f.join(dups, Seq("fp"), "left")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_rate",
        col("n_dup").cast("double") / col("n_docs").cast("double"))
  }

  /** Split-leakage audit — the check that a train/val/test split did not
    * leak duplicates across the boundary: exact-duplicate text (the
    * 60-bit md5-prefix fingerprint, [[dupRateByGroup]]'s convention) that
    * appears in TWO splits means the eval set scores memorization, not
    * generalization. One row per unordered split pair —
    * (split_a < split_b, n_shared_fps, n_cross_pairs) where
    * `n_cross_pairs` counts every (doc-in-a, doc-in-b) duplicate pair —
    * all zeros is the only acceptable report for a cluster-keyed split
    * ([[graft.operators.Sampling.splitLeakFree]] guarantees it by
    * construction; a plain per-doc hash split does NOT, which is exactly
    * what this audit surfaces).
    *
    * Scale shape: one (fp, split) 2-phase count, then an fp-keyed
    * self-join whose per-fp group is ≤ |splits| rows — output is
    * |splits|²-bounded. Text never shuffles (only 8-byte fps).
    */
  def splitLeakReport(df: DataFrame, split: Column, text: Column)
      : DataFrame = {
    val f = df.select(split.as("split"),
      graft.functions.TextFunctions.fingerprint64(text).as("fp"))
    // both sides of the fp self-join read this frame — pin it, or the
    // corpus text scan + fingerprinting runs twice (the
    // cooccurrenceCounts lesson); the pinned frame is fp-table-sized,
    // released at the caller's boundary via graft.Pins.unpinAll
    val counts = graft.Pins.pin(f.groupBy(col("fp"), col("split"))
      .agg(count(lit(1)).as("n")))
    counts.toDF("fp", "split_a", "n_a")
      .join(counts.toDF("fp", "split_b", "n_b"), Seq("fp"))
      .filter(col("split_a") < col("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_shared_fps"),
        sum(col("n_a") * col("n_b")).as("n_cross_pairs"))
  }

  /** Character-class drift per source — the ingestion-monitoring screen
    * that catches a feed going bad (markup bleed-through, encoding
    * corruption, a scraper suddenly returning JS) WITHOUT a trained
    * model: each source's {letter, digit, whitespace, other} character
    * distribution is scored against the corpus-wide distribution with
    * Pearson's chi-square statistic Σ (o−e)²/e. A healthy source sits
    * near the corpus profile (χ² small relative to its char count); a
    * drifting source's χ² explodes. This is a RANKING statistic here, not
    * a hypothesis test — compare sources against each other and against
    * yesterday's run; no p-value (that would need the incomplete gamma,
    * a transcendental the oracle gate can't replay — consumers apply it
    * on top).
    *
    * Determinism: all counts are exact integers (length arithmetic over
    * ASCII classes, identical in any engine); the χ² chain is two-operand
    * IEEE arithmetic over those integers in a FIXED class order
    * (letter → digit → space → other), so DuckDB replays it bit-for-bit.
    * A class absent from the whole corpus contributes 0 (guarded — its
    * observed count is necessarily 0 everywhere too).
    *
    * Scale shape: one map-only projection (three regexp strips per doc —
    * codegen'd built-ins) into a per-source partial-aggregated groupBy:
    * |sources| rows. The corpus totals re-aggregate that same projection
    * (one more linear map+partial-agg pass — the [[skewReport]] pattern)
    * and broadcast as one row. Nothing wider than five longs shuffles;
    * the output is |sources| rows.
    */
  def sourceDrift(df: DataFrame, group: Column, text: Column): DataFrame = {
    val classed = df.select(group.as("grp"),
      length(text).cast("long").as("n_all"),
      length(regexp_replace(text, "[^A-Za-z]", "")).cast("long").as("n_letter"),
      length(regexp_replace(text, "[^0-9]", "")).cast("long").as("n_digit"),
      length(regexp_replace(text, "[^ \t\n\f\r]", "")).cast("long")
        .as("n_space"))
    val perSource = classed.groupBy(col("grp"))
      .agg(sum(col("n_all")).as("n_chars"),
        sum(col("n_letter")).as("n_letters"),
        sum(col("n_digit")).as("n_digits"),
        sum(col("n_space")).as("n_spaces"))
      .withColumn("n_other",
        col("n_chars") - col("n_letters") - col("n_digits") - col("n_spaces"))
    val totals = broadcast(perSource.agg(
      sum(col("n_chars")).as("g_all"), sum(col("n_letters")).as("g_letter"),
      sum(col("n_digits")).as("g_digit"), sum(col("n_spaces")).as("g_space"),
      sum(col("n_other")).as("g_other")))
    def term(o: Column, g: Column) = {
      val e = col("n_chars").cast("double") *
        (g.cast("double") / col("g_all").cast("double"))
      // g = 0: the class is absent corpus-wide, so o = 0 too — contributes
      // nothing. n_chars = 0: an all-empty source has e = 0 for every
      // class and o = 0, and 0/0 is NaN, not the 0 the statistic means.
      when(g === 0L || col("n_chars") === 0L, lit(0.0))
        .otherwise((o.cast("double") - e) * (o.cast("double") - e) / e)
    }
    perSource.crossJoin(totals)
      .select(col("grp"), col("n_chars"), col("n_letters"), col("n_digits"),
        col("n_spaces"), col("n_other"),
        (((term(col("n_letters"), col("g_letter")) +
          term(col("n_digits"), col("g_digit"))) +
          term(col("n_spaces"), col("g_space"))) +
          term(col("n_other"), col("g_other"))).as("chi2"))
  }

  /** k-anonymous count release: per-cell counts over `keys`, released
    * only where the cell holds at least `k` rows; smaller cells are
    * GENERALIZED to the '*' bucket (every key replaced) and released as
    * one aggregate row — and that row must itself satisfy k (a suppressed
    * total under k is dropped entirely, the documented residual loss).
    * The minimum privacy floor for publishing corpus-composition tables
    * (source × language × license breakdowns) outside the data-infra
    * boundary: no released row isolates fewer than k documents/users.
    *
    * Output: one string column per key (original value or '*') + `n`.
    *
    * Scale shape: one 2-phase count aggregation over the keys, a map-only
    * generalization CASE, and a second aggregation over the RELEASED
    * table (≤ |cells| rows). Nothing row-sized survives the first
    * partial agg.
    */
  def kAnonymousRelease(df: DataFrame, keys: Seq[Column],
      k: Long): DataFrame = {
    require(keys.nonEmpty, "kAnonymousRelease: no keys")
    require(k >= 1, s"k must be >= 1, got $k")
    val names = keys.indices.map(i => s"k$i")
    val counts = df
      .select(keys.zipWithIndex.map { case (c, i) =>
        c.cast("string").as(names(i)) }: _*)
      .groupBy(names.map(col): _*)
      .agg(count(lit(1)).as("n"))
    counts
      .select(names.map(nm =>
        when(col("n") >= k, col(nm)).otherwise(lit("*")).as(nm)) :+
        col("n"): _*)
      .groupBy(names.map(col): _*)
      .agg(sum(col("n")).as("n"))
      .filter(col("n") >= k)
  }

  /** Exact per-key skew report for a prospective join/groupBy key: the
    * `topN` heaviest keys with row counts, their share of the table, and
    * the salting factor that would split each key's rows into
    * ~average-partition-sized buckets given `partitions` reducers
    * (`ceil(cnt · partitions / total)` — 1 means "no salting needed").
    *
    * One partial-aggregated groupBy over the key (the same shuffle the
    * prospective join would pay on its small side) plus a driver-sized
    * top-N. Use [[graft.functions.FrequencySketch.mgTopK]] instead when
    * even one exact pass is too much and an approximate answer steers the
    * decision.
    * Output: (key, cnt, share, salt_factor), heaviest first.
    */
  def skewReport(df: DataFrame, key: Column, topN: Int = 20,
      partitions: Int = 32): DataFrame = {
    require(topN > 0 && partitions > 0, s"topN=$topN partitions=$partitions")
    val counts = df.select(key.cast("string").as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("cnt"))
    counts
      .crossJoin(broadcast(counts.agg(sum(col("cnt")).as("total"))))
      .select(col("key"), col("cnt"),
        (col("cnt").cast("double") / col("total").cast("double")).as("share"),
        // integer ceil-division keeps the oracle exact (no double ceil)
        expr(s"(cnt * $partitions + total - 1) div total").as("salt_factor"))
      .orderBy(col("cnt").desc, col("key"))
      .limit(topN)
  }

  /** Robust per-group statistics of an integral metric — the outlier-
    * resistant dashboard row for per-source monitoring (mean doc length
    * is ruined by one 100 MB page; the winsorized mean is not): exact
    * discrete percentiles (percentile_disc at [[RobustPLo]]/0.5/
    * [[RobustPHi]]) plus the winsorized mean (values clamped into
    * [p_lo, p_hi] before averaging). Output: (grp, n, p_lo, p50, p_hi,
    * wins_mean), one row per group.
    *
    * Determinism: the discrete pick returns an actual data value (no
    * interpolation; == `percentile_disc` bit-for-bit — QuantilesSpec);
    * the clamped sum is an exact long sum (order-free), and the mean is
    * one double division — all replayable. `value` must be integral
    * (the exact-sum contract; scale floats to fixed-point upstream, the
    * [[graft.operators.EmbeddingStats]] pattern).
    *
    * Scale shape: two passes over the (grp, value) projection — the
    * percentile dim via [[Quantiles.discPicks]] (per-(grp, value)
    * DISTINCT counts + a spillable ordered pick; the `percentile_disc`
    * aggregate this replaces buffered a group's entire distinct-value
    * set — corpus/|groups| values — in one task's OpenHashMap with no
    * spill path) broadcast back onto the rows, then one
    * partial-aggregated clamped-sum pass. Nothing wider than
    * (grp, value) ever shuffles.
    */
  def robustStats(df: DataFrame, group: Column, value: Column): DataFrame = {
    // drop NULL values up front: percentile_disc already excludes them,
    // and letting them reach the clamp would count each as p_hi in the
    // winsorized mean (Spark's least/greatest skip nulls)
    val base = df.select(group.as("grp"), value.cast("long").as("v"))
      .filter(col("v").isNotNull)
    // the pick returns an ACTUAL data value (DOUBLE, like
    // percentile_disc); the long cast is exact and keeps the clamp +
    // sum in order-free integer arithmetic
    val pcts = Quantiles.discPicks(base, Seq("grp"),
        Seq(("__lo", "v", RobustPLo), ("__50", "v", 0.5),
          ("__hi", "v", RobustPHi)))
      .select(col("grp"), col("__lo").cast("bigint").as("p_lo"),
        col("__50").cast("bigint").as("p50"),
        col("__hi").cast("bigint").as("p_hi"))
    base.join(broadcast(pcts), Seq("grp"))
      .select(col("grp"), col("p_lo"), col("p50"), col("p_hi"),
        greatest(col("p_lo"), least(col("p_hi"), col("v"))).as("w"))
      .groupBy(col("grp"), col("p_lo"), col("p50"), col("p_hi"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("__ws"))
      .select(col("grp"), col("n"), col("p_lo"), col("p50"), col("p_hi"),
        (col("__ws").cast("double") / col("n").cast("double"))
          .as("wins_mean"))
  }

  /** The winsorizing percentiles of [[robustStats]]: the 5%/95% clamp,
    * the oracle's `percentile_disc(0.05)`/`(0.95)`. */
  private val RobustPLo = 0.05
  private val RobustPHi = 0.95

  /** Cohen's kappa between two label columns — the inter-annotator
    * agreement gate for labeling pipelines (two human raters, or a new
    * model-annotator audited against a gold column): chance-corrected
    * agreement κ = (p_o − p_e)/(1 − p_e), with p_o the observed agreement
    * rate and p_e the agreement expected from the two annotators'
    * marginal label distributions alone. κ ≈ 0 means the "agreement" is
    * what random labeling with those marginals would produce; labeling
    * runs are typically gated on κ ≥ 0.6–0.8 before the labels feed
    * training.
    *
    * Output: ONE row — (n_items, n_agree, p_o, p_e, kappa). All counts
    * exact; the marginal cross-product Σ_k cntA(k)·cntB(k) accumulates
    * in DECIMAL(38,0) so it cannot overflow at any realistic corpus size
    * (two 10¹²-row marginals still fit); the p_o/p_e/κ chain is
    * fixed-order IEEE. Degenerate input where one annotator is constant
    * and agrees perfectly gives p_e = 1 and κ = NaN — gate on the counts
    * before reading κ there.
    *
    * Scale shape: one two-column projection feeds one global aggregate
    * plus two |classes|-sized marginal aggregates (all partial-aggregated
    * map-side) and a |classes|-row join — the item table never shuffles
    * more than the two label strings per row.
    */
  def cohenKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val t = df.select(a.cast("string").as("la"), b.cast("string").as("lb"))
    val totals = t.agg(count(lit(1)).as("n_items"),
      sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("n_agree"))
    val ma = t.groupBy(col("la")).agg(count(lit(1)).as("ca"))
    val mb = t.groupBy(col("lb")).agg(count(lit(1)).as("cb"))
    val cross = ma.join(mb, col("la") === col("lb"))
      .agg(coalesce(sum(col("ca").cast("decimal(38,0)") *
        col("cb").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("exp_prod"))
    val po = col("n_agree").cast("double") / col("n_items").cast("double")
    val pe = col("exp_prod").cast("double") /
      (col("n_items").cast("double") * col("n_items").cast("double"))
    totals.crossJoin(broadcast(cross))
      .select(col("n_items"), col("n_agree"), po.as("p_o"), pe.as("p_e"))
      .withColumn("kappa",
        (col("p_o") - col("p_e")) / (lit(1.0) - col("p_e")))
  }

  /** Classifier-score calibration (reliability) report: bucket a score in
    * [0,1] into `bins` equal-width confidence bins and compare each bin's
    * empirical positive rate against the bin midpoint — the table behind
    * a reliability diagram, and the audit that decides whether a quality
    * classifier's score can be used as a sampling weight (calibrated) or
    * only as a ranking (not). Output: one row per non-empty bin —
    * (bin, conf_mid, n, n_pos, pos_rate, gap) with gap = pos_rate −
    * conf_mid (positive = under-confident, negative = over-confident),
    * ordered by bin.
    *
    * Determinism: the bin index floor(score·bins) is the same IEEE
    * multiply+floor in any engine given the same score expression;
    * scores ≥ 1.0 clamp into the last bin (scores outside [0,1] are a
    * caller bug — negatives would floor below bin 0 and are clamped to
    * 0 to keep the report total). NULL and NaN scores are DROPPED — a
    * null would otherwise ride Spark's null-skipping `least` into the
    * top-confidence bin and silently inflate exactly the bin that gates
    * "can this score be a sampling weight".
    *
    * Scale shape: map-only projection into one |bins|-sized
    * partial-aggregated groupBy; nothing else shuffles.
    */
  def calibrationReport(df: DataFrame, score: Column, positive: Column,
      bins: Int = 10): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    df.filter(score.isNotNull && !isnan(score.cast("double")))
      .select(
        greatest(least(floor(score * lit(bins)).cast("int"), lit(bins - 1)),
          lit(0)).as("bin"),
        when(positive, 1L).otherwise(0L).as("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      .select(col("bin"),
        ((col("bin").cast("double") + lit(0.5)) / lit(bins.toDouble))
          .as("conf_mid"),
        col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("pos_rate"))
      .withColumn("gap", col("pos_rate") - col("conf_mid"))
      .orderBy(col("bin"))
  }

  /** Per-group ranking quality — the exact Mann–Whitney AUC of a score
    * against a boolean label, per group: "if I rank this source's docs
    * by the score, what fraction of (positive, negative) pairs does it
    * order correctly?" The standard acceptance gate for a quality /
    * routing classifier BEFORE its threshold is chosen (a threshold
    * picks a point on the curve; AUC says whether any good point
    * exists). Ties get the average rank (the Mann–Whitney convention).
    * Output: (group, n_pos, n_neg, auc), auc NULL when a group lacks
    * both classes.
    *
    * Determinism: ENTIRELY integer until one final division — the
    * doubled tie-averaged rank `2·rank_min + cnt − 1` is an integer, so
    * the positive rank mass sums exactly (DECIMAL(38,0) — n·2n can pass
    * 2^63 at corpus scale), and
    * `auc = (Σr2⁺ − np(np+1)) / (2·np·nn)` is one IEEE division of
    * exact operands.
    *
    * Scale shape: one (group)-partitioned rank window + a (group,
    * score)-partitioned tie count (same shuffle key prefix), then a
    * 2-phase |groups|-row agg. The per-group sort is the watched cost —
    * the [[robustStats]] bound; sample per group when a group is a
    * whole corpus.
    */
  def rankingAucReport(df: DataFrame, group: Column, score: Column,
      label: Column): DataFrame = {
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("s"))
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"), col("s"))
    df.select(group.as("grp"), score.cast("double").as("s"),
        label.as("y"))
      .select(col("grp"), col("y"),
        (lit(2L) * rank().over(wr) - 1L + count(lit(1)).over(wt))
          .as("r2"))
      .groupBy(col("grp").as("group"))
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("y"), 0L).otherwise(1L)).as("n_neg"),
        sum(when(col("y"), col("r2")).otherwise(0L)
          .cast("decimal(38,0)")).as("__sr2"))
      .select(col("group"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("__sr2") - col("n_pos").cast("decimal(38,0)") *
            (col("n_pos") + lit(1L))).cast("double") /
          (lit(2.0) * col("n_pos").cast("double") *
            col("n_neg").cast("double")))
          .as("auc"))
      .orderBy(col("group"))
  }

  /** Shuffle-quality audit for [[graft.operators.Sampling.epochShuffle]]
    * (or any sharded ordering): per shard, the rate of ADJACENT rows
    * sharing a group (source) versus the exact rate a uniformly random
    * order would give (`Σ c_g(c_g−1) / (n(n−1))`). A shard whose
    * adjacent-same rate sits far above its expected rate feeds a
    * trainer correlated batches — the failure the epoch shuffle exists
    * to prevent, and the number that PROVES a shuffle did its job.
    * Output: (shard, n, adj_same, adj_rate, expected_rate), rates NULL
    * for single-row shards.
    *
    * Determinism: adjacency comes from one lag over the (shard, pos)
    * order (pos is unique per shard by construction); all counts exact;
    * each rate is one IEEE division.
    *
    * Scale shape: rows shuffle ONCE to the shard partitioning (the lag
    * window), with the (shard, group) collision counts partial-
    * aggregated on the same key prefix; output is |shards| rows.
    */
  def shuffleQualityReport(df: DataFrame, shard: Column, pos: Column,
      group: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("pos"))
    val adj = df.select(shard.as("shard"), pos.as("pos"),
        group.as("g"))
      .select(col("shard"), col("g"),
        lag(col("g"), 1).over(w).as("pg"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("g") === col("pg"), 1L).otherwise(0L))
          .as("adj_same"))
    val coll = df.select(shard.as("shard"), group.as("g"))
      .groupBy(col("shard"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("shard"))
      // DECIMAL(38,0) BEFORE the multiply: c(c−1) approaches n² for a
      // single-group shard, past 2^63 long before 100 TB (ANSI would
      // throw on the product, not just the sum)
      .agg(sum(col("c").cast("decimal(38,0)") * (col("c") - 1L))
        .as("__coll"))
    adj.join(coll, Seq("shard"))
      .select(col("shard"), col("n"), col("adj_same"),
        when(col("n") > 1, col("adj_same").cast("double") /
          (col("n") - 1L).cast("double")).as("adj_rate"),
        when(col("n") > 1, col("__coll").cast("double") /
          (col("n").cast("double") * (col("n") - 1L).cast("double")))
          .as("expected_rate"))
      .orderBy(col("shard"))
  }

  /** One-pass numeric table profiler — the pre-ingestion sanity page for
    * any fact table: per column, row count, null count, min/max, mean,
    * and the exact discrete median. The input columns must be pre-cast
    * to an EXACT type (long or decimal) by the caller — that is what
    * makes the mean deterministic (exact sum, ONE IEEE division) instead
    * of an order-dependent float fold. Output: (col_name, n, n_null,
    * min_v, max_v, mean, p50) as doubles, one row per profiled column,
    * ordered by col_name.
    *
    * Scale shape: count/null/min/max/mean for ALL columns in ONE 2-phase
    * aggregation; medians via [[Quantiles.discPicks]] over the same scan
    * (per-(column, value) count partials, so each exchange carries
    * distinct values only, and a per-column spillable
    * ordered pick — no single-task distinct-value buffer anywhere). The
    * one-row result then explodes into |cols| output rows
    * driver-side-free. For columns whose DISTINCT count itself is
    * extreme, the per-column pick is a one-task sort of (value, count)
    * rows — it spills rather than OOMs; swap the KLL sketch if even that
    * ordering is too slow.
    */
  def tableProfile(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.nonEmpty, "tableProfile needs at least one column")
    import org.apache.spark.sql.types.DecimalType
    val sel = df.select(cols.map { case (n, c) => c.as(s"__v_$n") }: _*)
    // percentile_disc over DECIMAL buffers every value as a boxed Decimal
    // and sorts with object comparisons — measured 4.4 s vs 0.9 s at sf0.1
    // for four DECIMAL(18,2) columns. The unscaled long is ORDER-ISOMORPHIC
    // (v and v·10^s sort identically) and exact for precision ≤ 18, and
    // both engines' nearest-double of unscaled/10^s equals their
    // nearest-double of the decimal itself — so rank the longs, divide
    // once at the end, and the output is bit-identical.
    val scaleOf: Map[String, Option[Int]] = sel.schema.fields.map { f =>
      f.name -> (f.dataType match {
        case d: DecimalType if d.precision <= 18 && d.scale >= 0 =>
          Some(d.scale)
        case _ => None
      })
    }.toMap
    def p50Input(n: String): Column = scaleOf(s"__v_$n") match {
      case Some(s) =>
        (col(s"__v_$n") * lit(math.pow(10, s).toLong)).cast("long")
      case None => col(s"__v_$n")
    }
    def p50Out(n: String): Column = scaleOf(s"__v_$n") match {
      case Some(s) =>
        // reconstruct through DECIMAL, not double division: an unscaled
        // median above 2^53 would round TWICE (long→double, then /10^s)
        // where the decimal path rounds once. decimal(20,0)/decimal(19,0)
        // types to decimal(38,18), which holds the s ≤ 18 rational
        // exactly; the final cast is the single correctly-rounded step.
        (col(s"__p50_$n").cast("decimal(20,0)") /
          lit(math.pow(10, s).toLong).cast("decimal(19,0)")).cast("double")
      case None => col(s"__p50_$n").cast("double")
    }
    val aggs = Seq(count(lit(1)).as("__rows")) ++ cols.flatMap { case (n, _) =>
      Seq(count(col(s"__v_$n")).as(s"__n_$n"),
        min(col(s"__v_$n")).as(s"__min_$n"),
        max(col(s"__v_$n")).as(s"__max_$n"),
        sum(col(s"__v_$n")).as(s"__sum_$n"))
    }
    // medians via the distributed per-value-count pick (Quantiles.discPicks,
    // bit-equal to percentile_disc — QuantilesSpec): the percentile_disc
    // aggregate's final merge would hold EVERY distinct value of every
    // column in one task's OpenHashMap (the flagged OOM at high
    // cardinality); the pick's per-column sort is a spillable window over
    // (value, count) rows, one column per task. One row each, so the
    // crossJoin is a 1x1 attach.
    val picks = Quantiles.discPicks(
      sel.select(cols.map { case (n, _) => p50Input(n).as(s"__q_$n") }: _*),
      Seq.empty,
      cols.map { case (n, _) => (s"__p50_$n", s"__q_$n", 0.5) })
    sel.agg(aggs.head, aggs.tail: _*).crossJoin(picks)
      .select(explode(array(cols.map { case (n, _) =>
        struct(lit(n).as("col_name"),
          col("__rows").as("n"),
          (col("__rows") - col(s"__n_$n")).as("n_null"),
          col(s"__min_$n").cast("double").as("min_v"),
          col(s"__max_$n").cast("double").as("max_v"),
          (col(s"__sum_$n").cast("double") /
            col(s"__n_$n").cast("double")).as("mean"),
          p50Out(n).as("p50"))
      }: _*)).as("__s"))
      .select(col("__s.*"))
      .orderBy(col("col_name"))
  }

  /** Split-conformal calibration (Vovk et al.; the Angelopoulos & Bates
    * tutorial form): per group, the conformal quantile q̂ = the
    * ⌈(1−α)(n+1)⌉-th smallest CALIBRATION nonconformity score, then the
    * achieved coverage `score ≤ q̂` on a disjoint TEST split — the
    * finite-sample-guaranteed "how big must the prediction set be"
    * readout an eval pipeline puts next to every model score. A test
    * coverage materially below 1−α flags calibration/test drift (the
    * exchangeability assumption broke); above it, the scores are
    * conservative.
    *
    * α = 1/10 (90% coverage) is held as the EXACT RATIONAL
    * [[ConformalAlphaNum]]/[[ConformalAlphaDen]] and the order statistic
    * index computed as pure integer ceil-division — a double α would
    * make ⌈(n+1)(1−α)⌉ flip on the (n+1)·0.9-lands-on-an-integer cases
    * (0.9 is not a binary double; (n+1)=10 computes 9.000000000000002).
    * When the index exceeds n_cal (tiny groups), q̂ is +∞ by the
    * conformal convention — reported as a NULL q_hat with every test row
    * covered.
    *
    * Output per group seen in EITHER split: (grp, n_cal, q_hat, n_test,
    * n_covered, coverage); groups absent from the test split report
    * n_test = 0 with null coverage, and groups present ONLY in the test
    * split (drift — data the calibration never saw) report n_cal = 0,
    * null q_hat (+∞), and full coverage, surfacing instead of vanishing.
    *
    * Scale shape: one |groups|-keyed collect_list over the CALIBRATION
    * split only (the sort is per-group, calibration-sized — at 10⁹-row
    * calibration groups swap in the KLL sketch and accept its rank
    * error), one partial-aggregated count pass over the test split, one
    * |groups|-row broadcast join. Scores arrive as a column, so the
    * nonconformity definition stays the caller's.
    */
  def conformalCalibration(cal: DataFrame, calGroup: Column,
      calScore: Column, test: DataFrame, testGroup: Column,
      testScore: Column): DataFrame = {
    val c = cal.select(calGroup.as("grp"),
      calScore.cast("double").as("__s"))
    val t = test.select(testGroup.as("grp"),
      testScore.cast("double").as("__s"))
    // idx = ceil((1-α)(n+1)) = ceil-div((den-num)(n+1), den) — exact
    // integer arithmetic end to end (`div`, never `/`: Column./ is double
    // division, the funnel_report day-math lesson)
    // pinned: the quantile table feeds TWO consumers (the coverage join
    // and the final report join) — unpinned, the per-group calibration
    // sort runs twice; released at the materialization boundary
    val qhat = graft.Pins.pin(c.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_cal"),
        sort_array(collect_list(col("__s"))).as("__ms"))
      .withColumn("__idx", conformalIdx)
      .select(col("grp"), col("n_cal"),
        try_element_at(col("__ms"), col("__idx")).as("q_hat")))
    // LEFT join from the test split, FULL OUTER finale: a group present
    // only in the test split (new/drifted data the calibration never saw)
    // must SURFACE — n_cal = 0, q_hat null (= +inf, so every test row is
    // covered by the conformal convention), real n_test/coverage — not
    // silently vanish; and a group calibrated but never tested reports
    // n_test = 0 with null coverage. The sibling
    // [[conformalPredictionSets]] finale follows the same contract.
    val covered = t.join(broadcast(qhat), Seq("grp"), "left")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("q_hat").isNull || col("__s") <= col("q_hat"), 1L)
          .otherwise(0L)).as("n_covered"))
    qhat.join(covered, Seq("grp"), "full_outer")
      .select(col("grp"), coalesce(col("n_cal"), lit(0L)).as("n_cal"),
        col("q_hat"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        (col("n_covered").cast("double") / col("n_test").cast("double"))
          .as("coverage"))
  }

  /** The conformal order-statistic index ⌈(1−α)(n_cal+1)⌉ as pure integer
    * ceil-division over a rational α — shared by [[conformalCalibration]]
    * and [[conformalPredictionSets]] so the two can never disagree on the
    * quantile rule.
    */
  private def conformalIdx: Column =
    expr(s"CAST((${ConformalAlphaDen - ConformalAlphaNum}L * (n_cal + 1) + " +
      s"${ConformalAlphaDen - 1}L) div ${ConformalAlphaDen}L AS INT)")

  /** The conformal miscoverage α = 1/10: the 90% coverage the oracles'
    * `(9 * (n_cal + 1) + 9) // 10` index replays. */
  private val ConformalAlphaNum = 1
  private val ConformalAlphaDen = 10

  /** Mondrian (class-conditional) conformal PREDICTION SETS from a
    * per-class integer score table — the uncertainty-quantification
    * readout on top of a pinned classifier
    * ([[graft.operators.TextClassifier.linearScoresPinned]]): per class
    * y, q̂_y = the conformal quantile of the calibration nonconformities
    * −score_y over documents whose TRUE label is y; a test document's
    * prediction set is every class with −score_y ≤ q̂_y, guaranteed to
    * contain the true class with probability ≥ 1−α per class under
    * exchangeability. The two readouts that matter ship per class:
    * achieved coverage (did the truth make the set) and mean set size
    * (how much hedging that guarantee costs — a set size near
    * |classes| says the scores carry no signal for that class).
    *
    * Exact end to end: scores are integer score_q, nonconformities their
    * exact negations, q̂ an integer order statistic
    * ([[conformalCalibration]]'s shared index rule), membership a long
    * comparison, set sizes integers — every output a count or an
    * exact-integer ratio. A class with too little calibration (index
    * past n_cal) gets q̂ = +∞ (NULL) and admits every test document —
    * the honest conformal convention, never a fabricated bound.
    *
    * Input: `scores` = (id, label, scoreq) for EVERY (document, class);
    * `truth` = (id, truth, is_cal). Output per class: (grp, n_cal,
    * q_hat — the nonconformity quantile in score units (/2^20), n_test,
    * n_covered, coverage, avg_set_size).
    *
    * Scale shape: one calibration filter into a |classes|-keyed
    * collect_list (calibration-class-sized sorts), the q̂ table
    * broadcasts into one pass over the test score rows (|test|·|classes|
    * — the score table's own cardinality), a per-document membership agg
    * and a |classes| finale. Nothing larger than the score table moves.
    */
  def conformalPredictionSets(scores: DataFrame, truth: DataFrame): DataFrame = {
    val s = scores.select(col("id"), col("label"), col("scoreq"))
    val t = truth.select(col("id"), col("truth"), col("is_cal"))
    // shuffle-hash, not sort-merge: an id-keyed equi-join of the score
    // table against the narrow truth frame gains nothing from sorting
    // either side (AQE still broadcasts the truth side when it is small).
    // Pinned: the joined score table feeds BOTH the calibration-quantile
    // branch and the test-membership pass — unpinned, the upstream score
    // computation (the dominant cost when scores come from a classifier
    // featurize) runs twice; released at the materialization boundary.
    val j = graft.Pins.pin(s.join(t.hint("shuffle_hash"), Seq("id")))
    val qhat = graft.Pins.pin(
      j.filter(col("is_cal") && col("label") === col("truth"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_cal"),
          sort_array(collect_list(-col("scoreq"))).as("__ms"))
        .withColumn("__idx", conformalIdx)
        .select(col("label"), col("n_cal"),
          try_element_at(col("__ms"), col("__idx")).as("__qq")))
    val perDoc = j.filter(!col("is_cal"))
      .join(broadcast(qhat.select(col("label"), col("__qq"))),
        Seq("label"), "left")
      .withColumn("__member",
        col("__qq").isNull || (-col("scoreq")) <= col("__qq"))
      .groupBy(col("id"), col("truth"))
      .agg(sum(when(col("__member"), 1L).otherwise(0L)).as("__setsz"),
        max(when(col("label") === col("truth"), col("__member")))
          .as("__cov"))
    val perClass = perDoc.groupBy(col("truth"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("__cov"), 1L).otherwise(0L)).as("n_covered"),
        sum(col("__setsz")).as("__ss"))
    // FULL OUTER finale: a class calibrated but never tested reports
    // n_test = 0 (the conformalCalibration convention), and a class with
    // test documents but NO calibration rows still reports its coverage
    // (its q-hat is +inf/null, so its own-class membership always held) —
    // an inner join would silently drop both, hiding exactly the
    // imbalanced-split classes the audit exists to surface
    val pc = perClass.withColumnRenamed("truth", "__t")
    qhat.join(pc, col("label") === col("__t"), "full_outer")
      .select(coalesce(col("label"), col("__t")).as("grp"),
        coalesce(col("n_cal"), lit(0L)).as("n_cal"),
        (col("__qq").cast("double") / lit(1048576.0)).as("q_hat"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        (col("n_covered").cast("double") / col("n_test").cast("double"))
          .as("coverage"),
        (col("__ss").cast("double") / col("n_test").cast("double"))
          .as("avg_set_size"))
  }

  /** Poisson(1) CDF values P(X ≤ k) for k = 0..7, as the EXACT decimal
    * string of each nearest double — the shared constants behind
    * [[bootstrapCiMean]]'s weight ladder. Kept as strings so the Scala
    * plan (`lit(s.toDouble)`) and the SQL oracle (literal interpolation)
    * parse the SAME decimal text into the same IEEE doubles.
    */
  val PoissonCdf1: Seq[String] = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712", "0.9999897508033253")

  /** The Poisson(1) inverse-CDF ladder as a plain function — the SAME
    * rule [[bootstrapCiMean]]'s when-chain encodes, exposed so the
    * CurationProps laws certify the shipped thresholds and fold rule.
    */
  private[operators] def poissonInv1(u: Double): Long =
    PoissonCdf1.indexWhere(u < _.toDouble) match {
      case -1 => PoissonCdf1.size.toLong
      case k => k.toLong
    }

  /** Poisson-bootstrap confidence interval for a per-group MEAN — the
    * scalable bootstrap (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", and the resampling trick in Kleiner et al.'s
    * bag-of-little-bootstraps line of work): classic bootstrap resampling
    * needs n draws WITH replacement per replicate (a global shuffle per
    * replicate); the Poisson approximation gives every row an independent
    * Poisson(1) multiplicity per replicate, turning B replicates into ONE
    * map-side pass. Eval metrics without error bars are how ±2% model
    * "wins" ship — this puts the interval next to the point estimate at
    * any corpus size.
    *
    * Deterministic end to end: the multiplicity is the Poisson(1) inverse
    * CDF applied to u = md5-hash(key:replicate)/2^32 (exact double: a
    * < 2^32 integer divided by a power of two), the ladder thresholds are
    * [[PoissonCdf1]] (mass above k = 7 is ~1e-5 and folds into w = 8);
    * `value` must be INTEGER-typed, so each replicate's Σwx / Σw is an
    * exact-integer ratio and every replicate mean is bit-reproducible.
    * The interval is the empirical [ceil(α/2·B), B+1−ceil(α/2·B)]
    * order-statistic pair of the B replicate means, α =
    * [[BootstrapAlpha]] (B = 64 →
    * the 2nd and 63rd of 64) — a replicate that draws no rows at all
    * (Σw = 0, possible only for near-empty groups) drops out and the
    * order statistics read NULL past the end, never a fabricated bound.
    *
    * Output: (grp, n_rows, mean_v, ci_lo, ci_hi, n_reps).
    *
    * Scale shape: one B-way row expansion (sequence + explode, map-only —
    * B·n narrow rows that never materialize past the partial aggregate)
    * into a (group, replicate) HashAggregate: the exchange carries ≤
    * |groups|·B·partitions partial rows, the replicate means are
    * |groups|·B rows, and the final per-group order statistics sort B
    * values per group. The point estimate joins from a separate
    * |groups|-row aggregate over the unexpanded frame (broadcast).
    */
  def bootstrapCiMean(df: DataFrame, group: Column, value: Column,
      key: Column, b: Int = 64): DataFrame = {
    require(b >= 4, s"need at least 4 replicates, got $b")
    val kLo = math.max(1, math.ceil(b * BootstrapAlpha / 2).toInt)
    val kHi = b + 1 - kLo
    val base = df.select(group.as("grp"), value.cast("long").as("__x"),
      key.cast("string").as("__k"))
    val u = graft.functions.TextFunctions.hash32(
      concat(col("__k"), lit(":"), col("__b").cast("string")))
      .cast("double") / lit(4294967296.0)
    val w = PoissonCdf1.zipWithIndex.foldRight(
      lit(PoissonCdf1.size).cast("long")) { case ((c, k), rest) =>
      when(col("__u") < lit(c.toDouble), lit(k.toLong)).otherwise(rest)
    }
    val reps = base
      .withColumn("__b", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__u", u)
      .withColumn("__w", w)
      .groupBy(col("grp"), col("__b"))
      .agg(sum(col("__w") * col("__x")).as("__swx"), sum(col("__w")).as("__sw"))
      .filter(col("__sw") > 0L)
      .select(col("grp"),
        (col("__swx").cast("double") / col("__sw").cast("double")).as("__rm"))
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(col("__rm"))).as("__ms"))
      // try_element_at: a near-empty group can lose replicates (Σw = 0),
      // leaving fewer than kHi means — ANSI element_at would throw where
      // the contract is "the order statistics read NULL past the end"
      .select(col("grp"), try_element_at(col("__ms"), lit(kLo)).as("ci_lo"),
        try_element_at(col("__ms"), lit(kHi)).as("ci_hi"),
        size(col("__ms")).cast("long").as("n_reps"))
    val point = base.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("__x")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_v"))
    // LEFT join: a group whose EVERY replicate drew zero weight (possible
    // only for near-empty groups) keeps its point-estimate row with
    // n_reps = 0 and null bounds — the "drops out / order statistics read
    // NULL" contract — instead of vanishing from the report entirely.
    point.join(broadcast(reps), Seq("grp"), "left")
      .select(col("grp"), col("n_rows"), col("mean_v"), col("ci_lo"),
        col("ci_hi"), coalesce(col("n_reps"), lit(0L)).as("n_reps"))
  }

  /** Two-sided miscoverage of [[bootstrapCiMean]]'s interval: the 95%
    * percentile interval. */
  private val BootstrapAlpha = 0.05
}
