package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.T

/** Scale-growth stress harness for the dedup/similarity family: the sf0.1
  * tables are replicated `mult`× with deterministic per-replica
  * perturbation, and the SAME `SparkEntry.queries` entries are timed at
  * each scale. Correctness is already oracle-proven at sf0.01/sf0.1; this
  * harness exists to catch quadratic creep that plan-shape inspection
  * cannot show — a candidate-join blowup grows super-linearly in wall
  * time long before it OOMs.
  *
  * Replication is NOT naive duplication (identical copies would plant
  * pathological k²-candidate LSH buckets AND let exact dedup collapse
  * everything): each replica offsets ids and appends a replica token to
  * text / adds a replica epsilon to embeddings, so replicas are realistic
  * near-duplicates — the hard case for the candidate-generation paths —
  * while ids stay unique.
  *
  * Usage: `runMain graft.Stress <mult> [queries...]` — writes scaled
  * parquet under /tmp/graft_stress/x<mult> (reused if present), prints one
  * JSON line: {"mult":N,"rows":R,"queries":{name:sec,...}}.
  *
  * ×64 notes (BASELINE.md round 6): run the output-quadratic pair queries
  * (`dedup_ngram_jaccard`, `dedup_components`) only up to ×16 — beyond
  * that their wall time is the ~11M-pair ANSWER, not the plan, and the
  * pair shuffle needs `SPARK_DRIVER_MEM=64g` (default 8 GB aborts) while
  * the big heap itself slows the pair join (G1 churn). Compare per-query
  * MINIMA across repeated windows, never single cold passes.
  */
object Stress {

  val DefaultQueries: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_simhash128", "dedup_components", "dedup_incremental",
    "repeated_substrings", "winnow_fingerprints", "segment_dedup",
    "sim_bruteforce_topk", "sim_lsh_topk", "sim_ivf_topk", "sim_ivf_trained",
    "sim_quantized_topk", "sim_pq_topk", "sim_ivfpq_topk",
    "text_metrics", "token_counts",
    "bpe_tokenize", "curation_pipeline",
    // round-9 additions: the clustered-embedding family and the
    // corpus-duplicated-n-gram family are the new candidate-generation
    // paths worth watching for quadratic creep
    "dedup_semantic", "sample_per_cluster",
    "dup_ngram_profile", "dedup_ngram_mask",
    "sim_mmr_topk", "sim_hard_negatives",
    // round-10 additions: the n-gram-LM text scorers (corpus-frequency
    // joins over exploded grams — the same posting-aggregation shape as
    // the n-gram dedup family, worth the same quadratic-creep watch), and
    // the Misra-Gries sketch whose exchange payload must stay k-bounded
    // however large the corpus grows
    "trigram_backoff", "bigram_familiarity", "heavy_hitters_sketch",
    // KMV overlap sketch: same k-bounded-exchange claim as the MG sketch,
    // plus a per-group saturation cut that must not regress with corpus
    // growth (the pair algebra is group-count-sized and scale-inert);
    // cdc_chunks is map-only by claim — growth must be linear-in-corpus.
    // join_size_sketch is NOT here: it reads customer/orders, which the
    // stress corpus doesn't replicate; its exchange is k-bounded by the
    // same aggregator these sketches stress, and spec-gated.
    "overlap_sketch", "cdc_chunks",
    // cdc_segment_dedup adds the df-count + reassembly shuffles on top of
    // the map-only chunk pass — the claim is fp-sized exchanges only
    "cdc_segment_dedup",
    // round-11 additions: BM25's candidate join grows with the posting
    // lists of the query terms (the quadratic-creep watch is Σ df over
    // query terms × replicas), DSIR and fertility are claimed
    // map+partial-agg shapes, the embedding-stats pair is claimed one
    // explode + one 2-phase agg, and ann_recall composes two probe-bound
    // searches
    "bm25_topk", "dsir_sample", "tokenizer_fertility",
    "label_centroids", "embedding_outliers", "ann_recall",
    // late round-11: the hashed-vector build (posting + df-dim join shape),
    // the signature-replay error report (pair-bounded by claim), the
    // incremental index fold (O(state-anti-join + batch) by claim), and
    // the sketch-cut curriculum (one O(k) agg + map-only assign)
    "sim_hashed_tfidf", "minhash_err_report", "index_incremental",
    "curriculum_shards",
    // events-table analytics (events scale as new users with identical
    // schedules): the funnel's per-user fold, the retention distinct
    // projection, the session window, and the pairwise source-affinity
    // posting join
    "funnel_report", "retention_cohorts", "q14_sessionize",
    "source_affinity",
    // round-13 additions: the hashed-TFIDF × LSH composition serves a
    // FIXED probe set (ids below IdStride — replica 0 only), so its
    // growth must be linear in the corpus (bucket occupancy per probe),
    // unlike the brute entry whose harness-scaled probe count confounds
    // the ×64 reading; bm25_from_index adds the state anti-join fold on
    // top of bm25_topk's posting shapes (query workload harness-scaled,
    // same adjudication as bm25_topk)
    "sim_hashed_lsh", "bm25_from_index",
    // semantic_decontaminate screens a FIXED needle set (ids below
    // IdStride) against the growing corpus — the claim is one broadcast
    // loop + a per-id partial max, linear in the corpus;
    // jaccard_histogram rides the ngram-jaccard pair machinery and must
    // track ITS growth (pair-count-driven) while emitting bins rows
    "semantic_decontaminate", "jaccard_histogram",
    // the SRP-bucketed screen: per-doc work = bucket needle occupancy;
    // with the fixed needle set its growth must stay linear in the corpus
    "semantic_decontaminate_lsh",
    // round-13 closing additions: event_transitions is one user-
    // partitioned window + two narrow aggs (events scale as new users —
    // per-user work constant); source_drift is a map-only class
    // projection + |sources|-row aggs (linear by claim); purge_deletes
    // has a FIXED deletion set (ids below IdStride) whose replicas are
    // deliberate near-dups — the manifest grows linearly with the
    // replication factor, and the candidate join must track it
    "event_transitions", "source_drift", "purge_deletes",
    // hybrid_retrieval composes the two fixed-probe retrieval stacks —
    // growth must track the slower input (the bm25 build); phrase_mining
    // is dictionary-sized aggregation by claim (the replicaN token makes
    // each replica's pairs distinct, so the bigram dictionary grows
    // linearly while the zip pass stays map-side)
    "hybrid_retrieval", "phrase_mining",
    // novelty_score: corpus distinct-fp set + batch-posting left join —
    // both sides grow linearly with the corpus (batch = odd half)
    "novelty_score",
    // events-family: funnel_latency is the funnel fold + a per-step
    // percentile over users-reached rows; rfm_segments collapses events
    // to |users| rows then pays three |users|-row NTILE sorts — the
    // growth to watch is the single-reducer window at high user counts
    "funnel_latency", "rfm_segments",
    // late round-13: preference_report's ballot join is 3 shifted
    // equi-joins (per-doc work constant — linear); annotator_agreement
    // is two marginal aggs + a |classes|-row join (linear scan, tiny
    // exchanges); text_strip_markup is map-only; calibration_report is
    // map-only + a |bins|-row agg; link_rank pays the transitions window
    // (linear in events) + 3 node-table-sized join/agg rounds over a
    // FIXED node set (event types don't grow with replication)
    "preference_report", "annotator_agreement", "text_strip_markup",
    "calibration_report", "link_rank",
    // label_noise_screen: FIXED probe set (vec_id < 100, replica 0 only)
    // kNN-voted against the growing corpus — per-probe work linear in the
    // corpus, same claim as sim_bruteforce_topk; score_quantile_normalize
    // pays one per-source window (sources don't grow with replication, so
    // the per-group sort is the growth to watch)
    "label_noise_screen", "score_quantile_normalize",
    // preference_bt_strength re-pays the ballot join then iterates over
    // the |items|-sized strength table — growth must track the ballots
    // (linear); conversion_attribution is the transitions window shape
    // plus a touch-type-sized agg; robust_stats is a percentile agg +
    // broadcast clamp pass (percentile buffers are the watched cost)
    "preference_bt_strength", "conversion_attribution", "robust_stats",
    // event_anomaly's corpus-sized work is ONE (type, day) partial agg;
    // the trailing window runs over |types|×|days| rows at any scale
    "event_anomaly",
    // final round-13: keyword_extract is the posting + df-join shape with
    // a per-doc rank window (groups are doc-vocabulary-sized — linear by
    // claim); vocab_richness is one (source, term) partial agg (the
    // replicaN token adds one fresh type per replica, so vocab grows
    // linearly while token mass replicates); session_paths pays one
    // user-partitioned window + |types|³-bounded aggs (events scale as
    // new users — per-user work constant); event_pairs collapses to
    // distinct (user, type) then a user-keyed a<b self-join bounded by
    // |types|²/user — all four linear by claim
    "keyword_extract", "vocab_richness", "session_paths", "event_pairs",
    // time_decayed_popularity is one map projection + a |types|-row agg
    // (linear by claim); event_cadence pays the (user, type) lag window +
    // per-type percentile buffers (corpus/|types| values each — the
    // watched cost); char_trigram_profile is the (source, gram) count
    // shape with the O(len) native gram pass (replica tokens add a few
    // fresh grams; the head is scale-stable). table_profile reads
    // lineitem, which the stress corpus doesn't replicate — spec/plan
    // gated instead (single-scan single-agg shape).
    "time_decayed_popularity", "event_cadence", "char_trigram_profile",
    // doc_compressibility is MAP-ONLY (one native gram pass + per-row
    // hash dedup — linear in text bytes by claim); mixture_waterfill's
    // corpus-sized work is one token agg (the windows run over
    // |sources| rows); time_embargo_split is one percentile agg + a
    // map labeling pass; edit_distance_linkage keeps a FIXED left half
    // (base ids < 250 — replicas all land in the right half), so
    // candidates grow linearly with each left doc's replica count
    "doc_compressibility", "mixture_waterfill", "time_embargo_split",
    "edit_distance_linkage",
    // round-14 additions: lm_perplexity_screen is the bigram/unigram
    // count-join shape (three fp-keyed joins over the position stream —
    // the familiarity family's linear claim); keyword_tag is map-only
    // (one automaton pass per doc, output hit-sparse); cms_counts'
    // exchange is a FIXED 4×64 matrix however large the corpus (the
    // k-bounded-exchange claim of the sketch family);
    // embedding_covariance reduces every partition to one
    // (1+d+d²)-long buffer — its corpus-sized work is the O(d²)/row
    // accumulate, linear by claim
    "lm_perplexity_screen", "keyword_tag", "cms_counts",
    "embedding_covariance",
    // vocab_growth's corpus-sized work is one explode + a vocabulary-
    // sized min-agg (the NTILE sorts ids only); kanon_release is one
    // cell-count agg + two tiny passes over |cells| rows
    "vocab_growth", "kanon_release",
    // quality_rule_hits adds one reasons explode + a |rules|-row agg on
    // top of the quality_filter verdict pipeline (linear by claim)
    "quality_rule_hits",
    // cooccurrence explodes window x tokens pair rows into one (a, b)
    // count agg - corpus-linear rows, vocabulary-squared-bounded keys
    "cooccurrence_counts",
    // preference_length_bias re-pays the shifted ballot joins plus two
    // |items|-keyed length joins and one global count - linear by claim
    "preference_length_bias",
    // augment_dropout is map-only (tokenize + indexed hash filter +
    // re-join) - linear in text bytes by claim
    "augment_dropout",
    // dedup_scoped is the exact-dedup shape keyed (scope, fp) plus one
    // fp-keyed scope count - same 16-byte-exchange claim
    "dedup_scoped",
    // span_corruption is map-only (one compiled positional-hash pass)
    "span_corruption",
    // rouge_overlap's work is per PAIR (adjacent ids): gram counts +
    // one (pair, fp) match join - linear in pairs by claim
    "rouge_overlap",
    // round-16 additions: dedup_exact_substr is the positional-span fp
    // stream (pinned twice-consumed frames) + ONE fp-keyed count+min agg
    // — the growth to watch is the duplicate-span occurrence volume
    // (replicas are near-dups, so long shared runs multiply spans);
    // unigram_tokenize's corpus-sized work is the (id, word) count agg
    // (Viterbi stays dictionary-sized); tokenizer_compare pays both
    // tokenizer dictionaries over one word-count pass; the bitext pair
    // contrasts the broadcast scan against the LSH shortlist — the
    // shortlisted path must stay BELOW the scan as the corpus grows
    // (it reads ~(bits+1)/2^bits of the scan's pairs per query).
    // dialog_from_stream reads events, which the stress corpus doesn't
    // replicate — spec/plan/oracle gated instead (same stance as
    // join_size_sketch/table_profile).
    "dedup_exact_substr", "unigram_tokenize", "tokenizer_compare",
    "bitext_mine", "bitext_mine_lsh",
    // decon_exact_substr shares dedup_exact_substr's span-stream shape
    // but its eval side (doc_id % 7 = 0 slice) scales WITH the corpus —
    // the growth to watch is the distinct eval-fp set feeding the semi
    // join; matryoshka_audit is 4 probe-broadcast corpus scans (the
    // probe set is scale-fixed below IdStride), so it should track the
    // sim_bruteforce flat-to-linear band times the prefix count;
    // wordpiece_tokenize is the unigram_tokenize dictionary shape with
    // the greedy walk in place of Viterbi — same linear band expected
    "decon_exact_substr", "matryoshka_audit", "wordpiece_tokenize",
    // round-16 second batch: dedup_containment rides the jaccardPairs
    // candidate machinery (auto strategy) — growth is TRUE-PAIR-driven
    // like dedup_ngram_jaccard (replicas are mutual near-subsets, so
    // pairs grow quadratically in the duplication factor: the output,
    // not the plan); cluster_silhouette is ONE map-only corpus pass
    // (per-row K-centroid argmin) + a |labels| agg — linear by claim;
    // bootstrap_ci is a B-way map-side expansion into a
    // (|langs|·B)-keyed partial agg — linear with a ×B constant;
    // corpus_divergence / divergence_from_stream are two fp-keyed count
    // aggs + a vocab-sized merge — linear, flat-ish tail (vocab grows
    // ~1 word/replica); sample_weighted is map-only keys + the bounded
    // global top-n — flat by claim
    "dedup_containment", "cluster_silhouette", "bootstrap_ci",
    "corpus_divergence", "divergence_from_stream", "sample_weighted",
    // kcenter: k map-only literal-centroid rounds + one-row collects;
    // coverage adds one assignment pass — both flat-to-sub-linear by
    // claim. retrieval_mrr serves the FIXED 20-probe set (brute scan —
    // the sim_bruteforce band) + |labels|-dim joins; conformal pays two
    // split aggs + a per-label calibration sort (labels don't grow with
    // replication, so the per-group sort is the growth to watch)
    "kcenter_select", "kcenter_coverage", "retrieval_mrr",
    "conformal_calibration",
    // lang_classifier: one gram explode into a (doc, dim<=128) partial
    // count agg, broadcast weight join, per-class sums — linear in text
    // bytes by claim, exchanges bounded at dims rows/doc;
    // conformal_lang_sets re-pays the score table then adds
    // |classes|-bounded quantile/membership aggs — same linear band
    "lang_classifier", "conformal_lang_sets")

  /** Replica id offset — well above any sf0.1 id, keeps replica ids
    * unique. PUBLIC because `Pipeline.simHashedLsh` pins its probe set
    * below this stride (so stress probes stay scale-fixed); the query and
    * its oracle SQL interpolate THIS constant — change it here and both
    * stay in lockstep.
    */
  val IdStride = 1000000L

  private def replicate(base: DataFrame, mult: Int): DataFrame =
    base.select(col("*"),
      explode(sequence(lit(0L), lit(mult - 1L))).as("rep"))

  def scaleDocs(base: DataFrame, mult: Int): DataFrame =
    replicate(base, mult).select(
      (col("doc_id") + col("rep") * IdStride).as("doc_id"),
      concat(col("text"), lit(" replica"), col("rep")).as("text"),
      col("lang"), col("source"), col("n_chars"))

  def scaleEmbeddings(base: DataFrame, mult: Int): DataFrame =
    replicate(base, mult).select(
      (col("vec_id") + col("rep") * IdStride).as("vec_id"),
      transform(col("embedding"),
        x => x + col("rep").cast("float") * lit(0.001f)).as("embedding"),
      col("label"))

  /** Events scale as NEW USERS with identical schedules (ids offset,
    * timestamps kept): funnel/retention/session costs grow with the user
    * population, which is the dimension that grows in production.
    */
  def scaleEvents(base: DataFrame, mult: Int): DataFrame =
    replicate(base, mult).select(
      (col("event_id") + col("rep") * IdStride).as("event_id"),
      col("ts"),
      (col("user_id") + col("rep") * IdStride).as("user_id"),
      col("event_type"), col("value"), col("props"))

  def main(args: Array[String]): Unit = {
    val mult = if (args.isEmpty) 4 else args(0).toInt
    val queries = if (args.length > 1) args.drop(1).toSeq else DefaultQueries
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = s"/tmp/graft_stress/x$mult"

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.configure(spark)

    // generate (idempotent: reuse if the directory already exists)
    val marker = new java.io.File(s"$outDir/_DONE")
    if (!marker.exists()) {
      val docs = T(spark, baseDir, "documents")
      val embs = T(spark, baseDir, "embeddings")
      scaleDocs(docs, mult)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      scaleEmbeddings(embs, mult)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      // the dedup/sim queries only read documents + embeddings; symlink-free
      // copy of the small remaining tables is unnecessary
      marker.getParentFile.mkdirs()
      marker.createNewFile()
      ()
    }
    // events arrived later than the docs/embeddings harness: generate into
    // EXISTING scaled dirs too (separate marker keeps old dirs reusable)
    val evMarker = new java.io.File(s"$outDir/_DONE_EVENTS")
    if (!evMarker.exists()) {
      scaleEvents(T(spark, baseDir, "events"), mult)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
      evMarker.getParentFile.mkdirs()
      evMarker.createNewFile()
      ()
    }

    val rows = T(spark, outDir, "documents").count()

    def timeOnce(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try {
        fn(spark, outDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"$name failed: ${e.getMessage}"); -1.0
      } finally Pins.releaseAll(spark)
    }

    def num(v: Double): String =
      new java.math.BigDecimal(String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)))
        .stripTrailingZeros().toPlainString
    val results = queries.map(q => q -> timeOnce(q))
    // Merge with any prior recording for this multiplier: a partial run
    // (e.g. two new queries at ×64) must not erase the earlier sweep.
    // Prior entries are kept ONLY when the recorded row count matches —
    // timings measured against a different base corpus must not be
    // stitched under the new "rows" value.
    val path = java.nio.file.Paths.get(s"stress_x$mult.json")
    val prior: Seq[(String, String)] =
      if (java.nio.file.Files.exists(path)) {
        val txt = new String(java.nio.file.Files.readAllBytes(path),
          java.nio.charset.StandardCharsets.UTF_8)
        // whitespace-tolerant extraction: a hand-edited / pretty-printed
        // file (json.dump writes `"rows": 320000`) must still merge — a
        // byte-exact-format assumption here once silently erased the
        // whole ×64 sweep when an external edit reserialized the file
        val sameCorpus = """"rows"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
          .exists(_.group(1).toLong == rows)
        val obj = """"queries"\s*:\s*\{""".r.findFirstMatchIn(txt) match {
          case None => ""
          case Some(m) => txt.substring(m.end, txt.indexOf('}', m.end))
        }
        if (!sameCorpus) Seq.empty
        else """"([A-Za-z0-9_]+)":(-?[0-9.]+)""".r.findAllMatchIn(obj)
          .map(m => m.group(1) -> m.group(2)).toSeq
      } else Seq.empty
    val ran = results.map(_._1).toSet
    val merged = prior.filterNot(p => ran.contains(p._1)) ++
      results.map { case (k, v) => k -> num(v) }
    val qs = merged.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val line = s"""{"mult":$mult,"rows":$rows,"queries":$qs}"""
    try {
      java.nio.file.Files.write(path,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () }
    System.out.println(line)
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }
}
