package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.HashFunctions
import graft.functions.TextFunctions

/** Deduplication operators for 100 TB-scale corpora.
  *
  * Scale design notes:
  *  - `exact` groups on a 60-bit md5 fingerprint, so the shuffle carries
  *    (id, fingerprint) pairs — not document bodies.
  *  - the approximate family (MinHash / SimHash / n-gram Jaccard) never does
  *    an all-pairs comparison: candidates come from equality joins on LSH
  *    band buckets / hash blocks, and only candidates are verified. Signature
  *    computation is a single narrow projection (no shuffle) of native
  *    expressions (one compiled loop per row, inside whole-stage codegen —
  *    see NativeUnaryCodegen); the only shuffles are the bucket
  *    join and the verify join, both on compact keys.
  *  - all hashing is md5-derived (content-addressed, engine-portable,
  *    cluster-stable — no JVM hashCode anywhere).
  */
object Dedup {

  /** Exact dedup: one row per distinct value of `content`, keeping the
    * minimum `id` and the duplicate-group size.
    *
    * Groups on `fingerprint64(content)` (md5-derived), so at scale the
    * shuffle moves 16 bytes/row instead of the document body. Callers that
    * cannot tolerate ~2^-60-scale collisions can group on content itself.
    */
  def exact(df: DataFrame, id: Column, content: Column): DataFrame =
    df.select(id.as("__id"), TextFunctions.fingerprint64(content).as("__fp"))
      .groupBy(col("__fp"))
      .agg(min(col("__id")).as("keep_id"), count(lit(1)).as("group_size"))
      .select(col("keep_id"), col("group_size"))

  /** [[exact]] SCOPED to a grouping column: duplicates collapse only
    * WITHIN each scope; identical content appearing under two scopes
    * keeps one canonical per scope. This is the licensing/attribution
    * variant of exact dedup — when sources carry distinct licenses or
    * provenance obligations, a cross-source collapse silently reassigns
    * content to whichever source holds the minimum id, and the dropped
    * source's terms vanish from the audit trail. Output:
    * (scope, keep_id, group_size, cross_scope_copies) — the last column
    * counts how many OTHER scopes carry this same content, so the
    * cross-source duplication the scoped collapse deliberately retains
    * stays visible instead of silently multiplying training mass.
    *
    * Scale shape: one (scope, fp) 2-phase aggregation (16 bytes + scope
    * per row) plus one fp-keyed count of distinct scopes joined back —
    * both exchanges carry fingerprints, never bodies.
    */
  def exactScoped(df: DataFrame, id: Column, content: Column,
      scope: Column): DataFrame = {
    val fps = df.select(scope.as("scope"), id.as("__id"),
      TextFunctions.fingerprint64(content).as("__fp"))
    val perScope = fps.groupBy(col("scope"), col("__fp"))
      .agg(min(col("__id")).as("keep_id"), count(lit(1)).as("group_size"))
    val scopesPerFp = perScope.groupBy(col("__fp"))
      .agg(count(lit(1)).as("__n_scopes"))
    perScope.join(scopesPerFp, Seq("__fp"))
      .select(col("scope"), col("keep_id"), col("group_size"),
        (col("__n_scopes") - 1L).as("cross_scope_copies"))
  }

  // ---------------------------------------------------------------- MinHash

  /** Prime just above 2^32 for the (a*h + b) mod P universal hash family
    * (full family definition: org.apache.spark.sql.graft.MinHashSignature).
    */
  val P: Long = 4294967311L

  /** MinHash signature (length `numHashes`) over the distinct word
    * `shingleK`-shingles of `text`. Pure projection — no shuffle: one
    * compiled pass via the native [[org.apache.spark.sql.graft.MinHashSignature]]
    * expression (the equivalent higher-order-function formulation evaluates
    * interpreted per element, ~100× slower at corpus scale).
    */
  def minHashSignature(text: Column, shingleK: Int, numHashes: Int): Column =
    HashFunctions.minHashSignature(TextFunctions.tokensWs(text), shingleK, numHashes)

  /** Explode a frame holding (id, sig) into (id, band, band_key) rows —
    * THE band-key derivation (md5 of the comma-joined signature slice):
    * every band table in the engine (batch, corpus bootstrap, persisted
    * state) must come through here so keys stay joinable across them.
    */
  private def explodeBands(withSig: DataFrame, bands: Int, rows: Int): DataFrame =
    withSig.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows)))))
    ).as(Seq("band", "band_key")))

  /** (id, band, band_key) rows: `bands` LSH buckets per document, the band
    * key being the md5 of that band's signature slice. Join key is ~20
    * bytes/row regardless of document size.
    */
  def lshBands(df: DataFrame, id: Column, text: Column,
      shingleK: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, s"numHashes=$numHashes not divisible by bands=$bands")
    val rows = numHashes / bands
    explodeBands(
      df.select(id.as("id"), minHashSignature(text, shingleK, numHashes).as("sig")),
      bands, rows)
  }

  /** Candidate pairs (id_a < id_b) that collide in at least one LSH band.
    * Equality self-join on (band, band_key); distinct to collapse multi-band
    * collisions. Skew note: a bucket of n identical docs yields n^2/2
    * candidates — run `exact` dedup first so identical bodies are gone.
    */
  def minHashCandidates(df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 16): DataFrame = {
    val b = lshBands(df, id, text, shingleK, numHashes, bands)
    val l = b.select(col("band"), col("band_key"), col("id").as("id_a"))
    val r = b.select(col("band"), col("band_key"), col("id").as("id_b"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** MinHash+LSH near-duplicate pairs, verified: candidates from
    * `minHashCandidates`, then exact Jaccard over the documents' distinct
    * 60-bit shingle fingerprints ([[shingleFpSet]]), kept when >=
    * `threshold`. Output: (id_a, id_b, jaccard), exact integer-ratio
    * doubles.
    */
  def minHashPairs(df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.8): DataFrame =
    jaccardScored(verifiedSizes(
      minHashCandidates(df, id, text, shingleK, numHashes, bands),
      df.select(id.as("id"), shingleFpSet(text, shingleK).as("set"))), threshold)

  /** THE shingle representation of the dedup joins: a document's distinct
    * 60-bit word-`shingleK`-shingle fingerprints, in first-occurrence
    * order, from the native `shingle_fps60` kernel (docs shorter than k
    * carry one whole-text fingerprint). Same size and intersections as
    * the distinct shingle strings unless two different shingles of one
    * document collide in 60 bits — the fingerprint-collision risk every
    * posting join already takes — and no shingle string is ever built.
    */
  private def shingleFpSet(text: Column, shingleK: Int): Column =
    array_distinct(HashFunctions.shingleFps60(TextFunctions.tokensWs(text), shingleK))

  /** (id, sz, sfp) inverted-index postings from (id, set) rows of
    * [[shingleFpSet]]: one row per (document, shingle fingerprint), with
    * the set size carried for the Jaccard arithmetic. Shuffle payloads are
    * (long, int, long) — never the shingle text.
    */
  private def shinglePostings(sets: DataFrame): DataFrame =
    sets.select(col("id"), size(col("set")).as("sz"), explode(col("set")).as("sfp"))

  /** The one exact verify of candidate pairs (id_a, id_b) against (id,
    * set) fingerprint sets: (id_a, id_b, inter, sz_a, sz_b), for
    * [[jaccardScored]] or [[containmentScored]]. */
  private def verifiedSizes(cand: DataFrame, sets: DataFrame): DataFrame =
    cand
      .join(sets.select(col("id").as("id_a"), col("set").as("set_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("set").as("set_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("set_a"), col("set_b"))).as("inter"),
        size(col("set_a")).as("sz_a"), size(col("set_b")).as("sz_b"))

  /** (id_a, id_b, jaccard) of sized pairs (inter, sz_a, sz_b) at or above
    * `threshold`, exact integer-ratio doubles. */
  private def jaccardScored(sized: DataFrame, threshold: Double): DataFrame =
    sized
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Word-shingle width of the near-dup state: the 3-word shingles the
    * `dedup_incremental` oracle replays. */
  private val NearDupShingleK = 3
  /** 128 MinHash rows in 16 bands of 8: the LSH S-curve midpoint
    * (1/16)^(1/8) ≈ 0.71 sits below [[NearDupThreshold]], so a pair at
    * the cut collides in some band with probability ≈ 0.95. */
  private val NearDupHashes = 128
  private val NearDupBands = 16
  /** The exact-Jaccard verify cut, the oracle's `>= 0.8`. */
  private val NearDupThreshold = 0.8

  /** (id, sig, set): the near-dup state's one signature and shingle pass
    * over a batch's or a bootstrap corpus's text — `set` the distinct
    * 60-bit shingle fingerprints ([[shingleFpSet]]). */
  private def nearDupSigSets(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"),
      minHashSignature(text, NearDupShingleK, NearDupHashes).as("sig"),
      shingleFpSet(text, NearDupShingleK).as("set"))

  /** Carried state for [[minHashIncremental]]: the LSH band table and the
    * (id, sz, sfp) postings of every document admitted so far — one row
    * per distinct 60-bit shingle fingerprint of the document, `sz` their
    * count. Both are compact long-rows (band keys ~20 B, postings 8 B per
    * shingle) — the admitted corpus TEXT is never part of the state, which
    * is what makes continuous near-dup ingestion O(batch), not O(corpus):
    * persist both tables partitioned/bucketed by their join key between
    * runs.
    *
    * `cached` is the bootstrap's persisted (id, sig, set) frame, carried so
    * [[NearDupState.save]] can unpersist it once the state lives as tables
    * — without the handle the corpus-sized blocks would stay pinned for the
    * session lifetime.
    */
  final case class NearDupState(bands: DataFrame, postings: DataFrame,
      cached: Option[DataFrame] = None) {

    /** Release the bootstrap's persisted signature frame WITHOUT saving —
      * the explicit drop for callers that never reach [[NearDupState.save]]
      * (a Runner-loop job that bootstraps per tick, a bootstrap abandoned
      * after validation). Idempotent; [[NearDupState.save]] ends with the
      * same release. This is deliberately NOT routed through
      * [[graft.Pins]]: the cache must survive ACROSS the caller's batches
      * until save/close — a scheduler's per-job `Pins.unpinAll` boundary
      * is mid-lifecycle for carried state, so the state object owns its
      * release and PinsSpec's soak test proves the loop stays clean when
      * callers honor it.
      */
    def close(): Unit = cached.foreach(_.unpersist(blocking = false))
  }

  object NearDupState {
    /** Bootstrap state from an already-deduplicated corpus. The corpus text
      * is tokenized/shingled ONCE into a persisted (id, sig, set) frame;
      * bands and postings are both projections of it — without the persist,
      * materializing the two state tables would pay the signature pass
      * twice over the full corpus. MEMORY_AND_DISK, not localCheckpoint:
      * a corpus-sized bootstrap frame may exceed executor memory, and
      * spilled blocks are still one ORDER of magnitude cheaper than
      * re-tokenizing. Call [[save]] right after a large bootstrap — the two
      * bucketed writes consume the cached frame once each, after which the
      * state lives as tables and the cache can be dropped.
      */
    def build(corpus: DataFrame, id: Column, text: Column): NearDupState = {
      val combined = nearDupSigSets(corpus, id, text)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      NearDupState(
        explodeBands(combined, NearDupBands, NearDupHashes / NearDupBands),
        shinglePostings(combined.select(col("id"), col("set"))),
        cached = Some(combined))
    }

    /** Persist the carried state as two BUCKETED tables
      * (`<prefix>_bands` bucketed+sorted by `band_key`, `<prefix>_postings`
      * by `sfp`) and cut the in-memory unionAll lineage. Each
      * [[minHashIncremental]] run appends the surviving batch to both state
      * frames, so after k batches the plan is a k-deep union of
      * checkpoints — `save` compacts that to one clustered table, and the
      * bucketing pre-shuffles the state on exactly the keys the next run
      * joins on (band collisions on `band_key`, posting intersection on
      * `sfp`), so a bucket-aware reader co-locates those joins with no
      * state-side exchange.
      *
      * Re-bucketing cadence: call `save` every N batches (N·|batch| ≈ the
      * bucket size you want to re-cluster, e.g. hourly for streaming) or
      * whenever state lineage depth makes planning time noticeable; between
      * saves the per-batch localCheckpoint keeps execution (not layout)
      * bounded. Bucket count should track expected FINAL corpus size
      * (state rows / ~128 MiB per bucket file), not batch size.
      */
    def save(state: NearDupState, prefix: String, buckets: Int = 64): Unit = {
      // Stage BOTH tables before swapping EITHER: the updated postings plan
      // reads the previous generation's bands table (the cross-state
      // candidate join), so swapping bands first would delete files the
      // postings stage write still scans.
      stageBucketed(state.bands, s"${prefix}_bands", buckets, "band_key")
      stageBucketed(state.postings, s"${prefix}_postings", buckets, "sfp")
      swapStaged(state.bands.sparkSession, s"${prefix}_bands")
      swapStaged(state.postings.sparkSession, s"${prefix}_postings")
      // the state now lives as tables; release the bootstrap's persisted
      // signature frame (kept alive until here because both staged writes
      // read through it)
      state.close()
    }

    /** Reload state persisted by [[save]]; the returned frames carry the
      * tables' bucketing specs, so downstream joins on the bucket keys skip
      * the state-side shuffle. Refuses a layout-version mismatch on either
      * table (see [[StateFormatVersion]]).
      */
    def load(spark: org.apache.spark.sql.SparkSession, prefix: String): NearDupState =
      NearDupState(versionedStateTable(spark, s"${prefix}_bands"),
        versionedStateTable(spark, s"${prefix}_postings"))
  }

  /** Persist an exact-dedup fingerprint state (the `(fp: long)` table of
    * every admitted `fingerprint64`) as one bucketed table, bucketed and
    * sorted by `fp` — same compaction/clustering contract as
    * [[NearDupState.save]]: collapses the per-batch unionAll lineage and
    * pre-shuffles on the anti-join key.
    */
  def saveFingerprints(fps: DataFrame, table: String, buckets: Int = 64): Unit =
    writeBucketedSwap(fps.select(col("fp")), table, buckets, "fp")

  /** Stage-and-rename bucketed table write: the updated state PLAN reads
    * the previous generation's table (state_{k+1} = table ∪ batch), so a
    * direct overwrite is a read-your-own-target error. Writing to a stage
    * table then swapping via rename makes `save` safe to call on state
    * derived from its own previous save — the steady-state cadence — and
    * readers never observe a half-written target.
    */
  /** Layout version stamped (as a table property) on every persisted
    * state table — the [[graft.operators.TextIndex.IndexFormatVersion]]
    * contract applied to the dedup state: [[NearDupState.load]] /
    * [[loadFingerprints]] REFUSE a mismatched (or missing) version rather
    * than misfold state whose layout a future code change reinterpreted.
    * Bump whenever the persisted layout's meaning changes (band-key
    * recipe, posting fingerprint, bucketing key semantics).
    *
    * Upgrade path for state KNOWN to be layout-compatible (tables
    * written by the build that predates the stamp, whose layout IS
    * version 1): run [[stampUnversionedStateTable]] once per table —
    * it audits the layout and stamps version 1 — or re-bootstrap. The
    * gate deliberately never infers compatibility from absence: a
    * missing stamp is indistinguishable from a foreign or corrupt table.
    */
  val StateFormatVersion: Int = 1

  private val StateVersionProp = "graft.state.format.version"

  private def writeBucketedSwap(df: DataFrame, table: String, buckets: Int,
      key: String): Unit = {
    stageBucketed(df, table, buckets, key)
    swapStaged(df.sparkSession, table)
  }

  private def stageBucketed(df: DataFrame, table: String, buckets: Int,
      key: String): Unit = {
    df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table + "__stage")
    // stamp the STAGE table so the version rides through the swap rename
    // atomically with the data it describes
    df.sparkSession.sql(s"ALTER TABLE `${table}__stage` SET TBLPROPERTIES " +
      s"('$StateVersionProp' = '$StateFormatVersion')")
  }

  private def swapStaged(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"ALTER TABLE `${table}__stage` RENAME TO `$table`")
    // the session caches the previous generation's file listing under this name
    spark.catalog.refreshTable(table)
  }

  /** The table's stamped layout version, if any — the ONE property-read
    * shared by the load gate and the migration path, so they can never
    * disagree on whether a table is stamped.
    */
  private def stampedVersion(spark: org.apache.spark.sql.SparkSession,
      table: String): Option[String] =
    spark.sql(s"SHOW TBLPROPERTIES `$table`").collect()
      .collectFirst {
        case r if r.getString(0) == StateVersionProp => r.getString(1)
      }

  /** `spark.table` behind the version gate: refuse a state table whose
    * stamped layout version differs from this build's (missing = written
    * by something that predates versioning = equally unreadable).
    */
  private def versionedStateTable(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    val v = stampedVersion(spark, table).getOrElse("<missing>")
    require(v == StateFormatVersion.toString,
      s"state table $table has layout version $v; this build reads " +
        s"version $StateFormatVersion — refusing to load (re-bootstrap " +
        "the state with the current build)")
    spark.table(table)
  }

  /** Reload fingerprint state persisted by [[saveFingerprints]]; refuses
    * a layout-version mismatch (see [[StateFormatVersion]]).
    */
  def loadFingerprints(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame =
    versionedStateTable(spark, table)

  /** One-shot migration for state tables persisted by the build that
    * PREDATES version stamping (ADVICE r19: every such table becomes
    * unloadable after upgrade, and the manual `ALTER TABLE` escape hatch
    * left the audit to the operator). Their layout IS version 1, so the
    * automated path is: verify the table exists and carries every column
    * the caller's layout expects (the cheap layout audit), verify it
    * carries NO version stamp at all, then stamp version 1. A table
    * already stamped with ANY version is refused — a future-version
    * table is not migratable by relabeling; it needs a re-bootstrap with
    * this build (the same recovery as a refused load). Run once per
    * table at upgrade time:
    * `Dedup.stampUnversionedStateTable(spark, "corpus_fps", Seq("fp"))`.
    */
  def stampUnversionedStateTable(spark: org.apache.spark.sql.SparkSession,
      table: String, expectedColumns: Seq[String]): Unit = {
    require(spark.catalog.tableExists(table),
      s"state table $table does not exist — nothing to migrate")
    val v = stampedVersion(spark, table)
    require(v.isEmpty,
      s"state table $table already carries layout version ${v.get} — " +
        "refusing to restamp; a mismatched version means the layout " +
        "changed, and the recovery is a re-bootstrap with this build, " +
        "not a relabel")
    val cols = spark.table(table).columns.toSet
    val missing = expectedColumns.filterNot(cols)
    require(missing.isEmpty,
      s"state table $table is missing expected column(s) " +
        s"${missing.mkString(", ")} (has: ${cols.toSeq.sorted.mkString(", ")})" +
        " — not a pre-versioning table of this layout; refusing to stamp")
    spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES " +
      s"('$StateVersionProp' = '$StateFormatVersion')")
  }

  /** Incremental near-duplicate dedup for continuous ingestion. The fresh
    * batch first collapses internally (LSH candidate pairs verified by
    * exact Jaccard → connected components → min-id representative);
    * surviving representatives are then checked against the admitted
    * corpus via a band-collision join against `state.bands`, with
    * candidates verified by exact Jaccard computed from the posting
    * intersection (state postings, never state text). Returns (survivor
    * rows, updated state).
    *
    * Scale shape: every join keys on ~8–20-byte hashes; the fresh batch's
    * text is read once for signatures/postings; the admitted corpus is
    * touched only through its band and posting tables. Cross-verification
    * cost is bounded by band collisions, not |batch|×|corpus|.
    */
  def minHashIncremental(fresh: DataFrame, id: Column, text: Column,
      state: NearDupState): (DataFrame, NearDupState) = {
    // 0. ONE signature/shingle pass over the batch text: (id, sig, set) is
    // computed in a single widened projection (WSCG shares the tokenization
    // subexpression) and pinned — every later stage (within-batch pairs,
    // band table, postings) derives from this frame by projection or
    // id-filter, never by re-reading batch text. This is the per-batch
    // job-count floor: the batch is tokenized/shingled exactly once.
    val combined = nearDupSigSets(fresh, id, text).localCheckpoint()
    val batchBands = explodeBands(combined, NearDupBands, NearDupHashes / NearDupBands)

    // 1. within-batch collapse: verified pairs → components → min-id reps.
    // Same verification as minHashPairs (exact Jaccard over the fingerprint
    // sets), but candidates and sets come from the pinned frame. The pair
    // set is checkpointed (id-pair longs — tiny) because components()
    // drives several actions over it; the empty-pair fast path skips the
    // whole propagation loop — at streaming cadence most batches have no
    // within-batch near-dups.
    val bl = batchBands.select(col("band"), col("band_key"), col("id").as("id_a"))
    val br = batchBands.select(col("band"), col("band_key"), col("id").as("id_b"))
    val batchCand = bl.join(br, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val sets = combined.select(col("id"), col("set"))
    val pairs = jaccardScored(verifiedSizes(batchCand, sets), NearDupThreshold)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val (reps, repIds) =
      if (pairs.isEmpty) (fresh, combined.select(col("id")))
      else {
        val nonReps = components(pairs)
          .filter(col("id") =!= col("component"))
          .select(col("id").as("__nonrep_id"))
        (fresh.join(nonReps, id === col("__nonrep_id"), "left_anti"),
          combined.select(col("id"))
            .join(nonReps, col("id") === col("__nonrep_id"), "left_anti"))
      }

    // 2. compact representations of the representatives — FILTERED from the
    // pinned batch frames (round-5 cost: these re-shingled the batch text
    // from the source, paying the signature pass 3× per batch)
    val repBands = batchBands.join(repIds, Seq("id"), "left_semi")
    val repPost = shinglePostings(sets.join(repIds, Seq("id"), "left_semi"))

    // 3. candidates against the corpus: band-collision equality join
    val cand = repBands.select(col("band"), col("band_key"), col("id").as("fresh_id"))
      .join(state.bands.select(col("band"), col("band_key"), col("id").as("state_id")),
        Seq("band", "band_key"))
      .select(col("fresh_id"), col("state_id")).distinct()

    // 4. verify candidates by exact Jaccard from posting intersections:
    //    prune both posting sides to candidate ids first so the sfp join
    //    touches only colliding documents
    val fPost = repPost.select(col("id").as("fresh_id"), col("sz").as("fsz"), col("sfp"))
      .join(cand.select(col("fresh_id")).distinct(), Seq("fresh_id"), "left_semi")
    val sPost = state.postings
      .select(col("id").as("state_id"), col("sz").as("ssz"), col("sfp"))
      .join(cand.select(col("state_id")).distinct(), Seq("state_id"), "left_semi")
    val matched = fPost.join(sPost, Seq("sfp"))
      .join(cand, Seq("fresh_id", "state_id"), "left_semi")
      .groupBy(col("fresh_id"), col("state_id"), col("fsz"), col("ssz"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter").cast("double") /
        (col("fsz") + col("ssz") - col("inter")).cast("double") >= NearDupThreshold)
      .select(col("fresh_id")).distinct()

    val survivors = reps.join(matched, id === col("fresh_id"), "left_anti")
    val survBands = repBands.join(matched, col("id") === col("fresh_id"), "left_anti")
    val survPost = repPost.join(matched, col("id") === col("fresh_id"), "left_anti")
    (survivors, NearDupState(
      state.bands.unionAll(survBands),
      state.postings.unionAll(survPost),
      state.cached)) // carry the bootstrap cache handle so save() can drop it
  }

  /** Connected components over a near-duplicate pair graph by alternating
    * large-star / small-star rounds (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14): each round rewires edges toward
    * per-neighborhood minima — large-star hangs every larger neighbor of u
    * under min(Γ(u) ∪ u), small-star hangs u's smaller neighborhood under
    * its minimum — and the edge relation converges to depth-1 stars rooted
    * at each component's minimum id, the canonical representative for
    * cluster-collapse dedup.
    *
    * Versus plain min-label propagation (the previous implementation),
    * round count drops from O(graph diameter) to O(log² n) — a 1000-hop
    * chain finishes in a handful of rounds instead of 1000. Every round is
    * two groupBy+join passes over (long, long) edges; frames are
    * localCheckpoint-ed per round so iterated plans never nest.
    * [[ComponentsMaxIter]] bounds pathology.
    *
    * Fixpoint probe: a state is a fixpoint of the alternation iff it is a
    * disjoint union of downhill STARS — every src has out-degree exactly 1
    * AND no edge's dst also appears as a src (every non-root points
    * directly at a root). Such a state maps to itself under both stars
    * (direct computation: large-star re-emits each (v, m); small-star's
    * per-src minimum IS the sole neighbor), and the paper's fixpoint
    * theorem says the only fixpoints are the correct min-rooted component
    * stars — so one degree-aggregation + semi-join action over the
    * just-checkpointed blocks decides termination. Both conditions are
    * needed: edges {(3,1),(3,2)} have no dst-as-src yet are NOT a fixpoint
    * (components 1 and 2 still merge through 3). (The first version probed
    * with count() + exceptAll — two extra multi-stage jobs per round that
    * made the loop SLOWER than the min-label one it replaced on shallow
    * near-dup graphs.)
    *
    * Adaptive small-graph path: verified near-dup pair sets are usually
    * TINY relative to the corpus (233 pairs from 4 750 sf0.1 batch docs),
    * and any distributed iteration pays multi-second scheduler overhead on
    * them — so when the deduplicated edge count is at most
    * [[LocalComponentsMaxEdges]] (and ids are integral), the edges collect
    * to the driver and a path-compressed min-root union-find labels them
    * in one pass (the same measured-auto-path stance as the Jaccard
    * join). The ×16 stress corpus (~665 k pairs) stays local; the ×64 one
    * (~11 M) takes the distributed star loop ([[starComponents]]).
    * Output: (id, component) — one row per node appearing in `pairs`.
    */
  def components(pairs: DataFrame): DataFrame = {
    val edges0 = downhillEdges(pairs)
    val integral = edges0.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (integral && edges0.count() <= LocalComponentsMaxEdges)
      componentsLocal(edges0)
    else starComponents(edges0, ComponentsMaxIter)
  }

  /** Edge count up to which [[components]] labels on the driver: at 1 M
    * edges the transient driver cost stays at a few hundred MB (collected
    * Rows plus boxed HashMap/node-set entries — NOT just the 16 MB of raw
    * longs). */
  private val LocalComponentsMaxEdges = 1000000L
  /** Star-round budget of [[starComponents]]: rounds are O(log² n), so 20
    * covers any chain the local path does not already take. */
  private[operators] val ComponentsMaxIter = 20

  /** Evaluate the (often expensive — LSH band joins) pair plan EXACTLY
    * once: canonicalize to downhill (larger → smaller) edges, self-loops
    * still included, and checkpoint; every labeling path feeds off these
    * blocks.
    */
  private[operators] def downhillEdges(pairs: DataFrame): DataFrame =
    pairs
      .select(greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .distinct().localCheckpoint()

  /** The distributed labeling of [[components]] over [[downhillEdges]]:
    * alternating large-star/small-star rounds until the edges are disjoint
    * downhill stars, or `maxIter` rounds.
    */
  private[operators] def starComponents(edges0: DataFrame,
      maxIter: Int): DataFrame = {
    // one row per node, kept aside so fixpoint roots (and self-pair-only
    // nodes, whose edges drop with the self-loop filter) label themselves
    val allNodes = edges0
      .select(explode(array(col("src"), col("dst"))).as("id")).distinct()
    var edges = edges0.filter(col("src") =!= col("dst"))
    // fixpoint witness nodes: out-degree > 1, or appearing as BOTH a src
    // and a dst — none ⟺ disjoint downhill stars ⟺ fixpoint. One tagged
    // union + groupBy = a single shuffle of (long, int) rows per probe.
    def notStars(e: DataFrame): Boolean = {
      val witnesses = e.select(col("src").as("n"), lit(1).as("o"))
        .unionAll(e.select(col("dst").as("n"), lit(0).as("o")))
        .groupBy(col("n"))
        .agg(sum(col("o")).as("outdeg"), min(col("o")).as("mn"))
        .filter(col("outdeg") > 1 ||
          (col("outdeg") >= 1 && col("mn") === 0))
      !witnesses.isEmpty
    }
    var converged = edges.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      // -- large-star: over the SYMMETRIC neighbor relation, u's minimum
      // m = min(Γ(u) ∪ u) adopts every strictly-larger neighbor: (v, m)
      // for v ∈ Γ(u), v > u. Output stays downhill (v > u ≥ m).
      val sym = edges.unionAll(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val lsMin = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src").as("u"), least(col("mn"), col("src")).as("m"))
      val ls = sym.join(lsMin, col("src") === col("u"))
        .filter(col("dst") > col("u"))
        .select(col("dst").as("src"), col("m").as("dst"))
      // -- small-star: edges already point downhill, so Γ(u) here is u's
      // smaller neighborhood N; m = min(N) adopts N ∪ {u} \ {m}
      val ssMin = ls.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val next = ls.join(ssMin.select(col("src"), col("m")), Seq("src"))
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionAll(ssMin.select(col("src"), col("m").as("dst")))
        .distinct().localCheckpoint()
      converged = !notStars(next)
      edges = next
      i += 1
    }
    // at fixpoint edges are stars (node → component minimum); roots never
    // appear on the src side (src > dst invariant), so they self-label via
    // the anti-join, as do nodes whose only pairs were self-loops. If
    // maxIter ran out before the star fixpoint, a node may still carry
    // several outgoing edges — the per-src min keeps the labeling
    // WELL-FORMED (exactly one row per node; labels are a valid downhill
    // over-approximation, same contract the old min-label loop had when
    // its budget ran out) instead of emitting duplicate conflicting rows.
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"components: star alternation did not converge within $maxIter " +
          "rounds; returning per-node minimum labels (over-approximation)")
    val labeled = edges.groupBy(col("src")).agg(min(col("dst")).as("component"))
      .select(col("src").as("id"), col("component"))
    allNodes.join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Driver-side union-find for small edge sets (see [[components]]):
    * weighted-by-min linking (the larger root always hangs under the
    * smaller, so each set's root IS its minimum id) with full path
    * compression — O(E α(E)) over collected (long, long) edges. Self-loop
    * nodes label themselves; output ids are cast back to the input id
    * type so downstream anti-joins see the caller's schema.
    */
  private def componentsLocal(edges0: DataFrame): DataFrame = {
    val spark = edges0.sparkSession
    val idType = edges0.schema.fields.head.dataType
    val rows = edges0
      .select(col("src").cast("long"), col("dst").cast("long")).collect()
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    def find(x: Long): Long = {
      var r = x
      while ({ val p = parent.get(r); p != null && p != r }) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    val nodes = new java.util.LinkedHashSet[java.lang.Long]()
    rows.foreach { row =>
      val s = row.getLong(0); val d = row.getLong(1)
      nodes.add(s); nodes.add(d)
      if (s != d) {
        val rs = find(s); val rd = find(d)
        if (rs != rd) parent.put(math.max(rs, rd), math.min(rs, rd))
      }
    }
    import scala.jdk.CollectionConverters._
    val out = nodes.asScala.iterator
      .map(n => (n.longValue(), find(n.longValue()))).toSeq
    // RDD-backed, not createDataFrame(Seq): a LocalRelation embeds every
    // row in the logical plan, which at the threshold's ~4M node rows
    // bloats analysis and scans on a single partition
    val slices = math.max(1, math.min(32, out.size / 200000))
    val labeledRdd = spark.sparkContext.parallelize(
      out.map(p => org.apache.spark.sql.Row(p._1, p._2)), slices)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(labeledRdd, schema)
      .select(col("id").cast(idType).as("id"),
        col("component").cast(idType).as("component"))
  }

  /** Cluster collapse keeping the HIGHEST-PRIORITY member per near-dup
    * component (training-data curation keeps the best copy — longest,
    * highest quality score — not the smallest id): connected components over
    * the verified pairs, then a per-component argmax on (priority, smaller
    * id wins ties). Documents untouched by any pair survive unchanged.
    *
    * Scale shape: the component frame is (id, label) longs, the argmax is
    * a partial-aggregating max_by, and the final anti-join keys on ids
    * only.
    */
  def collapseByPriority(df: DataFrame, id: Column, pairs: DataFrame,
      priority: Column): DataFrame = {
    val comp = components(pairs)
    val pr = df.select(id.as("id"), priority.as("__pr"))
    val keep = comp.join(pr, Seq("id"))
      .groupBy(col("component"))
      .agg(max_by(col("id"), struct(col("__pr"), (-col("id")).as("ni"))).as("keep_id"))
    val drop = comp.join(keep, Seq("component"))
      .filter(col("id") =!= col("keep_id"))
      .select(col("id").as("__dup_id"))
    df.join(drop, id === col("__dup_id"), "left_anti")
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** All-pairs n-gram Jaccard >= threshold over each document's distinct
    * 60-bit shingle fingerprints ([[shingleFpSet]]), exact on both of its
    * paths. One statistics pass measures the maximum shingle document
    * frequency of the input and picks the path from it:
    *
    *  - at most [[CountMaxDf]] ([[jaccardCount]]): inverted-index
    *    self-join with intersections counted directly — `|a ∩ b|` = the
    *    number of shingle fingerprints the pair co-occurs under, so one
    *    groupBy replaces candidate generation AND verification; set sizes
    *    join back as a small broadcast dim. Shuffle cost is
    *    Σ_s df(s)·(df(s)-1)/2 over shingles — the fastest plan when no
    *    shingle is near-universal (no shingle arrays ever shuffle), but
    *    quadratic under stop-shingles.
    *  - above it ([[jaccardPrefix]]): AllPairs/PPJoin prefix filtering —
    *    only each set's `|s| - ceil(t·|s|) + 1` globally-rarest shingles
    *    are indexed (recall-exact), then candidates verify against full
    *    fingerprint sets. Candidate volume is bounded by the prefix postings,
    *    so a near-universal shingle cannot blow up the self-join.
    *
    * The Σ df² self-join blowup is thus capped at CountMaxDf² per shingle
    * before the plan switches to the bounded one: the same
    * runtime-statistics-then-replan move AQE makes for joins, applied to
    * the path choice.
    *
    * `pairBudget` (ON by default — [[PairBudget.Auto]], sized shuffle
    * partitions × `spark.graft.dedup.pairsPerTask`) is the
    * OUTPUT-quadratic guard rail: even a perfectly-bounded candidate plan
    * runs unbounded time when the ANSWER is quadratic (a corpus dominated
    * by near-duplicates — the ×64 containment stress ran 27 minutes
    * before a hand abort). When the statistics pass estimates more
    * candidate pairs than the budget, the whole index degrades to a
    * deterministic doc hash-sample sized so the expected pair count fits
    * (fraction = √(budget/estimate)) — the output is then the exact join
    * over that reproducible subset instead of an unbounded run. Opt out
    * EXPLICITLY with [[PairBudget.Unbounded]]. The oracle entries run
    * under Auto, far below the default at every gated SF, so their
    * answers are the unbounded joins'.
    */
  def jaccardPairs(df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, threshold: Double = 0.8,
      pairBudget: PairBudget = PairBudget.Auto,
      onDegrade: PairDegrade => Unit = _ => ()): DataFrame = {
    val (idx, maxDf) =
      statsAndDegrade(shingleIndex(df, id, text, shingleK), pairBudget, onDegrade)
    if (maxDf <= CountMaxDf) jaccardCount(idx, threshold)
    else jaccardPrefix(idx, threshold)
  }

  /** Maximum shingle document frequency up to which the pair joins take
    * the count path: one shingle at df 1000 adds df·(df−1)/2 ≈ 500 k
    * self-join rows; past that the prefix path's bounded candidates win. */
  private[operators] val CountMaxDf = 1000L

  /** [[jaccardPairs]]' count path over a built index. */
  private[operators] def jaccardCount(idx: ShingleIndex,
      threshold: Double): DataFrame =
    jaccardScored(interSizedPairs(idx.indexed, idx.sizes), threshold)

  /** [[jaccardPairs]]' prefix path over a built index. */
  private[operators] def jaccardPrefix(idx: ShingleIndex,
      threshold: Double): DataFrame =
    jaccardScored(verifiedSizes(prefixCandidates(idx.indexed, threshold), idx.sets),
      threshold)

  /** Within-corpus CONTAINMENT near-dup join: pairs whose smaller set of
    * distinct 60-bit shingle fingerprints ([[shingleFpSet]]) is at least
    * `threshold`-covered by the larger —
    * `|S(a) ∩ S(b)| / min(|S(a)|, |S(b)|)`. The asymmetric dual of
    * [[jaccardPairs]] for the subset-duplicate shapes symmetric Jaccard
    * systematically misses: an article republished inside a digest, a
    * paragraph quoted verbatim in a larger post, a truncated crawl of a
    * page already captured whole. A 200-shingle doc fully embedded in a
    * 2000-shingle doc scores containment 1.0 but Jaccard 0.1 — below any
    * sane Jaccard cut. The within-corpus dual of [[containmentPairs]]'
    * needle-vs-corpus decontamination screen.
    *
    * Exact (no approximation): candidates and intersection counts come
    * from the SHARED [[jaccardPairs]] count-path machinery —
    * inverted-index self-join on 8-byte shingle fingerprints, one groupBy
    * counting co-occurrences, broadcast size joins — so this can never
    * diverge from the Jaccard join's candidate semantics. The path is
    * picked from the measured max shingle df — count up to
    * [[CountMaxDf]] ([[containmentCount]]), prefix above
    * ([[containmentPrefix]]) — [[jaccardPairs]]' runtime-statistics-
    * then-replan rule, shared so a near-dup-heavy corpus can't
    * quadratic-blow the candidate join. The prefix path is recall-exact
    * AllPairs-style prefix probing: each set indexes only its
    * `|s| − ceil(t·|s|) + 1` globally-rarest shingles but PROBES the full
    * posting list — containment ≥ t forces the smaller set to share
    * ≥ ceil(t·|small|) shingles, so at least one of its prefix shingles
    * hits the other side's full postings (asymmetric prefix bound; the
    * symmetric prefix×prefix join Jaccard uses is NOT recall-exact here).
    * `pairBudget` is [[jaccardPairs]]' output-quadratic guard rail, shared
    * mechanism and semantics (exact join over a √(budget/estimate) doc
    * sample when the estimate exceeds the budget; ON by default via [[PairBudget.Auto]],
    * which the oracle entries sit far below at every gated SF).
    *
    * Output: (id_a, id_b, inter, sz_a, sz_b, containment) with id_a <
    * id_b and containment the exact integer ratio — bit-reproducible in
    * any engine.
    */
  def selfContainmentPairs(df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, threshold: Double = 0.8,
      pairBudget: PairBudget = PairBudget.Auto,
      onDegrade: PairDegrade => Unit = _ => ()): DataFrame = {
    val (idx, maxDf) =
      statsAndDegrade(shingleIndex(df, id, text, shingleK), pairBudget, onDegrade)
    if (maxDf <= CountMaxDf) containmentCount(idx, threshold)
    else containmentPrefix(idx, threshold)
  }

  /** [[selfContainmentPairs]]' count path over a built index. */
  private[operators] def containmentCount(idx: ShingleIndex,
      threshold: Double): DataFrame =
    containmentScored(interSizedPairs(idx.indexed, idx.sizes), threshold)

  /** [[selfContainmentPairs]]' prefix path over a built index: prefix(x)
    * probes FULL postings of y (both directions via the unordered-pair
    * dedupe) — the asymmetric containment bound.
    */
  private[operators] def containmentPrefix(idx: ShingleIndex,
      threshold: Double): DataFrame = {
    val prefix = rarestPrefix(idx.indexed, prefixKeepCount(threshold))
    val cands = prefix.select(col("sfp"), col("id").as("id_p"))
      .join(idx.indexed.select(col("sfp"), col("id").as("id_f")), Seq("sfp"))
      .filter(col("id_p") =!= col("id_f"))
      .select(least(col("id_p"), col("id_f")).as("id_a"),
        greatest(col("id_p"), col("id_f")).as("id_b"))
      .distinct()
    // the index's fingerprint sets are its postings, so this verify is
    // exactly interSizedPairs' semantics: the two paths agree pair for pair
    containmentScored(verifiedSizes(cands, idx.sets), threshold)
  }

  private def containmentScored(sized: DataFrame,
      threshold: Double): DataFrame =
    sized
      .withColumn("containment", col("inter").cast("double") /
        least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter").cast("long").as("inter"),
        col("sz_a").cast("long").as("sz_a"), col("sz_b").cast("long").as("sz_b"),
        col("containment"))

  /** Pairwise-similarity histogram for dedup-THRESHOLD CALIBRATION: the
    * distribution of exact n-gram Jaccard over all candidate pairs
    * (pairs sharing ≥ 1 shingle), in `bins` equal-width buckets — run it
    * before committing to a near-dup threshold, so the cut is chosen
    * where the corpus's similarity mass actually bimodalizes instead of
    * folklore 0.8. Buckets are PURE INTEGER math
    * (`(inter · bins) div union`, top edge folded into the last bucket),
    * so the oracle replays bit-for-bit with no float-boundary risk.
    * Output: one row per bucket 0..bins-1 — (bucket, lo, hi, n_pairs) —
    * every bucket present even at zero.
    *
    * Scale shape: the [[jaccardPairs]] count-path machinery — compact
    * (id, sz, sfp) postings (shingled once via localCheckpoint), an
    * 8-byte-key posting self-join, and a (pair → bucket) projection into
    * a bins-bounded aggregation; nothing wider than longs shuffles and
    * the result is `bins` rows. Every candidate pair counts: the
    * histogram is exact over the whole input.
    */
  def jaccardHistogram(df: DataFrame, id: Column, text: Column,
      bins: Int = 20, shingleK: Int = 3): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val idx = shingleIndex(df, id, text, shingleK)
    val bucketed = interSizedPairs(idx.indexed, idx.sizes)
      .select(least(expr(s"(inter * $bins) div (sz_a + sz_b - inter)"),
        lit(bins - 1).cast("long")).cast("int").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
    df.sparkSession.range(0, bins)
      .select(col("id").cast("int").as("bucket"))
      .join(bucketed, Seq("bucket"), "left")
      .select(col("bucket"),
        (col("bucket").cast("double") / bins).as("lo"),
        ((col("bucket") + 1).cast("double") / bins).as("hi"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
  }

  /** Pair-budget policy for the output-quadratic pair joins
    * ([[jaccardPairs]] / [[selfContainmentPairs]]). The budget is the
    * guard rail against a corpus whose ANSWER is quadratic (dominated by
    * near-duplicates): when the statistics pass estimates more candidate
    * pairs than the budget, the index degrades to a deterministic
    * √(budget/estimate) doc hash-sample BEFORE any pair join runs.
    *
    * Default is [[PairBudget.Auto]] — ON, sized
    * `spark.sql.shuffle.partitions × spark.graft.dedup.pairsPerTask`
    * (4 M/task default ⇒ 128 M pairs at the engine's 32 partitions; a
    * 2000-partition cluster gets 8 B). A caller who truly wants the
    * unbounded exact join opts out EXPLICITLY with
    * [[PairBudget.Unbounded]]; [[PairBudget.Fixed]] pins an exact count.
    * The oracle entries run under Auto and sit far below the default at
    * every gated SF, so their answers are the unbounded joins'.
    */
  sealed trait PairBudget
  object PairBudget {
    /** shuffle partitions × `spark.graft.dedup.pairsPerTask` (default 4 M). */
    case object Auto extends PairBudget
    /** Explicit opt-out: run the unbounded exact join whatever the estimate. */
    case object Unbounded extends PairBudget
    /** Explicit candidate-pair budget. */
    final case class Fixed(pairs: Long) extends PairBudget {
      require(pairs > 0, s"pairBudget must be positive: $pairs")
    }
  }

  /** What a tripped [[PairBudget]] actually did: the statistics pass's
    * candidate-pair estimate, the budget it exceeded, and the
    * deterministic doc hash-sample fraction (√(budget/estimate)) the index
    * was degraded to. Surfaced through the `onDegrade` callback of
    * [[jaccardPairs]]/[[selfContainmentPairs]]/
    * [[Diagnostics.minhashErrorReport]] — a degraded (sampled) answer is
    * a DIFFERENT answer than the complete join, and callers must be able
    * to tell, machine-readably, which one they got. A warning is also
    * logged unconditionally whenever the guard fires.
    */
  final case class PairDegrade(estimatedPairs: Long, budget: Long,
      sampledFraction: Double)

  /** Conf key for [[PairBudget.Auto]]'s per-task pair cap. */
  val PairsPerTaskConf = "spark.graft.dedup.pairsPerTask"

  private def resolvedPairBudget(spark: SparkSession,
      pb: PairBudget): Option[Long] = pb match {
    case PairBudget.Unbounded => None
    case PairBudget.Fixed(n) => Some(n)
    case PairBudget.Auto =>
      val parts = safePartitions(
        spark.conf.get("spark.sql.shuffle.partitions", "200"),
        spark.sparkContext.defaultParallelism.toLong)
      val perTask = spark.conf.get(PairsPerTaskConf, "4000000").toLong
      require(perTask > 0, s"$PairsPerTaskConf must be positive: $perTask")
      Some(math.min(parts, Long.MaxValue / perTask) * perTask)
  }

  /** shuffle.partitions may be non-numeric on AQE-managed platforms
    * (e.g. "auto"); the DEFAULT budget path must never throw on a conf it
    * only consults for sizing — fall back to the cluster's default
    * parallelism, the same order of magnitude on any sane deployment.
    */
  private[operators] def safePartitions(raw: String,
      fallback: => Long): Long =
    math.max(1L, scala.util.Try(raw.trim.toLong).getOrElse(fallback))

  /** The shared statistics + pair-budget block of [[jaccardPairs]] and
    * [[selfContainmentPairs]] — ONE pass serves both the count-vs-prefix
    * pick and the budget guard. Returns the (possibly budget-degraded)
    * index plus the effective max shingle df OF THAT INDEX: when the
    * degrade fires, the per-shingle df of the thinned index shrinks
    * ~linearly in the doc fraction, so the raw pre-sample maxDf is
    * rescaled by √(budget/estimate) — the count-vs-prefix pick must be
    * made against the join that will actually run, not the corpus that
    * was measured.
    */
  private def statsAndDegrade(idx0: ShingleIndex, pairBudget: PairBudget,
      onDegrade: PairDegrade => Unit): (ShingleIndex, Long) = {
    val budget = resolvedPairBudget(idx0.indexed.sparkSession, pairBudget)
    val (maxDf, est) = indexStats(idx0.indexed)
    budget match {
      case Some(b) if est > b =>
        val fraction = math.sqrt(b.toDouble / est.toDouble)
        // a degraded answer must never be silently mistaken for the
        // complete join: always log, and hand callers the machine-readable
        // report (ADVICE r18: no log, flag, or metric distinguished them)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"pair budget tripped: ~$est estimated candidate pairs > " +
            s"budget $b; degrading to a deterministic " +
            f"$fraction%.6f doc hash-sample (pass PairBudget.Unbounded " +
            "for the complete join)")
        onDegrade(PairDegrade(est, b, fraction))
        (budgetSampledIndex(idx0, est, b),
          math.max(1L, math.ceil(maxDf * fraction).toLong))
      case _ => (idx0, maxDf)
    }
  }

  /** The shared shingle index of [[jaccardPairs]],
    * [[selfContainmentPairs]] and [[jaccardHistogram]] — ONE copy of the
    * candidate machinery, so the histogram that calibrates the join's
    * threshold can never silently diverge from the join itself. `sets`:
    * (id, set), each document's distinct 60-bit shingle fingerprints
    * ([[shingleFpSet]]); `indexed`: the (id, sz, sfp) postings of those
    * sets; `sizes`: one (id, sz) row per doc.
    */
  private[operators] case class ShingleIndex(
      sets: DataFrame, indexed: DataFrame, sizes: DataFrame)

  private[operators] def shingleIndex(df: DataFrame, id: Column, text: Column,
      shingleK: Int): ShingleIndex = {
    val sets = df.select(id.as("id"), shingleFpSet(text, shingleK).as("set"))
    // The postings feed the stats pass AND both sides of the self-join;
    // without a checkpoint each scan re-tokenizes and re-shingles every
    // document (3× the per-row hash work, and the corpus text re-read each
    // time). localCheckpoint pins the compact (id, sz, sfp) long-rows —
    // far smaller than the text — so shingling runs exactly once. Lazy:
    // materializes on first downstream job.
    val posting = shinglePostings(sets).localCheckpoint(false)
    val sizes = posting.select(col("id"), col("sz").as("sz")).distinct()
    ShingleIndex(sets, posting, sizes)
  }

  /** (id_a, id_b, inter, sz_a, sz_b) candidate pairs from the
    * postings: the 8-byte-key self-join + per-pair intersection count +
    * broadcast size joins — the count-path core shared verbatim by
    * the threshold join and the calibration histogram.
    */
  private def interSizedPairs(indexed: DataFrame, sizes: DataFrame): DataFrame =
    indexed.select(col("sfp"), col("id").as("id_a"))
      .join(indexed.select(col("sfp"), col("id").as("id_b")), Seq("sfp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("id").as("id_a"), col("sz").as("sz_a"))),
        Seq("id_a"))
      .join(broadcast(sizes.select(col("id").as("id_b"), col("sz").as("sz_b"))),
        Seq("id_b"))

  /** ONE statistics pass over the postings: (max shingle document
    * frequency, estimated candidate-pair count Σ_s df(s)·(df(s)−1)/2).
    * The maxDf drives the count-vs-prefix pick;
    * the pair estimate drives the [[jaccardPairs]]/[[selfContainmentPairs]]
    * pair-budget guard. Shared so the two consumers can never disagree on
    * what was measured, and so auto + budget together still cost one pass.
    */
  private[operators] def indexStats(indexed: DataFrame): (Long, Long) = {
    // the pair sum is an ESTIMATE for a guard — compute it in double
    // (df² on a stop-shingle over 10⁹ docs overflows a long, and ANSI
    // would throw inside the statistics pass meant to PREVENT blowups)
    val r = indexed.groupBy(col("sfp")).agg(count(lit(1)).as("df"))
      .agg(max(col("df")),
        sum(col("df").cast("double") * (col("df") - 1L).cast("double")
          / lit(2.0))).head()
    if (r.isNullAt(0)) (0L, 0L) // empty corpus
    else (r.getLong(0),
      math.ceil(math.min(r.getDouble(1), Long.MaxValue.toDouble)).toLong)
  }

  /** The pair-budget degrade: when the estimated candidate-pair volume
    * exceeds `budget`, restrict the WHOLE index (sets, postings, sizes)
    * to a deterministic doc hash-sample sized so the expected surviving
    * pair count fits the budget (pairs thin quadratically in the doc
    * fraction, so fraction = sqrt(budget / estimate)) — the
    * [[jaccardHistogram]] sampling stance applied as a guard rail. The
    * output is then the EXACT pair join over a documented reproducible
    * subset — a calibration-grade answer in bounded time — instead of an
    * unbounded quadratic join (the ×64 containment stress ran 27 minutes
    * before being aborted by hand; this is the machine version of that
    * abort, placed BEFORE the work).
    */
  private def budgetSampledIndex(idx: ShingleIndex, pairEst: Long,
      budget: Long): ShingleIndex = {
    val fraction = math.sqrt(budget.toDouble / pairEst.toDouble)
    val cut = lit((fraction * 4294967296.0).toLong)
    def keep(d: DataFrame) =
      d.filter(TextFunctions.hash32(col("id").cast("string")) < cut)
    ShingleIndex(keep(idx.sets), keep(idx.indexed), keep(idx.sizes))
  }

  /** Per-set prefix keep-count `|s| − ceil(t'·|s|) + 1` in PURE INTEGER
    * arithmetic, with t' = ⌊t·2^20⌋/2^20 ≤ t. The double form
    * `ceil(lit(t) * sz)` rounds UP past the exact integer ceiling
    * whenever t·sz lands on an integer the binary product overshoots
    * (t = 7/12, sz = 108 computes 63.00000000000001 → ceil 64), making
    * the prefix one shingle too short and silently dropping a
    * threshold-boundary pair — a recall bug, not a rounding nit.
    * Rounding t DOWN only LENGTHENS the prefix: recall-safe by
    * construction, at most one extra indexed shingle.
    */
  private val PrefixM = 1L << 20

  private[operators] def prefixTNum(threshold: Double): Long =
    math.min(PrefixM, math.max(0L, math.floor(threshold * PrefixM).toLong))

  /** The pure-integer core of [[prefixKeepCount]] — exposed so
    * CurationProps' recall-safety laws certify the SHIPPED arithmetic
    * (DedupSpec pins the Column expr to this core over a sz sweep).
    */
  private[operators] def prefixKeepCountInt(threshold: Double,
      sz: Long): Long =
    sz - ((prefixTNum(threshold) * sz + PrefixM - 1) / PrefixM) + 1

  /** BIGINT literals (`L` suffix) are load-bearing: a bare `838860 * sz`
    * parses as a 32-bit multiply against an IntegerType sz and overflows
    * (ANSI ARITHMETIC_OVERFLOW) for sets of ~2561+ shingles at t = 0.8 —
    * realistic long documents, not a corner case.
    */
  private[operators] def prefixKeepCount(threshold: Double): Column =
    expr(s"sz - CAST((${prefixTNum(threshold)}L * sz + ${PrefixM - 1}L) " +
      s"div ${PrefixM}L AS INT) + 1")

  /** Each set's `keep`-count globally-rarest postings (rarity = shingle
    * document frequency, ties by fingerprint) — the prefix frame both
    * prefix paths build on.
    */
  private def rarestPrefix(posting: DataFrame, keep: Column): DataFrame = {
    val freq = posting.groupBy(col("sfp")).agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("sfp"))
    posting.join(freq, Seq("sfp"))
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= keep)
      .select(col("sfp"), col("id"))
  }

  /** AllPairs/PPJoin candidate pairs from an (id, sz, sfp) posting set:
    * only each set's `|s| - ceil(t·|s|) + 1` globally-rarest shingles are
    * indexed — recall-exact for Jaccard >= t (two sets with Jaccard >= t
    * must share at least one prefix shingle), and candidate volume is
    * bounded by the prefix postings even when a stop-shingle appears in
    * every document (it sorts last by rarity and never enters a prefix
    * unless a set is small enough to genuinely need it).
    */
  def prefixCandidates(posting: DataFrame, threshold: Double): DataFrame = {
    val prefix = rarestPrefix(posting, prefixKeepCount(threshold))
    prefix.select(col("sfp"), col("id").as("id_a"))
      .join(prefix.select(col("sfp"), col("id").as("id_b")), Seq("sfp"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Two-table fuzzy (record-linkage) join: pairs (left row, right row)
    * whose distinct 60-bit word-k-shingle fingerprints have Jaccard >=
    * `threshold` — the
    * entity-resolution shape (same title worded slightly differently across
    * two catalogs, near-identical documents across two crawls) where neither
    * side is a subset of the other, so symmetric Jaccard is the right score
    * (vs [[containmentPairs]]' asymmetric needle coverage).
    *
    * Scale shape: both sides become inverted-index postings keyed by 8-byte
    * shingle fingerprints; candidates come from ONE equality join between
    * the two posting sets (never a cartesian product), intersections are
    * counted in a single partial-aggregated groupBy, and set sizes join
    * back by id. `maxDocFreq` caps the df of indexed shingles ON EACH SIDE
    * — a stop-shingle in f_L left and f_R right rows contributes f_L·f_R
    * join rows, so at corpus scale ALWAYS set it (a shingle that common
    * carries no linkage signal anyway). Under `maxDocFreq` the score is the
    * exact Jaccard of the PRUNED shingle sets (sizes are recomputed from
    * the kept shingles, so identical documents still score 1.0); relative
    * to full-set Jaccard it is an approximation, not a lower bound.
    * Output: (left_id, right_id, jaccard) — exact integer-ratio doubles.
    */
  def jaccardJoin(left: DataFrame, lId: Column, lText: Column,
      right: DataFrame, rId: Column, rText: Column,
      shingleK: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Option[Long] = None): DataFrame = {
    def postings(df: DataFrame, id: Column, text: Column, name: String) = {
      val sets = df.select(id.as("id"), shingleFpSet(text, shingleK).as("set"))
      val post0 = shinglePostings(sets)
        .select(col("id").as(name), col("sz").as(s"__sz_$name"), col("sfp"))
      val post = maxDocFreq.fold(post0) { m =>
        val keep = post0.groupBy(col("sfp")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= m).select(col("sfp"))
        post0.join(keep, Seq("sfp"))
      }
      // Sizes from the KEPT postings (one distinct row per (doc, shingle)),
      // so numerator and denominator live in the same pruned universe —
      // with full-set sizes a capped stop-shingle would bias every score
      // downward and silently drop true pairs near the threshold.
      val sizes = maxDocFreq.fold(
        sets.select(col("id").as(name), size(col("set")).as(s"__sz_$name")))(_ =>
        post.groupBy(col(name)).agg(count(lit(1)).as(s"__sz_$name")))
      (post, sizes)
    }
    val (lPost, lSizes) = postings(left, lId, lText, "left_id")
    val (rPost, rSizes) = postings(right, rId, rText, "right_id")
    lPost.select(col("sfp"), col("left_id"))
      .join(rPost.select(col("sfp"), col("right_id")), Seq("sfp"))
      .groupBy(col("left_id"), col("right_id"))
      .agg(count(lit(1)).as("inter"))
      .join(lSizes, Seq("left_id"))
      .join(rSizes, Seq("right_id"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("__sz_left_id") + col("__sz_right_id") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }

  /** Block-and-refine record linkage with an EXACT edit-distance verdict:
    * candidate pairs come from [[jaccardJoin]]'s inverted-index blocking
    * at a deliberately LOW `blockJaccard` (recall stage), then each
    * candidate pays a banded Levenshtein over the first `prefixLen` code
    * points and survives at distance ≤ `maxDist` (precision stage) — the
    * classic linkage split: never run O(prefixLen²) DP on the cross
    * product, never trust set overlap alone (shingle Jaccard is blind to
    * ORDER — "alpha beta gamma" vs "gamma beta alpha" — and to heavy
    * in-window edits; edit distance is the exact string metric). Output:
    * (left_id, right_id, dist), ordered.
    *
    * Determinism: Levenshtein is the exact unit-cost DP — an integer any
    * engine agrees on (Spark `levenshtein` ≡ DuckDB `levenshtein`);
    * prefixes are code-point slices (SQL `substring` semantics both
    * sides).
    *
    * Scale shape: the blocking stage is the documented [[jaccardJoin]]
    * shape (8-byte shingle-fp posting join, no text shuffled); only then
    * do the candidate ids join back to their prefixes — the pair table is
    * blocking-bounded and broadcast-eligible, so text moves map-side,
    * once, for matched rows only. The DP itself is `threshold`-banded
    * (`levenshtein(l, r, maxDist)` is O(maxDist·prefixLen), returning -1
    * beyond the band instead of filling the full matrix).
    */
  def editDistanceLinkage(left: DataFrame, lId: Column, lText: Column,
      right: DataFrame, rId: Column, rText: Column,
      shingleK: Int = 3, blockJaccard: Double = 0.5,
      prefixLen: Int = 100, maxDist: Int = 25): DataFrame = {
    require(prefixLen > 0, s"prefixLen must be positive, got $prefixLen")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val cand = jaccardJoin(left, lId, lText, right, rId, rText,
      shingleK, blockJaccard)
      .select(col("left_id"), col("right_id"))
    val lp = left.select(lId.as("left_id"),
      substring(lText, 1, prefixLen).as("__lp"))
    val rp = right.select(rId.as("right_id"),
      substring(rText, 1, prefixLen).as("__rp"))
    cand.join(lp, Seq("left_id")).join(rp, Seq("right_id"))
      .select(col("left_id"), col("right_id"),
        levenshtein(col("__lp"), col("__rp"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
      .select(col("left_id"), col("right_id"), col("dist"))
      .orderBy(col("left_id"), col("right_id"))
  }

  /** Containment (decontamination) join: for every needle document, the
    * corpus documents containing at least `threshold` of the needle's
    * distinct 60-bit k-shingle fingerprints — `|S(needle) ∩ S(doc)| /
    * |S(needle)|`. Asymmetric on
    * purpose: a benchmark prompt quoted verbatim inside a much larger
    * training document scores ~1.0 here while its Jaccard is diluted by the
    * document's extra content — the standard training-data decontamination
    * check.
    *
    * Scale shape mirrors the count-path Jaccard join: inverted-index
    * equality join on 8-byte shingle fingerprints (needle side is typically
    * the small benchmark set), intersections counted in one groupBy, no
    * shingle arrays or bodies shuffled.
    * Output: (needle_id, doc_id, containment) — exact integer-ratio doubles.
    */
  def containmentPairs(needles: DataFrame, nId: Column, nText: Column,
      corpus: DataFrame, cId: Column, cText: Column,
      shingleK: Int = 3, threshold: Double = 0.8): DataFrame = {
    val nPost = shinglePostings(
        needles.select(nId.as("id"), shingleFpSet(nText, shingleK).as("set")))
      .select(col("id").as("needle_id"), col("sz").as("nsz"), col("sfp"))
    val cPost = corpus.select(cId.as("doc_id"),
      explode(shingleFpSet(cText, shingleK)).as("sfp"))
    nPost.join(cPost, Seq("sfp"))
      .groupBy(col("needle_id"), col("doc_id"), col("nsz"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / col("nsz").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("needle_id"), col("doc_id"), col("containment"))
  }

  /** N-gram novelty of a candidate batch against a reference corpus: for
    * each batch document, the fraction of its DISTINCT word-`shingleK`-
    * grams that appear NOWHERE in the corpus — the memorization-risk /
    * freshness screen (a "new" document with novelty ≈ 0 is recombined
    * corpus text; an eval candidate with novelty ≈ 0 is leaked). The dual
    * of [[containmentPairs]]: containment asks "how much of the needle is
    * in THIS document", novelty asks "how much of the candidate exists
    * ANYWHERE in the corpus" — set membership against the corpus-wide
    * shingle union, not per-pair overlap.
    *
    * Shingles are counted as distinct 60-bit shingle fingerprints
    * ([[shingleFpSet]]). Output: (doc_id, n_shingles, n_seen, novelty) —
    * novelty the exact integer ratio `(n_shingles − n_seen) / n_shingles`.
    * A blank document carries one whole-text "" shingle (the sub-k
    * contract of [[graft.functions.TextFunctions.wordShingles]], identical
    * in the SQL replay), so n_shingles ≥ 1 always; the n_shingles = 0
    * guard is defensive only.
    *
    * Scale shape: the corpus collapses to DISTINCT shingle fingerprints
    * once (8-byte rows — at extreme scale swap in the
    * [[graft.functions.BloomExpressions]] filter for the membership
    * probe and accept its false-positive rate as a novelty
    * UNDER-estimate); the batch's postings LEFT-join that set on the
    * 8-byte key and one partial-aggregated count per doc follows. Batch
    * text never shuffles; candidates are batch-posting-sized, never
    * corpus × batch.
    */
  def noveltyScores(batch: DataFrame, bId: Column, bText: Column,
      corpus: DataFrame, cText: Column, shingleK: Int = 3): DataFrame =
    noveltyScoresAgainstFps(batch, bId, bText,
      corpusShingleFps(corpus, cText, shingleK), shingleK)

  /** The DISTINCT shingle-fingerprint set of a corpus — the reference
    * side of [[noveltyScores]], exposed so a maintained/streamed state
    * ([[graft.streaming.Streams.NoveltyIngest]]) can be folded
    * incrementally instead of rebuilt. One (sfp) long column.
    */
  def corpusShingleFps(corpus: DataFrame, cText: Column,
      shingleK: Int = 3): DataFrame =
    corpus.select(explode(shingleFpSet(cText, shingleK)).as("sfp")).distinct()

  /** [[noveltyScores]] against a pre-built (sfp) reference set. */
  def noveltyScoresAgainstFps(batch: DataFrame, bId: Column, bText: Column,
      corpusFps: DataFrame, shingleK: Int = 3): DataFrame = {
    val bSets = batch.select(bId.as("doc_id"), shingleFpSet(bText, shingleK).as("set"))
    val bPost = bSets.select(col("doc_id"), explode(col("set")).as("sfp"))
    val cFps = corpusFps.select(col("sfp")).distinct()
      .select(col("sfp"), lit(1).as("__seen"))
    val counts = bPost.join(cFps, Seq("sfp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNotNull, 1L).otherwise(0L)).as("n_seen"))
    // left-anchor on the batch ids: blank docs DO post one "" shingle
    // (the sub-k contract), so this anchor is only reachable for
    // NULL-text rows (tokensWs(null) -> null set -> no postings), which
    // must still report a row rather than vanish from the screen
    bSets.select(col("doc_id")).distinct()
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .withColumn("novelty",
        when(col("n_shingles") === 0L, lit(0.0))
          .otherwise((col("n_shingles") - col("n_seen")).cast("double") /
            col("n_shingles").cast("double")))
  }

  /** Deletion propagation ("right to be forgotten" / poisoned-source
    * removal): given a set of document ids to purge, produce the purge
    * MANIFEST — every corpus document that must go, with why. Three
    * reasons, by priority:
    *   1. `direct`    — the id is in the deletion set;
    *   2. `exact_dup` — byte-identical text to some deleted document
    *                    (same 60-bit fingerprint);
    *   3. `near_dup`  — word-`shingleK`-gram Jaccard ≥ `threshold` with
    *                    some deleted document (a trivially edited copy
    *                    survives an id/exact purge and keeps the content
    *                    in the corpus — the reason naive deletes fail).
    * `matched_id` is the smallest deleted id that triggered the row
    * (deterministic tiebreak); the surviving corpus is the caller's
    * anti-join against this manifest, kept separate so the purge is
    * auditable before it is applied.
    *
    * Scale shape: the deletion set is request-sized BY CONSTRUCTION —
    * its ids and its documents' shingle postings broadcast. The direct
    * pass is a broadcast semi-join; the exact pass is a map-side
    * fingerprint + broadcast probe (corpus text never shuffles); the
    * near pass is the [[jaccardJoin]] inverted-index machinery with the
    * deleted docs as the small side — candidates are bounded by the
    * deleted shingles' corpus document frequency. Reason arbitration is a min(struct)
    * aggregation over the union — manifest-sized, not corpus-sized.
    */
  def purgeDeletes(df: DataFrame, id: Column, text: Column,
      deleteIds: DataFrame, deleteId: Column,
      shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold out of (0,1]: $threshold")
    val src = df.select(id.as("id"), text.as("__text"))
    val dels = deleteIds.select(deleteId.as("del_id")).distinct()
    // request-sized by contract, but its subtree is a full-corpus
    // semi-join and it feeds THREE consumers (direct, delFps, the
    // jaccardJoin right side) — checkpoint so the corpus pays that scan
    // once (the shingleIndex pattern; lazy, materializes on first use)
    val delDocs = src.join(broadcast(dels), col("id") === col("del_id"), "semi")
      .localCheckpoint(false)
    val direct = delDocs
      .select(col("id"), lit(1).as("pri"), col("id").as("matched_id"))
    // one (fp → min deleted id) row per distinct deleted fingerprint;
    // request-sized, broadcasts
    val delFps = delDocs
      .select(TextFunctions.fingerprint64(col("__text")).as("fp"),
        col("id").as("del_id"))
      .groupBy(col("fp")).agg(min(col("del_id")).as("matched_id"))
    val exact = src
      .select(col("id"), TextFunctions.fingerprint64(col("__text")).as("fp"))
      .join(broadcast(delFps), Seq("fp"))
      .select(col("id"), lit(2).as("pri"), col("matched_id"))
    val near = jaccardJoin(
        src, col("id"), col("__text"),
        delDocs, col("id"), col("__text"),
        shingleK, threshold)
      .groupBy(col("left_id").as("id"))
      .agg(min(col("right_id")).as("matched_id"))
      .select(col("id"), lit(3).as("pri"), col("matched_id"))
    direct.unionByName(exact).unionByName(near)
      .groupBy(col("id"))
      .agg(min(struct(col("pri"), col("matched_id"))).as("m"))
      .select(col("id").as("doc_id"),
        when(col("m.pri") === 1, "direct")
          .when(col("m.pri") === 2, "exact_dup")
          .otherwise("near_dup").as("reason"),
        col("m.matched_id").as("matched_id"))
  }

  // --------------------------------------------------------------- SimHash

  /** Number of SimHash bits: 60 (what a 15-hex-digit md5 prefix yields),
    * split into 4 blocks of 15 bits for the hamming<=3 pigeonhole guarantee.
    */
  val SimHashBits = 60
  val SimHashBlocks = 4

  /** 60-bit SimHash over space-separated tokens (with multiplicity):
    * per-bit vote sum of md5-derived token hashes, bit set where the vote is
    * positive. Single projection, no shuffle — native
    * [[org.apache.spark.sql.graft.SimHash60]] expression (one compiled loop
    * per row instead of interpreted zip_with/aggregate chains).
    */
  def simHash(text: Column): Column =
    HashFunctions.simHash60(TextFunctions.tokensWs(text))

  /** 128-bit SimHash as `array<long>` [w0, w1] — the corpus-scale signature
    * (native [[org.apache.spark.sql.graft.SimHash128]]).
    */
  def simHash128(text: Column): Column =
    HashFunctions.simHash128(TextFunctions.tokensWs(text))

  // ---------------------------------------------------- winnowing fingerprints

  /** Winnowing document fingerprints (Schleimer/Wilkens/Aiken, SIGMOD'03):
    * md5-derived 32-bit hashes of word `shingleK`-shingles, then the minimum
    * hash of every `window`-wide sliding window, distinct — the guarantee is
    * any shared substring of at least `shingleK + window - 1` words produces
    * at least one shared fingerprint. A pure projection (fingerprints are
    * positions-free longs); matching documents share fingerprints via the
    * same inverted-index join as n-gram Jaccard, at a fraction of the
    * posting size (≈ 2/(window+1) of the shingle count).
    */
  def winnowFingerprints(text: Column, shingleK: Int = 3, window: Int = 4): Column =
    HashFunctions.winnowFingerprints(TextFunctions.tokensWs(text), shingleK, window)

  // ------------------------------------------------- embedding-cosine dedup

  /** Embedding-cosine near-duplicate pairs, exact: all-pairs self-join
    * scored by the native CosineSimilarity expression. Quadratic — correct
    * at any threshold, intended for moderate corpora or post-blocking
    * verification; at scale, [[semanticDedup]] prunes within quantizer
    * cells instead.
    */
  def embeddingPairsExact(df: DataFrame, id: Column, vec: Column,
      threshold: Double): DataFrame = {
    val v = df.select(id.as("id"), vec.as("v"))
    val l = v.select(col("id").as("id_a"), col("v").as("va"))
    val r = v.select(col("id").as("id_b"), col("v").as("vb"))
    l.join(r, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        org.apache.spark.sql.graft.VectorFunctions.cosineSim(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest centroid from a
    * trained coarse quantizer, then prune near-duplicates WITHIN each
    * cluster only — a doc is dropped when some lower-id doc in the same
    * cluster has cosine >= `threshold` with it (the deterministic
    * keep-lowest-id variant of the paper's keep-one-per-dup-group rule;
    * single-pass, so a dropped doc's own duplicates are judged against it
    * too, like [[exact]]'s keep-first convention).
    *
    * Output: one row per input vector — (id, cid, kept) — so the result
    * doubles as the cluster assignment table.
    *
    * Scale shape: the quantizer is broadcast and assignment is an argmax
    * partial-aggregated before its shuffle (n rows exchanged, not n×K, same
    * as [[graft.operators.Similarity.assignToCentroids]]); the pair scan is an
    * equality self-join on `cid`, so candidate count is Σ cluster² — K
    * controls the quadratic term exactly as in the paper (K ≈ n/expected
    * cluster size; with balanced clusters the scan is n²/K, and vectors
    * travel once per side of one equality join). For skewed clusters, cap
    * or split hot cells upstream (AQE skew-join handles the shuffle side).
    */
  def semanticDedup(df: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions
    val v = df.select(id.as("id"), vec.as("v"))
    val assigned =
      Similarity.assignToCentroids(v, col("id"), col("v"), centroids)
    val l = assigned.select(col("cid"), col("id").as("id_a"), col("v").as("va"))
    val r = assigned.select(col("cid"), col("id").as("id_b"), col("v").as("vb"))
    val dropped = l.join(r, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(VectorFunctions.cosineSim(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("id")).distinct()
    assigned.select(col("id"), col("cid"))
      .join(dropped.withColumn("__dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cid"), col("__dup").isNull.as("kept"))
  }

  /** Semantic decontamination: screen the training corpus against an
    * eval/benchmark set in EMBEDDING space — the SemDeDup-style complement
    * to the n-gram [[containmentPairs]] screen (paraphrased benchmark
    * leakage has no shingle overlap but sits close in embedding space).
    * Per corpus document: the max cosine to ANY needle, the worst
    * (closest) needle's id (ties → lowest id), and the `contaminated`
    * flag at `threshold`. Keep the report, not just the drop — leakage
    * audits need to see WHICH benchmark item a document matched.
    *
    * Scale shape: eval sets are 10³–10⁶ rows — tiny against a 100 TB
    * corpus — so the needles broadcast and scoring is a map-side
    * broadcast loop over the corpus scan; the per-id max is partial-
    * aggregated before its exchange, so the one shuffle carries a single
    * (id, needle, cos, flag)-sized row per corpus document and corpus
    * vectors never shuffle. Beyond broadcastable needle sets, pre-bucket
    * both sides by SRP key ([[Similarity.Index.Lsh]]'s shape) and screen
    * within buckets. Zero-norm vectors have no cosine — exclude them
    * upstream (their NaN would rank as the max on both engines, but the
    * report would be meaningless).
    */
  def semanticDecontaminate(corpus: DataFrame, id: Column, vec: Column,
      needles: DataFrame, needleId: Column, needleVec: Column,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions
    val c = corpus.select(id.as("id"), vec.as("__cv"))
    val n = needles.select(needleId.as("__nid"), needleVec.as("__nv"))
    // LEFT join on an always-true condition: with needles present it is
    // the plain broadcast loop, but an EMPTY needle set (a mistyped
    // benchmark predicate) still yields one all-null row per corpus doc —
    // the report keeps its one-row-per-document contract (null needle,
    // null cosine, contaminated = false) instead of silently returning
    // nothing, which a "keep NOT contaminated" inner join downstream
    // would have turned into dropping the whole corpus
    c.join(broadcast(n), lit(true), "left")
      .select(col("id"), col("__nid"),
        VectorFunctions.cosineSim(col("__cv"), col("__nv")).as("__cos"))
      .groupBy(col("id"))
      .agg(max(col("__cos")).as("max_cos"),
        max_by(col("__nid"),
          struct(col("__cos").as("c"), (-col("__nid")).as("t")))
          .as("worst_needle"))
      .select(col("id"), col("worst_needle"), col("max_cos"),
        coalesce(col("max_cos") >= threshold, lit(false)).as("contaminated"))
  }

  /** [[semanticDecontaminate]] for needle sets too large to broadcast
    * (screening one corpus snapshot against another, not against a small
    * benchmark): both sides get an SRP bucket key
    * ([[Similarity.srpBucket]], deterministic md5 planes) and candidates
    * come from an 8-byte bucket EQUALITY join — per-doc work is the
    * needle occupancy of its bucket (~needles/2^bits), never the needle
    * set. With `multiProbe` the NEEDLE side additionally lands in every
    * bucket at Hamming distance 1 (bits+1 keys per needle — the standard
    * multi-probe trade, exploded on whichever side is smaller; here the
    * needles, so the corpus stays one row per doc).
    *
    * PRECISION is exact (every reported cosine is really computed);
    * RECALL is probabilistic — a distant-bucket near-needle can be
    * missed, so `max_cos` is a LOWER bound and `contaminated = false` is
    * "no evidence found", not a proof. Gate a bits/multiProbe setting
    * with [[Similarity.recallReport]] against the exact screen on a
    * sampled probe set before trusting it, exactly like the ANN indexes.
    * Docs whose bucket holds no needle candidate report (null, null,
    * false) — the per-document output contract is kept via the left
    * join on the candidate maxima.
    */
  def semanticDecontaminateLsh(corpus: DataFrame, id: Column, vec: Column,
      needles: DataFrame, needleId: Column, needleVec: Column,
      threshold: Double, bits: Int = 8,
      multiProbe: Boolean = true): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions
    val c = corpus.select(id.as("id"), vec.as("__cv"))
      .withColumn("__bkt", Similarity.srpBucket(col("__cv"), bits))
    val n0 = needles.select(needleId.as("__nid"), needleVec.as("__nv"))
      .withColumn("__bkt", Similarity.srpBucket(col("__nv"), bits))
    val n =
      if (!multiProbe) n0
      else n0.select(col("__nid"), col("__nv"),
        explode(Similarity.multiProbeKeys(col("__bkt"), bits)).as("__bkt"))
    // LEFT join on the bucket key: docs whose bucket holds no needle get
    // one null-needle row, so the per-document contract holds in the
    // SAME pass (max/max_by ignore nulls → (null, null, false)) — no
    // second corpus scan, no extra id-keyed spine join
    c.join(n, Seq("__bkt"), "left")
      .select(col("id"), col("__nid"),
        VectorFunctions.cosineSim(col("__cv"), col("__nv")).as("__cos"))
      .groupBy(col("id"))
      .agg(max(col("__cos")).as("max_cos"),
        max_by(col("__nid"),
          struct(col("__cos").as("c"), (-col("__nid")).as("t")))
          .as("worst_needle"))
      .select(col("id"), col("worst_needle"), col("max_cos"),
        coalesce(col("max_cos") >= threshold, lit(false)).as("contaminated"))
  }

  /** Near-duplicate pairs by SimHash hamming distance <= maxHamming.
    *
    * Candidates via the block trick: the 60-bit signature in `blocks`
    * equal blocks — [[SimHashBlocks]], or `maxHamming + 1` past hamming 3
    * — so any pair within hamming `blocks - 1` agrees exactly on at least
    * one block (pigeonhole) and an equality join on (block_idx,
    * block_value) has recall exactly 1. Output: (id_a, id_b, hamming).
    *
    * At corpus scale expected bucket size is n / 2^(60/blocks), and the
    * self-join emits O(Σ bucket²) candidates: 4 × 15-bit serves
    * hamming <= 3 up to ~10^8 docs; beyond that, pre-partition the corpus
    * (e.g. by language/source) so each join runs within a slice, or use
    * [[simHashPairs128]].
    */
  def simHashPairs(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < SimHashBits,
      s"maxHamming=$maxHamming out of [0, $SimHashBits)")
    val blocks = math.max(SimHashBlocks, maxHamming + 1)
    val bits = SimHashBits / blocks
    val sh = df.select(id.as("id"), simHash(text).as("sh"))
    val blk = sh.select(col("id"), col("sh"), posexplode(
      transform(sequence(lit(0), lit(blocks - 1)),
        b => call_function("shiftright", col("sh"), b * bits)
          .bitwiseAND(lit((1L << bits) - 1)))
    ).as(Seq("block", "block_val")))
    val l = blk.select(col("block"), col("block_val"),
      col("id").as("id_a"), col("sh").as("sh_a"))
    val r = blk.select(col("block"), col("block_val"),
      col("id").as("id_b"), col("sh").as("sh_b"))
    l.join(r, Seq("block", "block_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-duplicate pairs by 128-bit SimHash hamming distance — the
    * 10^9+-document scale path: at the default `blocks = 4` the pigeonhole
    * keys are 32 bits wide, so expected bucket size is n/2^32 (vs n/2^15 for
    * the 60-bit/4-block signature) and the candidate self-join stays linear
    * far beyond where [[simHashPairs]] turns quadratic. Same recall
    * guarantee: hamming <= blocks - 1 pairs agree on >= 1 block exactly.
    *
    * `blocks` must divide 128 with a block width that fits a word
    * (2, 4, 8, 16, …); wider tolerance → more blocks (8 × 16-bit serves
    * hamming <= 7). Output: (id_a, id_b, hamming).
    */
  def simHashPairs128(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3, blocks: Int = 4): DataFrame = {
    require(maxHamming < blocks, s"maxHamming=$maxHamming needs > $maxHamming blocks for exact recall")
    require(blocks >= 2 && 128 % blocks == 0 && (128 / blocks) <= 64 && 64 % (128 / blocks) == 0,
      s"blocks=$blocks must split 128 bits into word-aligned blocks (2, 4, 8, 16, 32, 64)")
    val width = 128 / blocks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sh = df.select(id.as("id"), simHash128(text).as("sh"))
    val blk = sh.select(col("id"), col("sh"), posexplode(expr(
      s"""transform(sequence(0, ${blocks - 1}), b ->
         |  shiftright(element_at(sh, CAST((b * $width) div 64 AS INT) + 1),
         |             CAST((b * $width) % 64 AS INT)) & ${mask}L)""".stripMargin))
      .as(Seq("block", "block_val")))
    val l = blk.select(col("block"), col("block_val"),
      col("id").as("id_a"), col("sh").as("sh_a"))
    val r = blk.select(col("block"), col("block_val"),
      col("id").as("id_b"), col("sh").as("sh_b"))
    val ham = (
      bit_count(element_at(col("sh_a"), 1).bitwiseXOR(element_at(col("sh_b"), 1))) +
      bit_count(element_at(col("sh_a"), 2).bitwiseXOR(element_at(col("sh_b"), 2)))
    ).cast("int")
    l.join(r, Seq("block", "block_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), ham.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------- bloom prefilter

  /** False-positive rate the decontamination bloom is sized for: 1% of
    * the corpus takes the exact anti-join, for ~9.6 bits per needle. */
  private[operators] val BloomFpp = 0.01

  /** Builds a serialized bloom filter over `needles`' key column, sized for
    * [[BloomFpp]] at the needle count. One aggregation job over the (small)
    * needle side; partial blooms OR-merge map-side so the shuffle carries
    * one bit-buffer per partition. Returns None for an empty needle set.
    */
  private[operators] def buildBloom(needles: DataFrame, nKey: Column): Option[Array[Byte]] = {
    import org.apache.spark.sql.graft.BloomFunctions
    val n = needles.count()
    if (n == 0) return None
    val bits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, BloomFpp)
    // Spark caps the aggregate at spark.sql.optimizer.runtime.bloomFilter.
    // maxNumItems/maxNumBits (4M/67M default) — raise those confs for
    // needle sets beyond that; the probe side has no such limit.
    val bytes = needles
      .select(BloomFunctions.bloomAgg(BloomFunctions.keyHash(nKey), n, bits).as("bf"))
      .head.getAs[Array[Byte]](0)
    Option(bytes)
  }

  /** Exact decontamination (anti-join) of a huge corpus against a small
    * needle set. Corpus rows whose bloom probe says "definitely not
    * present" pass through with NO join at all (map-only); only the
    * |corpus|·[[BloomFpp]] + |matches| maybe-rows go through the exact
    * anti-join.
    * At 100 TB this replaces a full-corpus shuffle (or a giant broadcast of
    * raw needles) with an MB-scale bloom literal plus a join over a sliver.
    *
    * The two branches scan the corpus twice; both scans are map-only and
    * column-pruned, which beats shuffling the full corpus once. Callers
    * holding the corpus in memory can persist it first.
    */
  def bloomAntiJoin(corpus: DataFrame, cKey: Column, needles: DataFrame,
      nKey: Column): DataFrame = {
    import org.apache.spark.sql.graft.BloomFunctions
    buildBloom(needles, nKey) match {
      case None => corpus
      case Some(bytes) =>
        val might = BloomFunctions.mightContain(bytes, BloomFunctions.keyHash(cKey))
        val clean = corpus.filter(!might)
        val maybe = corpus.filter(might)
          .join(needles.select(nKey.as("__needle_key")).distinct(),
            cKey === col("__needle_key"), "left_anti")
        clean.unionAll(maybe)
    }
  }

  // ------------------------------------------ repeated-substring detection

  /** Character-level cross-document repeated-span detection (the
    * "deduplicate training data at the substring level" move): every
    * `window`-char tile at offsets 0, stride, 2·stride, … is fingerprinted;
    * tiles whose content appears in >= `minDocs` distinct documents mark a
    * duplicated span [pos, pos+window); overlapping/adjacent spans within a
    * document merge into maximal intervals. Unlike [[TextIndex.segmentDedup]]
    * (aligned token segments), `stride < window` makes detection robust to
    * alignment shift between copies: any shared run of
    * >= window + stride - 1 chars is guaranteed to contain a common tile in
    * both documents regardless of where it starts.
    *
    * Returns one row per merged interval: (id, span_start, span_end).
    *
    * Scale shape: tiling is a narrow map-only projection (~n_chars/stride
    * rows of (id, pos, 8-byte fp) — document bodies are never shuffled);
    * duplicated-fingerprint discovery is one partial-aggregated groupBy on
    * the fp; marking is an equality semi-join on the same 8-byte key; the
    * interval merge is a per-document window whose partition size is bounded
    * by n_chars/stride of a single document. No all-pairs stage anywhere —
    * cost is O(total_chars/stride) rows through two compact-key shuffles.
    */
  def repeatedSpanIntervals(df: DataFrame, id: Column, text: Column,
      window: Int = 64, stride: Int = 32, minDocs: Long = 2): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    import org.apache.spark.sql.expressions.{Window => W}
    val tiles = df.select(id.as("__id"), text.as("__t"))
      .filter(length(col("__t")) >= window)
      .select(col("__id"), col("__t"),
        explode(sequence(lit(0), length(col("__t")) - window, lit(stride)))
          .as("__pos"))
      .select(col("__id"), col("__pos"),
        TextFunctions.fingerprint64(col("__t").substr(col("__pos") + 1, lit(window)))
          .as("__fp"))
    val dupFps = tiles.groupBy(col("__fp"))
      .agg(countDistinct(col("__id")).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__fp"))
    val hits = tiles.join(dupFps, Seq("__fp"), "left_semi")
    val byPos = W.partitionBy(col("__id")).orderBy(col("__pos"))
    // Fixed-width tiles sorted by start: previous interval's end is
    // lag(pos)+window, so a new merged interval begins only when the gap to
    // the previous start STRICTLY exceeds the window — touching spans
    // [p, p+w) and [p+w, p+2w) therefore merge into one interval; a new one
    // opens from the first tile that leaves a genuine gap (matches the
    // oracle, which uses the same strict comparison).
    val flagged = hits.withColumn("__new",
      when(col("__pos") >
        coalesce(lag(col("__pos"), 1).over(byPos), lit(-2L * window)) + window,
        lit(1)).otherwise(lit(0)))
    flagged
      .withColumn("__cluster",
        sum(col("__new")).over(byPos.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("__id"), col("__cluster"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + window).as("span_end"))
      .select(col("__id").as("id"), col("span_start").cast("long"),
        col("span_end").cast("long"))
  }

  /** Per-document summary of [[repeatedSpanIntervals]]: every input document
    * appears once with the merged-span count, characters covered by
    * duplicated spans, and characters that would survive removal.
    */
  def repeatedSpanStats(df: DataFrame, id: Column, text: Column,
      window: Int = 64, stride: Int = 32, minDocs: Long = 2): DataFrame = {
    val spans = repeatedSpanIntervals(df, id, text, window, stride, minDocs)
    val perDoc = spans.groupBy(col("id"))
      .agg(count(lit(1)).as("__n"),
        sum(col("span_end") - col("span_start")).as("__rm"))
    df.select(id.as("id"), length(text).cast("long").as("__len"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), coalesce(col("__n"), lit(0L)).as("n_spans"),
        coalesce(col("__rm"), lit(0L)).as("removed_chars"),
        (col("__len") - coalesce(col("__rm"), lit(0L))).as("kept_chars"))
  }
}
