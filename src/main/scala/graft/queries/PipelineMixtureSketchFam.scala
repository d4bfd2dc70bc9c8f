package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Splits, mixture/shuffle, sketches, multimodal, packing, segment dedup — one slice of the [[Pipeline]] registry (the
  * monolithic Pipeline.scala split per-family in round 16, zero
  * behavior change; `Pipeline.all` still assembles every entry).
  */
trait PipelineMixtureSketchFam extends PipelineSimilarityFam {
  // ---------------------------------------------------------------- splits

  private[queries] val SplitWeights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Deterministic train/val/test split: every document lands in exactly one
    * split by its 32-bit content hash against cumulative weight cuts —
    * stable across runs/partitionings/engines, map-only at any scale.
    */
  def splitByHashQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.splitByHash(
        T(s, dir, "documents"), col("doc_id"), SplitWeights)
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))

  /** The split oracles recompute the cut points with the SAME Scala double
    * fold as Sampling.splitByHash (0.8+0.1+0.1 != 1.0 in doubles —
    * embedding the exact longs keeps boundary hashes on the same side in
    * both engines). ONE builder serves both split oracles so the
    * precision-sensitive cut arithmetic cannot drift between them.
    */
  private[queries] def hashCutCaseSql(keyExpr: String): String = {
    val total = SplitWeights.map(_._2).sum
    val cuts = SplitWeights.dropRight(1)
      .scanLeft(("", 0.0)) { case ((_, acc), (name, w)) => (name, acc + w) }
      .drop(1)
      .map { case (name, acc) => (name, (acc / total * 4294967296.0).toLong) }
    val cases = cuts.map { case (name, cut) =>
      s"WHEN ('0x' || substring(md5(CAST($keyExpr AS VARCHAR)), 1, 8))::BIGINT < $cut THEN '$name'"
    }.mkString("\n       ")
    s"""CASE $cases
       |       ELSE '${SplitWeights.last._1}' END""".stripMargin
  }

  val splitByHashOracle: String =
    s"""SELECT doc_id,
       |  ${hashCutCaseSql("doc_id")} AS split
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Split-leakage audit ([[graft.operators.Diagnostics.splitLeakReport]])
    * over the hash split: exact-duplicate fingerprints crossing split
    * boundaries — the per-doc hash split leaks by construction wherever
    * the corpus carries duplicate texts, which is exactly what the gate
    * sees here (the cluster-keyed `split_leakfree` would report zeros).
    * The oracle replays the split cuts (shared [[hashCutCaseSql]]), the
    * 60-bit fingerprint, and the per-fp cross counts.
    */
  def splitLeakQ(s: SparkSession, dir: String): DataFrame = {
    // the synthetic corpus has no exact duplicates, so the fixture plants
    // them: every 7th doc re-enters under a fresh id — the hash split
    // assigns the copy independently, and some copies land across the
    // boundary, which is the leak this audit exists to surface
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000000L).as("doc_id"), col("text")))
    val d = graft.operators.Sampling.splitByHash(
      corpus, col("doc_id"), SplitWeights)
    graft.operators.Diagnostics.splitLeakReport(d, col("split"),
        col("text"))
      .orderBy(col("split_a"), col("split_b"))
  }

  val splitLeakOracle: String =
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000000, text FROM documents
       |  WHERE doc_id % 7 = 0),
       |d AS (
       |  SELECT ${hashCutCaseSql("doc_id")} AS split,
       |    ('0x' || substring(md5(text), 1, 15))::BIGINT AS fp
       |  FROM docs),
       |c AS (SELECT fp, split, CAST(COUNT(*) AS BIGINT) AS n
       |      FROM d GROUP BY 1, 2)
       |SELECT a.split AS split_a, b.split AS split_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_shared_fps,
       |  CAST(SUM(a.n * b.n) AS BIGINT) AS n_cross_pairs
       |FROM c a JOIN c b ON a.fp = b.fp AND a.split < b.split
       |GROUP BY 1, 2
       |ORDER BY split_a, split_b""".stripMargin

  // ------------------------------------------------------- shuffle & mixture

  /** Deterministic training-epoch shuffle: every doc dealt to one of 16
    * shards with an in-shard position, both pure functions of
    * (doc_id, epoch) — see [[graft.operators.Sampling.epochShuffle]]. The
    * oracle replays the identical seeded hash, modulus, and
    * ROW_NUMBER-over-shard.
    */
  def epochShuffleQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.epochShuffle(
        T(s, dir, "documents").select(col("doc_id")),
        col("doc_id"), numShards = 16, epoch = 3)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))

  val epochShuffleOracle: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':3'), 1, 8))::BIGINT AS h
      |  FROM documents)
      |SELECT doc_id, CAST(h % 16 AS INTEGER) AS shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS INTEGER) AS pos
      |FROM h
      |ORDER BY shard, pos""".stripMargin

  /** Mixture weights for [[mixtureSampleQ]] — en capped hardest despite
    * being the largest domain, de upweighted past its size (threshold
    * saturates: keep all), es absent (dropped). Shared with the oracle
    * builder so the two can't drift.
    */
  private[queries] val MixtureWeights: Seq[(String, Long)] =
    Seq("en" -> 4L, "de" -> 3L, "fr" -> 2L, "zh" -> 1L)

  /** Domain-mixture rebalancing to a token budget (half the corpus's
    * tokens, split by [[MixtureWeights]]) — see
    * [[graft.operators.Sampling.mixtureSampleByTokens]]. Thresholds are
    * exact integer arithmetic on both sides (BigInt in Scala, HUGEINT in
    * DuckDB), so the oracle recomputes them from the raw table rather
    * than embedding constants.
    */
  def mixtureSampleQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixtureSampleByTokens(
        T(s, dir, "documents"), col("lang"), col("doc_id"), col("text"),
        MixtureWeights.toMap, budgetNum = 1, budgetDen = 2)
      .select(col("doc_id"), col("lang"),
        TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok"))
      .orderBy(col("doc_id"))

  val mixtureSampleOracle: String = {
    val sw = MixtureWeights.map(_._2).sum
    val wCase = MixtureWeights.map { case (d, w) =>
      s"WHEN '$d' THEN CAST($w AS HUGEINT)"
    }.mkString(" ")
    s"""WITH tok AS (
       |  SELECT lang,
       |    SUM(CAST(CASE WHEN trim(text) = '' THEN 0
       |        ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)) AS t
       |  FROM documents GROUP BY lang
       |), tot AS (
       |  SELECT (CAST(SUM(t) AS HUGEINT) * 1) // 2 AS budget FROM tok
       |), thr AS (
       |  SELECT lang,
       |    LEAST(CAST(4294967296 AS HUGEINT),
       |      (CAST(4294967296 AS HUGEINT) * (SELECT budget FROM tot)
       |        * (CASE lang $wCase END))
       |      // (CAST($sw AS HUGEINT) * CAST(t AS HUGEINT))) AS thr
       |  FROM tok WHERE lang IN (${MixtureWeights.map("'" + _._1 + "'").mkString(", ")})
       |)
       |SELECT d.doc_id, d.lang,
       |  CAST(CASE WHEN trim(d.text) = '' THEN 0
       |       ELSE len(string_split_regex(trim(d.text), '\\s+')) END AS BIGINT) AS n_tok
       |FROM documents d JOIN thr ON d.lang = thr.lang
       |WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      < CAST(thr.thr AS BIGINT)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- hll sketches

  /** Distinct counting with mergeable HLL sketches (DataSketches): per-group
    * sketch + estimate, and a global row from hll_union_agg over the SAME
    * per-group sketches — the 100 TB pattern, where sketches are built once,
    * stored, and re-merged for any rollup without touching raw data (a
    * COUNT(DISTINCT) rollup would need a second full shuffle of raw keys;
    * the union shuffles one ~KB sketch per group).
    *
    * Oracle-able because DataSketches HLL is EXACT below the coupon-set
    * promotion threshold: measured with lgConfigK=16, estimates match
    * COUNT(DISTINCT) bit-for-bit through ~4000 distinct keys (default
    * lgK=12 already deviates by ~500), and supplier cardinalities stay
    * under 1000 at every test SF. SketchSpec pins this regime.
    */
  def hllCardinality(s: SparkSession, dir: String): DataFrame = {
    val sup = T(s, dir, "supplier")
      .join(T(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
    val sketches = sup.groupBy(col("n_name"))
      .agg(hll_sketch_agg(col("s_suppkey"), 16).as("sk"))
    val perNation = sketches
      .select(col("n_name"), hll_sketch_estimate(col("sk")).as("n_supp"))
    val global = sketches
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_supp"))
      .select(lit("*ALL*").as("n_name"), col("n_supp"))
    perNation.unionAll(global).orderBy(col("n_name"))
  }

  val hllCardinalityOracle: String =
    """SELECT n_name, CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) AS n_supp
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name
      |UNION ALL
      |SELECT '*ALL*' AS n_name, CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) AS n_supp
      |FROM supplier
      |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- heavy hitters

  /** Frequent items over a token-derived term (first character): the
    * Misra-Gries summary ([[graft.functions.FrequencySketch.mgTopK]])
    * shuffles O(k) state per partition instead of one row per distinct
    * term. k = topN = 128 exceeds the ASCII first-char domain, so the
    * summary is exact and the oracle is a plain GROUP BY.
    */
  def heavyHittersQ(s: SparkSession, dir: String): DataFrame = {
    val terms = T(s, dir, "documents")
      .select(explode(TextFunctions.tokensWs(col("text"))).as("tok"))
      .select(substring(col("tok"), 1, 1).as("term"))
    terms
      .agg(graft.functions.FrequencySketch.mgTopK(128, 128)(col("term")).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e._1").as("term"), col("e._2").as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
  }

  val heavyHittersOracle: String =
    """WITH toks AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents)
      |SELECT substring(tok, 1, 1) AS term, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM toks
      |GROUP BY 1
      |ORDER BY cnt DESC, term""".stripMargin

  /** Duplicate-cluster assignment: connected components over the verified
    * MinHash near-dup pairs; oracle recomputes components with a recursive
    * CTE (component = min reachable id).
    */
  def dedupComponents(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.components(
        graft.operators.Dedup.minHashPairs(
          T(s, dir, "documents"), col("doc_id"), col("text"),
          shingleK = 3, numHashes = 128, bands = 16, threshold = 0.8))
      .orderBy(col("id"))

  val dedupComponentsOracle: String =
    s"""WITH RECURSIVE $shingleSetsSql,
       |posting AS (SELECT doc_id, unnest(s) AS sp FROM sets),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM posting a JOIN posting b ON a.sp = b.sp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN sets sa ON sa.doc_id = id_a
       |  JOIN sets sb ON sb.doc_id = id_b
       |  WHERE CAST(inter AS DOUBLE) / CAST(len(sa.s) + len(sb.s) - inter AS DOUBLE) >= 0.8),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT s, s FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON e.s = reach.r)
       |SELECT id, MIN(r) AS component
       |FROM reach
       |GROUP BY id
       |ORDER BY id""".stripMargin

  /** Near-dup cluster size histogram — the dedup effectiveness report:
    * how many duplicate clusters of each size exist and how many docs
    * they hold (singletons — docs with no near-dup — are absent by
    * construction; corpus total minus n_docs gives them). Reuses the
    * pair/component machinery, so the report costs one extra tiny
    * aggregation over (id, component).
    */
  def dupClusterSizes(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.components(
        graft.operators.Dedup.minHashPairs(
          T(s, dir, "documents"), col("doc_id"), col("text"),
          shingleK = 3, numHashes = 128, bands = 16, threshold = 0.8))
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  val dupClusterSizesOracle: String =
    s"""WITH RECURSIVE $shingleSetsSql,
       |posting AS (SELECT doc_id, unnest(s) AS sp FROM sets),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM posting a JOIN posting b ON a.sp = b.sp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN sets sa ON sa.doc_id = id_a
       |  JOIN sets sb ON sb.doc_id = id_b
       |  WHERE CAST(inter AS DOUBLE) / CAST(len(sa.s) + len(sb.s) - inter AS DOUBLE) >= 0.8),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT s, s FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON e.s = reach.r),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
       |sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |          FROM comp GROUP BY component)
       |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
       |FROM sizes GROUP BY cluster_size
       |ORDER BY cluster_size""".stripMargin

  /** Soft dedup: every doc keeps weight 1/|its near-dup cluster| (1.0 for
    * singletons) — the downweight-instead-of-drop alternative (each
    * duplicated CONTENT contributes total mass 1 to training, but all
    * copies stay available). Exact integer-ratio doubles over the same
    * component machinery.
    */
  def dedupWeights(s: SparkSession, dir: String): DataFrame = {
    val comp = graft.operators.Dedup.components(
      graft.operators.Dedup.minHashPairs(
        T(s, dir, "documents"), col("doc_id"), col("text"),
        shingleK = 3, numHashes = 128, bands = 16, threshold = 0.8))
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("sz"))
    val docWeights = comp.join(sizes, Seq("component"))
      .select(col("id").as("doc_id"),
        (lit(1.0) / col("sz").cast("double")).as("weight"))
    T(s, dir, "documents").select(col("doc_id"))
      .join(docWeights, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("weight"), lit(1.0)).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** LEAKAGE-FREE train/val/test split: the split key is the near-dup
    * CLUSTER id (component min-id; singletons key on their own id), so
    * near-duplicate documents can never straddle a split boundary — the
    * contamination channel a per-document hash split leaves open (a test
    * document's near-copy in train is memorized, not generalized). Same
    * deterministic hash-cut machinery as [[splitByHashQ]], keyed one
    * level up.
    */
  def splitLeakFreeQ(s: SparkSession, dir: String): DataFrame = {
    val comp = graft.operators.Dedup.components(
      graft.operators.Dedup.minHashPairs(
        T(s, dir, "documents"), col("doc_id"), col("text"),
        shingleK = 3, numHashes = 128, bands = 16, threshold = 0.8))
    graft.operators.Sampling.splitByCluster(
        T(s, dir, "documents"), col("doc_id"), comp, SplitWeights)
      .select(col("id").as("doc_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  val splitLeakFreeOracle: String = {
    s"""WITH RECURSIVE $shingleSetsSql,
       |posting AS (SELECT doc_id, unnest(s) AS sp FROM sets),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM posting a JOIN posting b ON a.sp = b.sp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN sets sa ON sa.doc_id = id_a
       |  JOIN sets sb ON sb.doc_id = id_b
       |  WHERE CAST(inter AS DOUBLE) / CAST(len(sa.s) + len(sb.s) - inter AS DOUBLE) >= 0.8),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT s, s FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON e.s = reach.r),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
       |keyed AS (
       |  SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS ck
       |  FROM documents d LEFT JOIN comp ON comp.id = d.doc_id)
       |SELECT doc_id,
       |  ${hashCutCaseSql("ck")} AS split
       |FROM keyed
       |ORDER BY doc_id""".stripMargin
  }

  val dedupWeightsOracle: String =
    s"""WITH RECURSIVE $shingleSetsSql,
       |posting AS (SELECT doc_id, unnest(s) AS sp FROM sets),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM posting a JOIN posting b ON a.sp = b.sp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN sets sa ON sa.doc_id = id_a
       |  JOIN sets sb ON sb.doc_id = id_b
       |  WHERE CAST(inter AS DOUBLE) / CAST(len(sa.s) + len(sb.s) - inter AS DOUBLE) >= 0.8),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT s, s FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON e.s = reach.r),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
       |sizes AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)
       |SELECT d.doc_id,
       |  COALESCE(CAST(1.0 AS DOUBLE) / CAST(sz AS DOUBLE), CAST(1.0 AS DOUBLE)) AS weight
       |FROM documents d
       |LEFT JOIN comp ON comp.id = d.doc_id
       |LEFT JOIN sizes ON sizes.component = comp.component
       |ORDER BY d.doc_id""".stripMargin

  /** Priority-based cluster collapse: near-dup components (as
    * `dedup_components`), keeping per component the member with the most
    * characters (tie → smaller doc_id) — the curation move that keeps the
    * best copy instead of the smallest id. Output: surviving doc_ids.
    */
  def dedupCollapse(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    graft.operators.Dedup.collapseByPriority(
        docs, col("doc_id"),
        graft.operators.Dedup.minHashPairs(docs, col("doc_id"), col("text"),
          shingleK = 3, numHashes = 128, bands = 16, threshold = 0.8),
        col("n_chars"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val dedupCollapseOracle: String =
    s"""WITH RECURSIVE $shingleSetsSql,
       |posting AS (SELECT doc_id, unnest(s) AS sp FROM sets),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM posting a JOIN posting b ON a.sp = b.sp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN sets sa ON sa.doc_id = id_a
       |  JOIN sets sb ON sb.doc_id = id_b
       |  WHERE CAST(inter AS DOUBLE) / CAST(len(sa.s) + len(sb.s) - inter AS DOUBLE) >= 0.8),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT s, s FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON e.s = reach.r),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
       |ranked AS (
       |  SELECT c.id, ROW_NUMBER() OVER (PARTITION BY c.component
       |    ORDER BY d.n_chars DESC, c.id) AS rk
       |  FROM comp c JOIN documents d ON d.doc_id = c.id)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM ranked WHERE rk > 1)
       |ORDER BY doc_id""".stripMargin

  /** Sliding-window chunking (64-token windows, stride 32): every chunk
    * fingerprinted, short docs collapse to one whole-text chunk. The oracle
    * recomputes the identical slicing with DuckDB list ranges.
    */
  def docChunks(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.chunks(
        T(s, dir, "documents"), col("doc_id"), col("text"),
        window = 64, stride = 32)
      .select(col("id").as("doc_id"), col("chunk_id"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))

  val docChunksOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |n AS (SELECT doc_id, toks, len(toks) AS nt FROM t),
      |idx AS (
      |  SELECT doc_id, toks, unnest(range(0,
      |    CASE WHEN nt <= 64 THEN 1
      |         ELSE CAST(ceil((nt - 64)::DOUBLE / 32) AS BIGINT) + 1 END)) AS cid
      |  FROM n)
      |SELECT doc_id, CAST(cid AS INTEGER) AS chunk_id,
      |  md5(array_to_string(toks[(cid*32+1):(cid*32+64)], ' ')) AS chunk_md5
      |FROM idx
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** Content-defined chunking (3-gram boundary hash, maskBits = 6 →
    * ~64-token expected chunks): boundaries are functions of local
    * content, so chunk-level dedup on `chunk_fp` survives token
    * insertions that would shift every fixed-stride window. The oracle
    * replays the boundary rule with the same md5-prefix modulus over
    * DuckDB list ranges.
    */
  def cdcChunksQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.cdcChunks(
        T(s, dir, "documents"), col("doc_id"), col("text"),
        shingleK = 3, maskBits = 6)
      .select(col("id").as("doc_id"), col("chunk_idx"), col("start_tok"),
        col("n_tok"), col("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val cdcChunksOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      |         ELSE string_split_regex(trim(text), '\s+') END AS w
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, w,
      |    [1] || coalesce(list_filter(range(2, greatest(len(w) - 3 + 2, 2)),
      |      i -> ('0x' || substring(md5(array_to_string(w[i:i+2], ' ')), 1, 8))::BIGINT % 64 = 0),
      |      []) AS starts
      |  FROM t),
      |sp AS (
      |  SELECT doc_id, w,
      |    unnest(list_transform(range(1, len(starts) + 1), j -> struct_pack(
      |      idx := j,
      |      s := starts[j],
      |      e := coalesce(starts[j + 1], len(w) + 1))), recursive := true)
      |  FROM b)
      |SELECT doc_id, CAST(idx AS INTEGER) AS chunk_idx,
      |  CAST(s AS INTEGER) AS start_tok, CAST(e - s AS INTEGER) AS n_tok,
      |  ('0x' || substring(md5(array_to_string(w[s:e-1], ' ')), 1, 15))::BIGINT AS chunk_fp
      |FROM sp
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** PII redaction battery: plant a deterministic email + IPv4 + phone per
    * document, redact, and fingerprint the cleaned text. Patterns stay in
    * the RE2-compatible subset so DuckDB reproduces them byte-for-byte.
    */
  def textRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"), lit("@example.com from 10.0."),
      pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 tel 5551234567 end"))
    T(s, dir, "documents")
      .select(col("doc_id"), md5(TextFunctions.redactPii(planted)).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  val textRedactOracle: String =
    """SELECT doc_id,
      |  md5(regexp_replace(regexp_replace(regexp_replace(
      |    text || ' contact user' || doc_id || '@example.com from 10.0.' ||
      |      (doc_id % 256) || '.7 tel 5551234567 end',
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
      |    '\b\d{7,15}\b', '<NUM>', 'g')) AS clean_md5
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Luhn-gated payment-card (PAN) detection
    * ([[graft.functions.TextFunctions.panCandidates]] +
    * [[graft.functions.TextFunctions.luhnValid]]): per document, how many
    * 13–19-digit candidate runs appear and how many pass the mod-10 card
    * checksum — the signal that separates REAL card numbers (redact,
    * always) from order ids / tracking numbers (often fine to keep).
    * Candidates are planted deterministically: one known-valid PAN, one
    * doc_id-derived 16-digit number whose Luhn validity varies with the
    * id, and a 5-digit run that must NOT be a candidate. The oracle
    * replays the extraction and the full checksum fold in integer
    * arithmetic. Map-only at any scale.
    */
  def piiPanReport(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"), lit(" pay 4111111111111111 ref 400000"),
      lpad(col("doc_id").cast("string"), 10, "0"), lit(" ord 12345 tail"))
    val cands = TextFunctions.panCandidates(planted)
    T(s, dir, "documents")
      .select(col("doc_id"),
        size(cands).cast("long").as("n_candidates"),
        size(filter(cands, TextFunctions.luhnValid(_))).cast("long")
          .as("n_luhn_valid"))
      .orderBy(col("doc_id"))
  }

  val piiPanReportOracle: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    regexp_extract_all(
      |      text || ' pay 4111111111111111 ref 400000' ||
      |        lpad(CAST(doc_id AS VARCHAR), 10, '0') || ' ord 12345 tail',
      |      '\b[0-9]{13,19}\b') AS cands
      |  FROM documents),
      |v AS (
      |  SELECT doc_id, cands,
      |    list_filter(cands, c ->
      |      length(c) > 0 AND
      |      list_reduce(list_prepend(0, list_transform(
      |        range(0, length(c)),
      |        i -> CASE WHEN i % 2 = 1 THEN
      |               CASE WHEN ascii(substr(reverse(c), i + 1, 1)) - 48 > 4
      |                 THEN (ascii(substr(reverse(c), i + 1, 1)) - 48) * 2 - 9
      |                 ELSE (ascii(substr(reverse(c), i + 1, 1)) - 48) * 2 END
      |             ELSE ascii(substr(reverse(c), i + 1, 1)) - 48 END)),
      |        (a, b) -> a + b) % 10 = 0) AS valid
      |  FROM p)
      |SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
      |  CAST(len(valid) AS BIGINT) AS n_luhn_valid
      |FROM v
      |ORDER BY doc_id""".stripMargin

  /** URL canonicalization dedup
    * ([[graft.functions.TextFunctions.canonicalUrl]]): deterministic URL
    * variants (host case, default port, tracking params in shuffled
    * order, fragments) collapse to one canonical form per resource — the
    * crawl-frontier dedup that runs BEFORE any fetch. Variants are
    * synthesized per doc so every canonicalization rule is exercised;
    * the oracle replays each rule with the same anchored regexes and
    * parameter filter/sort.
    */
  def urlCanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    val raw = when(pmod(col("doc_id"), lit(3)) === 0,
      concat(lit("HTTPS://WWW.Example.COM:443/p/"),
        pmod(col("doc_id"), lit(50)).cast("string"),
        lit("?b=2&utm_source=x&a=1#sec")))
      .when(pmod(col("doc_id"), lit(3)) === 1,
        concat(lit("https://www.example.com/p/"),
          pmod(col("doc_id"), lit(50)).cast("string"),
          lit("?a=1&gclid=zz&b=2")))
      .otherwise(concat(lit("https://www.example.com:443/p/"),
        pmod(col("doc_id"), lit(50)).cast("string"), lit("?b=2&a=1")))
    T(s, dir, "documents")
      .select(TextFunctions.canonicalUrl(raw).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_urls"))
      .orderBy(col("canonical_url"))
  }

  val urlCanonicalDedupOracle: String =
    """WITH raw AS (
      |  SELECT CASE doc_id % 3
      |    WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/p/' || (doc_id % 50)
      |      || '?b=2&utm_source=x&a=1#sec'
      |    WHEN 1 THEN 'https://www.example.com/p/' || (doc_id % 50)
      |      || '?a=1&gclid=zz&b=2'
      |    ELSE 'https://www.example.com:443/p/' || (doc_id % 50)
      |      || '?b=2&a=1' END AS u
      |  FROM documents),
      |st AS (
      |  SELECT regexp_replace(u, '(?s)#.*', '') AS nf FROM raw),
      |parts AS (
      |  SELECT
      |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |      AS scheme,
      |    regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)
      |      AS auth,
      |    regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
      |  FROM st),
      |pre AS (
      |  SELECT scheme || '://' || regexp_extract(auth, '^(.*@)', 1) ||
      |    CASE WHEN scheme = 'https' THEN
      |        regexp_replace(lower(regexp_replace(auth, '^.*@', '')), ':443\z', '')
      |      WHEN scheme = 'http' THEN
      |        regexp_replace(lower(regexp_replace(auth, '^.*@', '')), ':80\z', '')
      |      ELSE lower(regexp_replace(auth, '^.*@', '')) END AS pre,
      |    rest
      |  FROM parts),
      |pq AS (
      |  SELECT pre,
      |    regexp_replace(rest, '(?s)\?.*', '') AS path,
      |    CASE WHEN instr(rest, '?') > 0
      |      THEN regexp_replace(rest, '^[^?]*\?', '') ELSE '' END AS q
      |  FROM pre),
      |canon AS (
      |  SELECT pre ||
      |    CASE WHEN path = '' THEN '/' ELSE path END ||
      |    CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical_url
      |  FROM (
      |    SELECT pre, path,
      |      array_to_string(list_sort(list_filter(string_split(q, '&'),
      |        p -> NOT (p LIKE 'utm\_%' ESCAPE '\' OR p LIKE 'fbclid=%'
      |          OR p LIKE 'gclid=%' OR p = ''))), '&') AS cq
      |    FROM pq))
      |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_urls
      |FROM canon
      |GROUP BY 1
      |ORDER BY canonical_url""".stripMargin

  /** Repetition quality signals (duplicate-segment fraction, top-segment
    * share) over '.'-separated segments — the Gopher/C4-style repetition
    * filters as exact integer-ratio doubles.
    */
  def qualityRepetition(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.repetitionStats(
        T(s, dir, "documents"), col("doc_id"), col("text"))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  val qualityRepetitionOracle: String =
    """WITH segs AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\. ')) AS seg FROM documents),
      |c AS (SELECT doc_id, seg, COUNT(*) AS n FROM segs GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(SUM(n) AS BIGINT) AS n_seg,
      |  CAST(COUNT(*) AS BIGINT) AS n_uniq,
      |  CAST(SUM(n) - COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS dup_frac,
      |  CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS top_frac
      |FROM c GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Decontamination: documents containing >= 60% of a "benchmark" needle's
    * 3-shingles (needles = the first 100 doc_ids). Containment is asymmetric
    * — needle shingles found / needle shingles — so a needle quoted inside a
    * longer doc still scores high where Jaccard would dilute.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    graft.operators.Dedup.containmentPairs(
        d.filter(col("doc_id") < 100), col("doc_id"), col("text"),
        d, col("doc_id"), col("text"),
        shingleK = 3, threshold = 0.6)
      .filter(col("needle_id") =!= col("doc_id"))
      .orderBy(col("needle_id"), col("doc_id"))
  }

  val decontaminateOracle: String =
    s"""WITH $shingleSetsSql,
       |np AS (
       |  SELECT doc_id AS needle_id, len(s) AS nsz, unnest(s) AS sp
       |  FROM sets WHERE doc_id < 100),
       |cp AS (SELECT doc_id, unnest(s) AS sp FROM sets),
       |inter AS (
       |  SELECT needle_id, doc_id, nsz, COUNT(*) AS i
       |  FROM np JOIN cp USING (sp)
       |  WHERE needle_id <> doc_id
       |  GROUP BY 1, 2, 3)
       |SELECT needle_id, doc_id, CAST(i AS DOUBLE) / CAST(nsz AS DOUBLE) AS containment
       |FROM inter
       |WHERE CAST(i AS DOUBLE) / CAST(nsz AS DOUBLE) >= 0.6
       |ORDER BY needle_id, doc_id""".stripMargin

  /** Bloom-prefiltered exact decontamination: drop every corpus document
    * whose text equals a "benchmark" needle (doc_id % 97 == 0). The bloom
    * probe is map-only and codegen'd; only the |corpus|·fpp maybe-fraction
    * reaches the exact anti-join, which is what makes the shape hold when
    * the corpus is 100 TB and the needle set is an eval suite.
    */
  def decontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    val needles = d.filter(col("doc_id") % 97 === 0).select(col("text"))
    graft.operators.Dedup.bloomAntiJoin(d, col("text"), needles, col("text"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val decontaminateBloomOracle: String =
    """SELECT d.doc_id FROM documents d
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM documents n
      |  WHERE n.doc_id % 97 = 0 AND n.text = d.text)
      |ORDER BY d.doc_id""".stripMargin

  /** Deterministic fixed-size class-balanced sample: 20 docs per language by
    * md5 rank of doc_id — exact per-class counts (fractions can't give
    * that), reproducible in SQL.
    */
  def samplePerClass(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.fixedSizeSample(
        T(s, dir, "documents"), col("lang"), col("doc_id"), n = 20)
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))

  val samplePerClassOracle: String =
    """WITH ranked AS (
      |  SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
      |               doc_id) AS rk
      |  FROM documents)
      |SELECT lang, doc_id FROM ranked WHERE rk <= 20
      |ORDER BY lang, doc_id""".stripMargin

  /** tf-idf-style relevance ranking: top-3 terms per doc by tf · (N/df) —
    * one IEEE division + multiply over exact integers, bit-identical in any
    * engine (ln damping deliberately left to the consumer).
    */
  def topRelevantTerms(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.relevantTerms(
        T(s, dir, "documents"), col("doc_id"), col("text"), k = 3, minLen = 4)
      .orderBy(col("doc_id"), col("rank"))

  val topRelevantTermsOracle: String =
    """WITH posting AS (
      |  SELECT doc_id, t AS term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
      |        FROM documents)
      |  WHERE length(t) >= 4
      |  GROUP BY 1, 2),
      |d AS (SELECT term, COUNT(*) AS df FROM posting GROUP BY 1),
      |nn AS (SELECT COUNT(*) AS n FROM documents),
      |r AS (
      |  SELECT p.doc_id, p.term, p.tf, d.df,
      |    CAST(p.tf AS DOUBLE) * (CAST(nn.n AS DOUBLE) / CAST(d.df AS DOUBLE)) AS relevance,
      |    ROW_NUMBER() OVER (PARTITION BY p.doc_id
      |      ORDER BY CAST(p.tf AS DOUBLE) * (CAST(nn.n AS DOUBLE) / CAST(d.df AS DOUBLE)) DESC,
      |               p.term) AS rank
      |  FROM posting p JOIN d USING (term) CROSS JOIN nn)
      |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df, relevance
      |FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** BM25 ranked retrieval: a deterministic query workload derived from the
    * corpus itself (every doc_id % 101 == 0 contributes its 4
    * alphabetically-first distinct terms of length >= 4 as one query),
    * scored with [[graft.operators.TextIndex.bm25TopK]] (k1 = 1.2,
    * b = 0.75, ln-free RSJ idf), top-5 docs per query. The oracle rebuilds
    * the same inverted index, sums per-term contributions in the same 2^20
    * fixed point (order-free exact integer addition — a float SUM's order
    * is engine-chosen), and ranks with the same (score desc, doc_id)
    * tie-break. The query workload is bounded below [[graft.Stress.IdStride]]
    * (replica 0 only — a no-op at the oracle SFs) so the stress harness
    * measures a FIXED query set against a growing corpus, matching the
    * operator's small-broadcast queryTerms contract; an unbounded corpus-
    * derived workload grows with replication and reads as harness-quadratic
    * (the [[simHashedLsh]] precedent).
    */
  def bm25Topk(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val qt = docs.filter(col("doc_id") % 101 === 0 &&
        col("doc_id") < graft.Stress.IdStride)
      .select(col("doc_id").as("qid"),
        explode(slice(array_sort(array_distinct(
          filter(graft.functions.TextFunctions.tokensWs(col("text")),
            t => length(t) >= 4))), 1, 4)).as("term"))
    graft.operators.TextIndex.bm25TopK(docs, col("doc_id"), col("text"),
        qt, k = 5)
      .orderBy(col("qid"), col("rank"))
  }

  val bm25TopkOracle: String = {
    val k1 = 1.2
    val b = 0.75
    val k1p1 = k1 + 1.0
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
       |  FROM documents WHERE trim(text) <> ''),
       |p AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
       |dl AS (SELECT doc_id, SUM(tf) AS dl FROM p GROUP BY 1),
       |st AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
       |              (SELECT SUM(tf) FROM p) AS tot),
       |qt AS (
       |  SELECT qid, unnest(terms4) AS term FROM (
       |    SELECT doc_id AS qid,
       |      list_sort(list_distinct(list_filter(
       |        string_split_regex(trim(text), '\\s+'),
       |        t -> length(t) >= 4)))[1:4] AS terms4
       |    FROM documents
       |    WHERE doc_id % 101 = 0 AND doc_id < ${graft.Stress.IdStride}
       |      AND trim(text) <> '')),
       |dfq AS (
       |  SELECT term, COUNT(*) AS df FROM p
       |  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
       |cand AS (
       |  SELECT q.qid, p.doc_id, p.term,
       |    ((CAST(st.n AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
       |      / (CAST(dfq.df AS DOUBLE) + 0.5))
       |    * ((CAST(p.tf AS DOUBLE) * CAST('$k1p1' AS DOUBLE))
       |      / (CAST(p.tf AS DOUBLE) + CAST('$k1' AS DOUBLE)
       |        * (1.0 - CAST('$b' AS DOUBLE) + CAST('$b' AS DOUBLE)
       |        * (CAST(dl.dl AS DOUBLE)
       |          / (CAST(st.tot AS DOUBLE) / CAST(st.n AS DOUBLE)))))) AS cw
       |  FROM qt q JOIN p ON p.term = q.term
       |  JOIN dfq ON dfq.term = p.term
       |  JOIN dl ON dl.doc_id = p.doc_id
       |  CROSS JOIN st),
       |sc AS (
       |  SELECT qid, doc_id,
       |    CAST(SUM(CAST(round(cw * 1048576.0) AS BIGINT)) AS DOUBLE)
       |      / 1048576.0 AS score
       |  FROM cand GROUP BY 1, 2),
       |r AS (
       |  SELECT qid, doc_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY score DESC, doc_id) AS rank
       |  FROM sc)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, doc_id, score
       |FROM r WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin
  }

  /** Collocation mining ([[graft.operators.TextIndex.phraseMining]]):
    * top-50 adjacent word pairs by ln-free PMI lift
    * `c(ab)·N / (c(a)·c(b))`, pair count floored at 5. Exact integer
    * counts, one fixed-order double chain; the oracle replays the
    * adjacent-pair zip, both count joins, and the (lift desc, w1, w2)
    * take-ordered.
    */
  def phraseMiningQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.phraseMining(
      T(s, dir, "documents"), col("text"), k = 50, minCount = 5L)

  val phraseMiningOracle: String =
    """WITH t AS (
      |  SELECT string_split_regex(trim(text), '\s+') AS ts
      |  FROM documents WHERE trim(text) <> ''),
      |uni AS (
      |  SELECT w, COUNT(*) AS c
      |  FROM (SELECT unnest(ts) AS w FROM t) GROUP BY 1),
      |nn AS (SELECT SUM(c) AS n FROM uni),
      |idx AS (SELECT ts, unnest(range(1, len(ts))) AS j FROM t),
      |pc AS (
      |  SELECT ts[j] AS w1, ts[j+1] AS w2, COUNT(*) AS n_pair
      |  FROM idx GROUP BY 1, 2 HAVING COUNT(*) >= 5)
      |SELECT pc.w1, pc.w2, pc.n_pair, u1.c AS n_w1, u2.c AS n_w2,
      |  (CAST(pc.n_pair AS DOUBLE) * CAST(nn.n AS DOUBLE))
      |    / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS lift
      |FROM pc
      |JOIN uni u1 ON u1.w = pc.w1
      |JOIN uni u2 ON u2.w = pc.w2
      |CROSS JOIN nn
      |ORDER BY lift DESC, pc.w1, pc.w2
      |LIMIT 50""".stripMargin

  /** Hybrid retrieval ([[graft.operators.TextIndex.rrfFuse]]): the
    * standard RAG-stack combination — BM25 over the text (lexical) and
    * brute-force cosine over the aligned embeddings (dense), each top-20
    * per query, fused with reciprocal-rank fusion (c = 60) to a top-10.
    * Query set fixed below the replica stride (doc_id % 149 — the sim
    * probe pattern), so stress measures per-query cost against the
    * growing corpus. Queries are corpus documents, so BOTH sides
    * exclude the self-hit (the dense searcher by default; the lexical
    * side retrieves k+1 and drops qid = doc_id before re-ranking — the
    * query's own doc would otherwise burn a fused slot at the maximum
    * possible RRF contribution in every query). The oracle replays BOTH
    * retrieval pipelines rank for rank and the fixed-order RRF chain.
    */
  def hybridRetrievalQ(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val emb = T(s, dir, "embeddings")
    val stride = graft.Stress.IdStride
    val qt = docs.filter(col("doc_id") % 149 === 0 && col("doc_id") < stride)
      .select(col("doc_id").as("qid"),
        explode(slice(array_sort(array_distinct(
          filter(graft.functions.TextFunctions.tokensWs(col("text")),
            t => length(t) >= 4))), 1, 4)).as("term"))
    // k+1, drop self, re-rank by the original order: the top-20 non-self
    // docs of the full ranking are always inside the top-21 overall
    val lexW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("rank"))
    val lex = graft.operators.TextIndex.bm25TopK(
        docs, col("doc_id"), col("text"), qt, k = 21)
      .filter(col("qid") =!= col("doc_id"))
      .withColumn("rank", row_number().over(lexW))
      .filter(col("rank") <= 20)
      .select(col("qid"), col("doc_id"), col("rank"))
    val dense = graft.operators.Similarity.search(
        emb.filter(col("vec_id") % 149 === 0 && col("vec_id") < stride),
        emb, k = 20, graft.operators.Similarity.Index.Exact)
      .select(col("query_id").as("qid"), col("neighbor_id").as("doc_id"),
        col("rank"))
    graft.operators.TextIndex.rrfFuse(Seq(lex, dense), k = 10)
      .orderBy(col("qid"), col("rank"))
  }

  val hybridRetrievalOracle: String = {
    val k1 = 1.2
    val b = 0.75
    val k1p1 = k1 + 1.0
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
       |  FROM documents WHERE trim(text) <> ''),
       |p AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
       |dl AS (SELECT doc_id, SUM(tf) AS dl FROM p GROUP BY 1),
       |st AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
       |              (SELECT SUM(tf) FROM p) AS tot),
       |qt AS (
       |  SELECT qid, unnest(terms4) AS term FROM (
       |    SELECT doc_id AS qid,
       |      list_sort(list_distinct(list_filter(
       |        string_split_regex(trim(text), '\\s+'),
       |        t -> length(t) >= 4)))[1:4] AS terms4
       |    FROM documents
       |    WHERE doc_id % 149 = 0 AND doc_id < ${graft.Stress.IdStride}
       |      AND trim(text) <> '')),
       |dfq AS (
       |  SELECT term, COUNT(*) AS df FROM p
       |  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
       |cand AS (
       |  SELECT q.qid, p.doc_id, p.term,
       |    ((CAST(st.n AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
       |      / (CAST(dfq.df AS DOUBLE) + 0.5))
       |    * ((CAST(p.tf AS DOUBLE) * CAST('$k1p1' AS DOUBLE))
       |      / (CAST(p.tf AS DOUBLE) + CAST('$k1' AS DOUBLE)
       |        * (1.0 - CAST('$b' AS DOUBLE) + CAST('$b' AS DOUBLE)
       |        * (CAST(dl.dl AS DOUBLE)
       |          / (CAST(st.tot AS DOUBLE) / CAST(st.n AS DOUBLE)))))) AS cw
       |  FROM qt q JOIN p ON p.term = q.term
       |  JOIN dfq ON dfq.term = p.term
       |  JOIN dl ON dl.doc_id = p.doc_id
       |  CROSS JOIN st),
       |sc AS (
       |  SELECT qid, doc_id,
       |    CAST(SUM(CAST(round(cw * 1048576.0) AS BIGINT)) AS DOUBLE)
       |      / 1048576.0 AS score
       |  FROM cand GROUP BY 1, 2),
       |lex AS (
       |  SELECT qid, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY score DESC, doc_id) AS r
       |  FROM sc WHERE qid <> doc_id),
       |lex20 AS (SELECT qid, doc_id, r FROM lex WHERE r <= 20),
       |den0 AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS doc_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c
       |    ON q.vec_id % 149 = 0 AND q.vec_id < ${graft.Stress.IdStride}
       |    AND q.vec_id <> c.vec_id),
       |den AS (
       |  SELECT qid, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS r
       |  FROM den0),
       |den20 AS (SELECT qid, doc_id, r FROM den WHERE r <= 20),
       |fused AS (
       |  SELECT COALESCE(l.qid, d.qid) AS qid,
       |    COALESCE(l.doc_id, d.doc_id) AS doc_id,
       |    COALESCE(1.0 / (60.0 + CAST(l.r AS DOUBLE)), 0.0)
       |    + COALESCE(1.0 / (60.0 + CAST(d.r AS DOUBLE)), 0.0) AS rrf
       |  FROM lex20 l FULL OUTER JOIN den20 d
       |    ON l.qid = d.qid AND l.doc_id = d.doc_id),
       |rk AS (
       |  SELECT qid, doc_id, rrf,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id)
       |      AS rank
       |  FROM fused)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, doc_id, rrf
       |FROM rk WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin
  }

  /** DSIR importance selection over the pinned bucket weights
    * ([[PinnedArtifacts.DsirWeights64]]): per-doc log importance = ordered
    * fold of hashed-unigram bucket counts x pinned log-ratio weights, keep
    * the top-100 (score desc, doc_id). The ln lives in the trainer; query
    * arithmetic is exact-integer counts times identical literal doubles.
    */
  def dsirSample(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    graft.operators.Sampling.dsirTopN(docs, col("doc_id"), col("text"),
        PinnedArtifacts.DsirWeights64, n = 100)
      .select(col("id").as("doc_id"), col("score"))
      .orderBy(col("doc_id"))
  }

  val dsirSampleOracle: String =
    s"""WITH wt(b, w) AS (VALUES
       |${PinnedArtifacts.dsirWeightsSqlValues}
       |),
       |tok AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(term), 1, 8))::BIGINT % 64 AS b
       |  FROM (SELECT doc_id,
       |          unnest(string_split_regex(trim(text), '\\s+')) AS term
       |        FROM documents WHERE trim(text) <> '')),
       |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM tok GROUP BY 1, 2),
       |contrib AS (
       |  SELECT doc_id, bc.b, CAST(c AS DOUBLE) * wt.w AS cw
       |  FROM bc JOIN wt ON wt.b = bc.b),
       |sc AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(0.0, list(cw ORDER BY b)),
       |      (a, x) -> a + x) AS score
       |  FROM contrib GROUP BY 1),
       |alldocs AS (
       |  SELECT d.doc_id, COALESCE(sc.score, 0.0) AS score
       |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
       |r AS (
       |  SELECT doc_id, score,
       |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
       |  FROM alldocs)
       |SELECT doc_id, score FROM r WHERE rk <= 100
       |ORDER BY doc_id""".stripMargin

  /** Winnowing fingerprints exploded to (doc_id, fp) rows — the oracle
    * recomputes the k-shingle hash sequence and per-window minima in SQL.
    */
  def winnowFps(s: SparkSession, dir: String): DataFrame = {
    T(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.operators.Dedup.winnowFingerprints(col("text"), 3, 4)).as("fp"))
      .orderBy(col("doc_id"), col("fp"))
  }

  val winnowFpsOracle: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |         ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END AS shingles
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)
      |), h AS (
      |  SELECT doc_id,
      |    list_transform(shingles, s -> ('0x' || substring(md5(s), 1, 8))::BIGINT) AS hs
      |  FROM sh
      |), w AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
      |         ELSE list_transform(range(0, len(hs) - 3), i -> list_min(hs[i+1:i+4])) END
      |  ) AS fps
      |  FROM h)
      |SELECT doc_id, unnest(fps) AS fp
      |FROM w
      |ORDER BY doc_id, fp""".stripMargin

  // ------------------------------------------------------------- multimodal

  /** Multimodal plumbing end-to-end: text bytes stand in for media payloads
    * (binary column), the batched stub codec extracts typed metadata, and
    * deterministic frame sampling hashes the first "frame". The oracle
    * recomputes the md5-derived stub outputs — documents are ASCII, so char
    * offsets equal byte offsets.
    */
  def mmDecodeMeta(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    graft.operators.Multimodal.decodeMeta(docs, col("payload"))
      .withColumn("frames", graft.operators.Multimodal.sampleFrames(col("payload"), 4))
      .select(col("doc_id"),
        col("meta.format").as("format"), col("meta.width").as("width"),
        col("meta.height").as("height"), col("meta.n_frames").as("n_frames"),
        col("meta.n_bytes").as("n_bytes"),
        size(col("frames")).as("n_sampled"),
        md5(element_at(col("frames"), 1)).as("frame0_md5"))
      .orderBy(col("doc_id"))
  }

  val mmDecodeMetaOracle: String =
    """WITH h AS (
      |  SELECT doc_id, text,
      |    ('0x' || substring(md5(text), 1, 8))::BIGINT AS h32,
      |    strlen(text) AS nb,
      |    CAST(ceil(strlen(text) / 256.0) AS INTEGER) AS nf
      |  FROM documents)
      |SELECT doc_id,
      |  (['jpeg', 'png', 'webp'])[CAST(h32 % 3 AS INTEGER) + 1] AS format,
      |  CAST(64 + h32 % 512 AS INTEGER) AS width,
      |  CAST(64 + (h32 // 512) % 512 AS INTEGER) AS height,
      |  nf AS n_frames,
      |  CAST(nb AS INTEGER) AS n_bytes,
      |  CAST(len(list_distinct(list_transform(range(0, 4), i ->
      |    least(i * greatest(nf // 4, 1), nf - 1)))) AS INTEGER) AS n_sampled,
      |  md5(substring(text, 1, 256)) AS frame0_md5
      |FROM h
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- sequence packing

  /** Greedy token-budget sequence packing per source shard (budget 512):
    * deterministic pack assignment via one shuffle + partition-local
    * streaming pass. The oracle replays the same greedy walk with a
    * recursive CTE over per-source row numbers.
    */
  def packSequences(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packGreedy(
        T(s, dir, "documents").select(col("source"), col("doc_id"),
          TextFunctions.tokenCountWs(col("text")).as("n_tok")),
        col("source"), col("doc_id"), col("n_tok"), budget = 512L)
      .select(col("group").as("source"), col("ord").as("doc_id"),
        col("size").as("n_tok"), col("pack_id"))
      .orderBy(col("source"), col("doc_id"))

  val packSequencesOracle: String =
    """WITH RECURSIVE t AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, n_tok, rn, CAST(1 AS BIGINT) AS pack_id,
      |    n_tok AS acc
      |  FROM t WHERE rn = 1
      |  UNION ALL
      |  SELECT t.source, t.doc_id, t.n_tok, t.rn,
      |    CASE WHEN r.acc + t.n_tok > 512 THEN r.pack_id + 1 ELSE r.pack_id END,
      |    CASE WHEN r.acc + t.n_tok > 512 THEN t.n_tok ELSE r.acc + t.n_tok END
      |  FROM r JOIN t ON t.source = r.source AND t.rn = r.rn + 1)
      |SELECT source, doc_id, n_tok, pack_id
      |FROM r
      |ORDER BY source, doc_id""".stripMargin

  /** Packing efficiency report per source shard: packs produced, sequences
    * and token mass packed, and the fill ratio against the ideal
    * (tokens / (packs × budget)) — the number that says whether the greedy
    * budget is leaving GPU batch capacity on the table. Exact integer
    * counts + integer-ratio double.
    */
  def packingStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packGreedy(
        T(s, dir, "documents").select(col("source"), col("doc_id"),
          TextFunctions.tokenCountWs(col("text")).as("n_tok")),
        col("source"), col("doc_id"), col("n_tok"), budget = 512L)
      .groupBy(col("group").as("source"))
      .agg(max(col("pack_id")).as("n_packs"),
        count(lit(1)).as("n_seqs"),
        sum(col("size")).as("n_tokens"))
      .select(col("source"), col("n_packs"), col("n_seqs"), col("n_tokens"),
        (col("n_tokens").cast("double") /
          (col("n_packs") * lit(512L)).cast("double")).as("fill_ratio"))
      .orderBy(col("source"))

  val packingStatsOracle: String =
    """WITH RECURSIVE t AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, n_tok, rn, CAST(1 AS BIGINT) AS pack_id,
      |    n_tok AS acc
      |  FROM t WHERE rn = 1
      |  UNION ALL
      |  SELECT t.source, t.doc_id, t.n_tok, t.rn,
      |    CASE WHEN r.acc + t.n_tok > 512 THEN r.pack_id + 1 ELSE r.pack_id END,
      |    CASE WHEN r.acc + t.n_tok > 512 THEN t.n_tok ELSE r.acc + t.n_tok END
      |  FROM r JOIN t ON t.source = r.source AND t.rn = r.rn + 1)
      |SELECT source, CAST(MAX(pack_id) AS BIGINT) AS n_packs,
      |  CAST(COUNT(*) AS BIGINT) AS n_seqs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_tok) AS DOUBLE) / CAST(MAX(pack_id) * 512 AS DOUBLE) AS fill_ratio
      |FROM r
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // --------------------------------------------------- cross-doc segment dedup

  /** C4-style cross-document segment dedup on 16-token segments, keeping
    * only globally-unique segments (maxDf = 1): exact-duplicate documents
    * share every aligned segment, so their content empties out; unique docs
    * survive untouched. Doc-level md5 keeps the compare compact.
    */
  /** Cross-document boilerplate removal over CONTENT-DEFINED chunks: a
    * duplicated passage chunks identically wherever it sits, so the df
    * count catches offset-shifted boilerplate that stride-aligned fixed
    * windows ([[segmentDedupQ]]) miss. Same df/broadcast/reassembly
    * shape; the oracle replays CDC boundaries + df + ordered
    * reassembly.
    */
  def cdcSegmentDedupQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.cdcSegmentDedup(
        T(s, dir, "documents"), col("doc_id"), col("text"),
        shingleK = 3, maskBits = 6, maxDf = 1L)
      .select(col("id").as("doc_id"), col("n_seg"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy(col("doc_id"))

  val cdcSegmentDedupOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
      |         ELSE string_split_regex(trim(text), '\s+') END AS w
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, w,
      |    [1] || coalesce(list_filter(range(2, greatest(len(w) - 3 + 2, 2)),
      |      i -> ('0x' || substring(md5(array_to_string(w[i:i+2], ' ')), 1, 8))::BIGINT % 64 = 0),
      |      []) AS starts
      |  FROM t),
      |seg AS (
      |  SELECT doc_id, idx AS cid,
      |    array_to_string(w[s:e-1], ' ') AS seg
      |  FROM (
      |    SELECT doc_id, w,
      |      unnest(list_transform(range(1, len(starts) + 1), j -> struct_pack(
      |        idx := j,
      |        s := starts[j],
      |        e := coalesce(starts[j + 1], len(w) + 1))), recursive := true)
      |    FROM b) x),
      |dfs AS (SELECT seg AS sv, COUNT(DISTINCT doc_id) AS df FROM seg GROUP BY seg)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_seg,
      |  CAST(SUM(CASE WHEN df <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  md5(COALESCE(string_agg(CASE WHEN df <= 1 THEN seg END, ' '
      |    ORDER BY cid), '')) AS clean_md5
      |FROM seg JOIN dfs ON seg.seg = dfs.sv
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  def segmentDedupQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.segmentDedup(
        T(s, dir, "documents"), col("doc_id"), col("text"),
        window = 16, maxDf = 1L)
      .select(col("id").as("doc_id"), col("n_seg"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy(col("doc_id"))

  val segmentDedupOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |n AS (SELECT doc_id, toks, len(toks) AS nt FROM t),
      |seg AS (
      |  SELECT doc_id, cid,
      |    array_to_string(toks[(cid*16+1):(cid*16+16)], ' ') AS seg
      |  FROM (SELECT doc_id, toks, unnest(range(0,
      |      CASE WHEN nt <= 16 THEN 1
      |           ELSE CAST(ceil((nt - 16)::DOUBLE / 16) AS BIGINT) + 1 END)) AS cid
      |    FROM n) x),
      |dfs AS (SELECT seg AS sv, COUNT(DISTINCT doc_id) AS df FROM seg GROUP BY seg)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_seg,
      |  CAST(SUM(CASE WHEN df <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  md5(COALESCE(string_agg(CASE WHEN df <= 1 THEN seg END, ' '
      |    ORDER BY cid), '')) AS clean_md5
      |FROM seg JOIN dfs ON seg.seg = dfs.sv
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin
}
