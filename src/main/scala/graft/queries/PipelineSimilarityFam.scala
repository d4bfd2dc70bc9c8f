package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Similarity.{Index, pqCodebook, search}

/** Similarity-search entries (brute force, LSH, IVF, PQ, bitext) — one slice of the [[Pipeline]] registry (the
  * monolithic Pipeline.scala split per-family in round 16, zero
  * behavior change; `Pipeline.all` still assembles every entry).
  */
trait PipelineSimilarityFam extends PipelineDedupFam {
  // ------------------------------------------------------------- similarity

  /** DuckDB: strict left-to-right double-fold cosine between embedding lists
    * `$a` and `$b` — bit-identical to the engine's CosineSimilarity codegen
    * (three independent accumulators folded in index order).
    */
  private[queries] def cosSql(a: String, b: String): String =
    s"""(list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)
       | / (sqrt(list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $a[i]::DOUBLE), (x, y) -> x + y))
       |    * sqrt(list_reduce(list_transform(range(1, len($b) + 1), i -> $b[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y))))""".stripMargin.replace("\n", "")

  /** DuckDB norms CTE (named `n`): per-vector norm precomputed once;
    * `a.nrm * b.nrm` is bit-identical to the engine's
    * `sqrt(nx) * sqrt(ny)` per pair.
    */
  private[queries] val normsCte =
    """n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)) AS nrm
      |  FROM embeddings)""".stripMargin

  /** ONE copy of the pinned-centroid oracle CTE (named `cent`, columns
    * cid/embedding/nrm over [[PinnedArtifacts.ivfCentroidsSqlValues]]) —
    * shared by all five pinned-quantizer oracles so the norm formula and
    * literal rendering can never desynchronize between them (the
    * `normsCte` pattern).
    */
  private[queries] val pinnedCentCte: String =
    s"""cent AS (
       |  SELECT cid, embedding,
       |    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
       |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)) AS nrm
       |  FROM (VALUES
       |${PinnedArtifacts.ivfCentroidsSqlValues}
       |  ) AS c(cid, embedding))""".stripMargin

  private[queries] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a.embedding) + 1),
       |      i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE), (x, y) -> x + y)""".stripMargin

  /** Embedding-cosine near-dup pairs (exact all-pairs at this scale; the
    * LSH-bucketed variant is the 100 TB path, unit-tested for
    * candidates ⊆ exact + exact precision).
    */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.embeddingPairsExact(
        T(s, dir, "embeddings"), col("vec_id"), col("embedding"), threshold = 0.45)
      .orderBy(col("id_a"), col("id_b"))

  /** Semantic decontamination report
    * ([[graft.operators.Dedup.semanticDecontaminate]]): the corpus
    * (vec_id % 149 != 0) screened against a benchmark needle set
    * (vec_id % 149 == 0) in embedding space — per doc, the closest
    * needle, its cosine, and the contamination flag at 0.5. The oracle
    * replays every (doc, needle) cosine and picks the (cos desc,
    * needle_id) argmax — identical to the engine's max/max_by with the
    * same tie-break.
    */
  def semanticDecontaminateQ(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    // the needle set is additionally bounded below the stress replica
    // stride (a no-op at every oracle SF): a benchmark is FIXED-SIZE in
    // production, so the stress rows must measure corpus growth against
    // fixed needles, not a harness-scaled needle set
    graft.operators.Dedup.semanticDecontaminate(
        emb.filter(col("vec_id") % 149 =!= 0), col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") % 149 === 0 &&
          col("vec_id") < graft.Stress.IdStride),
        col("vec_id"), col("embedding"),
        threshold = 0.5)
      .select(col("id").as("vec_id"), col("worst_needle"), col("max_cos"),
        col("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** The scale path of [[semanticDecontaminateQ]] hash-gated: the same
    * screen served through the SRP-bucketed variant
    * ([[graft.operators.Dedup.semanticDecontaminateLsh]], 8 bits, 1-bit
    * needle-side multiprobe). Candidates are exactly the (doc, needle)
    * pairs whose buckets differ in ≤ 1 bit, so the oracle replays the
    * md5-plane buckets (the `sim_lsh_multiprobe` machinery) and the
    * per-doc argmax over those candidates; docs with no candidate keep
    * their all-null clean row via the left join.
    */
  def semanticDecontaminateLshQ(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Dedup.semanticDecontaminateLsh(
        emb.filter(col("vec_id") % 149 =!= 0), col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") % 149 === 0 &&
          col("vec_id") < graft.Stress.IdStride),
        col("vec_id"), col("embedding"),
        threshold = 0.5, bits = 8, multiProbe = true)
      .select(col("id").as("vec_id"), col("worst_needle"), col("max_cos"),
        col("contaminated"))
      .orderBy(col("vec_id"))
  }

  val semanticDecontaminateLshOracle: String =
    s"""WITH buckets AS (
       |  SELECT vec_id, embedding,
       |    list_sum(list_transform(range(0, 8), j ->
       |      CASE WHEN list_reduce(
       |          list_transform(range(1, len(embedding) + 1), i ->
       |            embedding[i]::DOUBLE *
       |            (('0x' || substring(md5('plane:' || j || ':' || (i - 1)), 1, 8))::BIGINT::DOUBLE
       |             / 2147483648.0 - 1.0)),
       |          (x, y) -> x + y) > 0
       |      THEN 1::BIGINT << j ELSE 0 END)) AS bucket
       |  FROM embeddings
       |),
       |nd AS (
       |  SELECT vec_id AS needle_id, embedding AS nv, bucket AS nb
       |  FROM buckets
       |  WHERE vec_id % 149 = 0 AND vec_id < ${graft.Stress.IdStride}),
       |cp AS (
       |  SELECT vec_id, embedding, bucket FROM buckets
       |  WHERE vec_id % 149 <> 0),
       |sc AS (
       |  SELECT cp.vec_id, nd.needle_id,
       |    ${cosSql("cp.embedding", "nd.nv")} AS cos
       |  FROM cp JOIN nd ON bit_count(xor(cp.bucket, nd.nb)) <= 1),
       |r AS (
       |  SELECT vec_id, needle_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, needle_id) AS rk
       |  FROM sc)
       |SELECT b.vec_id, r.needle_id AS worst_needle, r.cos AS max_cos,
       |  COALESCE(r.cos >= CAST('0.5' AS DOUBLE), FALSE) AS contaminated
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 149 <> 0) b
       |LEFT JOIN r ON r.vec_id = b.vec_id AND r.rk = 1
       |ORDER BY b.vec_id""".stripMargin

  val semanticDecontaminateOracle: String =
    s"""WITH nd AS (
       |  SELECT vec_id AS needle_id, embedding AS nv
       |  FROM embeddings
       |  WHERE vec_id % 149 = 0 AND vec_id < ${graft.Stress.IdStride}),
       |cp AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 149 <> 0),
       |sc AS (
       |  SELECT cp.vec_id, nd.needle_id,
       |    ${cosSql("cp.embedding", "nd.nv")} AS cos
       |  FROM cp CROSS JOIN nd),
       |r AS (
       |  SELECT vec_id, needle_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, needle_id) AS rk
       |  FROM sc)
       |SELECT vec_id, needle_id AS worst_needle, cos AS max_cos,
       |  cos >= CAST('0.5' AS DOUBLE) AS contaminated
       |FROM r WHERE rk = 1
       |ORDER BY vec_id""".stripMargin

  val dedupEmbeddingOracle: String =
    s"""WITH $normsCte
       |SELECT id_a, id_b, cos FROM (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${dotSql("a", "b")} / (a.nrm * b.nrm) AS cos
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id) t
       |WHERE cos >= 0.45
       |ORDER BY id_a, id_b""".stripMargin

  /** Deterministic per-label centroid/variance over the embedding corpus
    * ([[graft.operators.EmbeddingStats.labelCentroids]]): the fixed-point
    * sum makes the per-dimension mean independent of partitioning and
    * engine — the property a corpus-drift audit needs. The oracle
    * requantizes every element at the same 2^24 / 2^20 scales and replays
    * the exact integer sums.
    */
  def labelCentroidsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.EmbeddingStats.labelCentroids(
        T(s, dir, "embeddings"), col("label"), col("embedding"))
      .orderBy(col("label"), col("dim"))

  /** Shared oracle CTE prefix: per-(label, dim) exact fixed-point sums. */
  private[queries] val centroidSumsCte: String =
    """e1 AS (
      |  SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
      |  FROM embeddings),
      |e AS (
      |  SELECT label, CAST(i - 1 AS INTEGER) AS dim,
      |    CAST(round(embedding[i]::DOUBLE * 16777216.0) AS BIGINT) AS qm,
      |    CAST(round(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1048576.0)
      |      AS BIGINT) AS qs
      |  FROM e1),
      |a AS (
      |  SELECT label, dim, COUNT(*) AS n, SUM(qm) AS sm, SUM(qs) AS ss
      |  FROM e GROUP BY 1, 2)""".stripMargin

  val labelCentroidsOracle: String =
    s"""WITH $centroidSumsCte
       |SELECT label, dim, CAST(n AS BIGINT) AS n,
       |  CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 16777216.0) AS mean,
       |  CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0)
       |    - (CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 16777216.0))
       |      * (CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 16777216.0))
       |    AS variance
       |FROM a ORDER BY label, dim""".stripMargin

  /** Top-25 embedding outliers by squared L2 from their own label's
    * deterministic centroid — the mislabeled/noisy-encode screen. The
    * per-row distance folds in dimension order (within-row, so no
    * cross-row float ordering exists); the oracle replays centroid,
    * fold, and the (dist2 desc, vec_id) cut.
    */
  def embeddingOutliersQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.EmbeddingStats.embeddingOutliers(
        T(s, dir, "embeddings"), col("vec_id"), col("label"),
        col("embedding"), k = 25)
      .orderBy(col("vec_id"))

  val embeddingOutliersOracle: String =
    s"""WITH $centroidSumsCte,
       |cent AS (
       |  SELECT label, list(mean ORDER BY dim) AS c FROM (
       |    SELECT label, dim,
       |      CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 16777216.0) AS mean
       |    FROM a)
       |  GROUP BY label),
       |d AS (
       |  SELECT v.vec_id, v.label,
       |    list_reduce(list_prepend(0.0,
       |      list_transform(range(1, len(v.embedding) + 1),
       |        i -> (v.embedding[i]::DOUBLE - c.c[i])
       |           * (v.embedding[i]::DOUBLE - c.c[i]))),
       |      (acc, x) -> acc + x) AS dist2
       |  FROM embeddings v JOIN cent c ON c.label = v.label),
       |r AS (
       |  SELECT vec_id, label, dist2,
       |    ROW_NUMBER() OVER (ORDER BY dist2 DESC, vec_id) AS rk
       |  FROM d)
       |SELECT vec_id, label, dist2, CAST(rk AS INTEGER) AS rank
       |FROM r WHERE rk <= 25
       |ORDER BY vec_id""".stripMargin

  /** Label-cluster silhouette audit
    * ([[graft.operators.EmbeddingStats.silhouetteReport]]): per label,
    * simplified (centroid) silhouette under cosine distance against the
    * deterministic fixed-point label centroids — mean_sil near 0 flags an
    * unseparable class, n_negative counts per-point mislabel signals. The
    * oracle rebuilds the centroids from [[centroidSumsCte]], replays the
    * float cast + the [[org.apache.spark.sql.graft.CosineSimilarity]]
    * index-order fold per (vector, centroid), and the fixed-point mean.
    */
  def clusterSilhouetteQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.EmbeddingStats.silhouetteReport(
        T(s, dir, "embeddings"), col("label"), col("embedding"))
      .orderBy(col("label"))

  val clusterSilhouetteOracle: String =
    s"""WITH $centroidSumsCte,
       |cent AS (
       |  SELECT label, list(CAST(mean AS FLOAT) ORDER BY dim) AS c FROM (
       |    SELECT label, dim,
       |      CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 16777216.0) AS mean
       |    FROM a)
       |  GROUP BY label),
       |cn AS (
       |  SELECT label, c,
       |    sqrt(list_reduce(list_transform(range(1, len(c) + 1),
       |      i -> c[i]::DOUBLE * c[i]::DOUBLE), (x, y) -> x + y)) AS cnrm
       |  FROM cent),
       |vn AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
       |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE),
       |      (x, y) -> x + y)) AS vnrm
       |  FROM embeddings),
       |d AS (
       |  SELECT v.vec_id, v.label AS vlabel, c.label AS clabel,
       |    CASE WHEN v.vnrm = 0 OR c.cnrm = 0 THEN NULL
       |         ELSE 1.0 - (list_reduce(list_transform(
       |             range(1, len(v.embedding) + 1),
       |             i -> v.embedding[i]::DOUBLE * c.c[i]::DOUBLE),
       |             (x, y) -> x + y) / (v.vnrm * c.cnrm)) END AS dd
       |  FROM vn v CROSS JOIN cn c),
       |ab AS (
       |  SELECT vec_id, vlabel,
       |    MAX(CASE WHEN clabel = vlabel THEN dd END) AS ad,
       |    MIN(CASE WHEN clabel <> vlabel THEN dd END) AS bd
       |  FROM d GROUP BY 1, 2),
       |sv AS (
       |  SELECT vlabel,
       |    CASE WHEN greatest(ad, bd) = 0 THEN 0.0
       |         ELSE (bd - ad) / greatest(ad, bd) END AS sil
       |  FROM ab WHERE ad IS NOT NULL AND bd IS NOT NULL)
       |SELECT vlabel AS label, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CAST(round(sil * 16777216.0) AS BIGINT)) AS DOUBLE)
       |    / (CAST(COUNT(*) AS DOUBLE) * 16777216.0) AS mean_sil,
       |  MIN(sil) AS min_sil, MAX(sil) AS max_sil,
       |  CAST(SUM(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_negative
       |FROM sv GROUP BY 1 ORDER BY label""".stripMargin

  /** Full d×d covariance matrix
    * ([[graft.operators.EmbeddingStats.embeddingCovariance]]): one-pass
    * exact integer moments at 2^20 fixed point, each entry a fixed
    * two-operand IEEE chain over exactly-representable longs. The oracle
    * rebuilds n / S_i / P_ij from raw vectors and replays the chain.
    */
  def embeddingCovarianceQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.EmbeddingStats.embeddingCovariance(
        T(s, dir, "embeddings"), col("embedding"), bits = 20)
      .orderBy(col("dim_i"), col("dim_j"))

  val embeddingCovarianceOracle: String =
    """WITH e1 AS (
      |  SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
      |    CAST(round(embedding[i]::DOUBLE * 1048576.0) AS BIGINT) AS qv
      |  FROM e1),
      |-- engine-side reduce skips null vectors; count the same population
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
      |       WHERE embedding IS NOT NULL),
      |s AS (SELECT dim, CAST(SUM(qv) AS BIGINT) AS sv FROM q GROUP BY dim),
      |p AS (
      |  SELECT a.dim AS dim_i, b.dim AS dim_j,
      |    CAST(SUM(a.qv * b.qv) AS BIGINT) AS pv
      |  FROM q a JOIN q b ON a.vec_id = b.vec_id
      |  GROUP BY 1, 2)
      |SELECT p.dim_i, p.dim_j, nn.n,
      |  (CAST(pv AS DOUBLE) / CAST(nn.n AS DOUBLE)
      |   - (CAST(si.sv AS DOUBLE) * CAST(sj.sv AS DOUBLE))
      |     / (CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE)))
      |  / 1099511627776.0 AS cov
      |FROM p JOIN s si ON p.dim_i = si.dim JOIN s sj ON p.dim_j = sj.dim
      |CROSS JOIN nn
      |ORDER BY dim_i, dim_j""".stripMargin

  /** SemDeDup (Abbas et al. 2023): cluster with the pinned k-means||
    * quantizer ([[PinnedArtifacts.IvfCentroids16]]), then drop docs with a
    * lower-id same-cluster neighbor at cosine >= 0.45. Output is the full
    * assignment table (id, cid, kept), so the oracle checks BOTH the
    * nearest-centroid assignment of every vector and the prune decisions.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.semanticDedup(
        T(s, dir, "embeddings"), col("vec_id"), col("embedding"),
        pinnedCentroids(s), threshold = 0.45)
      .orderBy(col("id"))

  /** The pinned k-means quantizer as a `(cid, cv)` centroid frame. */
  private def pinnedCentroids(s: SparkSession): DataFrame = {
    import s.implicits._
    PinnedArtifacts.IvfCentroids16.toDF("cid", "cv")
  }

  def dedupSemanticOracle: String =
    s"""WITH $normsCte,
       |$pinnedCentCte,
       |ccand AS (
       |  SELECT v.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${dotSql("v", "c")} / (v.nrm * c.nrm) DESC, c.cid) AS crn
       |  FROM n v CROSS JOIN cent c),
       |assign AS (SELECT vec_id, cid FROM ccand WHERE crn = 1),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM assign x JOIN assign b ON x.cid = b.cid AND x.vec_id < b.vec_id
       |  JOIN n q ON q.vec_id = x.vec_id
       |  JOIN n nb ON nb.vec_id = b.vec_id
       |  WHERE ${dotSql("q", "nb")} / (q.nrm * nb.nrm) >= 0.45)
       |SELECT a.vec_id AS id, CAST(a.cid AS BIGINT) AS cid,
       |  (d.vec_id IS NULL) AS kept
       |FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
       |ORDER BY id""".stripMargin

  /** Hard negatives for contrastive training: top-5 most-similar vectors
    * with a DIFFERENT label per query.
    */
  def simHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Similarity.hardNegatives(
        emb.filter(col("vec_id") < 20), emb, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  val simHardNegativesOracle: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    c.label AS neighbor_label,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c
       |    ON q.vec_id < 20 AND q.vec_id <> c.vec_id AND q.label <> c.label
       |), ranked AS (
       |  SELECT query_id, neighbor_id, neighbor_label, cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, neighbor_label, rank, cos
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Diverse top-5 via maximal marginal relevance: exact top-10 shortlist,
    * then greedy re-rank with weights 0.7·relevance − 0.3·max-similarity.
    */
  def simMmrTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Similarity.mmrTopK(
        emb.filter(col("vec_id") < 20), emb, k = 5, shortlist = 10,
        relWeight = 0.7, divWeight = 0.3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The greedy MMR loop unrolled to `k` argmax CTE stages — each stage
    * picks ROW_NUMBER()=1 by score (ties → smaller id) among candidates
    * not yet selected, carrying the picks forward. Identical float ops to
    * the engine (wRel·rel − wDiv·maxSim, maxSim via GREATEST), so scores
    * replay bit-identically.
    */
  private[queries] def mmrOracle(k: Int, shortlist: Int,
      wRel: String, wDiv: String): String = {
    val stages = (1 to k).map { r =>
      if (r == 1)
        s"""s1 AS (
           |  SELECT query_id, neighbor_id AS p1, score AS sc1 FROM (
           |    SELECT query_id, neighbor_id, $wRel * rel - $wDiv * 0 AS score,
           |      ROW_NUMBER() OVER (PARTITION BY query_id
           |        ORDER BY $wRel * rel - $wDiv * 0 DESC, neighbor_id) AS rn
           |    FROM cand) t WHERE rn = 1)""".stripMargin
      else {
        val carryOut = (1 until r).map(j => s"p$j, sc$j").mkString(", ")
        val carryIn = (1 until r).map(j => s"s.p$j, s.sc$j").mkString(", ")
        val simJoins = (1 until r).map(j =>
          s"""  JOIN cc m$j ON m$j.query_id = c.query_id
             |    AND m$j.ia = c.neighbor_id AND m$j.ib = s.p$j""".stripMargin)
          .mkString("\n")
        val score = s"$wRel * c.rel - $wDiv * GREATEST(${
          (1 until r).map(j => s"m$j.sim").mkString(", ")})"
        val excl = (1 until r).map(j => s"c.neighbor_id <> s.p$j")
          .mkString(" AND ")
        s"""s$r AS (
           |  SELECT query_id, $carryOut, neighbor_id AS p$r, score AS sc$r FROM (
           |    SELECT c.query_id, $carryIn, c.neighbor_id, $score AS score,
           |      ROW_NUMBER() OVER (PARTITION BY c.query_id
           |        ORDER BY $score DESC, c.neighbor_id) AS rn
           |    FROM cand c JOIN s${r - 1} s ON c.query_id = s.query_id
           |$simJoins
           |    WHERE $excl) t WHERE rn = 1)""".stripMargin
      }
    }.mkString(",\n")
    val finalSel = (1 to k).map(r =>
      s"SELECT query_id, p$r AS neighbor_id, CAST($r AS INTEGER) AS rank, sc$r AS score FROM s$k")
      .mkString("\nUNION ALL ")
    s"""WITH $normsCte,
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${dotSql("q", "c")} / (q.nrm * c.nrm) AS rel
       |  FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
       |cand AS (
       |  SELECT query_id, neighbor_id, rel FROM (
       |    SELECT query_id, neighbor_id, rel,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY rel DESC, neighbor_id) AS rn
       |    FROM scored) t WHERE rn <= $shortlist),
       |cc AS (
       |  SELECT a.query_id, a.neighbor_id AS ia, b.neighbor_id AS ib,
       |    ${dotSql("na", "nb")} / (na.nrm * nb.nrm) AS sim
       |  FROM cand a JOIN cand b ON a.query_id = b.query_id
       |    AND a.neighbor_id <> b.neighbor_id
       |  JOIN n na ON na.vec_id = a.neighbor_id
       |  JOIN n nb ON nb.vec_id = b.neighbor_id),
       |$stages
       |$finalSel
       |ORDER BY query_id, rank""".stripMargin
  }

  val simMmrTopkOracle: String = mmrOracle(5, 10, "0.7", "0.3")

  /** Cluster-balanced subsample: nearest-centroid assignment over the
    * pinned quantizer, then exactly 10 vectors per cluster by md5 rank —
    * the diversity-preserving selection companion to [[dedupSemantic]].
    */
  def samplePerCluster(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.clusterBalancedSample(
        T(s, dir, "embeddings"), col("vec_id"), col("embedding"),
        pinnedCentroids(s), nPerCluster = 10)
      .orderBy(col("cid"), col("id"))

  def samplePerClusterOracle: String =
    s"""WITH $normsCte,
       |$pinnedCentCte,
       |ccand AS (
       |  SELECT v.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${dotSql("v", "c")} / (v.nrm * c.nrm) DESC, c.cid) AS crn
       |  FROM n v CROSS JOIN cent c),
       |assign AS (SELECT vec_id, cid FROM ccand WHERE crn = 1),
       |ranked AS (
       |  SELECT cid, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY cid
       |      ORDER BY ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
       |               vec_id) AS rk
       |  FROM assign)
       |SELECT CAST(cid AS BIGINT) AS cid, vec_id AS id
       |FROM ranked WHERE rk <= 10
       |ORDER BY cid, id""".stripMargin

  /** The shared shape of the `sim_*` search entries: top-5 of the first 20
    * embeddings against the whole table under `index`, which is built over
    * that table.
    */
  private def searchTop5(s: SparkSession, dir: String)(
      index: DataFrame => Index): DataFrame = {
    val emb = T(s, dir, "embeddings")
    search(emb.filter(col("vec_id") < 20), emb, k = 5, index(emb))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-Flat top-5 over the PINNED trained quantizer at nprobe = 3 —
    * wider probing than `sim_ivf_trained`'s nprobe = 2, so the two
    * entries gate different probe fan-outs of the same fixed-K plan.
    * `sim_ivfpq_topk`'s COARSE quantizer is pinned too — every registry
    * IVF coarse assignment runs against a fixed-size trained centroid
    * broadcast, the shape that scales (n×K map-side assignment, K
    * constant in n). The PQ CODEBOOKS of `sim_pq_topk` /
    * `sim_ivfpq_topk` remain the documented modulus-sampled fixture
    * (fixed 128 entries, capped — deterministic and size-bounded, so not
    * a scale risk; [[graft.operators.Similarity.pqCodebookTrained]] is
    * the production training path).
    */
  def simIvf(s: SparkSession, dir: String): DataFrame =
    searchTop5(s, dir)(_ =>
      Index.Ivf(pinnedCentroids(s), nprobe = 3, Index.Exact))

  /** IVF with a TRAINED fixed-size quantizer — the production/scale path:
    * centroid count stays K as the corpus grows, so map-side assignment is
    * n×K (linear in n). Since round 18 `sim_ivf_topk` runs the same pinned
    * quantizer (at nprobe = 3); the modulus sampler is spec-only. The
    * quantizer is INJECTED from [[PinnedArtifacts.IvfCentroids16]] (k-means||
    * run once by [[graft.tools.TrainArtifacts]] and pinned as literals —
    * the "ship the trained quantizer as a build artifact" pattern), so the
    * post-training plan is fully deterministic and the oracle replays
    * assignment + probing over the same literal centroid table. Training
    * itself stays spec-gated (SimilaritySpec on `trainCentroids`).
    */
  def simIvfTrained(s: SparkSession, dir: String): DataFrame =
    searchTop5(s, dir)(_ =>
      Index.Ivf(pinnedCentroids(s), nprobe = 2, Index.Exact))

  /** ONE pinned-quantizer IVF oracle, parametrized by probe fan-out —
    * `sim_ivf_trained` (nprobe = 2) and `sim_ivf_topk` (nprobe = 3) replay
    * the identical assignment + probing chain over the same literal
    * centroid table, so the two entries cannot drift.
    */
  private def ivfPinnedOracle(nprobe: Int): String =
    s"""WITH $normsCte,
       |$pinnedCentCte,
       |ccand AS (
       |  SELECT v.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${dotSql("v", "c")} / (v.nrm * c.nrm) DESC, c.cid) AS crn
       |  FROM n v CROSS JOIN cent c),
       |assign AS (SELECT vec_id AS neighbor_id, cid FROM ccand WHERE crn = 1),
       |probes AS (SELECT vec_id AS query_id, cid FROM ccand WHERE crn <= $nprobe AND vec_id < 20),
       |scored AS (
       |  SELECT p.query_id, a.neighbor_id, ${dotSql("q", "nb")} / (q.nrm * nb.nrm) AS cos
       |  FROM probes p
       |  JOIN assign a ON a.cid = p.cid
       |  JOIN n q ON q.vec_id = p.query_id
       |  JOIN n nb ON nb.vec_id = a.neighbor_id
       |  WHERE a.neighbor_id <> p.query_id)
       |SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  def simIvfTrainedOracle: String = ivfPinnedOracle(2)

  def simIvfOracle: String = ivfPinnedOracle(3)

  /** ANN index acceptance gate ([[graft.operators.Similarity.recallReport]]):
    * recall@5 of the pinned-quantizer IVF (nprobe = 2) against exact
    * brute force on the same probe set — per-query hit counts and the
    * exact-integer-ratio recall. The oracle replays BOTH sides (the
    * brute-force ranking and the centroid-assignment + probe chain over
    * the same pinned literals) and intersects them.
    */
  def annRecallQ(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 20)
    graft.operators.Similarity.recallReport(
        search(probes, emb, k = 5, Index.Exact),
        search(probes, emb, k = 5,
          Index.Ivf(pinnedCentroids(s), nprobe = 2, Index.Exact)))
      .orderBy(col("query_id"))
  }

  val annRecallOracle: String =
    s"""WITH $normsCte,
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, nb.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${dotSql("q", "nb")} / (q.nrm * nb.nrm) DESC,
       |                 nb.vec_id) AS rk
       |    FROM n q JOIN n nb ON q.vec_id < 20 AND q.vec_id <> nb.vec_id) t
       |  WHERE rk <= 5),
       |$pinnedCentCte,
       |ccand AS (
       |  SELECT v.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${dotSql("v", "c")} / (v.nrm * c.nrm) DESC, c.cid) AS crn
       |  FROM n v CROSS JOIN cent c),
       |assign AS (SELECT vec_id AS neighbor_id, cid FROM ccand WHERE crn = 1),
       |probes AS (SELECT vec_id AS query_id, cid FROM ccand
       |           WHERE crn <= 2 AND vec_id < 20),
       |ap AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT p.query_id, a.neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.query_id
       |        ORDER BY ${dotSql("q", "nb")} / (q.nrm * nb.nrm) DESC,
       |                 a.neighbor_id) AS rk
       |    FROM probes p
       |    JOIN assign a ON a.cid = p.cid
       |    JOIN n q ON q.vec_id = p.query_id
       |    JOIN n nb ON nb.vec_id = a.neighbor_id
       |    WHERE a.neighbor_id <> p.query_id) t
       |  WHERE rk <= 5),
       |hits AS (
       |  SELECT query_id, COUNT(*) AS n_hit FROM (
       |    SELECT * FROM ex INTERSECT SELECT * FROM ap) GROUP BY 1),
       |ne AS (SELECT query_id, COUNT(*) AS n_exact FROM ex GROUP BY 1)
       |SELECT ne.query_id, ne.n_exact,
       |  COALESCE(h.n_hit, 0) AS n_hit,
       |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(ne.n_exact AS DOUBLE)
       |    AS recall
       |FROM ne LEFT JOIN hits h ON h.query_id = ne.query_id
       |ORDER BY ne.query_id""".stripMargin

  /** Matryoshka truncation audit
    * ([[graft.operators.Similarity.matryoshkaRecall]]): recall@5 of
    * brute-force search over the 8-, 16- and 32-dim prefixes of the 64-dim
    * embeddings against full-dim brute force, on the ann_recall probe set
    * (vec_id < 20) — the storage-tier acceptance gate. The oracle replays
    * both rankings per prefix (norms over the sliced vectors, the same
    * index-order fold) and intersects, as in [[annRecallOracle]].
    */
  def matryoshkaAuditQ(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Similarity.matryoshkaRecall(
        emb.filter(col("vec_id") < 20), emb, prefixDims = Seq(8, 16, 32), k = 5)
      .orderBy(col("m"), col("query_id"))
  }

  private def matryoshkaApCte(m: Int): String =
    s"""n$m AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
       |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)) AS nrm
       |  FROM (SELECT vec_id, embedding[1:$m] AS embedding FROM embeddings)),
       |ap$m AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, nb.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${dotSql("q", "nb")} / (q.nrm * nb.nrm) DESC,
       |                 nb.vec_id) AS rk
       |    FROM n$m q JOIN n$m nb ON q.vec_id < 20 AND q.vec_id <> nb.vec_id) t
       |  WHERE rk <= 5)""".stripMargin

  private def matryoshkaReportSql(m: Int): String =
    s"""SELECT $m AS m, ne.query_id, ne.n_exact,
       |  COALESCE(h.n_hit, 0) AS n_hit,
       |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(ne.n_exact AS DOUBLE)
       |    AS recall
       |FROM ne LEFT JOIN (
       |  SELECT query_id, COUNT(*) AS n_hit FROM (
       |    SELECT * FROM ex INTERSECT SELECT * FROM ap$m) GROUP BY 1) h
       |ON h.query_id = ne.query_id""".stripMargin

  val matryoshkaAuditOracle: String =
    s"""WITH $normsCte,
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, nb.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${dotSql("q", "nb")} / (q.nrm * nb.nrm) DESC,
       |                 nb.vec_id) AS rk
       |    FROM n q JOIN n nb ON q.vec_id < 20 AND q.vec_id <> nb.vec_id) t
       |  WHERE rk <= 5),
       |ne AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
       |       FROM ex GROUP BY 1),
       |${Seq(8, 16, 32).map(matryoshkaApCte).mkString(",\n")}
       |${Seq(8, 16, 32).map(matryoshkaReportSql).mkString("\nUNION ALL\n")}
       |ORDER BY m, query_id""".stripMargin

  /** Embedding-free text similarity search end to end: documents →
    * [[graft.operators.TextIndex.hashedTfidfVectors]] (feature hashing,
    * ln-free idf, 2^20 fixed-point bucket sums, float vectors) → the
    * SAME brute-force cosine top-k the neural-embedding queries use.
    * Probes = non-blank docs with doc_id % 97 == 0, top-3. The oracle
    * replays the hashing + fixed-point sums and folds sparse dot/norm in
    * bucket order — identical to the engine's dense index-order fold
    * because the absent buckets contribute exact +0.0 no-ops.
    */
  def simHashedTfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
    val vecs = graft.operators.TextIndex.hashedTfidfVectors(
        docs, col("doc_id"), col("text"), dims = 64)
      .select(col("doc_id").as("vec_id"), col("vec").as("embedding"))
    search(
        vecs.filter(col("vec_id") % 97 === 0), vecs, k = 3, Index.Exact)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Shared replay of [[graft.operators.TextIndex.hashedTfidfVectors]] as
    * DuckDB CTEs — sparse (doc_id, b, val) vectors `vf` plus per-doc L2
    * norms `nrm`. ONE copy (the hash-bucket formula, 2^20 fixed point,
    * float cast, and fold order must stay bit-identical wherever the
    * vectors are replayed): both [[simHashedTfidfOracle]] (brute serve)
    * and [[simHashedLshOracle]] (LSH serve) build on it.
    */
  private[queries] val hashedTfidfVfCtes: String =
    """w AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents WHERE trim(text) <> ''),
      |p AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
      |dfd AS (SELECT term, COUNT(*) AS df FROM p GROUP BY 1),
      |nn AS (SELECT COUNT(*) AS n FROM documents WHERE trim(text) <> ''),
      |v AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5(term), 1, 8))::BIGINT % 64 AS b,
      |    SUM(CAST(round((CAST(tf AS DOUBLE)
      |      * (CAST(nn.n AS DOUBLE) / CAST(dfd.df AS DOUBLE)))
      |      * 1048576.0) AS BIGINT)) AS sv
      |  FROM p JOIN dfd USING (term) CROSS JOIN nn
      |  GROUP BY 1, 2),
      |vf AS (
      |  SELECT doc_id, b,
      |    CAST(CAST(sv AS DOUBLE) / 1048576.0 AS FLOAT) AS val
      |  FROM v),
      |nrm AS (
      |  SELECT doc_id,
      |    sqrt(list_reduce(list_prepend(0.0,
      |      list(CAST(val AS DOUBLE) * CAST(val AS DOUBLE) ORDER BY b)),
      |      (a, x) -> a + x)) AS nrm
      |  FROM vf GROUP BY doc_id)""".stripMargin

  val simHashedTfidfOracle: String =
    s"""WITH $hashedTfidfVfCtes,
      |dots AS (
      |  SELECT qa.doc_id AS query_id, ca.doc_id AS neighbor_id,
      |    list_reduce(list_prepend(0.0,
      |      list(CAST(qa.val AS DOUBLE) * CAST(ca.val AS DOUBLE) ORDER BY qa.b)),
      |      (a, x) -> a + x) AS dot
      |  FROM vf qa JOIN vf ca ON qa.b = ca.b
      |    AND qa.doc_id % 97 = 0 AND qa.doc_id <> ca.doc_id
      |  GROUP BY 1, 2),
      |allp AS (
      |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
      |    q.nrm AS qn, c.nrm AS cn
      |  FROM nrm q JOIN nrm c ON q.doc_id % 97 = 0 AND q.doc_id <> c.doc_id),
      |sc AS (
      |  SELECT a.query_id, a.neighbor_id,
      |    COALESCE(d.dot, 0.0) / (a.qn * a.cn) AS cos
      |  FROM allp a
      |  LEFT JOIN dots d ON d.query_id = a.query_id
      |    AND d.neighbor_id = a.neighbor_id),
      |r AS (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
      |  FROM sc)
      |SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** The 10⁹-document shape of [[simHashedTfidf]]: the SAME hashed
    * TF-IDF vectors served through the LSH searcher instead of
    * brute-force — [[graft.operators.TextIndex.hashedTfidfVectors]] →
    * [[graft.operators.Similarity.Index.Lsh]] (8-bit sign-random-projection
    * buckets, exact cosine rescoring inside the bucket). Same probe set
    * (doc_id % 97) and k as the brute entry, so the two results are
    * directly comparable and [[graft.operators.Similarity.recallReport]]
    * can gate the swap. Candidate work per query is its bucket's
    * occupancy (~corpus/2^bits), not the corpus — the composition the
    * brute-force entry's scale adjudication promises. The oracle replays
    * hashing-trick vectors (fixed-point bucket sums), SRP buckets
    * (md5-derived planes; the sparse b-ordered fold equals the engine's
    * dense index-ordered fold because absent buckets contribute exact
    * +0.0 no-ops and all tf-idf values are positive, so no -0.0 can
    * arise), and in-bucket cosine top-3.
    *
    * The probe set is additionally bounded to ids below the
    * [[graft.Stress]] replica stride (1 000 000) — a no-op at every
    * oracle SF (all real doc_ids sit far below it), but under stress
    * replication it pins the probe WORKLOAD fixed while the corpus
    * grows, so the stress rows measure the per-probe serve cost's
    * linearity rather than a harness-scaled probe count (the
    * brute-force entry's ×64 adjudication is exactly that confound).
    */
  def simHashedLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
    val vecs = graft.operators.TextIndex.hashedTfidfVectors(
        docs, col("doc_id"), col("text"), dims = 64)
      .select(col("doc_id").as("vec_id"), col("vec").as("embedding"))
    search(
        vecs.filter(col("vec_id") % 97 === 0 &&
          col("vec_id") < graft.Stress.IdStride),
        vecs, k = 3, Index.Lsh(bits = 8, multiProbe = false))
      .orderBy(col("query_id"), col("rank"))
  }

  val simHashedLshOracle: String =
    s"""WITH $hashedTfidfVfCtes,
      |dj AS (
      |  SELECT doc_id, j,
      |    list_reduce(list_prepend(0.0,
      |      list(CAST(val AS DOUBLE)
      |        * (('0x' || substring(md5('plane:' || j || ':' || b), 1, 8))::BIGINT::DOUBLE
      |           / 2147483648.0 - 1.0) ORDER BY b)),
      |      (a, x) -> a + x) AS dot
      |  FROM vf CROSS JOIN range(0, 8) AS js(j)
      |  GROUP BY doc_id, j),
      |bk AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN dot > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT)
      |      AS bucket
      |  FROM dj GROUP BY doc_id),
      |cand AS (
      |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id
      |  FROM bk q JOIN bk c ON q.bucket = c.bucket
      |    AND q.doc_id % 97 = 0 AND q.doc_id < ${graft.Stress.IdStride}
      |    AND q.doc_id <> c.doc_id),
      |dots AS (
      |  SELECT cd.query_id, cd.neighbor_id,
      |    list_reduce(list_prepend(0.0,
      |      list(CAST(qa.val AS DOUBLE) * CAST(ca.val AS DOUBLE) ORDER BY qa.b)),
      |      (a, x) -> a + x) AS dot
      |  FROM cand cd
      |  JOIN vf qa ON qa.doc_id = cd.query_id
      |  JOIN vf ca ON ca.doc_id = cd.neighbor_id AND ca.b = qa.b
      |  GROUP BY 1, 2),
      |sc AS (
      |  SELECT cand.query_id, cand.neighbor_id,
      |    COALESCE(d.dot, 0.0) / (qn.nrm * cn.nrm) AS cos
      |  FROM cand
      |  JOIN nrm qn ON qn.doc_id = cand.query_id
      |  JOIN nrm cn ON cn.doc_id = cand.neighbor_id
      |  LEFT JOIN dots d ON d.query_id = cand.query_id
      |    AND d.neighbor_id = cand.neighbor_id),
      |r AS (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
      |  FROM sc)
      |SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** Exact brute-force cosine top-5 for the first 20 vectors against the full
    * corpus: broadcast the probe set, one scan of the corpus, per-query top-k.
    */
  def simBruteForce(s: SparkSession, dir: String): DataFrame =
    searchTop5(s, dir)(_ => Index.Exact)

  val simBruteForceOracle: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND q.vec_id <> c.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, cos
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Int8-quantization error audit ([[graft.operators.EmbeddingStats
    * .quantErrorReport]]): per-label reconstruction-error distribution
    * between each L2-normalized vector and its ±127 code — the
    * acceptance gate before serving from quantized codes. The oracle
    * replays the norm fold, the half-away-from-zero code rounding (the
    * embedding_covariance convention), the per-dim error zip, the seeded
    * mse/max folds, and the discrete percentiles.
    */
  def quantErrorQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.EmbeddingStats.quantErrorReport(
        T(s, dir, "embeddings"), col("label"), col("embedding"))
      .orderBy(col("label"))

  val quantErrorOracle: String =
    """WITH v AS (
      |  SELECT label, embedding,
      |    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE),
      |      (x, y) -> x + y)) AS nrm
      |  FROM embeddings),
      |q AS (
      |  SELECT label, nrm, len(embedding) AS d,
      |    CASE WHEN nrm = 0 THEN NULL ELSE
      |      list_transform(range(1, len(embedding) + 1), i ->
      |        embedding[i]::DOUBLE / nrm -
      |        (CASE WHEN 127.0 * (embedding[i]::DOUBLE / nrm) >= 0
      |          THEN floor(127.0 * (embedding[i]::DOUBLE / nrm) + 0.5)
      |          ELSE ceil(127.0 * (embedding[i]::DOUBLE / nrm) - 0.5)
      |         END) / 127.0)
      |    END AS errs
      |  FROM v),
      |e AS (
      |  SELECT label, nrm,
      |    CASE WHEN nrm = 0 THEN NULL
      |      ELSE list_reduce(list_transform(errs, e -> e * e),
      |        (x, y) -> x + y) / d END AS mse,
      |    CASE WHEN nrm = 0 THEN NULL
      |      ELSE list_reduce(list_transform(errs, e -> abs(e)),
      |        (x, y) -> CASE WHEN x > y THEN x ELSE y END) END AS maxe
      |  FROM q)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  quantile_disc(mse, 0.5) AS mse_p50,
      |  quantile_disc(mse, 0.9) AS mse_p90,
      |  MAX(mse) AS mse_max, MAX(maxe) AS abserr_max
      |FROM e GROUP BY label
      |ORDER BY label""".stripMargin

  /** Margin-based bitext mining ([[graft.operators.Similarity
    * .marginMine]]): even-id probes aligned against the odd-id slice by
    * the LASER ratio margin `cos / ((avgK(x) + avgK(y)) / 2)`, k = 4,
    * threshold 1.3 (keeps 10-16 of 20 probes at the driver SFs — both
    * mined and unmined queries reach the gate). The oracle replays the
    * cosines, both rank-order k-NN average folds (list_reduce over the
    * (cos desc, id) slice ≡ the engine's seeded left fold), the margin
    * chain, and the argmax with its low-id tie-break.
    */
  def bitextMineQ(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Similarity.marginMine(
        emb.filter(col("vec_id") % 2 === 0 &&
          col("vec_id") < lit(graft.Stress.IdStride) &&
          col("vec_id") < 40),
        emb.filter(col("vec_id") % 2 === 1),
        Index.Exact, k = 4, threshold = 1.3)
      .orderBy(col("query_id"))
  }

  /** The LASER margin chain shared by [[bitextMineOracle]] and
    * [[bitextMineLshOracle]] (k = 4, threshold 1.3 — both entries pin
    * these): expects a `scored0(query_id, match_id, cos)` CTE defined
    * before it. Replays the ENGINE's guards exactly — NULL cosines
    * (zero-norm vectors; DuckDB's x/0 is NULL like the engine's
    * cosine_sim) drop before the k-NN lists, and only strictly positive
    * fa + ba denominators mine (marginOverPairs' degenerate-neighborhood
    * guard).
    */
  private[queries] val marginChainSql: String =
    """sc AS (SELECT query_id, match_id, cos FROM scored0
      |       WHERE cos IS NOT NULL),
      |f AS (SELECT query_id, list(cos ORDER BY cos DESC, match_id)[1:4]
      |        AS l FROM sc GROUP BY 1),
      |fa AS (SELECT query_id,
      |         list_reduce(l, (x, y) -> x + y) / len(l) AS fa FROM f),
      |b AS (SELECT match_id, list(cos ORDER BY cos DESC, query_id)[1:4]
      |        AS l FROM sc GROUP BY 1),
      |ba AS (SELECT match_id,
      |         list_reduce(l, (x, y) -> x + y) / len(l) AS ba FROM b),
      |m AS (
      |  SELECT s.query_id, s.match_id, s.cos,
      |    s.cos / ((fa.fa + ba.ba) / 2.0) AS margin,
      |    ROW_NUMBER() OVER (PARTITION BY s.query_id
      |      ORDER BY s.cos / ((fa.fa + ba.ba) / 2.0) DESC, s.match_id)
      |      AS rn
      |  FROM sc s JOIN fa USING (query_id) JOIN ba USING (match_id)
      |  WHERE fa.fa + ba.ba > 0)
      |SELECT query_id, match_id, cos, margin
      |FROM m WHERE rn = 1 AND margin >= 1.3
      |ORDER BY query_id""".stripMargin

  val bitextMineOracle: String =
    s"""WITH scored0 AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c
       |    ON q.vec_id % 2 = 0 AND q.vec_id < 40 AND c.vec_id % 2 = 1),
       |$marginChainSql""".stripMargin

  /** Bitext mining THROUGH THE LSH SHORTLIST
    * ([[graft.operators.Similarity.marginMine]] over `Index.Lsh`) — the 10⁹-candidate
    * composition path [[bitextMineQ]]'s scaladoc names: SRP buckets
    * (8 bits, 1-bit multiprobe on the query side) shortlist the pairs,
    * then the SAME margin chain ranks the shortlist. Margins differ from
    * the full scan by construction (neighborhood averages read only
    * shortlisted candidates), so this entry has its own oracle replaying
    * the bucket join (`bit_count(xor) <= 1` — the
    * [[simLshMultiprobeOracle]] replay) ahead of the margin chain.
    */
  def bitextMineLshQ(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Similarity.marginMine(
        emb.filter(col("vec_id") % 2 === 0 &&
          col("vec_id") < lit(graft.Stress.IdStride) &&
          col("vec_id") < 40),
        emb.filter(col("vec_id") % 2 === 1),
        Index.Lsh(bits = 8, multiProbe = true), k = 4, threshold = 1.3)
      .orderBy(col("query_id"))
  }

  val bitextMineLshOracle: String =
    s"""WITH buckets AS (
       |  SELECT vec_id, embedding,
       |    list_sum(list_transform(range(0, 8), j ->
       |      CASE WHEN list_reduce(
       |          list_transform(range(1, len(embedding) + 1), i ->
       |            embedding[i]::DOUBLE *
       |            (('0x' || substring(md5('plane:' || j || ':' || (i - 1)), 1, 8))::BIGINT::DOUBLE
       |             / 2147483648.0 - 1.0)),
       |          (x, y) -> x + y) > 0
       |      THEN 1::BIGINT << j ELSE 0 END)) AS bucket
       |  FROM embeddings
       |), scored0 AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM buckets q JOIN buckets c
       |    ON bit_count(xor(q.bucket, c.bucket)) <= 1
       |    AND q.vec_id % 2 = 0 AND q.vec_id < 40 AND c.vec_id % 2 = 1),
       |$marginChainSql""".stripMargin

  /** Metadata-filtered search: top-5 among ENGLISH documents only — the
    * corpus is pre-filtered by a predicate on the documents table
    * (semi-join on id), then scored by the exact scan.
    */
  def simFilteredTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val en = T(s, dir, "documents").filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    search(emb.filter(col("vec_id") < 20),
        emb.join(en, Seq("vec_id"), "left_semi"), k = 5, Index.Exact)
      .orderBy(col("query_id"), col("rank"))
  }

  val simFilteredTopkOracle: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q
       |  JOIN embeddings c ON q.vec_id < 20 AND q.vec_id <> c.vec_id
       |  JOIN documents d ON c.vec_id = d.doc_id AND d.lang = 'en'
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, cos
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Int8-quantized top-5 for the first 20 vectors: L2-normalize, round to
    * ±127 codes, rank by exact integer dot product — all integer math after
    * quantization, so the oracle reproduces scores bit-for-bit. The
    * normalize-then-round contract (left-to-right double norm fold,
    * half-away-from-zero rounding) matches DuckDB's `round` semantics.
    */
  def simQuantized(s: SparkSession, dir: String): DataFrame =
    searchTop5(s, dir)(_ => Index.Int8)

  val simQuantizedOracle: String =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)) AS nrm
      |  FROM embeddings),
      |qz AS (
      |  SELECT vec_id,
      |    list_transform(range(1, len(embedding) + 1),
      |      i -> CASE WHEN nrm = 0 THEN CAST(0 AS BIGINT)
      |           ELSE CAST(round(127 * (embedding[i]::DOUBLE / nrm)) AS BIGINT) END) AS code
      |  FROM n),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_reduce(list_transform(range(1, len(q.code) + 1),
      |      i -> q.code[i] * c.code[i]), (x, y) -> x + y) AS dot
      |  FROM qz q JOIN qz c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, dot,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY dot DESC, neighbor_id) AS INTEGER) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, rank, CAST(dot AS BIGINT) AS dot
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Product-quantization ADC top-5 (Jégou et al.): int8-quantize, split
    * into 8 subspaces, assign each sub-code its nearest entry of a
    * deterministic modulus-sampled sub-codebook by exact integer squared
    * L2, then score queries against the reconstructed codes via per-query
    * lookup tables — long arithmetic end to end, so the oracle replays
    * assignment ties, ADC sums, and ranking bit-for-bit. The packed-binary
    * scan (`Index.Ivf` over `Index.Pq` probing every cell, m bytes per
    * corpus vector = 32× compression at dims 64) is spec-gated equal to
    * this relational form.
    */
  def simPq(s: SparkSession, dir: String): DataFrame =
    searchTop5(s, dir)(emb =>
      Index.Pq(pqCodebook(emb, m = 8, entryEvery = 25), m = 8))

  val simPqOracle: String = {
    // exact integer dot of two 8-element BIGINT sub-code lists
    def idot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, 9), i -> $a[i] * $b[i]), (x, y) -> x + y)"
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
       |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)) AS nrm
       |  FROM embeddings),
       |qz AS (
       |  SELECT vec_id,
       |    list_transform(range(1, len(embedding) + 1),
       |      i -> CASE WHEN nrm = 0 THEN CAST(0 AS BIGINT)
       |           ELSE CAST(round(127 * (embedding[i]::DOUBLE / nrm)) AS BIGINT) END) AS code
       |  FROM n),
       |sq AS (
       |  SELECT vec_id, sub, code[(sub * 8 + 1):(sub * 8 + 8)] AS scode
       |  FROM qz CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) subs),
       |cbids AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS entry
       |          FROM (SELECT vec_id FROM qz WHERE vec_id % 25 = 0
       |                ORDER BY vec_id LIMIT 128)),
       |cb AS (SELECT i.entry, s.sub, s.scode
       |       FROM sq s JOIN cbids i ON i.vec_id = s.vec_id),
       |asg AS (
       |  SELECT vec_id, sub, entry FROM (
       |    SELECT x.vec_id, x.sub, c.entry,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.sub ORDER BY
       |        (${idot("x.scode", "x.scode")} - 2 * ${idot("x.scode", "c.scode")}
       |         + ${idot("c.scode", "c.scode")}), c.entry) AS rn
       |    FROM sq x JOIN cb c ON c.sub = x.sub) t
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, q.sub, c.entry, ${idot("q.scode", "c.scode")} AS pdot
       |  FROM sq q JOIN cb c ON c.sub = q.sub WHERE q.vec_id < 20),
       |scored AS (
       |  SELECT l.query_id, a.vec_id AS neighbor_id, CAST(SUM(l.pdot) AS BIGINT) AS adc
       |  FROM asg a JOIN lut l ON l.sub = a.sub AND l.entry = a.entry
       |  WHERE a.vec_id <> l.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, rank, adc FROM (
       |  SELECT query_id, neighbor_id, adc,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** IVF-PQ top-5: the PINNED k-means coarse quantizer
    * ([[PinnedArtifacts.IvfCentroids16]] — since round 19, completing the
    * round-18 migration that moved the IVF-Flat entries off the modulus
    * sampler) prunes the scan to nprobe=2 cells per query; packed PQ codes
    * (same 8-subspace codebook as `sim_pq_topk`) ADC-score the survivors.
    * The oracle replays the whole composed pipeline — double-fold cosine
    * cell assignment over the same literal centroids with its ties, int8
    * sub-code assignment, exact long ADC sums, candidate pruning, and
    * ranking — bit-for-bit.
    */
  def simIvfPq(s: SparkSession, dir: String): DataFrame =
    searchTop5(s, dir)(emb => Index.Ivf(pinnedCentroids(s), nprobe = 2,
      Index.Pq(pqCodebook(emb, m = 8, entryEvery = 25), m = 8)))

  val simIvfPqOracle: String = {
    def idot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, 9), i -> $a[i] * $b[i]), (x, y) -> x + y)"
    s"""WITH $normsCte,
       |$pinnedCentCte,
       |ccand AS (
       |  SELECT v.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY ${dotSql("v", "c")} / (v.nrm * c.nrm) DESC, c.cid) AS crn
       |  FROM n v CROSS JOIN cent c),
       |assign AS (SELECT vec_id, cid FROM ccand WHERE crn = 1),
       |probes AS (SELECT vec_id AS query_id, cid FROM ccand WHERE crn <= 2 AND vec_id < 20),
       |qz AS (
       |  SELECT vec_id,
       |    list_transform(range(1, len(embedding) + 1),
       |      i -> CASE WHEN nrm = 0 THEN CAST(0 AS BIGINT)
       |           ELSE CAST(round(127 * (embedding[i]::DOUBLE / nrm)) AS BIGINT) END) AS code
       |  FROM n),
       |sq AS (
       |  SELECT vec_id, sub, code[(sub * 8 + 1):(sub * 8 + 8)] AS scode
       |  FROM qz CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) subs),
       |cbids AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS entry
       |          FROM (SELECT vec_id FROM qz WHERE vec_id % 25 = 0
       |                ORDER BY vec_id LIMIT 128)),
       |cb AS (SELECT i.entry, s.sub, s.scode
       |       FROM sq s JOIN cbids i ON i.vec_id = s.vec_id),
       |asg AS (
       |  SELECT vec_id, sub, entry FROM (
       |    SELECT x.vec_id, x.sub, c.entry,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.sub ORDER BY
       |        (${idot("x.scode", "x.scode")} - 2 * ${idot("x.scode", "c.scode")}
       |         + ${idot("c.scode", "c.scode")}), c.entry) AS rn
       |    FROM sq x JOIN cb c ON c.sub = x.sub) t
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, q.sub, c.entry, ${idot("q.scode", "c.scode")} AS pdot
       |  FROM sq q JOIN cb c ON c.sub = q.sub WHERE q.vec_id < 20),
       |adc AS (
       |  SELECT l.query_id, a.vec_id AS neighbor_id, CAST(SUM(l.pdot) AS BIGINT) AS adc
       |  FROM asg a JOIN lut l ON l.sub = a.sub AND l.entry = a.entry
       |  WHERE a.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT adc.query_id, adc.neighbor_id, adc.adc
       |  FROM adc
       |  JOIN assign x ON x.vec_id = adc.neighbor_id
       |  JOIN probes p ON p.query_id = adc.query_id AND p.cid = x.cid)
       |SELECT query_id, neighbor_id, rank, adc FROM (
       |  SELECT query_id, neighbor_id, adc,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** ANN in a JL-projected space: embeddings are reduced 64 → 8 dims with
    * the content-addressed ±1 matrix, and exact top-5 cosine runs in the
    * reduced space. The oracle replays the sign matrix (md5 parity), the
    * left-to-right projection folds, the float cast, and the reduced-space
    * cosine — bit-for-bit.
    */
  def simJlTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val proj = emb.select(col("vec_id"),
      graft.operators.Similarity.jlProject(col("embedding"), 8).as("embedding"))
    search(
        proj.filter(col("vec_id") < 20), proj, k = 5, Index.Exact)
      .orderBy(col("query_id"), col("rank"))
  }

  val simJlTopkOracle: String = {
    val projSql =
      """list_transform(range(0, 8), j -> CAST(
        |      list_reduce(list_transform(range(1, len(embedding) + 1), i ->
        |        CASE WHEN ('0x' || substring(md5('jl:' || j || ':' || (i - 1)), 1, 8))::BIGINT % 2 = 0
        |             THEN embedding[i]::DOUBLE ELSE -(embedding[i]::DOUBLE) END),
        |        (x, y) -> x + y) AS FLOAT))""".stripMargin
    s"""WITH p AS (
       |  SELECT vec_id, $projSql AS emb8
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.emb8", "c.emb8")} AS cos
       |  FROM p q JOIN p c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, cos
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** kNN label propagation: each probe vector takes the majority label of
    * its 5 exact-cosine nearest labeled neighbors (ties → smaller label).
    * The auto-labeling move for bootstrapping classifiers off a small
    * labeled pool.
    */
  def simKnnLabel(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Similarity.knnLabel(
        emb.filter(col("vec_id") < 20), emb, k = 5)
      .orderBy(col("query_id"))
  }

  val simKnnLabelOracle: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c
       |    ON q.vec_id < 20 AND q.vec_id <> c.vec_id
       |), ranked AS (
       |  SELECT query_id, label,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored),
       |votes AS (
       |  SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS votes
       |  FROM ranked WHERE rank <= 5
       |  GROUP BY 1, 2),
       |best AS (
       |  SELECT query_id, label, votes,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY votes DESC, label) AS rk
       |  FROM votes)
       |SELECT query_id, label, votes
       |FROM best WHERE rk = 1
       |ORDER BY query_id""".stripMargin

  /** Approximate top-5 via 8-bit sign-random-projection buckets + exact
    * rescoring inside the bucket. Deterministic md5-derived hyperplanes mean
    * the oracle can recompute the identical buckets in SQL.
    */
  def simLsh(s: SparkSession, dir: String): DataFrame =
    searchTop5(s, dir)(_ => Index.Lsh(bits = 8, multiProbe = false))

  val simLshOracle: String =
    s"""WITH buckets AS (
       |  SELECT vec_id, embedding,
       |    list_sum(list_transform(range(0, 8), j ->
       |      CASE WHEN list_reduce(
       |          list_transform(range(1, len(embedding) + 1), i ->
       |            embedding[i]::DOUBLE *
       |            (('0x' || substring(md5('plane:' || j || ':' || (i - 1)), 1, 8))::BIGINT::DOUBLE
       |             / 2147483648.0 - 1.0)),
       |          (x, y) -> x + y) > 0
       |      THEN 1::BIGINT << j ELSE 0 END)) AS bucket
       |  FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM buckets q JOIN buckets c ON q.bucket = c.bucket
       |    AND q.vec_id < 20 AND q.vec_id <> c.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, cos
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Multi-probe LSH top-5: the query additionally probes every bucket at
    * hamming distance 1 (flip each sign bit), trading bits× more probe keys
    * on the (small) query side for recall. Oracle: candidates are pairs
    * whose buckets differ in <= 1 bit.
    */
  def simLshMultiprobe(s: SparkSession, dir: String): DataFrame =
    searchTop5(s, dir)(_ => Index.Lsh(bits = 8, multiProbe = true))

  val simLshMultiprobeOracle: String =
    s"""WITH buckets AS (
       |  SELECT vec_id, embedding,
       |    list_sum(list_transform(range(0, 8), j ->
       |      CASE WHEN list_reduce(
       |          list_transform(range(1, len(embedding) + 1), i ->
       |            embedding[i]::DOUBLE *
       |            (('0x' || substring(md5('plane:' || j || ':' || (i - 1)), 1, 8))::BIGINT::DOUBLE
       |             / 2147483648.0 - 1.0)),
       |          (x, y) -> x + y) > 0
       |      THEN 1::BIGINT << j ELSE 0 END)) AS bucket
       |  FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM buckets q JOIN buckets c ON bit_count(xor(q.bucket, c.bucket)) <= 1
       |    AND q.vec_id < 20 AND q.vec_id <> c.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, cos
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Keyword extraction + corpus term stats: top-3 terms per doc (tf desc,
    * term tiebreak) joined with each term's document frequency — all
    * integer-exact.
    */
  def topTerms(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val top = graft.operators.TextIndex.topTermsPerDoc(
      docs, col("doc_id"), col("text"), k = 3, minLen = 4)
    val stats = graft.operators.TextIndex.termStats(docs, col("doc_id"), col("text"))
      .select(col("term"), col("df"))
    top.join(stats, Seq("term"))
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val topTermsOracle: String =
    """WITH posting AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM posting GROUP BY 1, 2
      |), df AS (
      |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
      |), ranked AS (
      |  SELECT doc_id, term, tf,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS INTEGER) AS rank
      |  FROM tf WHERE length(term) >= 4)
      |SELECT doc_id, rank, r.term, tf, df.df
      |FROM ranked r JOIN df ON r.term = df.term
      |WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** Deterministic hash sampling: 20% global sample by doc_id plus
    * per-language stratified fractions — membership is a pure function of
    * the key, so the oracle applies the identical predicate.
    */
  def sampleDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val global = graft.operators.Sampling.hashSample(docs, col("doc_id"), 0.2)
      .select(col("doc_id"), lit("global").as("sample"))
    val strat = graft.operators.Sampling.stratifiedHashSample(
        docs, col("lang"), col("doc_id"),
        Map("en" -> 0.5, "de" -> 0.1))
      .select(col("doc_id"), lit("strat").as("sample"))
    global.unionAll(strat).orderBy(col("sample"), col("doc_id"))
  }

  val sampleDocsOracle: String =
    """SELECT doc_id, sample FROM (
      |  SELECT doc_id, 'global' AS sample FROM documents
      |  WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |        < CAST(0.2 * 4294967296 AS BIGINT)
      |  UNION ALL
      |  SELECT doc_id, 'strat' FROM documents
      |  WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |        < CASE lang WHEN 'en' THEN CAST(0.5 * 4294967296 AS BIGINT)
      |                    WHEN 'de' THEN CAST(0.1 * 4294967296 AS BIGINT)
      |                    ELSE -1 END) t
      |ORDER BY sample, doc_id""".stripMargin

  /** Exact-n global deterministic sample: exactly 100 documents by
    * smallest content hash (ties toward the smaller id) — reproducible
    * under any partitioning; the oracle replays the identical hash
    * ordering and cut.
    */
  def sampleFixedNQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.fixedSizeSampleGlobal(
        T(s, dir, "documents"), col("doc_id"), n = 100)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  val sampleFixedNOracle: String =
    """SELECT doc_id FROM (
      |  SELECT doc_id FROM documents
      |  ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT, doc_id
      |  LIMIT 100) t
      |ORDER BY doc_id""".stripMargin

  /** Label-relevance retrieval metrics
    * ([[graft.operators.Similarity.retrievalLabelMetrics]]) over the
    * brute-force top-10 of the standard 20-probe set: per-query MRR /
    * first-relevant rank / recall@10 / precision@10 with same-label
    * relevance — the END-metric eval of the retrieval stack (log-free on
    * purpose: reciprocal rank instead of nDCG's libm log2 discount). The
    * oracle replays the ranking and every ratio.
    */
  def retrievalMrrQ(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    graft.operators.Similarity.retrievalLabelMetrics(
        search(
          emb.filter(col("vec_id") < 20), emb, k = 10, Index.Exact),
        emb.select(col("vec_id"), col("label")), k = 10)
      .orderBy(col("query_id"))
  }

  val retrievalMrrOracle: String =
    s"""WITH $normsCte,
       |bf AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT q.vec_id AS query_id, nb.vec_id AS neighbor_id,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${dotSql("q", "nb")} / (q.nrm * nb.nrm) DESC,
       |          nb.vec_id) AS INTEGER) AS rank
       |    FROM n q JOIN n nb ON nb.vec_id <> q.vec_id
       |    WHERE q.vec_id < 20) t
       |  WHERE rank <= 10),
       |lz AS (SELECT label, COUNT(*) AS lsz FROM embeddings GROUP BY 1),
       |j AS (
       |  SELECT b.query_id, ql.label, nl.label AS nlabel, b.rank
       |  FROM bf b
       |  JOIN embeddings ql ON ql.vec_id = b.query_id
       |  JOIN embeddings nl ON nl.vec_id = b.neighbor_id),
       |pq AS (
       |  SELECT query_id, label,
       |    MIN(CASE WHEN nlabel = label THEN rank END) AS first_rel_rank,
       |    CAST(SUM(CASE WHEN nlabel = label THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_rel_topk
       |  FROM j GROUP BY 1, 2)
       |SELECT p.query_id, p.label, p.first_rel_rank,
       |  CASE WHEN p.first_rel_rank IS NULL THEN 0.0
       |       ELSE 1.0 / CAST(p.first_rel_rank AS DOUBLE) END AS rr,
       |  p.n_rel_topk, CAST(l.lsz - 1 AS BIGINT) AS n_rel_corpus,
       |  CASE WHEN l.lsz = 1 THEN NULL
       |       ELSE CAST(p.n_rel_topk AS DOUBLE)
       |         / CAST(l.lsz - 1 AS DOUBLE) END AS recall_at_k,
       |  CAST(p.n_rel_topk AS DOUBLE) / 10.0 AS precision_at_k
       |FROM pq p JOIN lz l USING (label)
       |ORDER BY query_id""".stripMargin

  /** Split-conformal calibration
    * ([[graft.operators.Diagnostics.conformalCalibration]], α = 1/10):
    * nonconformity = squared L2 to the OWN label's centroid learned from
    * the CALIBRATION half only (even vec_ids — no leakage), conformal
    * quantile per label, achieved coverage on the odd-id test half. The
    * oracle rebuilds the cal-split centroids, replays the score fold, the
    * exact integer ceil-division index, and both coverage counts.
    */
  def conformalCalibrationQ(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val cal = emb.filter(col("vec_id") % 2 === 0)
    val tst = emb.filter(col("vec_id") % 2 === 1)
    val cents = broadcast(graft.operators.EmbeddingStats.centroidVectors(
      cal, col("label"), col("embedding")))
    def scored(df: DataFrame) = df.join(cents, Seq("label"))
      .select(col("label"),
        aggregate(zip_with(col("embedding"), col("centroid"),
            (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
          lit(0.0), (acc, d) => acc + d).as("score"))
    graft.operators.Diagnostics.conformalCalibration(
        scored(cal), col("label"), col("score"),
        scored(tst), col("label"), col("score"))
      .orderBy(col("grp"))
  }

  val conformalCalibrationOracle: String =
    """WITH e1 AS (
      |  SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
      |  FROM embeddings WHERE vec_id % 2 = 0),
      |e AS (
      |  SELECT label, CAST(i - 1 AS INTEGER) AS dim,
      |    CAST(round(embedding[i]::DOUBLE * 16777216.0) AS BIGINT) AS qm
      |  FROM e1),
      |a AS (SELECT label, dim, COUNT(*) AS n, SUM(qm) AS sm FROM e
      |      GROUP BY 1, 2),
      |cent AS (
      |  SELECT label, list(mean ORDER BY dim) AS c FROM (
      |    SELECT label, dim,
      |      CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 16777216.0) AS mean
      |    FROM a)
      |  GROUP BY label),
      |d AS (
      |  SELECT v.vec_id, v.label, v.vec_id % 2 AS side,
      |    list_reduce(list_prepend(0.0,
      |      list_transform(range(1, len(v.embedding) + 1),
      |        i -> (v.embedding[i]::DOUBLE - c.c[i])
      |           * (v.embedding[i]::DOUBLE - c.c[i]))),
      |      (acc, x) -> acc + x) AS score
      |  FROM embeddings v JOIN cent c ON c.label = v.label),
      |calq AS (
      |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_cal,
      |    list(score ORDER BY score) AS ms
      |  FROM d WHERE side = 0 GROUP BY 1),
      |qh AS (
      |  SELECT label, n_cal,
      |    list_extract(ms, CAST((9 * (n_cal + 1) + 9) // 10 AS INT))
      |      AS q_hat
      |  FROM calq),
      |cov AS (
      |  SELECT d.label, CAST(COUNT(*) AS BIGINT) AS n_test,
      |    CAST(SUM(CASE WHEN q.q_hat IS NULL OR d.score <= q.q_hat
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      |  FROM d LEFT JOIN qh q ON q.label = d.label
      |  WHERE d.side = 1 GROUP BY 1)
      |SELECT COALESCE(q.label, c.label) AS grp,
      |  COALESCE(q.n_cal, 0) AS n_cal, q.q_hat,
      |  COALESCE(c.n_test, 0) AS n_test,
      |  COALESCE(c.n_covered, 0) AS n_covered,
      |  CAST(c.n_covered AS DOUBLE) / CAST(c.n_test AS DOUBLE) AS coverage
      |FROM qh q FULL OUTER JOIN cov c ON c.label = q.label
      |ORDER BY grp""".stripMargin

  /** Greedy k-center coreset selection
    * ([[graft.operators.Sampling.kCenterSelect]], k = 6): maxmin-diverse
    * exemplars + the coverage-radius curve over the embedding corpus. The
    * oracle replays all six greedy rounds as unrolled CTEs — seed = min
    * id, per-round argmax of the running least-distance with the id
    * tiebreak, centers excluded by id.
    */
  def kcenterSelectQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.kCenterSelect(
        T(s, dir, "embeddings"), col("vec_id"), col("embedding"), k = 6)
      .orderBy(col("rank"))

  /** The unrolled greedy-round CTE prefix shared by [[kcenterSelectOracle]]
    * and [[kcenterCoverageOracle]]: defines p (usable points), c1..ck
    * (the picked centers, each carrying its dm-at-selection) and the
    * running least-distance frames d1..d(k−1). One copy of the greedy
    * replay, so the coverage audit can never diverge from the selection.
    */
  private def kcenterStagesCte(k: Int): String = {
    val stages = (2 to k).map { j =>
      val excl = (1 until j).map(i => s"SELECT vec_id FROM c$i")
        .mkString(" UNION ALL ")
      val pick =
        s"""c$j AS (
           |  SELECT p.vec_id, p.embedding, p.nrm, d.dm FROM p
           |  JOIN d${j - 1} d USING (vec_id)
           |  WHERE p.vec_id NOT IN ($excl)
           |  ORDER BY d.dm DESC, p.vec_id LIMIT 1)""".stripMargin
      val relax =
        if (j == k) ""
        else
          s""",
             |d$j AS (
             |  SELECT v.vec_id,
             |    least(d.dm, 1.0 - ${dotSql("v", "c")} / (v.nrm * c.nrm))
             |      AS dm
             |  FROM p v JOIN d${j - 1} d USING (vec_id) CROSS JOIN c$j c)""".stripMargin
      pick + relax
    }.mkString(",\n")
    s"""$normsCte,
       |p AS (SELECT vec_id, embedding, nrm FROM n WHERE nrm > 0),
       |c1 AS (SELECT vec_id, embedding, nrm FROM p ORDER BY vec_id LIMIT 1),
       |d1 AS (
       |  SELECT v.vec_id, 1.0 - ${dotSql("v", "c")} / (v.nrm * c.nrm) AS dm
       |  FROM p v CROSS JOIN c1 c),
       |$stages""".stripMargin
  }

  val kcenterSelectOracle: String = {
    val k = 6
    val rows = (2 to k).map(j =>
      s"UNION ALL SELECT CAST($j AS INTEGER), vec_id, dm FROM c$j")
      .mkString("\n")
    s"""WITH ${kcenterStagesCte(k)}
       |SELECT * FROM (
       |SELECT CAST(1 AS INTEGER) AS rank, vec_id, CAST(NULL AS DOUBLE) AS dmin
       |FROM c1
       |$rows
       |) t ORDER BY rank""".stripMargin
  }

  /** Coverage audit of the k-center coreset
    * ([[graft.operators.Sampling.kCenterCoverage]]): every usable point
    * assigned to its nearest selected center, per-center counts and the
    * distance distribution — the "is k enough" readout next to the
    * selection itself. The oracle extends the shared greedy replay with
    * the (dd, cid)-argmin assignment and the fixed-point mean.
    */
  def kcenterCoverageQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.kCenterCoverage(
        T(s, dir, "embeddings"), col("vec_id"), col("embedding"), k = 6)
      .orderBy(col("rank"))

  val kcenterCoverageOracle: String = {
    val k = 6
    val cent = (2 to k).map(j =>
      s"UNION ALL SELECT CAST($j AS INTEGER), vec_id, embedding, nrm FROM c$j")
      .mkString("\n")
    s"""WITH ${kcenterStagesCte(k)},
       |cent AS (
       |SELECT CAST(1 AS INTEGER) AS rank, vec_id, embedding, nrm FROM c1
       |$cent),
       |ad AS (
       |  SELECT v.vec_id, c.vec_id AS cid,
       |    1.0 - ${dotSql("v", "c")} / (v.nrm * c.nrm) AS dd
       |  FROM p v CROSS JOIN cent c),
       |asg AS (
       |  SELECT vec_id, cid, dd,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rk
       |  FROM ad),
       |g AS (
       |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_assigned,
       |    SUM(CAST(round(dd * 16777216.0) AS BIGINT)) AS sq,
       |    MAX(dd) AS mx
       |  FROM asg WHERE rk = 1 GROUP BY cid)
       |SELECT c.rank, c.vec_id AS center_id,
       |  COALESCE(g.n_assigned, 0) AS n_assigned,
       |  CAST(g.sq AS DOUBLE) / (CAST(g.n_assigned AS DOUBLE) * 16777216.0)
       |    AS mean_dist,
       |  g.mx AS max_dist
       |FROM cent c LEFT JOIN g ON g.cid = c.vec_id
       |ORDER BY c.rank""".stripMargin
  }

  /** Weighted sampling without replacement
    * ([[graft.operators.Sampling.weightedSample]], Efraimidis–Spirakis
    * A-ES): keep 60 documents with inclusion odds ∝ a token-count weight
    * bucket (1 + min(9, tokens div 100)) — "subsample but keep long
    * documents more often". The key is the exact max-of-w-uniforms
    * identity (w md5 hashes per row, pure integer max — no `pow`), so the
    * oracle replays it verbatim.
    */
  def sampleWeightedQ(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
      .withColumn("__nt", TextFunctions.tokenCountWs(col("text")).cast("long"))
      .withColumn("__wt", lit(1L) + least(lit(9L), expr("__nt div 100")))
    graft.operators.Sampling.weightedSample(
        d, col("doc_id"), col("__wt"), n = 60, maxWeight = 10)
      .select(col("id").as("doc_id"), col("weight"), col("rank"))
      .orderBy(col("doc_id"))
  }

  val sampleWeightedOracle: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    1 + least(9, CAST(CASE WHEN trim(text) = '' THEN 0
      |      ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
      |      // 100) AS wt
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, wt,
      |    list_max(list_transform(range(1, wt + 1),
      |      j -> ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |        CAST(j AS VARCHAR)), 1, 8))::BIGINT)) AS key
      |  FROM w),
      |r AS (
      |  SELECT doc_id, wt,
      |    ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS rk
      |  FROM k)
      |SELECT doc_id, CAST(wt AS BIGINT) AS weight, CAST(rk AS INTEGER) AS rank
      |FROM r WHERE rk <= 60
      |ORDER BY doc_id""".stripMargin
}
