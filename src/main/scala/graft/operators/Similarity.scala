package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TopKAggregator
import org.apache.spark.sql.graft.VectorFunctions

/** Nearest-neighbor search over an embedding column.
  *
  * One entry point: [[Similarity.search]] ranks, for every query vector,
  * the `k` best corpus vectors under an [[Similarity.Index]]. The index
  * decides how candidate pairs are generated and scored; everything after
  * that is shared: pairs with `query_id = neighbor_id` are dropped, the
  * bounded [[graft.functions.TopKAggregator]] keeps the top k per query
  * (score desc, neighbor_id asc), and integer scores are cast back to
  * long. MMR, kNN labels and the label-noise screen search through it, and
  * margin mining draws its candidate pairs from the same generator.
  */
object Similarity {

  /** Final per-query top-k over (query_id, neighbor_id, cos) rows via the
    * bounded [[graft.functions.TopKAggregator]]: partial aggregation prunes
    * each partition to k entries per query before the shuffle, so no reducer
    * ever sees more than partitions × k candidates per query (a
    * `row_number()` window here would shuffle every scored row to one
    * reducer per query — unbounded at 100 TB). Ties break
    * (cos desc, neighbor_id asc), same as the window it replaces.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val topk = TopKAggregator.topK(k)
    scored.groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("cos")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"), col("s.score").as("cos"))
  }

  /** A query never counts as its own neighbor. */
  private def notSelf: Column = col("query_id") =!= col("neighbor_id")

  /** How [[search]] generates and scores candidate pairs. */
  sealed trait Index

  object Index {

    /** The indexes [[Ivf]] can run inside its probed cells. */
    sealed trait InCell extends Index

    /** The candidate sources [[marginMine]] accepts: both score pairs by
      * exact cosine.
      */
    sealed trait Shortlist extends Index

    /** Every (query, corpus) pair, scored by the codegen'd
      * [[graft.functions.CosineSimilarity]]; score column `cos` (double).
      * The query side broadcasts into one scan of the corpus: no shuffle
      * of corpus rows at any corpus size.
      */
    case object Exact extends InCell with Shortlist

    /** The [[Exact]] scan over ±127 codes
      * ([[org.apache.spark.sql.graft.QuantizeInt8]]: L2-normalize, round),
      * scored by their exact integer dot product; score column `dot`
      * (long). Codes are 4× smaller than float32, and integer scores do not
      * diverge across engines.
      */
    case object Int8 extends Index

    /** Product quantization with asymmetric distance computation (Jégou et
      * al.): corpus vectors are encoded once against `codebook` (`sub`,
      * `entry`, `scode` — from [[pqCodebook]], [[pqCodebookTrained]] or any
      * external quantizer) in `m` subspaces, and a query scores a code as
      * Σ_sub lut[sub][code[sub]], exact long arithmetic end to end; score
      * column `adc` (long). This relational form (exploded codes ⋈ exploded
      * LUT rows, long sum per pair) is DuckDB-replayable; [[Ivf]] over
      * `Pq` with every cell probed is the byte-identical packed scan
      * (specs assert the equality).
      */
    final case class Pq(codebook: DataFrame, m: Int) extends InCell

    /** Inverted file over an explicit centroid set (`cid`, `cv`) — from
      * [[trainCentroids]], a pinned literal table or any external
      * quantizer: corpus vectors are assigned to their nearest centroid's
      * cell ([[assignToCentroids]]), each query probes its `nprobe` nearest
      * cells and `inner` scores inside them. The centroids broadcast (a
      * quantizer is a model of FIXED size); each query touches ~nprobe/C of
      * the corpus. `inner = Pq` scores packed m-byte codes with the native
      * [[org.apache.spark.sql.graft.PqAdcPacked]] loop (FAISS's
      * `by_residual=false` IVF-PQ: codes encode the vectors themselves,
      * keeping the exact long ADC contract).
      */
    final case class Ivf(centroids: DataFrame, nprobe: Int, inner: InCell)
        extends Index

    /** Sign-random-projection buckets ([[srpBucket]], `bits` sign bits):
      * candidates share the query's bucket and are rescored by exact
      * cosine; score column `cos`. A small bucket may give fewer than k
      * rows. `multiProbe` also probes the `bits` Hamming-1 buckets
      * ([[multiProbeKeys]]) on the query side, for recall.
      */
    final case class Lsh(bits: Int, multiProbe: Boolean) extends Shortlist
  }

  /** Top-`k` corpus neighbors of every query under `index`. Both frames
    * carry (vec_id, embedding). Output: (query_id, neighbor_id, rank,
    * score) with the score column named and typed by the index — `cos`
    * (double), `dot` or `adc` (long).
    */
  def search(queries: DataFrame, corpus: DataFrame, k: Int,
      index: Index): DataFrame = {
    val top = topKPerQuery(pairs(queries, corpus, index).filter(notSelf), k)
    scoreColumn(index) match {
      case "cos" => top
      // integer scores ride the aggregator's double exactly (≪ 2⁵³)
      case score => top.select(col("query_id"), col("neighbor_id"),
        col("rank"), col("cos").cast("long").as(score))
    }
  }

  private def scoreColumn(index: Index): String = index match {
    case Index.Exact | _: Index.Lsh => "cos"
    case Index.Int8 => "dot"
    case _: Index.Pq => "adc"
    case Index.Ivf(_, _, inner) => scoreColumn(inner)
  }

  /** The candidate pairs of `index`, self-pairs included, scored as
    * (query_id, neighbor_id, cos) with `cos` the index's score as a double.
    */
  private def pairs(queries: DataFrame, corpus: DataFrame,
      index: Index): DataFrame = {
    val cosine = VectorFunctions.cosineSim(col("qv"), col("cv")).as("cos")
    // the query side broadcast into one scan of the corpus
    def scan(code: Column) =
      corpus.select(col("vec_id").as("neighbor_id"), code.as("cv"))
        .join(broadcast(queries.select(col("vec_id").as("query_id"),
          code.as("qv"))), lit(true))
    index match {
      case Index.Exact =>
        scan(col("embedding")).select(col("query_id"), col("neighbor_id"),
          cosine)
      case Index.Int8 =>
        scan(VectorFunctions.quantizeInt8(col("embedding")))
          .select(col("query_id"), col("neighbor_id"),
            VectorFunctions.dotInt(col("qv"), col("cv")).cast("double")
              .as("cos"))
      case Index.Lsh(bits, multiProbe) =>
        val q0 = queries.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"),
          srpBucket(col("embedding"), bits).as("bucket"))
        val q =
          if (!multiProbe) q0
          else q0.select(col("query_id"), col("qv"),
            explode(multiProbeKeys(col("bucket"), bits)).as("bucket"))
        q.join(corpus.select(col("vec_id").as("neighbor_id"),
            col("embedding").as("cv"),
            srpBucket(col("embedding"), bits).as("bucket")), Seq("bucket"))
          .select(col("query_id"), col("neighbor_id"), cosine)
      case Index.Pq(codebook, m) =>
        pqEncode(corpus, codebook, m)
          .withColumnRenamed("vec_id", "neighbor_id")
          .join(broadcast(pqLutRows(queries, codebook, m)), Seq("sub", "entry"))
          .groupBy(col("query_id"), col("neighbor_id"))
          .agg(sum(col("pdot")).cast("double").as("cos"))
      case Index.Ivf(centroids, nprobe, inner) =>
        val cents = broadcast(centroids.select(col("cid"), col("cv")))
        // query → its nprobe nearest cells: the probe side is the small
        // one, and nprobe > 1 needs top-n, not argmax, so a window is fine
        val probeW = Window.partitionBy(col("query_id"))
          .orderBy(col("__ccos").desc, col("cid"))
        val probes = queries
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
          .join(cents, lit(true))
          .withColumn("__ccos",
            VectorFunctions.cosineSim(col("qv"), col("cv")))
          .withColumn("__crn", row_number().over(probeW))
          .filter(col("__crn") <= nprobe)
          .select(col("query_id"), col("qv"), col("cid"))
        inner match {
          case Index.Exact =>
            probes.join(
                assignToCentroids(corpus, col("vec_id"), col("embedding"),
                  centroids).select(col("id").as("neighbor_id"), col("cid"),
                  col("v").as("cv")),
                Seq("cid"))
              .select(col("query_id"), col("neighbor_id"), cosine)
          case Index.Pq(codebook, m) =>
            // build side (one-time, persistable): cell id + packed PQ code
            // per vector; the assignment carries only the cell id
            val assigned = corpus
              .select(col("vec_id").as("neighbor_id"),
                col("embedding").as("nv"))
              .join(cents, lit(true))
              .withColumn("__ccos",
                VectorFunctions.cosineSim(col("nv"), col("cv")))
              .groupBy(col("neighbor_id"))
              .agg(max_by(col("cid"),
                struct(col("__ccos"), (-col("cid")).as("nc"))).as("cid"))
            val luts = pqLut(queries.select(col("vec_id"), col("embedding")),
              codebook, m)
            pqPack(pqEncode(corpus, codebook, m))
              .select(col("vec_id").as("neighbor_id"), col("pqcode"))
              .join(assigned, Seq("neighbor_id"))
              .join(broadcast(probes.select(col("query_id"), col("cid"))
                .join(luts, Seq("query_id"))), Seq("cid"))
              .select(col("query_id"), col("neighbor_id"),
                VectorFunctions.pqAdcPacked(col("pqcode"), col("lut"))
                  .cast("double").as("cos"))
        }
    }
  }

  /** Diverse top-k by maximal marginal relevance (Carbonell & Goldstein
    * 1998): shortlist the `shortlist` most-relevant candidates per query
    * exactly, then greedily re-rank — each step picks the candidate
    * maximizing `relWeight·rel(c) − divWeight·max_{s∈selected} cos(c, s)`
    * (ties toward the smaller id). Returns (query_id, neighbor_id, rank,
    * score) with `rank` the greedy pick order.
    *
    * The greedy loop is inherently sequential per query, so it runs in
    * [[org.apache.spark.sql.KeyValueGroupedDataset.flatMapGroups]] over
    * BOUNDED groups: each group holds at most `shortlist` (id, vector, rel)
    * rows by construction — O(k·shortlist·dim) work per query, no window
    * over the corpus, and the only data past the shortlist scan is
    * shortlist×(8-byte id + vector) per query. The corpus-sized work stays
    * in the [[Index.Exact]] broadcast scan (swap in an ANN shortlist —
    * [[Index.Lsh]]/[[Index.Ivf]] — for 10⁹-vector corpora).
    *
    * Float discipline: rel and pairwise cos come from the same index-order
    * double folds as the native expression, and the score is always
    * computed as `relWeight·rel − divWeight·maxSim` (maxSim = 0.0 for the
    * first pick), so results replay bit-identically in SQL.
    */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      shortlist: Int = 10, relWeight: Double = 0.7,
      divWeight: Double = 0.3): DataFrame = {
    require(k <= shortlist, s"k=$k must be <= shortlist=$shortlist")
    val spark = corpus.sparkSession
    import spark.implicits._
    val short = search(queries, corpus, shortlist, Index.Exact)
    val cand = short.join(
        corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("nv"))
      .as[(Long, Long, Double, Seq[Float])]
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    cand.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cs = it.toArray.sortBy(c => (c._2))
      val used = new Array[Boolean](cs.length)
      val sel = scala.collection.mutable.ArrayBuffer.empty[Seq[Float]]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
      var r = 1
      var exhausted = false
      while (!exhausted && r <= k && out.length < cs.length) {
        var bi = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < cs.length) {
          if (!used(i)) {
            val maxSim = if (sel.isEmpty) 0.0
              else { var m = Double.NegativeInfinity
                sel.foreach(s => m = math.max(m, cos(cs(i)._4, s))); m }
            val score = relWeight * cs(i)._3 - divWeight * maxSim
            // ids ascend in cs, so strict > keeps the smallest id on ties
            if (score > bestScore) { bestScore = score; bi = i }
          }
          i += 1
        }
        // zero-norm embeddings make cos NaN, so every comparison above is
        // false and bi stays -1 — stop cleanly instead of indexing used(-1)
        if (bi < 0) exhausted = true
        else {
          used(bi) = true
          sel += cs(bi)._4
          out += ((qid, cs(bi)._2, r, bestScore))
          r += 1
        }
      }
      out.iterator
    }.toDF("query_id", "neighbor_id", "rank", "score")
  }

  /** Nearest-centroid assignment of every vector against a broadcast
    * quantizer (`cid`, `cv`): argmax over cosine, ties toward the smaller
    * cid — partial-aggregated before its shuffle so the exchange carries n
    * rows, not n×K. Output: (id, cid, v). The shared cell-assignment step
    * of [[Index.Ivf]], [[graft.operators.Dedup.semanticDedup]] and
    * [[graft.operators.Sampling.clusterBalancedSample]].
    */
  def assignToCentroids(df: DataFrame, id: Column, vec: Column,
      centroids: DataFrame): DataFrame = {
    val v = df.select(id.as("id"), vec.as("v"))
    val cents = broadcast(centroids.select(col("cid"), col("cv")))
    v.join(cents, lit(true))
      .withColumn("__ccos", VectorFunctions.cosineSim(col("v"), col("cv")))
      .groupBy(col("id"))
      .agg(max_by(struct(col("cid"), col("v")),
        struct(col("__ccos"), (-col("cid")).as("nc"))).as("m"))
      .select(col("id"), col("m.cid").as("cid"), col("m.v").as("v"))
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * `k` most-similar corpus vectors whose `label` DIFFERS from the
    * query's — the near-misses a contrastive loss learns most from
    * (in-batch random negatives are mostly trivial). Both frames need
    * (vec_id, embedding, label). Output: (query_id, neighbor_id,
    * neighbor_label, rank, cos).
    *
    * Same scale shape as [[Index.Exact]]: queries broadcast, one corpus
    * scan, the label predicate fused into the join condition (filtered
    * before scoring), bounded partial top-k — no window, no shuffle of
    * corpus rows. For 10⁹-vector corpora swap the scan for an ANN
    * shortlist and post-filter by label with a larger k.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), col("label").as("qlabel")))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), col("label").as("nlabel"))
    val scored = c.join(q, notSelf && col("qlabel") =!= col("nlabel"))
      .select(col("query_id"), col("neighbor_id"), col("nlabel"),
        VectorFunctions.cosineSim(col("qv"), col("cv")).as("cos"))
    // carry the label through the bounded top-k by re-joining on the
    // (small) result instead of widening the aggregator payload
    topKPerQuery(scored.select(col("query_id"), col("neighbor_id"), col("cos")), k)
      .join(c.select(col("neighbor_id"), col("nlabel").as("neighbor_label")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        col("rank"), col("cos"))
  }

  /** Johnson–Lindenstrauss projection of an embedding column to `outDims`
    * (content-addressed ±1 matrix — no codebook to train or distribute; see
    * [[org.apache.spark.sql.graft.JlProject]]). The dimensionality-reduction
    * lever for ANN cost: project once on write, scan/score in the reduced
    * space (d× fewer multiply-adds and bytes), re-rank the survivors in the
    * original space for exactness.
    */
  def jlProject(vec: Column, outDims: Int): Column =
    org.apache.spark.sql.graft.HashFunctions.jlProject(vec, outDims)

  /** k-nearest-neighbor label propagation — auto-labeling by embedding
    * similarity (assign each unlabeled item the majority label of its k
    * closest labeled examples): exact cosine top-k against the labeled
    * corpus, then a majority vote with deterministic ties (most votes,
    * then best — highest cosine — vote sum is NOT used; ties break toward
    * the smaller label value so the result is engine-independent).
    * Output: (query_id, label, votes).
    *
    * Scale shape: inherits [[Index.Exact]]'s broadcast-probe scan (swap
    * in the LSH/IVF variants upstream for 10⁹+ corpora); the vote is a
    * groupBy over queries×k rows and a max_by — partial-aggregated, no
    * window over anything corpus-sized.
    */
  def knnLabel(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val neighbors = search(queries,
      corpus.select(col("vec_id"), col("embedding")), k, Index.Exact)
    val labeled = neighbors.join(
      corpus.select(col("vec_id").as("neighbor_id"), col("label")),
      Seq("neighbor_id"))
    labeled.groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("query_id"))
      .agg(max_by(struct(col("label"), col("votes")),
        // most votes first; ties toward the smaller label (negate for max_by)
        struct(col("votes"), (-col("label")).as("nl"))).as("w"))
      .select(col("query_id"), col("w.label").as("label"),
        col("w.votes").as("votes"))
  }

  /** Label-noise screen — the mislabel detector for labeled training
    * sets: each query item is [[knnLabel]]-voted against the labeled
    * corpus (self-matches excluded by the underlying top-k), and items
    * whose OWN label disagrees with their neighborhood's majority are
    * returned as mislabel candidates — (query_id, own_label, knn_label,
    * votes). Confident-learning pipelines triage exactly this list for
    * re-annotation; rank by `votes` descending for the most-suspect
    * first.
    *
    * Scale shape: adds one broadcast-keyed join (own labels onto the
    * vote table, |queries| rows) over [[knnLabel]]'s cost; swap the
    * brute-force top-k for the LSH/IVF searchers upstream at 10⁹+
    * corpus sizes, same as every other consumer of the searcher stack.
    */
  def labelNoiseScreen(queries: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    val voted = knnLabel(queries.select(col("vec_id"), col("embedding")),
      corpus, k)
    voted.join(
        queries.select(col("vec_id").as("query_id"),
          col("label").as("own_label")), "query_id")
      .filter(col("label") =!= col("own_label"))
      .select(col("query_id"), col("own_label"),
        col("label").as("knn_label"), col("votes"))
  }

  /** Sign-random-projection bucket id: `bits` sign bits of hyperplane dot
    * products, plane_j[d] = md5-hash32("plane:j:d") / 2^31 - 1. Pure
    * projection (no shuffle); the same expression buckets both corpus (once,
    * can be persisted/bucketed-by on write) and queries. Native
    * [[org.apache.spark.sql.graft.SrpBucket]] expression — plane components
    * are cached per (bits, dims), not re-hashed per row.
    */
  def srpBucket(vec: Column, bits: Int): Column =
    org.apache.spark.sql.graft.HashFunctions.srpBucket(vec, bits)

  /** The 1-bit multiprobe key set of an SRP bucket: the bucket itself
    * plus every bucket at Hamming distance 1 (each of the `bits` sign
    * bits flipped) — `bits + 1` distinct keys. ONE copy of the expansion
    * (shared by [[Index.Lsh]] and
    * [[graft.operators.Dedup.semanticDecontaminateLsh]]) so the engine
    * side can never drift from the oracles' `bit_count(xor) <= 1`
    * candidate replay.
    */
  private[operators] def multiProbeKeys(bucket: Column, bits: Int): Column =
    array_union(array(bucket),
      array((0 until bits).map(j => bucket.bitwiseXOR(lit(1L << j))): _*))

  /** Trained coarse quantizer for IVF: seeded k-means|| over the corpus
    * embeddings, returned as a `(cid, cv)` centroid frame for
    * [[Index.Ivf]]. The registry's oracle-reproducible quantizer is the
    * pinned output of this trainer (`PinnedArtifacts.IvfCentroids16`);
    * tighter cells mean fewer probes for the same recall. Training
    * cost is MLlib's k-means|| (a handful of passes over the corpus); the
    * result is tiny (k × dims) and broadcasts like any centroid set.
    */
  def trainCentroids(corpus: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val toVec = udf((a: Seq[Float]) =>
      org.apache.spark.ml.linalg.Vectors.dense(a.map(_.toDouble).toArray))
    val data = corpus.select(toVec(col("embedding")).as("features"))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(KMeansSeed).setMaxIter(KMeansMaxIter)
      .setFeaturesCol("features")
      .fit(data)
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat).toSeq) }
      .toSeq.toDF("cid", "cv")
  }

  /** Seed and round budget of every k-means the quantizers train: the
    * seed that produced the pinned registry centroids, and MLlib's
    * default 20 rounds. */
  private val KMeansSeed = 42L
  private val KMeansMaxIter = 20

  // ------------------------------------------------ product quantization

  /** Deterministic product-quantization codebook over int8-quantized
    * embeddings: the vector is split into `m` equal subspaces, and entry
    * `e` of EVERY subspace is the corresponding slice of the int8 code of
    * corpus vector `vec_id = e * entryEvery` — content-independent and
    * SQL-replayable (k-means sub-codebooks would make the oracle
    * irreproducible; see [[pqCodebookTrained]] for the production
    * quantizer). Returns `(sub, entry, scode: array<int>)` — m × J rows,
    * tiny, always broadcast.
    *
    * Quantizing BEFORE splitting means every downstream PQ computation
    * (assignment distances, ADC partial dots) is exact long arithmetic:
    * bit-stable across engines and across any aggregation order — the same
    * design throughline as [[Index.Int8]].
    *
    * [[PqMaxEntries]] caps the codebook at a FIXED size (128, so entry
    * ids pack one byte per subspace): a codebook is a model, and
    * letting J track the corpus (J = n/entryEvery) made encode-side
    * assignment n×m×J = quadratic in n. The cap takes the FIRST
    * PqMaxEntries pmod-selected vectors in `vec_id` order — via
    * [[selectionBound]]'s literal cutoff, so the parquet scan prunes on it
    * (PushedFilters) and every re-execution of the codebook subtree (one
    * per consumer: encode and LUT) stays a pruned scan rather than a
    * full-corpus sort (a naive `orderBy.limit` selection measured +75% on
    * `sim_pq_topk` at stress ×16) — and assigns entry ids by
    * RANK in that order (0..J−1, dense by construction — the packed
    * one-byte-per-subspace layout requires it) rather than
    * `vec_id div entryEvery`, so corpora whose ids do not start at 0
    * still produce a full, dense codebook. The rank window runs over the
    * bound-filtered ≤ PqMaxEntries rows — constant-size, not corpus-sized.
    * [[pqCodebookTrained]] remains the content-adaptive production
    * quantizer.
    */
  def pqCodebook(corpus: DataFrame, m: Int, entryEvery: Long): DataFrame = {
    val bound = selectionBound(corpus, entryEvery, PqMaxEntries)
    val sel = corpus.filter(pmod(col("vec_id"), lit(entryEvery)) === 0 &&
        col("vec_id") <= bound)
      .select(col("vec_id"), col("embedding"))
      .select(
        (row_number().over(Window.orderBy(col("vec_id"))).cast("long") - 1L)
          .as("entry"),
        VectorFunctions.quantizeInt8(col("embedding")).as("code"))
    subSplit(sel, m).select(col("sub"), col("entry"), col("scode"))
  }

  /** Codebook entries per subspace: 128 keeps entry ids one byte each,
    * the packed ADC layout. */
  private val PqMaxEntries = 128

  /** The `max`-th smallest corpus id divisible by `every` (or the largest
    * such id when fewer exist), computed once as a driver-side scalar from
    * a column-pruned top-k job — the id-offset-robust replacement for the
    * old dense-id `< every * max` bound. Fails loudly when NO id is
    * divisible by `every` (the silent-empty-result footgun this selection
    * family had pre-round-8).
    */
  private def selectionBound(corpus: DataFrame, every: Long, max: Int): Long = {
    val rows = corpus.select(col("vec_id"))
      .filter(pmod(col("vec_id"), lit(every)) === 0)
      .orderBy(col("vec_id")).limit(max)
      .agg(org.apache.spark.sql.functions.max(col("vec_id"))).collect()
    require(rows.nonEmpty && !rows(0).isNullAt(0),
      s"no vec_id divisible by $every — the modulus quantizer selection " +
        "is empty; lower the sampling interval or use a trained quantizer")
    rows(0).getLong(0)
  }

  /** Trained PQ codebook: an independent seeded k-means per subspace over
    * the int8 sub-codes (classic PQ training, Jégou et al., TPAMI 2011 —
    * public method). Fixed `j` entries per subspace regardless of corpus
    * size; centroids are rounded back to int8 codes so the exact-integer
    * ADC contract is preserved. Not SQL-replayable (k-means) — spec-gated,
    * production path.
    */
  def pqCodebookTrained(corpus: DataFrame, m: Int, j: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val subs = subSplit(
      corpus.select(col("vec_id"),
        VectorFunctions.quantizeInt8(col("embedding")).as("code")), m)
    val toVec = udf((a: Seq[Int]) =>
      org.apache.spark.ml.linalg.Vectors.dense(a.map(_.toDouble).toArray))
    (0 until m).map { s =>
      val data = subs.filter(col("sub") === s)
        .select(toVec(col("scode")).as("features"))
      val model = new org.apache.spark.ml.clustering.KMeans()
        .setK(j).setSeed(KMeansSeed + s).setMaxIter(KMeansMaxIter)
        .setFeaturesCol("features")
        .fit(data)
      // KMeans can return < j centers on degenerate data (fewer distinct
      // sub-codes than j). The flattened sub*J+entry LUT layout consumed by
      // PqAdcPacked requires a RECTANGULAR codebook, so pad by repeating the
      // last center — duplicate entries are harmless (assignment ties break
      // toward the smaller entry id, so a padded entry is never chosen).
      val centers = model.clusterCenters
      val padded = centers ++ Array.fill(j - centers.length)(centers.last)
      padded.zipWithIndex.map { case (c, e) =>
        (s, e.toLong, c.toArray.map(v => math.round(v).toInt).toSeq)
      }.toSeq.toDF("sub", "entry", "scode")
    }.reduce(_.unionAll(_))
  }

  /** Splits each row's int8 `code` into `m` equal sub-codes:
    * `(…, sub, scode)`. Requires dims % m == 0 (enforced per row — slice
    * returns the full tail otherwise and lengths would mismatch in DotInt,
    * nulling the score).
    */
  private def subSplit(coded: DataFrame, m: Int): DataFrame =
    coded.select(col("*"), explode(sequence(lit(0L), lit(m - 1L))).as("sub"))
      .withColumn("scode",
        expr(s"slice(code, cast(sub * (size(code) div $m) + 1 as int), size(code) div $m)"))

  /** PQ-encodes the corpus against a codebook: each vector's sub-code is
    * assigned its nearest codebook entry by exact integer squared-L2
    * (`‖x‖² − 2x·c + ‖c‖²`, all [[org.apache.spark.sql.graft.DotInt]]
    * longs), ties toward the smaller entry id. Returns the exploded
    * `(vec_id, sub, entry)` form — [[pqPack]] compacts it to m bytes/vector.
    *
    * Scale shape: the codebook is broadcast, assignment is map-side
    * (n×m×J scored rows never leave their partition), and the min_by
    * partial-aggregates to one entry per (vector, subspace) before the
    * exchange — n×m rows shuffled, the PQ analogue of
    * [[assignToCentroids]].
    */
  def pqEncode(corpus: DataFrame, codebook: DataFrame, m: Int): DataFrame = {
    val subs = subSplit(
      corpus.select(col("vec_id"),
        VectorFunctions.quantizeInt8(col("embedding")).as("code")), m)
      .select(col("vec_id"), col("sub"), col("scode").as("xs"))
    val d2 = (VectorFunctions.dotInt(col("xs"), col("xs"))
      - lit(2L) * VectorFunctions.dotInt(col("xs"), col("scode"))
      + VectorFunctions.dotInt(col("scode"), col("scode")))
    subs.join(broadcast(codebook), Seq("sub"))
      .withColumn("__d", d2)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("entry"), struct(col("__d"), col("entry"))).as("entry"))
  }

  /** Compacts [[pqEncode]]'s exploded form to `(vec_id, pqcode: binary)` —
    * ONE byte per subspace (requires J ≤ 128). An m-subspace PQ code is
    * m bytes vs 4·dims for `array<int>` int8 codes vs 4·dims for float32:
    * at dims=64, m=8 that is a 32× compression of the corpus — the reason
    * PQ is the standard 10⁹⁺-vector ANN representation. Persist once;
    * [[Index.Ivf]] over [[Index.Pq]] scans it without ever reconstructing
    * vectors.
    */
  def pqPack(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("entry")))).as("se"))
      .select(col("vec_id"),
        VectorFunctions.packInt8(expr("transform(se, x -> cast(x.entry as int))"))
          .as("pqcode"))

  /** Per-query ADC lookup tables against a codebook: partial dot of the
    * query's int8 sub-code with every codebook entry, flattened to ONE
    * `array<long>` per query indexed `sub * J + entry` (the layout
    * [[org.apache.spark.sql.graft.PqAdcPacked]] consumes). Query side is
    * small — the LUT set broadcasts.
    */
  def pqLut(queries: DataFrame, codebook: DataFrame, m: Int): DataFrame =
    pqLutRows(queries, codebook, m)
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("entry"), col("pdot")))).as("t"))
      .select(col("query_id"), expr("transform(t, x -> x.pdot)").as("lut"))

  /** The exploded LUT: (query_id, sub, entry, pdot) — one row per query,
    * subspace and codebook entry.
    */
  private def pqLutRows(queries: DataFrame, codebook: DataFrame,
      m: Int): DataFrame =
    subSplit(
      queries.select(col("vec_id").as("query_id"),
        VectorFunctions.quantizeInt8(col("embedding")).as("code")), m)
      .select(col("query_id"), col("sub"), col("scode").as("qs"))
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("sub"), col("entry"),
        VectorFunctions.dotInt(col("qs"), col("scode")).as("pdot"))

  /** ANN index quality report: per-query recall of an approximate top-k
    * result against the exact one — the acceptance gate run before an IVF /
    * LSH / PQ index (or its nprobe / bits / code-size settings) is allowed
    * to serve a corpus. Both inputs are (query_id, neighbor_id[, ...])
    * frames from any pair of this module's search operators; recall is an
    * exact integer ratio, so the report oracle-checks.
    *
    * Scale shape: in production the exact side comes from a SAMPLED probe
    * set (a few thousand queries) — both frames are then probe-set-sized,
    * the semi-join keys on (query_id, neighbor_id) pairs, and nothing
    * corpus-sized is exchanged. Queries the approximate index missed
    * entirely still report (n_hit = 0) via the left join.
    */
  def recallReport(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    e.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))
  }

  /** Label-relevance retrieval metrics over a ranked top-k frame — MRR,
    * hit counts, recall@k, precision@k per query, with "relevant" =
    * "shares the query's label" (the standard proxy when graded relevance
    * judgments don't exist: kNN-classification-style evaluation of the
    * retrieval stack). Deliberately NO nDCG: its log2(rank+1) discount is
    * a libm call with no cross-engine bit guarantee, while reciprocal
    * rank (1/rank) and the count ratios are exact rationals — same
    * stance as the engine-wide `ln` ban.
    *
    * Input: `topk` = (query_id, neighbor_id, rank, …) from any searcher
    * ([[Index.Exact]] or an ANN index — comparing the two quantifies
    * what approximation costs in END-METRIC terms, not just overlap as
    * [[recallReport]] does); `labels` = (vec_id, label) for both id
    * spaces. Output per query: (query_id, label, first_rel_rank —
    * null when nothing relevant surfaced, rr — 0.0 then, the MRR
    * convention, n_rel_topk, n_rel_corpus — OTHER corpus members sharing
    * the label, recall_at_k, precision_at_k). recall is null when no
    * relevant corpus items exist to find.
    *
    * Input contract: label tables carry ONE row per (vec_id, label) —
    * duplicated rows inflate __lsz and n_rel_topk (an always-on
    * distinct() here would charge every well-formed caller a corpus
    * shuffle to defend against a malformed one; the selfIn flag below
    * is deduped because a fan-out there corrupts row COUNTS, not just
    * values).
    *
    * n_rel_corpus contract: by default (`corpusLabels` = None) `labels`
    * IS the corpus label table and every query is itself a corpus row,
    * so the query's own row is excluded (lsz − 1). When the query and
    * corpus id spaces are DISJOINT (a held-out probe set searched
    * against a separate index), pass the corpus-only label table as
    * `corpusLabels`: denominators then count corpus members sharing the
    * label, excluding the query id only if it genuinely appears in the
    * corpus — never a blind −1.
    *
    * Scale shape: `topk` is |queries|·k rows and broadcasts into one
    * pass over the labels table; the per-label corpus counts are a
    * |labels|-row aggregate broadcast back; the finale is a
    * |queries|-group agg. Nothing corpus-sized is exchanged.
    */
  def retrievalLabelMetrics(topk: DataFrame, labels: DataFrame,
      k: Int, corpusLabels: Option[DataFrame] = None): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val l = labels.select(col("vec_id"), col("label"))
    val cl = corpusLabels.map(_.select(col("vec_id"), col("label")))
      .getOrElse(l)
    val labelSizes = broadcast(cl.groupBy(col("label"))
      .agg(count(lit(1)).as("__lsz")))
    // both label joins BROADCAST THE PROBE-SIZED FRAME and stream the
    // corpus-sized labels table — broadcasting `l` itself would collect
    // the whole corpus's labels to the driver at scale
    val withNl = broadcast(topk.select(col("query_id"), col("neighbor_id"),
        col("rank")))
      .join(l.select(col("vec_id").as("neighbor_id"),
        col("label").as("__nl")), Seq("neighbor_id"))
    val joined = l.select(col("vec_id").as("query_id"),
        col("label").as("label"))
      .join(broadcast(withNl), Seq("query_id"))
    // pinned: perQuery feeds BOTH the selfIn semi join's broadcast side
    // and the finale's left input — unpinned, the topk×labels join and
    // aggregation run twice (the conformalCalibration two-consumer rule);
    // released at the caller's materialization boundary
    val perQuery = graft.Pins.pin(
      joined.groupBy(col("query_id"), col("label"))
        .agg(min(when(col("__nl") === col("label"), col("rank")))
            .as("first_rel_rank"),
          sum(when(col("__nl") === col("label"), 1L).otherwise(0L))
            .as("n_rel_topk")))
    // self-exclusion is EXPLICIT: the query's own row subtracts from the
    // relevant-corpus denominator only when the query genuinely is a
    // corpus member under its own label — exact for both the same-corpus
    // default and a disjoint probe set. Shape: the corpus label table
    // streams through a semi join against the broadcast query set, so the
    // flag frame is |queries|-sized and broadcasts back. `.distinct()`:
    // a labels table carrying duplicate (vec_id, label) rows must flag
    // the query ONCE, not fan the finale's left join out per duplicate.
    val selfIn = broadcast(
      cl.select(col("vec_id").as("query_id"), col("label"))
        .join(broadcast(perQuery.select(col("query_id"), col("label"))),
          Seq("query_id", "label"), "left_semi")
        .distinct()
        .withColumn("__self", lit(1L)))
    // left joins: a query whose label has NO corpus members at all (only
    // possible with a disjoint corpusLabels) still reports, with
    // n_rel_corpus = 0 and null recall
    val relDen =
      (coalesce(col("__lsz"), lit(0L)) - coalesce(col("__self"), lit(0L)))
    perQuery.join(labelSizes, Seq("label"), "left")
      .join(selfIn, Seq("query_id", "label"), "left")
      .select(col("query_id"), col("label"), col("first_rel_rank"),
        when(col("first_rel_rank").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("first_rel_rank").cast("double"))
          .as("rr"),
        col("n_rel_topk"),
        relDen.as("n_rel_corpus"),
        when(relDen === 0L, lit(null).cast("double"))
          .otherwise(col("n_rel_topk").cast("double") /
            relDen.cast("double")).as("recall_at_k"),
        (col("n_rel_topk").cast("double") / lit(k.toDouble))
          .as("precision_at_k"))
  }

  /** Matryoshka truncation audit (Kusupati et al. 2022, arXiv:2205.13147):
    * per-query recall@k of brute-force search over each PREFIX of the
    * embedding (dims 1..m) against full-dimension brute force — the
    * acceptance gate run before serving an MRL-truncated index (or
    * deciding a storage tier's dimension). One output row per
    * (prefix dim, query): (m, query_id, n_exact, n_hit, recall).
    *
    * Prefixes are plain `slice(embedding, 1, m)` — meaningful when the
    * model was MRL-trained (information front-loaded); for a non-MRL
    * model the audit quantifies exactly how much is lost, which is the
    * point. Every side reuses the [[Index.Exact]] fold and tie rule
    * (cos desc, id asc), so the report oracle-checks bit-for-bit. A
    * vector whose prefix is all-zero scores NaN cosines at that m and
    * wins nothing — same stance as the LSH/PQ paths.
    *
    * Scale shape: ONE corpus scan with the probe side broadcast — the
    * native [[graft.functions.VectorFunctions.prefixCosines]] kernel
    * emits every prefix's cosine plus the full-dimension cosine per
    * (probe, doc) pair in one fused fold (prefix dot/norm sums are
    * snapshots of the full fold, bit-equal to slicing by construction —
    * the round-16 audit paid one scan PER prefix for the same numbers).
    * Per-(prefix, query) candidates stay bounded in the partial-first
    * TopK aggregator; the top-k table (|prefixes+1|·|probes|·k rows) is
    * pinned for its exact/hit/denominator consumers and released at the
    * caller's boundary via [[graft.Pins.unpinAll]]. Nothing corpus-sized
    * is exchanged.
    */
  def matryoshkaRecall(probes: DataFrame, corpus: DataFrame,
      prefixDims: Seq[Int], k: Int): DataFrame = {
    require(prefixDims.nonEmpty, "need at least one prefix dim")
    require(prefixDims.forall(_ >= 1), s"prefix dims must be >= 1: $prefixDims")
    // Callers may pass dims in any order (with repeats); the fused kernel
    // needs them strictly increasing, and the output is keyed by the `m`
    // column, so normalizing here loses nothing.
    val dims = prefixDims.distinct.sorted
    val spark = corpus.sparkSession
    import spark.implicits._
    val p = dims.length // cs index p = the full-dimension cosine
    val q = broadcast(probes.select(col("vec_id").as("query_id"),
      col("embedding").as("qv")))
    val scored = corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"))
      .join(q, notSelf)
      .select(col("query_id"), col("neighbor_id"),
        posexplode(VectorFunctions.prefixCosines(col("qv"), col("cv"),
          dims)).as(Seq("j", "cos")))
      .filter(col("cos").isNotNull) // zero-norm prefixes win nothing
    val topkAgg = TopKAggregator.topK(k)
    // pinned: the top-k table feeds the exact set, the per-prefix hit
    // join AND the per-query denominator — released at the caller's
    // materialization boundary
    val tops = graft.Pins.pin(
      scored.groupBy(col("j"), col("query_id"))
        .agg(topkAgg(col("neighbor_id"), col("cos")).as("top"))
        .select(col("j"), col("query_id"),
          explode(col("top")).as("s"))
        .select(col("j"), col("query_id"), col("s.id").as("neighbor_id")))
    val exact = tops.filter(col("j") === p)
      .select(col("query_id"), col("neighbor_id"))
    val nExact = exact.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"))
    val mDf = broadcast(dims.zipWithIndex.map { case (m, j) => (j, m) }
      .toDF("j", "m"))
    val hits = tops.filter(col("j") < p)
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("j"), col("query_id")).agg(count(lit(1)).as("n_hit"))
    // one row per (prefix, query-with-exact-neighbors) — recallReport's
    // exact output contract, all prefixes in one frame
    nExact.crossJoin(mDf)
      .join(hits, Seq("j", "query_id"), "left")
      .select(col("m"), col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019 — the
    * LASER/CCMatrix alignment criterion): for each query vector, the
    * candidate maximizing the RATIO margin
    * `cos(x, y) / ((avgK(x) + avgK(y)) / 2)`, where avgK is the mean
    * cosine of a side's k nearest neighbors on the OTHER side — raw
    * cosine over-pairs hub vectors that are close to everything; the
    * margin normalizes by each side's neighborhood density, which is
    * the whole trick. Queries with best margin below `threshold` mine
    * nothing (standard cut 1.0–1.1: a true translation pair stands OUT
    * of both neighborhoods).
    *
    * Output: (query_id, match_id, cos, margin) — at most one row per
    * query; ties break toward the smaller match_id.
    *
    * Float discipline: cosines come from the native index-order fold;
    * each avgK is a rank-order left fold over the top-k list (seeded
    * 0.0 — bit-equal to an unseeded SQL list_reduce) divided once by
    * its length; the margin is the fixed two-division chain above — an
    * ANSI oracle replays every bit.
    *
    * Candidate pairs come from `source`, the generator [[search]] uses:
    * `Exact` scores every pair (`queries` is bounded by contract — an
    * alignment batch — and broadcasts into one corpus scan); `Lsh` keeps
    * only bucket collisions (~|corpus|·(bits+1)/2^bits per query on
    * balanced buckets with `multiProbe`), for corpora where the full scan
    * is unaffordable. Both k-NN averages then read the shortlisted
    * neighborhoods, so an `Lsh` margin differs from the `Exact` one where
    * the shortlist misses true neighbors, and a query whose buckets
    * collide with nothing mines nothing. The scored frame is pinned for
    * its three consumers (forward avg, backward avg, margin); both avgs
    * are bounded TopKAggregator aggregations and the backward join is
    * match-keyed.
    *
    * Bitext joins two INDEPENDENT id spaces (English sentence 7 and its
    * French translation can both carry vec_id 7), so equal ids score.
    * Frames that slice ONE id space must not overlap: an overlapping
    * vector mines itself as its own best match (cos = 1 dominates any
    * margin).
    */
  def marginMine(queries: DataFrame, corpus: DataFrame,
      source: Index.Shortlist, k: Int = 4,
      threshold: Double = 1.0): DataFrame = {
    // zero-norm vectors cosine to NULL — drop those pairs here: they
    // carry no alignment signal, and a NULL score would break the
    // non-nullable TopK aggregation buffer below
    marginOverPairs(
      pairs(queries, corpus, source).filter(col("cos").isNotNull)
        .select(col("query_id"), col("neighbor_id").as("match_id"),
          col("cos")),
      k, threshold)
  }

  /** The LASER margin chain over an ARBITRARY shortlist of scored pairs
    * `(query_id, match_id, cos)` — the tail [[marginMine]] shares and the
    * 10⁹-candidate composition path runs directly: shortlist with any of
    * this module's indexes (an [[Index.Lsh]] bucket join, [[Index.Ivf]]
    * cells), then margin-rank the shortlist. Both k-NN
    * averages read the SHORTLISTED neighborhoods (the standard
    * shortlisted-margin approximation — at 10⁹ candidates the exact
    * neighborhood is exactly what you cannot afford), so scores differ
    * from a full-scan [[marginMine]] where the shortlist misses true
    * neighbors; the acceptance gate for that trade is [[recallReport]]
    * on the shortlister.
    *
    * The input frame is pinned for its three consumers (forward avg,
    * backward avg, margin chain) — released at the caller's
    * materialization boundary via [[graft.Pins.unpinAll]].
    */
  def marginOverPairs(scored: DataFrame, k: Int,
      threshold: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.Pins.pin(scored)
    val topk = TopKAggregator.topK(k)
    def knnAvg(key: String, other: String, out: String) =
      scored.groupBy(col(key))
        .agg(topk(col(other), col("cos")).as("top"))
        .select(col(key),
          (aggregate(col("top"), lit(0.0),
            (acc, s) => acc + s.getField("score")) /
            size(col("top")).cast("double")).as(out))
    val fwd = knnAvg("query_id", "match_id", "fa")
    val bwd = knnAvg("match_id", "query_id", "ba")
    scored
      .join(broadcast(fwd), Seq("query_id"))
      // shuffle-hash, not sort-merge: the probe side is |probes|×|corpus|
      // rows and SMJ would sort it; the |corpus|-sized build side hashes
      // per partition (too big to broadcast at scale, fine to hash)
      .join(bwd.hint("shuffle_hash"), Seq("match_id"))
      // degenerate-neighborhood guard: the margin criterion presumes
      // POSITIVE neighborhood similarity. fa + ba = 0 divides to NaN/Inf
      // (and Spark orders NaN above every double, so it would WIN the
      // argmax and pass any threshold); near-zero sums blow the ratio up
      // to meaninglessly huge margins; negative sums flip an anti-similar
      // pair's margin positive. Mine nothing for all of them — only a
      // strictly positive denominator carries alignment signal. The
      // !isnan stays because NaN > 0.0 is TRUE under Spark's ordering.
      .filter(!isnan(col("fa") + col("ba")) &&
        col("fa") + col("ba") > lit(0.0))
      .select(col("query_id"), col("match_id"), col("cos"),
        (col("cos") / ((col("fa") + col("ba")) / lit(2.0))).as("margin"))
      .groupBy(col("query_id"))
      .agg(max_by(struct(col("match_id"), col("cos"), col("margin")),
        struct(col("margin"), -col("match_id"))).as("b"))
      .select(col("query_id"), col("b.match_id").as("match_id"),
        col("b.cos").as("cos"), col("b.margin").as("margin"))
      .filter(col("margin") >= lit(threshold))
  }
}
