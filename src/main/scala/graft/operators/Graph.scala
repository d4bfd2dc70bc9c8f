package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph rank over an edge table — the curation use is domain /
  * source ranking: crawl pipelines (Common Crawl's harmonic-centrality
  * ranking, Gopher's quality buckets) rank domains by link centrality and
  * use the rank as a quality prior for sampling weights. The same operator
  * ranks event types by session-transition flow, or near-dup clusters by
  * cross-link mass.
  */
object Graph {

  /** Weighted PageRank with a FIXED iteration count and FIXED-POINT
    * integer arithmetic — deterministic to the bit on any partitioning,
    * and replayable by an ANSI-SQL oracle as `iters` unrolled CTEs.
    *
    * Semantics: every node starts at rank `scale` (the unnormalized
    * formulation — rankings are identical to the 1/N-normalized one, and
    * no driver-side node count is needed). Each iteration:
    *
    *   r'(v) = ((dampDen−dampNum)·scale) div dampDen
    *         + (dampNum · Σ_{u→v} (r(u)·w(u,v)) div out(u)) div dampDen
    *
    * with `out(u)` = Σ of u's out-edge weights and scale =
    * [[LinkRankScale]]. The damping factor is the exact rational
    * [[LinkRankDampNum]]/[[LinkRankDampDen]] = 17/20 = 0.85, so every step
    * is integer multiply / integer `div` / order-free long sums — no
    * floating point anywhere. Dangling nodes (no out-edges) simply leak
    * their mass, the standard simplification; sinks still accumulate rank
    * through the teleport term.
    *
    * Overflow bound: the per-edge product r(u)·w(u,v) is the binding
    * term — it must stay under 2^63, and r(u) can approach the total
    * rank mass ≈ N_nodes·scale on a star graph, so require
    * N_nodes · scale · w_max < 2^63 (and the looser
    * dampNum · N_nodes · scale < 2^63 for the teleport sum). At scale
    * 10^9 that is N·w_max < 9·10^9 — pre-normalize heavy edge weights
    * for bigger graphs. Under
    * the engine's ANSI mode an overflow THROWS rather than wrapping, so
    * a violated bound is loud, not silently wrong.
    *
    * Scale shape: per iteration, one equi-join of the edge table against
    * the |nodes|-sized rank table (broadcast when nodes fit, shuffle
    * hash otherwise — Catalyst/AQE picks) and one partial-aggregated
    * groupBy(dst); the edge table is scanned `iters` times but never
    * widened. `iters` is a handful by design (rank ordering stabilizes in
    * 3–5 iterations on power-law graphs); convergence-driven looping
    * belongs in a driver loop around this operator, checkpointing
    * between calls.
    *
    * Output: (node, rank) — `rank` the fixed-point Long; callers wanting
    * a float divide by `scale` themselves.
    */
  def linkRank(edges: DataFrame, src: Column, dst: Column, weight: Column,
      iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters must be in [1,16], got $iters")
    val e = edges.select(src.cast("string").as("src"),
      dst.cast("string").as("dst"), weight.cast("long").as("w"))
    val withOut = e.join(
      e.groupBy(col("src")).agg(sum(col("w")).as("out_w")), "src")
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val teleport =
      (LinkRankDampDen - LinkRankDampNum) * LinkRankScale / LinkRankDampDen
    var ranks = nodes.select(col("node"), lit(LinkRankScale).as("r"))
    for (_ <- 1 to iters) {
      val contribs = withOut
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("r * w div out_w").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("cs"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) + expr(
            s"$LinkRankDampNum * coalesce(cs, 0L) div $LinkRankDampDen")).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank"))
  }

  /** linkRank's damping 17/20 = 0.85 (Brin & Page's value) and its 10^9
    * fixed-point rank scale, the oracle's literals. */
  private val LinkRankDampNum = 17L
  private val LinkRankDampDen = 20L
  private val LinkRankScale = 1000000000L
}
