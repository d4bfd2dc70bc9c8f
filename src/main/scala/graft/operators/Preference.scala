package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pairwise-preference aggregation — the curation step between raw
  * human/model comparison logs and a reward-model training set: collapse
  * (winner, loser) comparison rows into a per-item record with a
  * confidence-aware ranking score. The Wilson lower bound (not the raw
  * win-rate) is the ranking key production systems use, because it
  * penalizes small samples: an item with 2/2 wins must rank below one
  * with 90/100 — a raw-rate sort would invert that.
  *
  * Everything here is deterministic and oracle-replayable: counts are
  * exact integers; the rate and Wilson chain are fixed-order two-operand
  * IEEE arithmetic (sqrt is correctly rounded).
  */
object Preference {

  /** Per-item preference record over a comparison-pair table: each input
    * row says `winner` beat `loser` once. Output: one row per item that
    * appears in any comparison — (item, wins, losses, n, win_rate,
    * wilson_lb) — where `wilson_lb` is the lower bound of the Wilson
    * score interval at confidence z = [[WilsonZ]]:
    *
    *   lb = (p̂ + z²/2n − z·sqrt((p̂(1−p̂) + z²/4n)/n)) / (1 + z²/n)
    *
    * computed as a FIXED left-to-right chain so an ANSI-SQL oracle
    * replays it bit-for-bit.
    *
    * Scale shape: each comparison becomes exactly two (item, bit) rows;
    * one partial-aggregated groupBy(item) collapses them — comparisons
    * never shuffle wider than 16 bytes/row, and the output is
    * |items|-sized. No window, no driver collect. Ties must be resolved
    * upstream (emit no row, or one row each way for a split ballot).
    */
  def winRates(pairs: DataFrame, winner: Column, loser: Column): DataFrame =
    ratesFromCounts(ballotCounts(pairs, winner, loser))

  /** The Wilson interval's normal quantile: 1.96 ≈ 95% confidence, the
    * oracles' literal. */
  private val WilsonZ = 1.96

  /** The count half of [[winRates]]: ballots → (item, wins, n). Exposed
    * so incremental consumers ([[graft.streaming.Streams.PreferenceIngest]])
    * can FOLD counts across batches — counts are the sufficient statistic
    * (plain sums), the rate/Wilson chain is derived per read.
    */
  def ballotCounts(pairs: DataFrame, winner: Column,
      loser: Column): DataFrame =
    pairs.select(winner.as("item"), lit(1L).as("w"))
      .unionByName(pairs.select(loser.as("item"), lit(0L).as("w")))
      .groupBy(col("item"))
      .agg(sum(col("w")).as("wins"), count(lit(1)).as("n"))

  /** Bradley–Terry strength fitting over comparison ballots — the model
    * the Wilson ranking ([[winRates]]) cannot replace when opponents
    * differ in strength: beating a strong item must count for more than
    * beating a weak one (Elo-style leaderboards, matchmaking, LLM-arena
    * rankings all fit this model). Runs `iters` rounds of the standard
    * minorization-maximization update (Hunter 2004)
    *
    *   s_i ← W_i / Σ_j n_ij / (s_i + s_j)
    *
    * in FIXED-POINT integer arithmetic: strengths at [[BtScale]], the
    * inner reciprocal at [[BtPrec]], every step an integer multiply /
    * `div` / order-free long sum — bit-deterministic on any partitioning and
    * replayable by an ANSI-SQL oracle as `iters` unrolled CTEs (the
    * win-total numerator rides DECIMAL(38,0) so it cannot overflow).
    * A zero-win item floors at strength 1 (the MM update is degenerate
    * there; the floor keeps later divisions defined and ranks such items
    * last, which is the right answer). Strengths are unnormalized —
    * ratios are meaningful, the absolute level is BtScale-relative.
    *
    * Overflow bound: n_ij · BtPrec < 2^63 ⇒ each opponent pair supports
    * ≤ ~9 200 comparisons.
    *
    * Output: (item, wins, losses, n, strength_fp) with `strength_fp` the
    * fixed-point Long. Fixed iteration count by design — rank order
    * stabilizes in a few rounds; convergence-driven looping belongs in a
    * driver loop with checkpoints, like [[graft.operators.Graph.linkRank]].
    *
    * Scale shape: per iteration, the opponent table (two rows per
    * distinct comparison pair) joins the |items|-sized strength table
    * twice (broadcast when items fit) and partial-aggregates back to
    * |items| rows; ballots themselves are touched once, up front.
    */
  def btStrengths(pairs: DataFrame, winner: Column, loser: Column,
      iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1,8], got $iters")
    val ord = pairs.select(winner.as("item"), loser.as("opp"), lit(1L).as("w"))
      .unionByName(pairs.select(loser.as("item"), winner.as("opp"),
        lit(0L).as("w")))
      .groupBy(col("item"), col("opp"))
      .agg(count(lit(1)).as("n_io"), sum(col("w")).as("w_io"))
    val wins = ord.groupBy(col("item"))
      .agg(sum(col("w_io")).as("wins"), sum(col("n_io")).as("n"))
    var s = wins.select(col("item"), lit(BtScale).as("s"))
    for (_ <- 1 to iters) {
      val d = ord
        .join(s, "item")
        .join(s.select(col("item").as("opp"), col("s").as("s_opp")), "opp")
        .select(col("item"),
          expr(s"n_io * ${BtPrec}L div (s + s_opp)").as("t"))
        .groupBy(col("item")).agg(sum(col("t")).as("d"))
      s = wins.join(d, "item")
        .select(col("item"), greatest(lit(1L),
          expr(s"CAST(wins AS DECIMAL(38,0)) * ${BtPrec}L div d")).as("s"))
    }
    wins.join(s, "item")
      .select(col("item"), col("wins"), (col("n") - col("wins")).as("losses"),
        col("n"), col("s").as("strength_fp"))
  }

  /** Fixed-point scales of [[btStrengths]]: strengths start at 10^9 and
    * the inner reciprocal carries 10^15, the oracle's unrolled CTE
    * literals. */
  private val BtScale = 1000000000L
  private val BtPrec = 1000000000000000L

  /** The derivation half of [[winRates]] over a (item, wins, n) count
    * table — map-only, no shuffle.
    */
  def ratesFromCounts(counts: DataFrame): DataFrame = {
    val zz = lit(WilsonZ * WilsonZ)
    val base = counts.select(col("item"), col("wins"),
      (col("n") - col("wins")).as("losses"), col("n"),
      (col("wins").cast("double") / col("n").cast("double")).as("win_rate"))
    val nD = col("n").cast("double")
    val p = col("win_rate")
    // fixed-order chain: center, then margin, then the denominator
    val center = p + zz / (lit(2.0) * nD)
    val margin = lit(WilsonZ) * sqrt((p * (lit(1.0) - p) + zz / (lit(4.0) * nD)) / nD)
    val denom = lit(1.0) + zz / nD
    base.withColumn("wilson_lb", (center - margin) / denom)
  }

  /** Verbosity-bias diagnostic over a comparison log — the standard RLHF
    * preference-data audit (annotators and LLM judges systematically
    * prefer LONGER responses; a reward model trained on such ballots
    * learns length, not quality). Joins each ballot to the items'
    * lengths and counts which side won: `longer_win_rate` near 0.5 says
    * length-neutral ballots; near 1.0 says the log mostly ranks by
    * verbosity and needs debiasing (length-matched pairs, penalties)
    * before reward training. Ties in length are reported separately and
    * excluded from the rate; an all-ties log yields a NULL rate rather
    * than a fabricated 0.5.
    *
    * Output: ONE row — (n_ballots, n_unmatched, longer_wins,
    * shorter_wins, len_ties, longer_win_rate). A ballot whose winner OR
    * loser is missing from `items` (deleted doc, partial dim load)
    * counts in `n_unmatched` and is excluded from the rate — an audit
    * must SURFACE lost rows, never silently shrink its denominator.
    *
    * Scale shape: two item-keyed left joins (the item dimension is
    * |items|-sized) and one global partial-aggregated count — ballots
    * never shuffle wider than two ids + two longs.
    */
  def lengthBias(pairs: DataFrame, winner: Column, loser: Column,
      items: DataFrame, item: Column, length: Column): DataFrame = {
    val dim = items.select(item.as("it"), length.cast("long").as("len"))
    val matched = col("wlen").isNotNull && col("llen").isNotNull
    pairs.select(winner.as("w"), loser.as("l"))
      .join(dim.toDF("w", "wlen"), Seq("w"), "left")
      .join(dim.toDF("l", "llen"), Seq("l"), "left")
      .agg(count(lit(1)).as("n_ballots"),
        sum(when(!matched, 1L).otherwise(0L)).as("n_unmatched"),
        sum(when(matched && col("wlen") > col("llen"), 1L).otherwise(0L))
          .as("longer_wins"),
        sum(when(matched && col("wlen") < col("llen"), 1L).otherwise(0L))
          .as("shorter_wins"),
        sum(when(matched && col("wlen") === col("llen"), 1L).otherwise(0L))
          .as("len_ties"))
      .withColumn("longer_win_rate",
        when(col("longer_wins") + col("shorter_wins") === 0L,
          lit(null).cast("double"))
          .otherwise(col("longer_wins").cast("double") /
            (col("longer_wins") + col("shorter_wins")).cast("double")))
  }

  /** DPO/RLHF training-pair assembly: prompt-grouped comparison ballots
    * collapse to ONE (prompt, chosen, rejected) record per prompt — the
    * record a direct-preference-optimization run trains on (Rafailov et
    * al. 2023 consume exactly this shape). Within each prompt group,
    * `chosen` is the item with the highest within-group win rate (ties →
    * the LOWER item id) and `rejected` the lowest (ties → the HIGHER id,
    * so a fully-tied group still yields a distinct pair); prompts whose
    * preference margin (chosen rate − rejected rate, one IEEE
    * subtraction of two single-division doubles) is below `minMargin`
    * are dropped — an uninformative pair teaches the model nothing and
    * noisy-ballot prompts are the standard DPO data-quality cut.
    *
    * Output: (prompt, chosen, rejected, chosen_rate, rejected_rate,
    * margin, n_ballots).
    *
    * Scale shape: ballots → two (prompt, item, bit) rows each → one
    * partial-aggregated (prompt, item) count, then ONE groupBy(prompt)
    * with max_by/min_by struct keys for the arg-extremes — no window, no
    * per-prompt sort; every exchange is id+counter-width. Item counts
    * per prompt are response-candidate-sized (single digits in practice).
    */
  def dpoPairs(ballots: DataFrame, prompt: Column, winner: Column,
      loser: Column, minMargin: Double = 0.0): DataFrame =
    dpoFromCounts(dpoCounts(ballots, prompt, winner, loser), minMargin)

  /** The count half of [[dpoPairs]]: ballots → (prompt, item, wins, n).
    * The sufficient statistic is ADDITIVE (plain sums), so incremental
    * consumers ([[graft.streaming.Streams.DpoIngest]]) fold batches with
    * a (prompt, item)-keyed sum and derive pairs per read — the
    * [[ballotCounts]]/[[ratesFromCounts]] split, prompt-aware.
    */
  def dpoCounts(ballots: DataFrame, prompt: Column, winner: Column,
      loser: Column): DataFrame =
    ballots
      .select(prompt.as("prompt"), winner.as("item"), lit(1L).as("w"))
      .unionByName(ballots
        .select(prompt.as("prompt"), loser.as("item"), lit(0L).as("w")))
      .groupBy(col("prompt"), col("item"))
      .agg(sum(col("w")).as("wins"), count(lit(1)).as("n"))

  /** The derivation half of [[dpoPairs]] over a (prompt, item, wins, n)
    * count table — rates, per-prompt arg-extremes, margin filter.
    */
  def dpoFromCounts(counts: DataFrame, minMargin: Double = 0.0): DataFrame = {
    val perItem = counts.select(col("prompt"), col("item"),
      (col("wins").cast("double") / col("n").cast("double")).as("rate"),
      col("n"))
    // tie-break keys negate the DOUBLE rate, never the item — items may
    // be strings (the winRates/btStrengths contract) and -item would
    // ANSI-throw on them: chosen minimizes (-rate, item) = max rate then
    // LOW item; rejected maximizes (-rate, item) = min rate then HIGH item
    perItem.groupBy(col("prompt"))
      .agg(
        min_by(col("item"), struct(-col("rate"), col("item"))).as("chosen"),
        max(col("rate")).as("chosen_rate"),
        max_by(col("item"), struct(-col("rate"), col("item")))
          .as("rejected"),
        min(col("rate")).as("rejected_rate"),
        // each ballot contributed two (item, bit) rows — halve the sum.
        // DIV, not `/`: long `/` is double true-division, exact only
        // below 2^53 — integer division keeps the count exact at any
        // ballot volume (the file's exact-integer discipline)
        expr("sum(n) DIV 2").as("n_ballots"))
      .withColumn("margin", col("chosen_rate") - col("rejected_rate"))
      .filter(col("chosen") =!= col("rejected") &&
        col("margin") >= lit(minMargin))
      .select(col("prompt"), col("chosen"), col("rejected"),
        col("chosen_rate"), col("rejected_rate"), col("margin"),
        col("n_ballots"))
  }
}
