package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LayoutFunctions

/** Physical-layout operators: how rows are ordered into files decides which
  * files a 100 TB scan can SKIP. Parquet keeps per-row-group min/max stats;
  * a table range-partitioned and sorted by a clustering key turns a
  * predicate on that key into file/row-group pruning instead of a full scan.
  *
  * Z-ordering extends that to TWO dimensions at once: sorting by the Morton
  * interleave of (a, b) keeps rows that are close in both columns physically
  * adjacent, so each file covers a small rectangle of (a, b) space and
  * predicates on EITHER column skip most files — where a lexicographic sort
  * (a, b) prunes only on `a`. A clustered write range-partitions on the key
  * and sorts within partitions: the same one range exchange a plain
  * sort-on-write pays.
  */
object Layout {

  /** Z-order clustering key for two integral columns. */
  def zOrderKey(a: Column, b: Column): Column = LayoutFunctions.zOrderKey(a, b)

  /** Curriculum sharding: assign every row to one of `numShards` buckets by
    * the quantile band of a difficulty/quality `score` — the
    * short-to-long (or clean-to-noisy) ordering curriculum training
    * consumes, produced WITHOUT a global sort. Cut points come from one
    * mergeable KLL sketch aggregation ([[graft.functions.QuantileSketch]]:
    * each map task ships an O(k) summary, exact while n ≤ the
    * [[CurriculumSketchK]] buffer, rank-error-bounded beyond); the numShards−1 cuts then broadcast and
    * assignment is a map-only membership count — `shard` = how many cuts
    * the score exceeds (boundary scores go to the lower shard, matching
    * the discrete-quantile convention). Output: (id, score, shard).
    *
    * Scale shape: one O(k)-exchange aggregation + one map-only pass. The
    * alternative — ntile() over a corpus-wide Window — funnels every row
    * through one reducer and is exactly the shape this engine bans.
    */
  def curriculumShards(df: DataFrame, id: Column, score: Column,
      numShards: Int): DataFrame = {
    require(numShards >= 2, s"numShards must be >= 2, got $numShards")
    val probs = (1 until numShards).map(_.toDouble / numShards)
    val cuts = df.agg(graft.functions.QuantileSketch
      .kllQuantiles(CurriculumSketchK, probs)(score.cast("double")).as("__cuts"))
    df.select(id.as("id"), score.as("score"))
      .crossJoin(broadcast(cuts))
      .select(col("id"), col("score"),
        size(filter(col("__cuts"), c => col("score").cast("double") > c))
          .as("shard"))
  }

  /** KLL buffer of [[curriculumShards]]: its cuts are exact, and so
    * oracle-replayable, up to 4096 rows. */
  private val CurriculumSketchK = 4096

  /** Hilbert-curve clustering key — same 62-bit contract as [[zOrderKey]]
    * but with no long jumps between consecutive cells, so clustered files
    * cover tighter (a, b) rectangles and min/max pruning skips more of
    * them (see [[org.apache.spark.sql.graft.HilbertIndex]]).
    */
  def hilbertKey(a: Column, b: Column): Column = LayoutFunctions.hilbertKey(a, b)
}
