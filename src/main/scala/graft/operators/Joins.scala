package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join shapes Spark has no native operator for: the as-of join and the
  * range (interval) join, each restated as one equi-keyed shuffle.
  */
object Joins {

  /** As-of join — for every left row, the single right row with the
    * greatest `rightTime` <= `leftTime` (or < when `strict`) per key; nulls
    * when no prior right row exists (left-join semantics). Spark has no
    * native as-of join; the scalable formulation is union + one window pass:
    * tag sides, sort within each key by (time, side), and carry the last
    * non-null right value forward — ONE shuffle on the key, no range-join
    * explosion, no per-key collect. Right rows must be unique per
    * (key, rightTime) for a deterministic pick (pre-aggregate if not).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, rightValue: String,
      strict: Boolean = false, out: String = "asof_value"): DataFrame = {
    val leftCols = left.columns
    val l = left.withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(right.schema(rightValue).dataType))
    val r = right.select(col(key), col(rightTime).as("__t"),
        lit(0).as("__side"), col(rightValue).as("__rv"))
    val rAligned = l.columns.foldLeft(r) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(l.schema(c).dataType))
    }.select(l.columns.map(col).toIndexedSeq: _*)
    // equal times: non-strict sorts right (0) before left (1) so it counts;
    // strict sorts right after left so it doesn't
    val sideOrder = if (strict) col("__side").desc else col("__side").asc
    val w = Window.partitionBy(col(key)).orderBy(col("__t"), sideOrder)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(rAligned)
      .withColumn(out, last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(col).toIndexedSeq :+ col(out): _*)
  }

  /** Range (interval) join: pairs where `left.t ∈ [right.lo, right.hi]`.
    * Spark plans a raw range predicate as broadcast-nested-loop/cartesian —
    * quadratic at scale. Bucketizing time into `bucketWidth`-wide chunks
    * turns it into an equi-join: each left row joins through its single
    * bucket, each right interval is exploded over the buckets it covers
    * (≈ (hi-lo)/width + 1 rows), and the exact BETWEEN predicate runs
    * inside the hash join's condition — a post-join filter would see null
    * lo/hi on unmatched rows and degrade a left join to inner. Every
    * qualifying pair matches in exactly one bucket (the left row's), so
    * no dedup pass is needed. `joinType`: inner, left, left_semi or
    * left_anti (right/full would duplicate the exploded intervals).
    */
  def rangeJoin(left: DataFrame, right: DataFrame, leftTime: String,
      lo: String, hi: String, bucketWidth: Long,
      joinType: String = "inner"): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi",
        "left_anti", "leftanti").contains(joinType.toLowerCase.replace(" ", "_")),
      s"rangeJoin supports inner/left/left_semi/left_anti, got $joinType")
    val l = left.withColumn("__bucket", floor(col(leftTime) / bucketWidth))
    val r = right.withColumn("__rbucket",
      explode(sequence(floor(col(lo) / bucketWidth), floor(col(hi) / bucketWidth))))
    l.join(r, col("__bucket") === col("__rbucket") &&
        col(leftTime) >= col(lo) && col(leftTime) <= col(hi), joinType)
      .drop("__bucket", "__rbucket")
  }
}
