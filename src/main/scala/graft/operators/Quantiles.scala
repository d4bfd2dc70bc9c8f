package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, TimestampNTZType, TimestampType}

/** Distributed exact discrete quantiles — the scale-safe twin of Spark's
  * `percentile_disc` aggregate.
  *
  * Spark's `PercentileDisc` is a TypedImperativeAggregate whose buffer is a
  * (value -> count) OpenHashMap holding EVERY DISTINCT VALUE of the group:
  * partials serialize whole maps, the final merge lands one group's entire
  * distinct-value set on one task's heap with no spill path — at 100 TB a
  * high-cardinality column is an OOM, not a slowdown. This helper computes
  * the SAME answer from relational pieces that all spill gracefully:
  *
  *   1. per-(group, value) counts — a 2-phase hash aggregation, so the
  *      exchange carries distinct values only (never the corpus);
  *   2. a BUCKETED two-level running sum per group: distinct values are
  *      range-bucketed (an order-monotonic equi-width map from the
  *      group's [min, max]), per-bucket totals are summed, a tiny window
  *      over the ≤`buckets` totals yields each bucket's cumulative BASE,
  *      and the ordered running sum runs only WITHIN a bucket — so a
  *      near-unique column (distinct ≈ corpus) sorts |distinct|/buckets
  *      rows per task instead of parking every distinct value on ONE
  *      window task (the r20 straggler shape this replaces);
  *   3. the pick: the smallest value whose cumulative count reaches the
  *      target rank, as `min(when(cum >= target, v))`.
  *
  * Bit-for-bit contract (QuantilesSpec proves it on adversarial (n, p)
  * pairs): Spark 4's non-legacy `PercentileDisc.getPercentile` computes
  * `target = ceil(n.toDouble * p).toLong` (one IEEE double multiply, one
  * ceil) and binary-searches the accumulated counts for the first
  * cumulative >= target. The pick below replicates the arithmetic exactly:
  * `ceil(CAST(n AS DOUBLE) * lit(p))` is the same multiply and the same
  * `math.ceil(_).toLong` (Spark's `Ceil` on DOUBLE yields LONG), and the
  * running-sum comparison is the same first-cumulative->=-target rule. The
  * result is cast to DOUBLE exactly where `PercentileDisc.toDoubleValue`
  * casts (long -> double above 2^53 loses the same bits in both).
  *
  * Caveats (documented, not load-bearing for any current caller):
  * - All spec'd value columns must share one numeric or timestamp type
  *   (the melt is monomorphic, and bucket placement casts to double, which
  *   preserves order only for those types); anything else is refused.
  * - DOUBLE inputs containing BOTH -0.0 and +0.0 can differ in sign of a
  *   zero pick: groupBy normalizes -0.0 == +0.0 into one count while the
  *   OpenHashMap keeps boxed -0.0 distinct. No engine-table column carries
  *   signed zeros.
  * - Groups with no non-null value in ANY spec'd column are ABSENT from
  *   the output (an aggregate would keep the row with null percentiles) —
  *   UNLESS `rowCountCol` is set, whose null-keeping first slice preserves
  *   every group; callers without it join the picks onto a group spine.
  */
object Quantiles {

  /** One row per group with a DOUBLE column per spec.
    *
    * Beyond the picks, any DISTRIBUTIVE single-column aggregate is
    * computable from the same per-(group, value) counts — max/min, null
    * counts, value-weighted sums — so callers that previously paired the
    * percentile aggregate with count/sum/max siblings keep their ONE-pass
    * shape instead of paying a second corpus pass plus a join:
    * `maxCols`, `nullCountCols`, `weightedSums` below ride the counts
    * frame for free (|distinct values| rows, never the corpus).
    *
    * @param df          pre-projected input (group cols + value cols)
    * @param grpCols     grouping column names (empty = one global row)
    * @param specs       (outputName, valueColumnName, percentage) triples;
    *                    value columns may repeat across specs
    * @param rowCountCol when set, append a LONG column of that name holding
    *                    the group's TOTAL row count (== `count(*)`, nulls
    *                    included) from the same single pass — callers that
    *                    need the spine+count would otherwise pay a second
    *                    scan and a join. Groups whose spec'd columns are
    *                    all null are then PRESENT (null picks, exact count).
    * @param maxCols     (outputName, valueColumnName) — append the null-
    *                    skipping `max(value)` per group (same type as the
    *                    value column; null when the group has no non-null
    *                    value). The column need not appear in `specs`.
    * @param nullCountCols (outputName, valueColumnName) — append a LONG
    *                    count of the group's NULL values of that column
    *                    (0 when none) == `sum(when(v.isNull, 1L).else(0L))`.
    * @param weightedSums (outputName, valueColumnName, castType) — append
    *                    `sum(cast(value AS castType))` over the group's
    *                    non-null values, computed as Σ cast(v)·count —
    *                    exact for integral/decimal casts (null on a group
    *                    with no non-null value, like the plain aggregate).
    * @param buckets     range buckets per (group, column) for the
    *                    two-level cumulative (≤ 0 = auto: scale with the
    *                    session's default parallelism). Any value yields
    *                    the same bit-exact answer — it only bounds the
    *                    largest single-task sort at |distinct|/buckets.
    */
  def discPicks(df: DataFrame, grpCols: Seq[String],
      specs: Seq[(String, String, Double)],
      rowCountCol: Option[String] = None,
      maxCols: Seq[(String, String)] = Seq.empty,
      nullCountCols: Seq[(String, String)] = Seq.empty,
      weightedSums: Seq[(String, String, String)] = Seq.empty,
      buckets: Int = 0): DataFrame = {
    require(specs.nonEmpty, "discPicks needs at least one spec")
    specs.foreach { case (_, _, p) =>
      require(p >= 0.0 && p <= 1.0, s"percentage $p outside [0,1]") }
    val valCols = (specs.map(_._2) ++ maxCols.map(_._2) ++
      nullCountCols.map(_._2) ++ weightedSums.map(_._2)).distinct
    val vTypes = valCols.map(c => df.schema(c).dataType).distinct
    require(vTypes.size == 1,
      s"discPicks value columns must share one type, got $vTypes")
    // buckets are placed by the value's double cast, which is
    // order-monotonic only for numeric and timestamp types
    val castMonotonic = vTypes.head match {
      case _: NumericType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    require(castMonotonic,
      s"discPicks value columns must be numeric or timestamp, got ${vTypes.head}")
    // the NaN bucket is nb + 1, so nb must leave room above it
    require(buckets < Int.MaxValue, s"buckets must be < Int.MaxValue, got $buckets")

    // melt to (grp..., __w, __v): one row per (input row, value column),
    // nulls dropped (percentile_disc skips null child values) — EXCEPT the
    // first column's slice when a row count is requested, and any slice a
    // null count is requested over, which keep their null rows (the null
    // bucket's count is the datum). The explode happens BEFORE the partial
    // aggregation, so the exchange still carries only distinct
    // (grp, __w, __v) counts (plus one null bucket per kept slice).
    val nullKeepW: Set[Int] =
      nullCountCols.map(c => valCols.indexOf(c._2)).toSet ++
        (if (rowCountCol.isDefined) Set(0) else Set.empty[Int])
    val keep =
      if (nullKeepW.isEmpty) col("__v").isNotNull
      else col("__v").isNotNull ||
        col("__w").isInCollection(nullKeepW.map(Integer.valueOf))
    val melted = df.select(grpCols.map(col) :+
        explode(array(valCols.zipWithIndex.map { case (c, i) =>
          struct(lit(i).as("w"), col(c).as("v"))
        }: _*)).as("__e"): _*)
      .select(grpCols.map(col) :+ col("__e.w").as("__w") :+
        col("__e.v").as("__v"): _*)
      .filter(keep)
    val counts = melted
      .groupBy((grpCols :+ "__w" :+ "__v").map(col): _*)
      .agg(count(lit(1)).as("__c"))

    // Two-level cumulative per (grp, column). A single window partitioned
    // by (grp, __w) would land EVERY distinct value of a column on one
    // sort task — for a near-unique column (time_embargo_split's
    // microsecond timestamps, table_profile's medians) that one task
    // sorts billions of (value, count) rows at 100 TB: the straggler the
    // r20 verdict flagged. Instead: range-bucket the distinct values with
    // an order-MONOTONIC equi-width map over the group's [lo, hi] (IEEE
    // subtract/divide/floor by per-group constants are all non-strictly
    // monotonic, so v1 < v2 never lands v1 in a later bucket; equal
    // values land identically — bucketing can never reorder ranks), sum
    // per-bucket totals, window the ≤`nb` totals for each bucket's BASE,
    // and run the ordered running sum within buckets only. Every level is
    // exact integer arithmetic — the bucket map's doubles only PLACE
    // rows, they never enter a count.
    // Null-value rows (row-count/null-count mode only) sit in bucket -1
    // and contribute 0 to the cumulative and the non-null total, so every
    // non-null row's __cum is its exact 1-based upper rank.
    val spark = df.sparkSession
    val nb =
      if (buckets > 0) buckets
      else math.max(64, 4 * spark.sparkContext.defaultParallelism)
    val partNames = grpCols :+ "__w"
    val part = partNames.map(col)
    val nnC = when(col("__v").isNotNull, col("__c")).otherwise(lit(0L))
    val vd = col("__v").cast("double")
    // group bounds over non-NaN values; rows == |groups × columns| — the
    // same cardinality as discPicks' OUTPUT, so the broadcast back is
    // bounded by what the caller already holds
    val bounds = counts.groupBy(part: _*)
      .agg(min(when(!isnan(vd), vd)).as("__lo"),
        max(when(!isnan(vd), vd)).as("__hi"))
    val span = col("__hi") - col("__lo")
    val degenerate = col("__lo").isNull || // all-NaN slice
      !(span > lit(0.0)) || // single value (span 0) — one bucket suffices
      span === lit(Double.PositiveInfinity) || // ±inf endpoint or overflow
      isnan(span) // lo = hi = ±inf (Spark compares NaN > 0 as TRUE)
    val bucket = when(col("__v").isNull, lit(-1))
      .when(isnan(vd), lit(nb + 1)) // NaN sorts greater than everything
      .when(degenerate, lit(0))
      .otherwise(least(lit(nb - 1), greatest(lit(0),
        floor((vd - col("__lo")) / span * lit(nb.toDouble)).cast("int"))))
    val withB = counts.join(broadcast(bounds), partNames)
      .withColumn("__b", bucket).drop("__lo", "__hi")
    // per-bucket totals (≤ nb + 2 rows per group-column) → cumulative
    // bases + group totals from ONE tiny window frame
    val bTot = withB.groupBy((part :+ col("__b")): _*)
      .agg(sum(nnC).as("__bc"), sum(col("__c")).as("__bcAll"))
    val wPrev = Window.partitionBy(part: _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(part: _*)
    val bases = bTot
      .withColumn("__base", coalesce(sum(col("__bc")).over(wPrev), lit(0L)))
      .withColumn("__n", sum(col("__bc")).over(wAll))
      .withColumn("__nrows", sum(col("__bcAll")).over(wAll))
      .select((part :+ col("__b") :+ col("__base") :+ col("__n") :+
        col("__nrows")): _*)
    // within-bucket running sum; the join and the window share the
    // (grp, __w, __b) keys, so the window rides the join's partitioning
    val wOrd = Window.partitionBy((part :+ col("__b")): _*)
      .orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var cum = withB.join(bases, partNames :+ "__b")
      .withColumn("__cum", col("__base") + sum(nnC).over(wOrd))
    if (rowCountCol.isEmpty) cum = cum.drop("__nrows")

    // the pick, in PercentileDisc's exact arithmetic (see scaladoc); the
    // sibling aggregates all fold the (value, count) rows — distributive,
    // so Σ over distinct values ≡ Σ over raw rows, exactly, in any order
    val aggs = specs.map { case (name, vc, p) =>
      val w = valCols.indexOf(vc)
      min(when(col("__w") === lit(w) && col("__v").isNotNull &&
          col("__cum") >= ceil(col("__n").cast("double") * lit(p)),
        col("__v"))).cast("double").as(name)
    } ++ rowCountCol.map(n =>
      max(when(col("__w") === lit(0), col("__nrows"))).as(n)) ++
      maxCols.map { case (name, vc) =>
        val w = valCols.indexOf(vc)
        max(when(col("__w") === lit(w), col("__v"))).as(name)
      } ++
      nullCountCols.map { case (name, vc) =>
        val w = valCols.indexOf(vc)
        coalesce(sum(when(col("__w") === lit(w) && col("__v").isNull,
          col("__c"))), lit(0L)).as(name)
      } ++
      weightedSums.map { case (name, vc, t) =>
        val w = valCols.indexOf(vc)
        sum(when(col("__w") === lit(w) && col("__v").isNotNull,
          col("__v").cast(t) * col("__c"))).as(name)
      }
    if (grpCols.isEmpty) cum.agg(aggs.head, aggs.tail: _*)
    else cum.groupBy(grpCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
