// Lives under org.apache.spark.sql to reach Spark's private[sql] file-split
// arithmetic; "an expression of this package" is an engine kernel.
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}

/** The engine's one widen policy. A one-row-group parquet file is one split,
  * so per-row kernels over it run on one core. The rule puts
  * `Repartition(defaultParallelism)` above a batch file scan's Filters and
  * column-selecting Projects (or above a cache of one) when:
  *  1. a `Generate` or an expression of this package reads the scan's rows
  *     before their first exchange, and an aggregate, join or window takes
  *     them (a broadcast join is no exchange for its streamed side, and no
  *     consumer of its small build side). Checked first: a plan without
  *     such work pays a tree walk;
  *  2. the scan's files hold at least [[MinBytes]], in fewer splits than
  *     `defaultParallelism` by Spark's own `FilePartition` arithmetic.
  * Computed columns stay above the exchange. Another read of a widened
  * scan that prunes it alike gets the same repartition, so both read one
  * exchange. Streaming plans are left alone; a second pass adds nothing;
  * no job runs.
  */
object WidenNarrowScans extends Rule[LogicalPlan] with JoinSelectionHelper {

  /** Below this the shuffle costs more than the cores it adds save (4 cores:
    * minHash banding of a 65 KB document file ran faster on one task, of a
    * 595 KB one twice as fast widened). */
  val MinBytes: Long = 256L << 10

  /** Idempotent; `graft.GraftSession.configure` calls it. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this)) {
      spark.experimental.extraOptimizations =
        Seq(this) ++ spark.experimental.extraOptimizations
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming || !plan.exists(perRow)) plan
    else {
      val out = widen(plan, work = false, consumed = false)
      val wide = out.collect { case r @ Repartition(_, true, Source(_)) => r.canonicalized }.toSet
      // every other read of a widened scan, pruned alike, reads the same
      // exchange: Spark reuses it, so the file is read once
      def share(p: LogicalPlan): LogicalPlan = p match {
        case _: Repartition => p
        case _ => p.mapChildren {
          case c @ Source(r) => Some(repartition(r, pruned(p, c)))
            .filter(w => wide.contains(w.canonicalized)).getOrElse(share(c))
          case c => share(c)
        }
      }
      if (wide.isEmpty) out else share(out)
    }

  private def perRow(p: LogicalPlan): Boolean = p.isInstanceOf[Generate] ||
    p.expressions.exists(_.exists(_.getClass.getPackageName == "org.apache.spark.sql.graft"))

  /** `work`: engine work reads `p`'s rows with no exchange between.
    * `consumed`: an aggregate, join or window takes them. Other operators
    * pass both on, except that an exchange (or a limit) ends the work. */
  private def widen(p: LogicalPlan, work: Boolean, consumed: Boolean): LogicalPlan = {
    val w = work || consumed && perRow(p)
    p match {
      case Source(r) if work && narrow(r) => repartition(r, p)
      case Project(list, c @ Source(r)) if w && narrow(r) =>
        Project(list, repartition(r, pruned(p, c)))
      case _: Project | _: Filter | _: Generate | _: Union | _: Expand | _: Sample =>
        p.mapChildren(widen(_, w, consumed))
      case j: Join =>
        // a broadcast's small build side is collected; its streamed side is
        // read in the join's own stage
        val build = getBroadcastBuildSide(j, hintOnly = false, conf).map {
          case BuildLeft => j.left
          case BuildRight => j.right
        }
        j.mapChildren {
          case c if build.exists(_ eq c) => widen(c, work = false, consumed = false)
          case c => widen(c, (w || perRow(j)) && build.isDefined, consumed = true)
        }
      case _: Aggregate | _: Window => p.mapChildren(widen(_, work = false, consumed = true))
      case _ => p.mapChildren(widen(_, work = false, consumed))
    }
  }

  private def repartition(r: HadoopFsRelation, child: LogicalPlan): LogicalPlan =
    Repartition(r.sparkSession.sparkContext.defaultParallelism, shuffle = true, child)

  /** `c` with only the columns `p` reads. */
  private def pruned(p: LogicalPlan, c: LogicalPlan): LogicalPlan = {
    val read = c.output.filter(p.references.contains)
    if (read == c.output) c else Project(read, c)
  }

  /** A [[Scan]]'s relation; a cached relation holds the partitions of the
    * scan its cached plan computes over. */
  private object Source {
    def unapply(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case Scan(r) => Some(r)
      case c: InMemoryRelation =>
        def scanOf(q: LogicalPlan): LogicalPlan = q match {
          case Project(_, child) => scanOf(child)
          case Filter(_, child) => scanOf(child)
          case leaf => leaf
        }
        c.cachedPlan.collectFirst(Function.unlift(_.logicalLink)).map(scanOf).flatMap(unapply)
      case _ => None
    }
  }

  /** A batch file scan's relation, under Filters without engine work and
    * Projects that only select or rename columns. */
  private object Scan {
    def unapply(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case LogicalRelation(r: HadoopFsRelation, _, _, false, _) => Some(r)
      case Project(list, Scan(r)) if list.forall {
        case _: Attribute | Alias(_: Attribute, _) => true
        case _ => false
      } => Some(r)
      case Filter(_, Scan(r)) if !perRow(p) => Some(r)
      case _ => None
    }
  }

  /** Condition 2, splitting every listed file as `FileSourceScanExec` does
    * (a partitioned table's pruning aside). */
  private def narrow(r: HadoopFsRelation): Boolean = r.sizeInBytes >= MinBytes && {
    val spark = r.sparkSession
    val dirs = r.location.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
    val splits = dirs.flatMap(d => d.files.flatMap(f => PartitionedFileUtil.splitFiles(
      f, f.getPath, r.fileFormat.isSplitable(spark, r.options, f.getPath), maxSplit, d.values)))
    FilePartition.getFilePartitions(spark, splits.sortBy(-_.length), maxSplit).size <
      spark.sparkContext.defaultParallelism
  }
}
