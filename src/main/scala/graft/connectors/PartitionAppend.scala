package graft.connectors

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{StructField, StructType}

/** Shared shape for effectful per-row enrichment: append one computed field
  * to every row, with a connector client opened once per partition and closed
  * on task completion (success or failure) — the Spark-native version of the
  * reference's open-once/close-once UDTF rationale
  * (reference: README.md:96-105; close() leak noted in SURVEY.md §7.4.5 is
  * avoided via TaskContext.addTaskCompletionListener).
  *
  * The connector runs once per row per materialization of the returned
  * frame. Its output is a lazy `localCheckpoint(false)`: the first job
  * that computes it stores its blocks, and every later job of the same
  * frame reads them instead of calling the connector again. Without it a
  * downstream range-partitioned sort, which samples its input in one job
  * and shuffles it in a second, ran every call twice (a SET NX then
  * answered null on its own key). The blocks are freed by
  * `graft.Pins.releaseAll` in the mains that run many entries, otherwise
  * by the ContextCleaner once the frame is unreachable. A streaming input
  * is returned unchecked: each micro-batch runs its calls once.
  */
object PartitionAppend {

  /** `inputs` are evaluated as extra columns; `open()` runs once per
    * partition and returns (perRowFn over the input values, close).
    */
  def apply(df: DataFrame, inputs: Seq[Column], out: StructField)
      (open: () => (Seq[Any] => Any, () => Unit)): DataFrame = {
    val in = inputs.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      d.withColumn(s"__graft_in_$i", c)
    }
    val base = df.schema.size
    val nIn = inputs.size
    val outSchema = StructType(df.schema.fields :+ out)
    once(in.mapPartitions { rows =>
      val (fn, close) = open()
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))
      rows.map { r =>
        val args = (0 until nIn).map(i => r.get(base + i))
        Row.fromSeq(r.toSeq.take(base) :+ fn(args))
      }
    }(Encoders.row(outSchema)))
  }

  /** `effectful`'s rows computed once for every job that reads them: a
    * lazy local checkpoint of a batch frame, a streaming frame unchanged.
    */
  private[connectors] def once(effectful: DataFrame): DataFrame =
    if (effectful.isStreaming) effectful else effectful.localCheckpoint(false)
}
