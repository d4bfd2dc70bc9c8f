package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction — the operational cure for long-running ingestion
  * (each micro-batch/partition append leaves files far below the scan-
  * efficient size; a 100 TB table accreted in 10 MB files pays listing +
  * open cost on every query).
  *
  * Sizing is computed from the INPUT bytes on disk: files ≈
  * ceil(inputBytes / targetFileBytes). Input bytes are already compressed,
  * so with the same codec the output lands near the target (re-codec
  * changes the ratio — document the deploy codec). `sortCols` sorts within
  * the new files (clustered layout → better row-group min/max pruning for
  * range predicates on those columns).
  */
object Compaction {

  /** Rewrites a batchId-idempotent STREAMING sink output
    * (`inDir/batch_id=<id>/part-*.parquet`, the shape every foreachBatch
    * parquet sink in this engine writes — see
    * `StreamGatesFam.idempotentSink`) into `outDir` as size-targeted
    * files; returns the file count written. A long-running ingest accretes
    * one small file set per micro-batch, and this is the documented
    * post-ingest step that folds them. Reads happen once; the only
    * shuffle is the repartition to the target count. The synthetic
    * `batch_id` partition column is DROPPED — it is commit bookkeeping,
    * not data. Run it at ingest-cycle boundaries, never concurrently with
    * an active writer: compaction reads a snapshot of the batch
    * directories, and a replayed batch overwriting a directory
    * mid-compaction would be double-counted or lost. The compacted copy
    * is a NEW directory — the live sink dir (and its replay idempotence)
    * stays untouched.
    */
  def compactStreamOutput(spark: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sortCols: Seq[String] = Nil,
      codec: String = "snappy"): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val path = new Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(inDir).drop("batch_id")
    val arranged =
      if (sortCols.isEmpty) df.repartition(nFiles)
      else df.repartition(nFiles)
        .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
    arranged.write.mode("overwrite").option("compression", codec).parquet(outDir)
    nFiles
  }
}
