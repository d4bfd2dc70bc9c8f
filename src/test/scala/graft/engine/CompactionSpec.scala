package graft.engine

import java.nio.file.Files

import graft.SparkSpec

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compactStreamOutput folds a multi-incarnation batch_id-sink " +
      "directory into size-targeted files, drops the synthetic batch_id " +
      "bookkeeping column, and leaves the live sink dir untouched") {
    import org.apache.spark.sql.functions.col
    val sinkDir = Files.createTempDirectory("graft-compact-sink").toString
    // the accretion shape a restart/replay lifecycle leaves behind: one
    // small file set per micro-batch, written across incarnations (and
    // batch 2 re-written by a replay — idempotent overwrite, same rows)
    def writeBatch(id: Long, lo: Int, hi: Int): Unit =
      (lo until hi).map(i => (i.toLong, s"doc-$i")).toDF("id", "v")
        .repartition(4)
        .write.mode("overwrite").parquet(s"$sinkDir/batch_id=$id")
    writeBatch(0, 0, 300)
    writeBatch(1, 300, 500)
    writeBatch(2, 500, 600)
    writeBatch(2, 500, 600) // the replayed batch: same files, same rows
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    val out = Files.createTempDirectory("graft-compact-sout").toString
    val n = Compaction.compactStreamOutput(spark, sinkDir, out,
      targetFileBytes = 1L << 30)
    assert(n === 1 && parquetFiles(out) === 1)
    val back = spark.read.parquet(out)
    assert(!back.columns.contains("batch_id"))
    assert(back.count() === 600)
    assert(back.filter(col("id") < 0).count() === 0)
    // a small target yields multiple files, rows preserved
    val out2 = Files.createTempDirectory("graft-compact-sout2").toString
    val n2 = Compaction.compactStreamOutput(spark, sinkDir, out2,
      targetFileBytes = 2 * 1024, sortCols = Seq("id"))
    assert(n2 > 1)
    assert(parquetFiles(out2) === n2)
    val back2 = spark.read.parquet(out2)
    assert(back2.count() === 600)
    assert(back2.select("id").distinct().count() === 600)
    new java.io.File(out2).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val ids = spark.read.parquet(f.getPath).select("id").as[Long].collect().toSeq
      assert(ids === ids.sorted, f.getName)
    }
    // the live sink dir keeps its batch layout (replay idempotence intact)
    assert(new java.io.File(sinkDir).listFiles()
      .count(_.getName.startsWith("batch_id=")) === 3)
  }
}
