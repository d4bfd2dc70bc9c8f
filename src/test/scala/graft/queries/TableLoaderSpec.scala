package graft.queries

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.SparkSpec

/** `T` infers a table's schema once per version: later reads of the same
  * files under the same parquet confs start no Spark job. */
class TableLoaderSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-table-loader").toString

  /** `df` as one parquet file `dir/name.parquet`, as the test tables are. */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val staging = s"$dir/.staging-$name"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new File(staging).listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(s"$dir/$name.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    new graft.engine.FsUtils(spark).rm(staging)
  }

  test("the first read of a table infers its schema with one job, a second " +
      "read starts none and reads the same rows") {
    val dir = freshDir()
    writeFile(Seq((1, "a"), (2, "b")).toDF("id", "s"), dir, "t")
    var first: DataFrame = null
    var second: DataFrame = null
    assert(jobsStartedBy { first = T(spark, dir, "t") } === 1)
    assert(jobsStartedBy { second = T(spark, dir, "t") } === 0)
    assert(second.schema === first.schema)
    assert(second.as[(Int, String)].collect().sorted === Array((1, "a"), (2, "b")))
  }

  test("a rewritten table, by new length or by new mtime alone, is inferred " +
      "again and reads its new schema") {
    val dir = freshDir()
    writeFile(Seq(1, 2).toDF("id"), dir, "t")
    assert(jobsStartedBy(T(spark, dir, "t")) === 1)
    writeFile(Seq((1, "x")).toDF("id", "extra"), dir, "t")
    var df: DataFrame = null
    assert(jobsStartedBy { df = T(spark, dir, "t") } === 1)
    assert(df.columns.toSeq === Seq("id", "extra"))
    assert(df.as[(Int, String)].collect() === Array((1, "x")))
    assert(jobsStartedBy(T(spark, dir, "t")) === 0)

    val f = new File(s"$dir/t.parquet")
    assert(f.setLastModified(f.lastModified() + 5000))
    assert(jobsStartedBy(T(spark, dir, "t")) === 1)
    assert(jobsStartedBy(T(spark, dir, "t")) === 0)
  }

  /** The schema a read returns, or the condition of its analysis error. */
  private def inferred(read: => DataFrame): Either[String, StructType] =
    try Right(read.schema)
    catch { case e: AnalysisException => Left(String.valueOf(e.getCondition)) }

  test("one file read under two nanosAsLong values gets what Spark infers " +
      "for each") {
    val dir = freshDir()
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new Path(s"$dir/ev.parquet"), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1234567890123L))
    finally w.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      val asLong = T(spark, dir, "ev").schema
      assert(asLong("ts").dataType === LongType)
      assert(jobsStartedBy(T(spark, dir, "ev")) === 0)

      spark.conf.set(key, "false")
      val direct = inferred(spark.read.parquet(s"$dir/ev.parquet"))
      assert(direct !== Right(asLong))
      assert(inferred(T(spark, dir, "ev")) === direct)

      spark.conf.set(key, "true")
      val df = T(spark, dir, "ev")
      assert(df.schema("ts").dataType === LongType)
      assert(df.as[Long].collect() === Array(1234567890123L))
    } finally spark.conf.set(key, before)
  }

  test("a Spark-written directory table is cached and invalidated the same " +
      "way") {
    val dir = freshDir()
    Seq(1, 2, 3, 4).toDF("id").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    assert(jobsStartedBy(T(spark, dir, "docs")) === 1)
    assert(jobsStartedBy(T(spark, dir, "docs")) === 0)
    assert(T(spark, dir, "docs").as[Int].collect().sorted === Array(1, 2, 3, 4))

    Seq((5L, "e")).toDF("id", "s")
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    var df: DataFrame = null
    assert(jobsStartedBy { df = T(spark, dir, "docs") } === 1)
    assert(df.schema("id").dataType === LongType)
    assert(df.as[(Long, String)].collect() === Array((5L, "e")))
    assert(jobsStartedBy(T(spark, dir, "docs")) === 0)
  }

  test("a missing table fails with Spark's own error") {
    val dir = freshDir()
    val e = intercept[AnalysisException](T(spark, dir, "absent"))
    assert(e.getCondition === "PATH_NOT_FOUND")
  }
}
