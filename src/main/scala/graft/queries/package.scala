package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

package object queries {

  /** A named engine query plus (optionally) its ANSI-SQL oracle for the
    * driver's DuckDB compare. `fn(spark, sfDir)` must be self-contained:
    * it reads only the parquet tables under `sfDir` (or deterministic
    * local stand-ins) and returns a deterministic DataFrame whose column
    * names match the oracle's aliases exactly.
    */
  /** `lifecycle = true` marks entries whose run prices a real ENGINE
    * lifecycle — a Structured Streaming query start/stop/recover cycle or
    * a persisted-artifact save + cold-reload audit (2-5 s of contract
    * cost, not plan cost). Bench reports these as a separate cohort so
    * steady-query drift detection stays sharp; carrying the flag on the
    * registry entry (not a parallel name list) makes membership travel
    * with the registration by construction.
    */
  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      lifecycle: Boolean = false)

  /** Parquet table loader for the driver-provided test tables.
    *
    * Spark infers a parquet table's schema with a one-task job on every
    * `spark.read.parquet`, so `T` infers it once per version of a table
    * and passes the recorded schema to every later read
    * (`spark.read.schema(s).parquet`), which starts no job. Both reads
    * build the same relation: Spark makes the data schema nullable either
    * way.
    *
    * A version is the table path's recursive file listing (each file's
    * qualified path, length and modification time; one listing covers a
    * single pyarrow-written file and a Spark-written directory alike)
    * plus the session's explicitly set `spark.sql.parquet.*` and
    * `spark.sql.legacy.parquet.*` confs, which change what inference
    * returns (`nanosAsLong` turns a TIMESTAMP(NANOS) column into BIGINT).
    * A rewritten table lists differently and is inferred again, except a
    * file replaced under the same name with the same length within the
    * same modification-time tick. One entry is kept per path, a new
    * version replacing the old, so the cache is bounded by the number of
    * distinct table paths. A path that cannot be listed is read as
    * before, so a missing table fails with Spark's own error.
    */
  object T {
    private final case class Version(files: Seq[(String, Long, Long)],
        confs: Seq[(String, String)])

    private val schemas =
      new java.util.concurrent.ConcurrentHashMap[String, (Version, StructType)]

    def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
      val file = s"$dir/$name.parquet"
      version(spark, file) match {
        case None => spark.read.parquet(file)
        case Some((key, v)) =>
          Option(schemas.get(key)) match {
            case Some((`v`, schema)) => spark.read.schema(schema).parquet(file)
            case _ =>
              val df = spark.read.parquet(file)
              schemas.put(key, (v, df.schema))
              df
          }
      }
    }

    /** (qualified table path, its version); None if it cannot be listed. */
    private def version(spark: SparkSession, file: String): Option[(String, Version)] =
      try {
        val path = new Path(file)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(path, true)
        val files = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          files += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
        }
        Some((fs.makeQualified(path).toString, Version(files.result().sorted, confs.sorted)))
      } catch { case _: java.io.IOException => None }

    /** events table with `ts` normalized to BIGINT epoch NANOSECONDS —
      * the engine-wide contract every ts consumer codes against
      * ([[graft.streaming.Streams.withEventTime]],
      * [[graft.connectors.KafkaWindow.fromEvents]]).
      *
      * The driver has generated this file with two different physical
      * types across rounds — TIMESTAMP(NANOS) (read as BIGINT under
      * `spark.sql.legacy.parquet.nanosAsLong`, set in
      * GraftSession.configure) and TIMESTAMP(MICROS) (read as
      * TIMESTAMP_NTZ) — so normalize by the ARRIVED type instead of
      * assuming either. The UTC session time zone (same place) makes the
      * NTZ→instant cast exact; the micros→nanos multiply cannot overflow
      * until year 2262. DuckDB oracles are unaffected: they read the
      * timestamp natively and use epoch_us/epoch_ms.
      */
    def events(spark: SparkSession, dir: String): DataFrame = {
      val raw = apply(spark, dir, "events")
      raw.schema("ts").dataType match {
        case LongType => raw // TIMESTAMP(NANOS) + nanosAsLong → already nanos
        case TimestampNTZType | TimestampType =>
          raw.withColumn("ts",
            unix_micros(col("ts").cast(TimestampType)) * 1000L)
        case other =>
          throw new IllegalStateException(
            s"events.ts arrived as unsupported type $other")
      }
    }
  }
}
