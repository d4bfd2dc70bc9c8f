package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

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

  /** Parquet table loader for the driver-provided test tables. */
  object T {
    def apply(spark: SparkSession, dir: String, name: String): DataFrame =
      spark.read.parquet(s"$dir/$name.parquet")

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
