package graft.engine

import org.apache.spark.sql.{AnalysisException, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Execution-journal record
  * (reference: data-process/spark-process/src/main/scala/records/ExecutionRecord.scala:10-21
  * — a JDO entity persisted to MySQL; scripts themselves are the `.scala`/
  * `.sql` files the Runner reads from its script directory).
  * Here it is a plain case class persisted as a parquet table: the
  * journal is itself queryable data (the reference's own framing, SURVEY
  * §1.1 "scripts as data"), and any JDBC sink can be swapped in via
  * `df.write.jdbc`.
  */
final case class ExecutionRecord(
    path: String, startedAt: Long, finishedAt: Long, result: String, status: String)

/** Parquet-backed journal: append-only saves, last-execution-by-path lookup
  * (reference: records/RecordDao.scala:66-90, `getLastExecution` at 85-90).
  */
class Journal(spark: SparkSession, dir: String) {
  import spark.implicits._

  def save(rec: ExecutionRecord): Unit =
    Seq(rec).toDS().write.mode(SaveMode.Append).parquet(dir)

  /** The journal's rows. Only a directory that is absent or holds no data
    * file reads as empty (no job has run yet); any other read error — a
    * corrupt file, an unreadable schema — propagates with its cause, since
    * an empty answer there would run every job on every tick.
    */
  private def table() =
    try spark.read.parquet(dir)
    catch {
      case e: AnalysisException
          if Journal.NoJournalYet.contains(e.getCondition) =>
        spark.emptyDataset[ExecutionRecord].toDF()
    }

  def lastExecution(path: String): Option[ExecutionRecord] =
    table().filter(col("path") === path)
      .orderBy(col("startedAt").desc)
      .limit(1)
      .as[ExecutionRecord]
      .collect().headOption

  def history(path: String): Seq[ExecutionRecord] =
    table().filter(col("path") === path)
      .orderBy(col("startedAt"))
      .as[ExecutionRecord].collect().toSeq
}

object Journal {
  /** Read errors that mean no record was ever saved: the directory is
    * absent, or it holds no data file to infer a schema from. */
  private val NoJournalYet = Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
}
