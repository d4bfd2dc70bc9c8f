package graft.engine

import java.io.{FileNotFoundException, IOException}
import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
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
  * (reference: records/RecordDao.scala:66-90, `getLastExecution` at 85-90,
  * one indexed `order by … limit 1` query per gate).
  *
  * The directory is the source of truth; this instance keeps a last-run
  * index over it. Invariant: when `known` is set, `latest` holds, per path,
  * the record with the greatest `startedAt` among the rows of exactly the
  * data files in `known` (name → (length, mtime); names starting with `_`
  * or `.` are not data, as for Spark). A lookup lists the directory once,
  * with no Spark job, and answers from the index when the listing equals
  * `known`; any difference — another writer, a restart, a directory
  * replaced wholesale, a file that raced a reseed — reseeds the index
  * with one Spark aggregate over the directory. An absent directory, or
  * one with no data file, reads as empty; any other read error (a corrupt
  * file) propagates, since an empty answer would run every job.
  *
  * A save writes its one-row file with parquet-hadoop to a hidden
  * `.tmp-<uuid>.parquet`, renames it to a `part-…` data file and folds
  * record and file status into the index: no Spark job, and a crash
  * mid-write leaves only a hidden file no reader sees. A crash between a
  * job's execution and its save re-runs the job on the next tick — the
  * reference's at-least-once behaviour.
  *
  * A lookup that lists more than [[Journal.CompactAt]] data files first
  * compacts the directory in place (copy into `_compacting/`, move the
  * copy in, delete exactly the listed files), which bounds the one
  * per-lookup cost that grows with history, the listing; a reseed then
  * reads the compacted file. A crash in between leaves duplicate rows,
  * which the latest-by-path answer does not see.
  */
class Journal(spark: SparkSession, dir: String) {
  import spark.implicits._
  import Journal._

  private val root = new Path(dir)
  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = root.getFileSystem(conf)

  /** The data-file listing the index was built from; None until seeded. */
  private var known: Option[Listing] = None
  private var latest = Map.empty[String, ExecutionRecord]

  def save(rec: ExecutionRecord): Unit = synchronized {
    val id = UUID.randomUUID()
    val tmp = new Path(root, s".tmp-$id.parquet")
    val dst = new Path(root, s"part-00000-$id-c000.snappy.parquet")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withType(Schema).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try w.write(row(rec)) finally w.close()
    rename(tmp, dst)
    known.foreach { files =>
      known = Some(files + entry(fs.getFileStatus(dst)))
      if (latest.get(rec.path).forall(_.startedAt <= rec.startedAt))
        latest += rec.path -> rec
    }
  }

  def lastExecution(path: String): Option[ExecutionRecord] = synchronized {
    val listed = listing()
    val files = if (listed.size > CompactAt) compact(listed.keys) else listed
    // compaction moves rows, not records: an index of `listed` holds for `files`
    if (known.contains(listed)) known = Some(files)
    if (!known.contains(files)) {
      known = None // stays unseeded if the read below throws
      latest = if (files.isEmpty) Map.empty else
        spark.read.parquet(dir).groupBy(col("path"))
          .agg(max_by(struct(col("*")), col("startedAt")).as("r"))
          .select(col("r.*")).as[ExecutionRecord]
          .collect().map(r => r.path -> r).toMap
      known = Some(files)
    }
    latest.get(path)
  }

  private def listing(): Listing =
    try fs.listStatus(root).iterator.filter(isData).map(entry).toMap
    catch { case _: FileNotFoundException => Map.empty }

  /** Rewrites the directory's data files `files` as one; returns the
    * listing after. */
  private def compact(files: Iterable[String]): Listing = {
    val staging = new Path(root, "_compacting")
    fs.delete(staging, true)
    Compaction.compactParquet(spark, dir, staging.toString)
    val moved = fs.listStatus(staging).filter(isData).map { s =>
      val to = new Path(root, s.getPath.getName)
      rename(s.getPath, to)
      entry(fs.getFileStatus(to))
    }
    files.foreach(n => fs.delete(new Path(root, n), false))
    fs.delete(staging, true)
    moved.toMap
  }

  private def rename(from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IOException(s"journal rename failed: $from -> $to")
}

object Journal {
  /** Data files past which a lookup compacts the journal: a lookup's
    * listing stays in the tens of milliseconds. */
  val CompactAt = 1000

  private type Listing = Map[String, (Long, Long)]

  /** The schema Spark writes for [[ExecutionRecord]]. */
  private val Schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary path (STRING);
      |  required int64 startedAt;
      |  required int64 finishedAt;
      |  optional binary result (STRING);
      |  optional binary status (STRING);
      |}""".stripMargin)

  private def row(rec: ExecutionRecord) = {
    val g = new SimpleGroupFactory(Schema).newGroup()
    Option(rec.path).foreach(g.add("path", _))
    g.add("startedAt", rec.startedAt)
    g.add("finishedAt", rec.finishedAt)
    Option(rec.result).foreach(g.add("result", _))
    Option(rec.status).foreach(g.add("status", _))
    g
  }

  private def isData(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  private def entry(s: FileStatus): (String, (Long, Long)) =
    s.getPath.getName -> (s.getLen, s.getModificationTime)
}
