package graft.engine

import java.io.{FileNotFoundException, IOException}
import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession

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
  * one indexed `order by … limit 1` query per gate). It starts no Spark
  * job: every read and write goes through parquet-hadoop on the driver.
  *
  * The directory is the source of truth; this instance keeps a last-run
  * index over it. Invariant: when `known` is set, `latest` holds, per path,
  * the latest record (the order below) among the rows of exactly the
  * data files in `known` (name → (length, mtime); names starting with `_`
  * or `.` are not data, as for Spark). A lookup lists the directory once
  * and answers from the index when the listing equals `known`; any
  * difference — another writer, a restart, a directory replaced
  * wholesale — reseeds the index by reading exactly the listed files, on
  * up to `availableProcessors` threads started for that read. An absent
  * directory, or one with no data file, reads as empty; any other read
  * error (a corrupt file) propagates and names the file, since an empty
  * answer would run every job.
  *
  * Of two records of one path, the later is the one with the greater
  * `startedAt`; a tie goes to the greater `finishedAt`, then `status`,
  * then `result` (null lowest), so every reader and every file order
  * answers with the same record.
  *
  * A save writes its one-row file to a hidden `.tmp-<uuid>.parquet`,
  * renames it to a `part-…` data file and folds record and file status
  * into the index: a crash mid-write leaves only a hidden file no reader
  * sees. A crash between a job's execution and its save re-runs the job
  * on the next tick — the reference's at-least-once behaviour.
  *
  * A lookup that lists more than [[Journal.CompactAt]] data files first
  * compacts the directory in place: it streams every listed file's rows
  * through the writer a save uses into one new file, building the index
  * in the same pass, renames that file in and deletes exactly the listed
  * files. That bounds the one per-lookup cost that grows with history,
  * the listing. A crash in between leaves duplicate rows, which the
  * latest-by-path answer does not see.
  */
class Journal(spark: SparkSession, dir: String) {
  import Journal._

  private val root = new Path(dir)
  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = root.getFileSystem(conf)

  /** The data-file listing the index was built from; None until seeded. */
  private var known: Option[Listing] = None
  private var latest: Index = mutable.HashMap.empty

  def save(rec: ExecutionRecord): Unit = synchronized {
    val (_, file) = write(_.write(row(rec)))
    known.foreach { files =>
      known = Some(files + file)
      keepLater(latest, rec)
    }
  }

  def lastExecution(path: String): Option[ExecutionRecord] = synchronized {
    val listed = listing()
    if (listed.size > CompactAt || !known.contains(listed)) {
      known = None // stays unseeded if the read below throws
      val (index, files) =
        if (listed.size > CompactAt) compact(listed.keys.toIndexedSeq)
        else (scan(listed.keys.toIndexedSeq)(_ => ()), listed)
      latest = index
      known = Some(files)
    }
    latest.get(path)
  }

  private def listing(): Listing =
    try fs.listStatus(root).iterator.filter(isData).map(entry).toMap
    catch { case _: FileNotFoundException => Map.empty }

  /** Rewrites the data files `files` as one; returns the index of their
    * rows and the listing after. */
  private def compact(files: IndexedSeq[String]): (Index, Listing) = {
    val (index, file) = write { w =>
      scan(files) { r =>
        val g = row(r)
        w.synchronized(w.write(g))
      }
    }
    files.foreach(n => fs.delete(new Path(root, n), false))
    (index, Map(file))
  }

  /** Writes one new data file with `body`, through a hidden
    * `.tmp-<uuid>.parquet` renamed into place; returns what `body`
    * returned and the file's listing entry. A failure deletes the hidden
    * file. */
  private def write[T](body: ParquetWriter[Group] => T): (T, (String, (Long, Long))) = {
    val id = UUID.randomUUID()
    val tmp = new Path(root, s".tmp-$id.parquet")
    val dst = new Path(root, s"part-00000-$id-c000.snappy.parquet")
    try {
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withType(Schema).withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      val out = try body(w) finally w.close()
      rename(tmp, dst)
      (out, entry(fs.getFileStatus(dst)))
    } catch { case e: Throwable => fs.delete(tmp, false); throw e }
  }

  /** Reads the data files `files` on up to `availableProcessors` threads
    * started for this call, passing every row to `each` on those threads;
    * returns the latest record per path. Every thread has ended when it
    * returns. */
  private def scan(files: IndexedSeq[String])(each: ExecutionRecord => Unit): Index = {
    if (files.isEmpty) return mutable.HashMap.empty
    val threads = math.min(files.size, Runtime.getRuntime.availableProcessors)
    val pool = Executors.newFixedThreadPool(threads, { (r: Runnable) =>
      val t = new Thread(r, ReaderName)
      t.setDaemon(true)
      t
    })
    val next = new AtomicInteger
    try {
      val parts = Seq.fill(threads)(
        pool.submit(new Callable[Index] {
          def call(): Index = {
            val part: Index = mutable.HashMap.empty
            var i = next.getAndIncrement()
            while (i < files.size) {
              read(new Path(root, files(i))) { r => each(r); keepLater(part, r) }
              i = next.getAndIncrement()
            }
            part
          }
        }))
      val all = parts.map(p => try p.get catch { case e: ExecutionException => throw e.getCause })
      all.tail.foreach(_.valuesIterator.foreach(keepLater(all.head, _)))
      all.head
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** Passes every row of the parquet file `p` to `f`. Each reader builds
    * its own read options (a shared set corrupts concurrent reads) on the
    * session's Hadoop conf (a conf-less reader builds a Configuration per
    * file). */
  private def read(p: Path)(f: ExecutionRecord => Unit): Unit =
    try {
      val in = HadoopInputFile.fromPath(p, conf)
      val r = new ParquetReader.Builder[Group](in) {
        override protected def getReadSupport = new GroupReadSupport
      }.build()
      try Iterator.continually(r.read()).takeWhile(_ != null).foreach(g => f(record(g)))
      finally r.close()
    } catch { case NonFatal(e) => throw new IOException(s"journal file $p could not be read", e) }

  private def rename(from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IOException(s"journal rename failed: $from -> $to")
}

object Journal {
  /** Data files past which a lookup compacts the journal: a lookup's
    * listing stays in the tens of milliseconds. */
  val CompactAt = 1000

  /** Name of the threads a reseed or a compaction reads files on. */
  private val ReaderName = "graft-journal-read"

  private type Listing = Map[String, (Long, Long)]
  private type Index = mutable.Map[String, ExecutionRecord]

  /** The order that picks a path's latest record. */
  private val Later: Ordering[ExecutionRecord] =
    Ordering.by(r => (r.startedAt, r.finishedAt, Option(r.status), Option(r.result)))

  private def keepLater(index: Index, r: ExecutionRecord): Unit =
    if (index.get(r.path).forall(Later.lteq(_, r))) index.update(r.path, r)

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

  /** A row read by column name, whichever writer laid the file out: a
    * missing or null string column reads as null, as in Spark. */
  private def record(g: Group): ExecutionRecord = {
    def present(f: String) = g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0
    def str(f: String) = if (present(f)) g.getString(f, 0) else null
    def long(f: String) =
      if (present(f)) g.getLong(f, 0) else throw new IOException(s"null or missing $f")
    ExecutionRecord(str("path"), long("startedAt"), long("finishedAt"), str("result"), str("status"))
  }

  private def isData(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  private def entry(s: FileStatus): (String, (Long, Long)) =
    s.getPath.getName -> (s.getLen, s.getModificationTime)
}
