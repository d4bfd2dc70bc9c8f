package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{ExecutionRecord, Journal}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same time base as the listener events' timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory spans. A span's id is also set as the Spark local property
  * [[Trace.Prop]] while it is open, so Spark jobs started inside it (on
  * this thread, or on a thread it starts) carry it and are attributed to
  * it. Nothing is recorded while `on` is false.
  */
final class Trace(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val mapper = new ObjectMapper()
  val spans: ArrayNode = mapper.createArrayNode()
  val events = new Events
  var on = false

  def span[T](id: String, parent: String, kind: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val prev = sc.getLocalProperty(Trace.Prop)
      sc.setLocalProperty(Trace.Prop, id)
      val t0 = Clock.nowMs
      try body
      finally {
        record(id, parent, kind, name, t0, Clock.nowMs)
        sc.setLocalProperty(Trace.Prop, prev)
      }
    }

  def record(id: String, parent: String, kind: String, name: String,
      start: Double, end: Double): Unit =
    spans.addObject().put("id", id).put("parent", parent).put("kind", kind)
      .put("name", name).put("start", start).put("end", end)

  /** Attaches the Spark and query-execution listeners. */
  def attach(): Unit = {
    sc.addSparkListener(events.spark)
    spark.listenerManager.register(events.queries)
    on = true
  }

  def detach(): Unit = {
    on = false
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(events.spark)
    spark.listenerManager.unregister(events.queries)
  }

  def toJson: ObjectNode = {
    val o = mapper.createObjectNode()
    o.set[ArrayNode]("spans", spans)
    events.writeTo(o)
    o
  }
}

object Trace {
  val Prop = "perfbench.span"
}

/** Job, stage and task records from Spark's listener bus, per-stage task
  * summaries, the planning phases of each query execution, and streaming
  * progress. Callbacks run on the bus thread; reads happen after a drain.
  */
final class Events {
  private val mapper = new ObjectMapper()
  private val jobs = mutable.LinkedHashMap.empty[Int, ObjectNode]
  private val stages = mutable.ArrayBuffer.empty[ObjectNode]
  private val taskTimes = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val taskSums = mutable.HashMap.empty[(Int, Int), Array[Double]]
  private val queryPhases = mutable.ArrayBuffer.empty[ObjectNode]
  private val streamStarts = mutable.ArrayBuffer.empty[ObjectNode]
  private val progress = mutable.ArrayBuffer.empty[ObjectNode]

  // task sums: failed, run ms, cpu ns, gc ms, shuffle write B, shuffle
  // read B, spill B, peak execution memory B (max), input records
  private val Sums = Seq("failed", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_b",
    "shuffle_read_b", "spill_b", "peak_mem_b", "input_records")

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).map(_.getProperty(Trace.Prop)).orNull
      val j = mapper.createObjectNode().put("job", e.jobId).put("start", e.time.toDouble)
        .put("span", span)
      val ids = j.putArray("stages")
      e.stageIds.foreach(ids.add(_))
      jobs(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.put("end", e.time.toDouble)
        .put("ok", e.jobResult == JobSucceeded))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val key = (e.stageId, e.stageAttemptId)
      val s = taskSums.getOrElseUpdate(key, new Array[Double](Sums.size))
      val info = e.taskInfo
      if (info != null) {
        taskTimes.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += info.duration
        if (info.failed || info.killed) s(0) += 1
      }
      val m = e.taskMetrics
      if (m != null) {
        s(1) += m.executorRunTime
        s(2) += m.executorCpuTime
        s(3) += m.jvmGCTime
        s(4) += m.shuffleWriteMetrics.bytesWritten
        s(5) += m.shuffleReadMetrics.totalBytesRead
        s(6) += m.diskBytesSpilled
        s(7) = math.max(s(7), m.peakExecutionMemory.toDouble)
        s(8) += m.inputMetrics.recordsRead
      }
    }
    // Streaming queries post their events to the shared bus, whichever
    // session started them (the stream gates start theirs on a new
    // session), so they are read here rather than through one session's
    // StreamingQueryManager.
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case q: StreamingQueryListener.QueryStartedEvent =>
          streamStarts += mapper.createObjectNode().put("run", q.runId.toString)
            .put("start", epochMs(q.timestamp))
        case q: StreamingQueryListener.QueryProgressEvent =>
          val p = q.progress
          val o = mapper.createObjectNode().put("run", p.runId.toString).put("batch", p.batchId)
            .put("start", epochMs(p.timestamp))
          p.durationMs.forEach((k, v) => o.put(k, v.longValue))
          o.put("state_rows", p.stateOperators.map(_.numRowsTotal).sum)
          progress += o
        case _ =>
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val key = (i.stageId, i.attemptNumber())
      val st = mapper.createObjectNode().put("stage", i.stageId).put("attempt", i.attemptNumber())
        .put("tasks", i.numTasks)
        .put("start", i.submissionTime.getOrElse(0L).toDouble)
        .put("end", i.completionTime.getOrElse(0L).toDouble)
      val times = taskTimes.remove(key).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
      st.put("task_max_ms", if (times.isEmpty) 0L else times.last)
      st.put("task_median_ms", if (times.isEmpty) 0.0 else median(times.toSeq))
      val s = taskSums.remove(key).getOrElse(new Array[Double](Sums.size))
      Sums.zip(s).foreach { case (k, v) => st.put(k, v) }
      stages += st
    }
  }

  private def epochMs(iso: String): Double =
    java.time.Instant.parse(iso).toEpochMilli.toDouble

  private def median(xs: Seq[Long]): Double =
    if (xs.size % 2 == 1) xs(xs.size / 2).toDouble
    else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2.0

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { phases(funcName, qe) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      synchronized { phases(funcName, qe) }
  }

  // The tracker's phases are read as recorded; no plan is forced here.
  private def phases(funcName: String, qe: QueryExecution): Unit = {
    val o = mapper.createObjectNode().put("func", funcName)
    qe.tracker.phases.foreach { case (name, p) =>
      o.putObject(name).put("start", p.startTimeMs.toDouble).put("end", p.endTimeMs.toDouble)
    }
    queryPhases += o
  }

  def writeTo(o: ObjectNode): Unit = synchronized {
    def arr(name: String, xs: Iterable[ObjectNode]): Unit = {
      val a = o.putArray(name)
      xs.foreach(a.add(_))
    }
    arr("jobs", jobs.values)
    arr("stages", stages)
    arr("query_phases", queryPhases)
    arr("stream_starts", streamStarts)
    arr("stream_progress", progress)
  }
}

/** The Runner's journal with its two calls timed from outside. The time
  * between two journal calls of one tick is the job that ran there, so a
  * job span runs from the end of the previous call to the start of its
  * `save`; the Spark jobs it starts are attributed through the property.
  */
final class TracedJournal(spark: SparkSession, dir: String, tr: Trace)
    extends Journal(spark, dir) {
  private var tick = ""
  private var calls = 0
  private var boundary = 0.0

  def startTick(id: String): Unit = { tick = id; calls = 0; boundary = Clock.nowMs }

  /** Id of the job span that is open between journal calls. */
  def jobSpan: String = s"$tick.job$calls"

  override def lastExecution(path: String): Option[ExecutionRecord] = {
    val r = tr.span(s"$tick.read$calls", tick, "journal_read", path)(super.lastExecution(path))
    next()
    r
  }

  override def save(rec: ExecutionRecord): Unit = {
    tr.record(jobSpan, tick, "job", rec.path, boundary, Clock.nowMs)
    tr.span(s"$tick.write$calls", tick, "journal_write", rec.path)(super.save(rec))
    next()
  }

  private def next(): Unit = {
    calls += 1
    boundary = Clock.nowMs
    spark.sparkContext.setLocalProperty(Trace.Prop, jobSpan)
  }
}
