package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory spans of the traced run: one per layer call, each with a
  * name, start, end, parent and the id of the request (or set-up) it
  * belongs to. Written out once, after the timed window. When tracing is
  * off every call is a pass-through.
  */
final class Trace(on: Boolean) {
  import Trace.Span
  private val spans = mutable.ArrayBuffer[Span]()

  def open(rid: String, name: String, parent: Int): Int =
    if (!on) -1 else { spans += Span(rid, name, parent, System.nanoTime, 0L); spans.length - 1 }

  def close(i: Int): Unit = if (i >= 0) spans(i).end = System.nanoTime

  def span[T](rid: String, name: String, parent: Int)(body: => T): T = {
    val i = open(rid, name, parent)
    try body finally close(i)
  }

  def write(f: File, counters: Counters): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try {
      spans.zipWithIndex.foreach { case (s, i) =>
        w.println(s"""{"type":"span","id":$i,"rid":${Main.json(s.rid)},"name":${Main.json(s.name)},""" +
          s""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}""")
      }
      if (counters != null) counters.jobs.values.foreach(j => w.println(j.json))
    } finally w.close()
  }
}

object Trace {
  private final case class Span(rid: String, name: String, parent: Int,
      start: Long, var end: Long)
}

/** Spark task and job counters per job, tagged with the job group
  * (the request id) the benchmark sets around each request.
  */
final class Counters extends SparkListener {
  final class Job(val id: Int, val group: String, val startMs: Long) {
    var endMs = 0L
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var maxTaskMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var recordsRead = 0L
    var bytesWritten = 0L
    def json: String =
      s"""{"type":"job","job":$id,"group":${Main.json(group)},"start_ms":$startMs,""" +
        s""""end_ms":$endMs,"tasks":$tasks,"run_ms":$runMs,"cpu_ns":$cpuNs,"gc_ms":$gcMs,""" +
        s""""max_task_ms":$maxTaskMs,"shuffle_write":$shuffleWrite,"shuffle_read":$shuffleRead,""" +
        s""""spill":$spill,"records_read":$recordsRead,"bytes_written":$bytesWritten}"""
  }

  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val j = new Job(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.recordsRead += m.inputMetrics.recordsRead
        j.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }
}
