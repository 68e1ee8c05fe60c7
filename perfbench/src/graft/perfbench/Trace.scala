package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans around the benchmark's calls into graft's modules, and a
  * SparkListener that charges every job, stage and task to the span that
  * was open when the job was submitted.
  *
  * A span is named `<layer>.<Module>.<function>` and records its start,
  * end, parent span and the operation it belongs to. The open span's id
  * travels to the scheduler as a SparkContext local property, so the
  * listener needs no change to graft's code. When tracing is off, `span`
  * only runs its body and no listener is installed.
  *
  * `dataFiles` counts the data files the run keeps; a span's
  * `files_written` is how many it added. (Hadoop's local filesystem
  * counts bytes but no per-file operations.) */
final class Tracer(sc: SparkContext, val enabled: Boolean, dataFiles: () => Long) {
  import Tracer._

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var op: Int = -1
  val listener = new JobListener
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as span `name`; its Spark jobs are charged to this span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op, now())
      s.fsBefore = FsCounts.read(dataFiles())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.end = now()
        s.fsDelta = FsCounts.read(dataFiles()) - s.fsBefore
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Record how many rows the innermost open span produced. */
  def results(n: Long): Unit = stack.headOption.foreach(_.results = n)

  /** Spans and listener records as JSON, for the report in `run.py`. */
  def toJson: String = {
    val sb = new StringBuilder
    sb ++= "{\"spans\": ["
    sb ++= spans.map { s =>
      s"""{"id": ${s.id}, "name": ${Workload.jsonStr(s.name)}, "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start": ${s.start}, "end": ${s.end}, "results": ${s.results}, """ +
        s""""files_written": ${s.fsDelta.files}, "bytes_written": ${s.fsDelta.bytesWritten}, """ +
        s""""bytes_read": ${s.fsDelta.bytesRead}}"""
    }.mkString(",\n")
    sb ++= "],\n\"jobs\": ["
    sb ++= listener.jobs.asScala.values.toSeq.sortBy(_.id).map(_.json).mkString(",\n")
    sb ++= "]}"
    sb.toString
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Monotonic nanoseconds mapped onto the epoch, so they compare with the
    * listener's millisecond event times. */
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + epochOffset

  final class Span(val id: Int, val name: String, val parent: Int, val op: Int, val start: Long) {
    var end = 0L
    var results = -1L
    var fsBefore: FsCounts = FsCounts.zero
    var fsDelta: FsCounts = FsCounts.zero
  }

  /** Bytes through Hadoop's local filesystem (every Spark read and write
    * goes through it) and the run's data-file count. */
  final case class FsCounts(bytesRead: Long, bytesWritten: Long, files: Long) {
    def -(o: FsCounts): FsCounts =
      FsCounts(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten, files - o.files)
  }
  object FsCounts {
    val zero: FsCounts = FsCounts(0, 0, 0)
    def read(files: Long): FsCounts = {
      val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      FsCounts(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum, files)
    }
  }

  /** One job's attribution and its tasks' totals. */
  final class JobRec(val id: Int, val span: Int, val start: Long, val callSite: String) {
    @volatile var end: Long = 0L
    var stages = 0
    var tasks = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var recordsRead = 0L
    def json: String = synchronized {
      s"""{"id": $id, "span": $span, "start_ms": $start, "end_ms": $end, """ +
        s""""call_site": ${Workload.jsonStr(callSite)}, "stages": $stages, "tasks": $tasks, """ +
        s""""task_cpu_ns": $cpuNs, "shuffle_write_bytes": $shuffleWrite, "spill_bytes": $spill, """ +
        s""""records_read": $recordsRead}"""
    }
  }

  /** Charges jobs to spans through the local property, and tasks to jobs
    * through the stage ids each job announced when it started. */
  final class JobListener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, JobRec]()
    private val execSite = new ConcurrentHashMap[Long, String]()

    // A SQL execution's description is the call site of the action that
    // started it, e.g. "parquet at ManifestStore.scala:177". Adaptive query
    // execution submits its stage jobs from a thread pool, whose own call
    // site names no graft file, so jobs take their execution's call site.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => execSite.put(x.executionId, x.description)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val span = prop(SpanProperty).map(_.toInt).getOrElse(-1)
      // outside any SQL execution, the result stage (highest id) carries
      // the short call site as its name
      val site = prop("spark.sql.execution.id").flatMap(id => Option(execSite.get(id.toLong)))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      val rec = new JobRec(e.jobId, span, e.time, site)
      jobs.put(e.jobId, rec)
      // a stage shared with an earlier job runs for the latest job that
      // lists it (one client thread submits jobs one at a time)
      e.stageIds.foreach(stageJob.put(_, rec))
    }

    // stages whose shuffle output already exists are skipped and never
    // submitted, so only submitted stages count
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized(r.stages += 1))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val rec = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (rec != null && m != null) rec.synchronized {
        rec.tasks += 1
        rec.cpuNs += m.executorCpuTime
        rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }
}
