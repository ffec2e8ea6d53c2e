package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Per-operation totals of the Spark work one benchmark operation caused. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L

  def add(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes
  }

  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble,
    "tasks" -> tasks.toDouble,
    "task_cpu_s" -> taskCpuNs / 1e9,
    "gc_s" -> gcMs / 1e3,
    "input_mb" -> inputBytes / 1048576.0,
    "shuffle_write_mb" -> shuffleWriteBytes / 1048576.0,
    "spill_mb" -> spillBytes / 1048576.0,
    "output_mb" -> outputBytes / 1048576.0)
}

/** The outside-in recorder: a plain `SparkListener` that attributes every
  * job, stage and task to the benchmark operation that was in flight when
  * the job was submitted. The driver tags each operation with the local
  * property [[Recorder.KeyProp]]; Spark copies local properties into every
  * job it submits for that thread (SQL broadcast and subquery threads
  * included), so no engine code needs to know about the recorder.
  *
  * Besides the per-operation totals it keeps the totals per stage name —
  * the call site Spark names a stage with (`text at Rdf.scala:NN`) — and
  * every task's run interval, from which the driver derives the time an
  * operation spent with no task running. */
final class Recorder extends SparkListener {
  import Recorder._

  private val jobKey = mutable.HashMap.empty[Int, String]
  private val execSite = mutable.HashMap.empty[Long, String]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val stageName = mutable.HashMap.empty[Int, String]
  private val byKey = mutable.HashMap.empty[String, Counters]
  private val byStage = mutable.HashMap.empty[(String, String), Counters]
  private val spans = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  @volatile private var lastMarker = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val key = props.flatMap(p => Option(p.getProperty(KeyProp))).getOrElse(Unattributed)
    // name stages after the engine call site of their SQL execution:
    // stages that adaptive execution submits from its own threads are
    // otherwise named after those threads
    val site = props.flatMap(p => Option(p.getProperty(ExecIdProp)))
      .flatMap(id => execSite.get(id.toLong))
    jobKey(e.jobId) = key
    e.stageInfos.foreach { s =>
      stageKey.getOrElseUpdate(s.stageId, key)
      stageName.getOrElseUpdate(s.stageId, site.getOrElse(s.name))
    }
    if (!key.startsWith(MarkerPrefix)) byKey.getOrElseUpdate(key, new Counters).jobs += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized(execSite(x.executionId) = x.description)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val key = synchronized(jobKey.remove(e.jobId)).getOrElse("")
    if (key.startsWith(MarkerPrefix)) lastMarker = key
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = stageKey.getOrElse(e.stageId, Unattributed)
    if (!key.startsWith(MarkerPrefix)) {
      byKey.getOrElseUpdate(key, new Counters).add(e)
      byStage.getOrElseUpdate((key, stageName.getOrElse(e.stageId, "?")), new Counters).add(e)
      spans.getOrElseUpdate(key, mutable.ArrayBuffer.empty) +=
        ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  private var markers = 0

  /** Blocks until every event posted before this call has been delivered:
    * runs a one-task marker job and waits for its end event, which the
    * listener bus delivers after everything queued ahead of it. */
  def drain(sc: SparkContext): Unit = {
    markers += 1
    val marker = s"$MarkerPrefix$markers"
    val saved = sc.getLocalProperty(KeyProp)
    sc.setLocalProperty(KeyProp, marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(KeyProp, saved)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (lastMarker != marker && System.nanoTime() < deadline) Thread.sleep(5)
    require(lastMarker == marker, "listener bus did not drain within 60 s")
  }

  def counters(key: String): Counters = synchronized(byKey.getOrElse(key, new Counters))

  /** Milliseconds of `[from, until)` covered by at least one task of `key`. */
  def busyMs(key: String, from: Long, until: Long): Long = synchronized {
    val iv = spans.getOrElse(key, mutable.ArrayBuffer.empty[(Long, Long)])
      .map { case (a, b) => (math.max(a, from), math.min(b, until)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }

  /** Per-stage-name totals, with each operation key mapped through `op`. */
  def stageTotals(op: String => String): Map[(String, String), Counters] = synchronized {
    val out = mutable.HashMap.empty[(String, String), Counters]
    byStage.foreach { case ((key, name), c) =>
      out.getOrElseUpdate((op(key), name), new Counters) += c
    }
    out.toMap
  }
}

object Recorder {
  val KeyProp = "graftbench.op"
  val ExecIdProp = "spark.sql.execution.id"
  val MarkerPrefix = "graftbench-marker-"
  val Unattributed = "unattributed"
}
