package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Executor and micro-batch counts of one query. */
final class Counters {
  val jobs, stages, tasks, failedTasks = new LongAdder
  val taskRunMs, taskCpuNs, gcMs, fetchWaitMs = new LongAdder
  val inputBytes, shuffleWriteBytes, shuffleReadBytes = new LongAdder
  val spillBytes, outputBytes = new LongAdder
  val batches, triggerMs, addBatchMs, planningMs, commitMs = new LongAdder
}

/** One Spark job as the listener saw it: the query and layer it belongs
  * to, its job group, and its wall-clock start and end in epoch
  * milliseconds. */
final case class JobRec(query: String, layer: String, group: String,
    startMs: Long, endMs: Long)

/** The harness's listeners. The harness tags its jobs
  * `<workload>/<query>/<layer>` through the job group, and job, stage and
  * task counts are attributed by that tag. Jobs without the tag — the
  * micro-batch jobs a stream runs, which Spark groups under the stream's
  * run id — belong to the query and layer the harness is in (`current`,
  * `layer`) when the job starts. Micro-batch progress carries no job group
  * either and is attributed to `current`; the harness drains the listener
  * bus before it moves on to the next query. */
final class Telemetry extends SparkListener {
  private val byQuery = new ConcurrentHashMap[String, Counters]()
  private val stageQuery = new ConcurrentHashMap[Int, String]()
  private val jobStarts = new ConcurrentHashMap[Int, JobRec]()
  private val finished = new ConcurrentLinkedQueue[JobRec]()
  @volatile var current: String = ""
  @volatile var layer: String = ""

  def counters(query: String): Counters =
    byQuery.computeIfAbsent(query, _ => new Counters)

  def jobs: Seq[JobRec] = {
    val b = Seq.newBuilder[JobRec]
    finished.forEach(j => b += j)
    b.result()
  }

  def clear(): Unit = { byQuery.clear(); finished.clear() }

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  /** The query and layer of a job: from its `<workload>/<query>/<layer>`
    * tag, else the ones the harness is in. */
  private def ownerOf(group: String): (String, String) = group.split('/') match {
    case Array(_, q, l) => (q, l)
    case _ => (current, layer)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    val (q, l) = ownerOf(g)
    jobStarts.put(e.jobId, JobRec(q, l, g, e.time, e.time))
    e.stageIds.foreach(s => stageQuery.putIfAbsent(s, q))
    counters(q).jobs.increment()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(e.jobId)
    if (s != null) finished.add(s.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counters(stageQuery.getOrDefault(e.stageInfo.stageId, current)).stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageQuery.getOrDefault(e.stageId, current))
    c.tasks.increment()
    if (e.reason != Success) c.failedTasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs.add(m.executorRunTime)
      c.taskCpuNs.add(m.executorCpuTime)
      c.gcMs.add(m.jvmGCTime)
      c.inputBytes.add(m.inputMetrics.bytesRead)
      c.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      c.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.outputBytes.add(m.outputMetrics.bytesWritten)
    }
  }

  /** Micro-batch progress, one event per batch. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val c = counters(current)
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      c.batches.increment()
      c.triggerMs.add(ms("triggerExecution"))
      c.addBatchMs.add(ms("addBatch"))
      c.planningMs.add(ms("queryPlanning"))
      c.commitMs.add(ms("walCommit") + ms("commitOffsets"))
    }
  }
}
