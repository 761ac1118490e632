package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine counters for the traced run, grouped by the job group the
  * harness sets around each call: jobs and their spans, tasks, CPU,
  * scan input, shuffle and spill. A StreamingQueryListener adds
  * micro-batch progress. Listener callbacks only add to counters. */
final class Recorder private (spark: SparkSession) extends SparkListener {

  final class Counters {
    var jobs = 0L; var tasks = 0L; var failedTasks = 0L; var cpuNs = 0L
    var inputBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var fetchWaitMs = 0L; var spillBytes = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val groups = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]

  // streaming progress: one entry per micro-batch
  private val batches = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  private def counters(g: String) = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    counters(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      counters(g).jobSpans += ((start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private object streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      // commit time summed over the batch's state stores
      val commit = p.stateOperators.map(_.commitTimeMs).sum
      Recorder.this.synchronized { batches += ((p.numInputRows, trigger, commit)) }
    }
  }

  /** Forget everything recorded so far (the set-up phase). */
  def reset(): Unit = {
    flush()
    synchronized {
      groups.clear(); stageGroup.clear(); jobGroup.clear(); batches.clear()
    }
  }

  def flush(): Unit = org.apache.spark.ListenerBusFlush(spark.sparkContext)

  private def json(c: Counters): String = synchronized {
    // union of job spans, for the driver-only share of a call
    val spans = c.jobSpans.sortBy(_._1)
    var busy = 0L; var end = Long.MinValue
    spans.foreach { case (s, e) =>
      if (s > end) { busy += e - s; end = e }
      else if (e > end) { busy += e - end; end = e }
    }
    Json.obj(Seq(
      "jobs" -> c.jobs.toString, "tasks" -> c.tasks.toString,
      "failed_tasks" -> c.failedTasks.toString,
      "job_busy_s" -> (busy / 1e3).toString,
      "cpu_s" -> (c.cpuNs / 1e9).toString,
      "input_bytes" -> c.inputBytes.toString,
      "shuffle_write_bytes" -> c.shuffleWrite.toString,
      "shuffle_read_bytes" -> c.shuffleRead.toString,
      "fetch_wait_s" -> (c.fetchWaitMs / 1e3).toString,
      "spill_bytes" -> c.spillBytes.toString))
  }

  def groupJson(g: String): String = json(counters(g))

  def streamingJson: String = synchronized {
    def med(xs: Seq[Long]): Double =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2).toDouble
    Json.obj(Seq(
      "batches" -> batches.size.toString,
      "rows" -> batches.map(_._1).sum.toString,
      "trigger_ms_p50" -> med(batches.map(_._2).toSeq).toString,
      "state_commit_ms_p50" -> med(batches.map(_._3).toSeq).toString))
  }
}

object Recorder {
  def install(spark: SparkSession): Recorder = {
    val r = new Recorder(spark)
    spark.sparkContext.addSparkListener(r)
    spark.streams.addListener(r.streams)
    r
  }
}
