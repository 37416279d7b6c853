package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Records every Spark job, stage and task of one SparkContext, keyed by the
  * job group the benchmark sets around each op call. Events arrive on the
  * listener bus thread; they are read only after `SparkContext.stop()`,
  * which drains the bus first.
  */
final class Recorder extends SparkListener {

  final class Job(val id: Int, val group: String, val startMs: Long) {
    var endMs: Long = -1L
  }

  final class Stage(val id: Int, val attempt: Int, val job: Int, val submitMs: Long) {
    var endMs: Long = -1L
    var tasks = 0
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
    var schedWaitMs = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val jobOfStage = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, group, e.time)
    e.stageIds.foreach(jobOfStage(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    stages((si.stageId, si.attemptNumber())) = new Stage(si.stageId, si.attemptNumber(),
      jobOfStage.getOrElse(si.stageId, -1), si.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stages.get((si.stageId, si.attemptNumber()))
      .foreach(_.endMs = si.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      s.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
      }
    }

  def jobsJson: Seq[Map[String, Any]] = jobs.values.toSeq.map(j => Map(
    "id" -> j.id, "group" -> j.group, "start_ms" -> j.startMs, "end_ms" -> j.endMs))

  def stagesJson: Seq[Map[String, Any]] = stages.values.toSeq.map(s => Map(
    "id" -> s.id, "attempt" -> s.attempt, "job" -> s.job,
    "submit_ms" -> s.submitMs, "end_ms" -> s.endMs, "tasks" -> s.tasks,
    "cpu_s" -> s.cpuNs / 1e9, "shuffle_write_bytes" -> s.shuffleWriteBytes,
    "spill_bytes" -> s.spillBytes, "gc_s" -> s.gcMs / 1e3,
    "sched_wait_s" -> s.schedWaitMs / 1e3))
}
