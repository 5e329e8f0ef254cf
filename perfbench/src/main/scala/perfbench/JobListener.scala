package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Records Spark jobs, stages and task metrics for the benchmark. Events
  * arrive on the listener bus asynchronously; `drain` waits for them. */
final class JobListener extends SparkListener {
  import JobListener._

  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(
      stageId = e.stageId, stageAttempt = e.stageAttemptId,
      launch = e.taskInfo.launchTime, finish = e.taskInfo.finishTime,
      runMs = m.executorRunTime,
      cpuNs = m.executorCpuTime + m.executorDeserializeCpuTime,
      gcMs = m.jvmGCTime,
      inputBytes = m.inputMetrics.bytesRead,
      outputBytes = m.outputMetrics.bytesWritten,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageRec(i.stageId, i.attemptNumber(),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (start, stageIds) = Option(jobStarts.remove(e.jobId)).getOrElse((e.time, Nil))
    jobs.add(JobRec(e.jobId, start, e.time, stageIds))
  }

  /** Everything recorded since the last snapshot; clears the record. */
  def take(sc: org.apache.spark.SparkContext): Snapshot = {
    // the drain gives up after 10 s; on a loaded host a late event then
    // lands in the next snapshot instead of failing the run
    try org.apache.spark.PerfbenchBus.drain(sc)
    catch { case e: java.util.concurrent.TimeoutException =>
      System.err.println(s"perfbench: listener bus drain timed out: $e") }
    def pull[T](q: ConcurrentLinkedQueue[T]): Vector[T] = {
      val b = Vector.newBuilder[T]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    Snapshot(pull(tasks), pull(stages), pull(jobs).sortBy(_.start))
  }
}

object JobListener {
  final case class TaskRec(stageId: Int, stageAttempt: Int, launch: Long, finish: Long,
                           runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long,
                           outputBytes: Long, shuffleWriteBytes: Long,
                           shuffleReadBytes: Long, fetchWaitMs: Long, spillBytes: Long)
  final case class StageRec(stageId: Int, attempt: Int, submitted: Long, completed: Long)
  final case class JobRec(jobId: Int, start: Long, end: Long, stageIds: Seq[Int])

  final case class Snapshot(tasks: Vector[TaskRec], stages: Vector[StageRec],
                            jobs: Vector[JobRec]) {
    def cpuSeconds: Double = tasks.map(_.cpuNs).sum / 1e9

    /** Role of every completed stage, from the bytes its tasks moved. */
    def roles(extractJob: Boolean): Map[(Int, Int), Stats.Role] =
      tasks.groupBy(t => (t.stageId, t.stageAttempt)).map { case (k, ts) =>
        k -> Stats.role(ts.map(_.inputBytes).sum, ts.map(_.shuffleReadBytes).sum,
          ts.map(_.shuffleWriteBytes).sum, ts.map(_.outputBytes).sum, extractJob)
      }
  }
}
