package graft.obs

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job and per-stage record of the Spark jobs a block of code starts.
  * Only jobs started from the calling thread (or threads inheriting its
  * local properties, e.g. broadcast and subquery threads) carry the
  * recording's local property, so earlier or concurrent jobs never leak in. */
object StageListener {

  /** `tasks`: declared task count of the stages this job ran (not those it
    * skipped); `description`: `spark.job.description`, else the final stage's call site. */
  final case class Job(id: Int, startMs: Long, endMs: Long, description: String,
      stageIds: Seq[Int], tasks: Int) {
    def durationMs: Long = endMs - startMs
  }

  /** `tasks` counts task-end events, and the task times are theirs;
    * shuffle, spill and GC come from the stage's metrics. */
  final case class Stage(id: Int, jobId: Int, tasks: Int, taskMsSum: Long,
      taskMsMedian: Long, taskMsMax: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, gcMs: Long)

  final case class Recording(jobs: Seq[Job], stages: Seq[Stage])

  private val Tag = "graft.obs.record"

  /** Runs `body` and returns its result with the jobs it started.
    * Listener events arrive asynchronously but in order, so a marker job
    * runs after `body` and its end event is awaited: by then every event
    * of `body`'s jobs has been delivered. */
  def record[T](sc: SparkContext)(body: => T): (T, Recording) = {
    val listener = new Listener(UUID.randomUUID().toString)
    val outer = sc.getLocalProperty(Tag)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, listener.token)
      val result = body
      sc.setLocalProperty(Tag, listener.token + ":drain")
      sc.parallelize(Seq(1), 1).count()
      require(listener.drained.await(60, TimeUnit.SECONDS), "listener bus did not drain in 60 s")
      (result, listener.recording)
    } finally {
      sc.setLocalProperty(Tag, outer)
      sc.removeSparkListener(listener)
    }
  }

  /** Callbacks all run on the one listener-bus thread, a stage's task ends
    * before its completion; `drained` hands the state over to the reader. */
  private final class Listener(val token: String) extends SparkListener {
    val drained = new CountDownLatch(1)
    private var marker = -1
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private val owner = mutable.Map.empty[Int, Int] // stage -> first job listing it
    private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).map(_.getProperty(Tag)).orNull
      if (tag == token + ":drain") marker = e.jobId
      else if (tag == token) {
        val desc = Option(e.properties.getProperty("spark.job.description"))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
        jobs(e.jobId) = Job(e.jobId, e.time, e.time, desc, Nil, 0)
        e.stageIds.foreach(owner.getOrElseUpdate(_, e.jobId))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == marker) drained.countDown()
      else jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (owner.contains(e.stageId) && e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      owner.get(i.stageId).foreach { jobId =>
        val ms = taskMs.remove(i.stageId).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
        val m = i.taskMetrics
        stages += Stage(i.stageId, jobId, ms.length, ms.sum,
          if (ms.isEmpty) 0L else ms(ms.length / 2), ms.lastOption.getOrElse(0L),
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime)
        jobs.get(jobId).foreach(j => jobs(jobId) =
          j.copy(stageIds = j.stageIds :+ i.stageId, tasks = j.tasks + i.numTasks))
      }
    }

    def recording: Recording =
      Recording(jobs.values.toSeq.sortBy(_.startMs), stages.toSeq.sortBy(_.id))
  }
}
