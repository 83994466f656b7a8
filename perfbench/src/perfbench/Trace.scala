package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One recorded span: a call into a layer's public function, timed from
  * outside the program. `parent` is 0 for a root span. */
final case class SpanRec(id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. A disabled tracer runs the body and records
  * nothing, so untraced jobs pay no tracing cost. Spans nest through a
  * per-thread stack; the innermost span id is published to Spark as the
  * `perfbench.span` job property, so the stage listener can attach each
  * job's stages to the span that ran it. */
final class Tracer(sc: SparkContext) {
  val runId: String = java.util.UUID.randomUUID().toString
  @volatile var enabled = false
  private val nextId = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  val spans = new ConcurrentLinkedQueue[SpanRec]()
  /** Id of the span that closed last on any thread. */
  @volatile var lastClosed = 0L

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val outer = stack.get()
      stack.set(id :: outer)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(SpanRec(id, outer.headOption.getOrElse(0L), name, layer, t0, System.nanoTime()))
        lastClosed = id
        stack.set(outer)
        sc.setLocalProperty(Tracer.Prop, outer.headOption.map(_.toString).orNull)
      }
    }
}

object Tracer {
  final val Prop = "perfbench.span"
}

/** Stage record of one completed stage, attached to the span whose job ran it. */
final case class StageRec(span: Long, jobId: Int, stageId: Int, name: String, tasks: Int,
    wallMs: Long, executorCpuMs: Long, gcMs: Long, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, outputBytes: Long, inputRecords: Long)

/** One listener for job, stage and task metrics. Only jobs started under
  * a span are recorded. Events arrive asynchronously: call `drain` before
  * reading, which runs a marker job and waits until its end event has
  * been delivered (the listener queue is ordered). */
final class StageListener extends SparkListener {
  private val stageOwner = new ConcurrentHashMap[Int, (Long, Int)]()
  private val jobsBySpan = new ConcurrentHashMap[Long, AtomicLong]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  /** (span, task duration ms) of every recorded task. */
  val tasks = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var lastJobEnd = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
    sp.foreach { s =>
      val span = s.toLong
      jobsBySpan.computeIfAbsent(span, _ => new AtomicLong()).incrementAndGet()
      e.stageIds.foreach(id => stageOwner.put(id, (span, e.jobId)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lastJobEnd = e.jobId

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwner.get(e.stageId)).foreach { case (span, _) =>
      if (e.taskInfo != null) tasks.add((span, e.taskInfo.duration))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stageOwner.get(i.stageId)).foreach { case (span, job) =>
      val m = i.taskMetrics
      val wall = for (a <- i.submissionTime; b <- i.completionTime) yield b - a
      stages.add(StageRec(span, job, i.stageId, i.name, i.numTasks, wall.getOrElse(0L),
        m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten,
        m.inputMetrics.recordsRead))
    }
  }

  def jobs(span: Long): Long = Option(jobsBySpan.get(span)).map(_.get()).getOrElse(0L)

  def drain(sc: SparkContext): Unit = {
    val before = sc.getLocalProperty(Tracer.Prop)
    sc.setLocalProperty(Tracer.Prop, null)
    sc.setJobDescription("perfbench listener drain")
    sc.parallelize(Seq(1), 1).count()
    sc.setJobDescription(null)
    sc.setLocalProperty(Tracer.Prop, before)
    val marker = sc.statusTracker.getJobIdsForGroup(null).maxOption.getOrElse(-1)
    val deadline = System.nanoTime() + 30000000000L
    while (lastJobEnd < marker && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def stagesOf(spanIds: Set[Long]): Seq[StageRec] = stages.asScala.filter(s => spanIds(s.span)).toSeq
  def tasksOf(spanIds: Set[Long]): Seq[Long] = tasks.asScala.collect { case (s, d) if spanIds(s) => d }.toSeq
}
