package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs and shuffle traffic of one block of driver code: each
  * job's span, call site, task count and scheduler pool, and every
  * task's shuffle metrics summed. Listener events arrive
  * asynchronously, so after the block a one-task FENCE job runs, and
  * the trace is the listener's state when that job's end is delivered:
  * the bus delivers in posting order, so the block's events are all in
  * by then — no sleeping, no polling totals. Jobs of other threads are
  * recorded too, so trace an otherwise idle session. */
object JobTrace {

  /** `seconds` is the job's span by event time; a job still running
    * at the fence is measured up to the fence. `site` names each stage
    * by its first graft frame with its task count. A stage submitted
    * from one of AQE's async threads has no graft frame of its own; it
    * takes the first graft frame of the SQL execution the job belongs
    * to (the `spark.sql.execution.id` job property, resolved through the
    * execution's start event, or its root execution's), and the stage
    * name only when neither has one. */
  final case class Job(id: Int, seconds: Double, site: String, tasks: Int, pool: String)

  final case class Trace(jobs: Seq[Job], shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, shuffleRecordsRead: Long)

  private val FenceKey = "graft.fence"

  private final case class Open(startMs: Long, site: String, tasks: Int, pool: String)

  def of[T](sc: SparkContext)(body: => T): (T, Trace) = {
    val recorder = new Recorder("graft-fence-" + UUID.randomUUID())
    sc.addSparkListener(recorder)
    try {
      val out = body
      sc.setLocalProperty(FenceKey, recorder.fence)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(FenceKey, null)
      if (!recorder.fenced.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("the listener bus never delivered the fence job's end")
      (out, recorder.trace)
    } finally sc.removeSparkListener(recorder)
  }

  /** Every callback runs on the listener bus thread; [[trace]] is
    * published through the latch. */
  private final class Recorder(val fence: String) extends SparkListener {
    private val open = mutable.LinkedHashMap.empty[Int, Open]
    private val execFrames = mutable.Map.empty[Long, String]
    private val ended = mutable.ArrayBuffer.empty[Job]
    private var fenceJob = -1
    private var read, write, records = 0L
    @volatile var trace: Trace = _
    val fenced = new CountDownLatch(1)

    private def graftFrame(stack: String): Option[String] =
      Option(stack).flatMap(_.linesIterator
        .find(l => l.contains("graft.") && !l.contains("graft.JobTrace"))
        .map(_.trim.stripPrefix("at ")))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        graftFrame(s.details)
          .orElse(s.rootExecutionId.flatMap(execFrames.get))
          .foreach(execFrames(s.executionId) = _)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(FenceKey) == fence)) fenceJob = e.jobId
      else {
        val execFrame = props
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => execFrames.get(id.toLong))
        val site = e.stageInfos.map { si =>
          val frame = graftFrame(si.details).orElse(execFrame).getOrElse(si.name)
          s"$frame[${si.numTasks}]"
        }.mkString(" | ")
        open(e.jobId) = Open(e.time, site, e.stageInfos.map(_.numTasks).sum,
          props.map(_.getProperty("spark.scheduler.pool", "")).getOrElse(""))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == fenceJob) {
        val running = open.map { case (id, o) => job(id, o, e.time) }
        trace = Trace((ended ++ running).sortBy(_.id).toSeq, read, write, records)
        fenced.countDown()
      } else open.remove(e.jobId).foreach(o => ended += job(e.jobId, o, e.time))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        read += m.shuffleReadMetrics.totalBytesRead
        write += m.shuffleWriteMetrics.bytesWritten
        records += m.shuffleReadMetrics.recordsRead
      }

    private def job(id: Int, o: Open, endMs: Long): Job =
      Job(id, (endMs - o.startMs) / 1e3, o.site, o.tasks, o.pool)
  }
}
