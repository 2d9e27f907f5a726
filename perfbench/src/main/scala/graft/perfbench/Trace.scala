package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `req` ties the spans of one
  * request together; `parent` names the span that caused this one. */
final case class Span(name: String, req: Long, parent: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out; with `enabled = false` every call is a plain pass-through. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String, req: Long, parent: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f finally spans.add(Span(name, req, parent, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def ms(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("name,req,parent,start_ns,end_ns\n")
      all.sortBy(_.startNs).foreach { s =>
        w.write(s"${s.name},${s.req},${s.parent},${s.startNs},${s.endNs}\n")
      }
    } finally w.close()
  }
}

object Stats {
  /** Nearest-rank percentile, p in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  /** The median; the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** The highest percentile that still has at least ten samples beyond it,
    * capped at p99 — the tail a sample of this size supports. */
  def tailP(n: Int): Double = math.min(0.99, math.max(0.5, 1.0 - 10.0 / n))
}

/** Spark job accounting, attributed by the `perfbench.op` local property
  * the benchmark sets around each timed call (Spark SQL copies local
  * properties onto its execution threads, so every job a call issues
  * carries the tag). */
final class JobSpy extends SparkListener {
  final class Job(val id: Int, val op: String, val startMs: Long,
                  val stageIds: Seq[Int], @volatile var endMs: Long = -1L)
  final class StageAcc {
    @volatile var tasks = 0
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(JobSpy.OpKey))).getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, op, e.time, e.stageIds))
    e.stageInfos.foreach(si => stages.putIfAbsent(si.stageId, new StageAcc))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.computeIfAbsent(e.stageInfo.stageId, _ => new StageAcc).tasks = e.stageInfo.numTasks
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
      acc.synchronized {
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Everything the listener saw for jobs tagged `op`. */
  def summary(op: String): JobSpy.OpSummary = {
    val js = jobs.values().asScala.filter(_.op == op).toSeq.sortBy(_.startMs)
    val sids = js.flatMap(_.stageIds).distinct.filter(stages.containsKey)
    val accs = sids.map(stages.get)
    // union of the job intervals, so overlapping jobs count once
    var covered = 0L
    var curS = -1L
    var curE = -1L
    js.filter(_.endMs >= 0).foreach { j =>
      if (j.startMs > curE) { if (curE > curS) covered += curE - curS; curS = j.startMs; curE = j.endMs }
      else curE = math.max(curE, j.endMs)
    }
    if (curE > curS) covered += curE - curS
    JobSpy.OpSummary(js.length, covered / 1e3,
      accs.map(_.tasks).sum, if (accs.isEmpty) 0 else accs.map(_.tasks).max,
      accs.map(a => a.shuffleRead + a.shuffleWrite).sum, accs.map(_.spill).sum)
  }

  /** Wait (at most `timeoutMs`) until every job seen with a tag ending in
    * `suffix` has ended: events reach a listener asynchronously, and one
    * removed before its queue drains would miss the last tasks and job ends. */
  def awaitEnded(suffix: String, timeoutMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = jobs.values().asScala.exists(j => j.op.endsWith(suffix) && j.endMs < 0)
    while (open && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** Run `f` with its Spark jobs tagged `op` on this thread. */
  def tagged[T](sc: org.apache.spark.SparkContext, op: String)(f: => T): T = {
    val prev = sc.getLocalProperty(JobSpy.OpKey)
    sc.setLocalProperty(JobSpy.OpKey, op)
    try f finally sc.setLocalProperty(JobSpy.OpKey, prev)
  }
}

object JobSpy {
  val OpKey = "perfbench.op"
  final case class OpSummary(jobs: Int, jobSeconds: Double, tasks: Int,
                             widestStageTasks: Int, shuffleBytes: Long, spillBytes: Long)
}
