package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** What the scheduler did inside one timed span (one call into a layer). */
case class SpanStats(label: String, wallS: Double, jobs: Int, stages: Int, tasks: Int,
                     jobUnionS: Double, shuffleWriteBytes: Long, spillBytes: Long,
                     taskMaxS: Double, taskMeanS: Double,
                     lastStageBusyTasks: Int, lastStageTaskMaxS: Double) {
  /** Wall the Spark driver spent with no job running: planning, fence
    * materialisation bookkeeping, AQE re-optimisation between stages. */
  def driverGapS: Double = math.max(0.0, wallS - jobUnionS)
}

object Trace {
  /** Local property that tags every job submitted while a span is open.
    * Spark copies local properties onto the threads that run broadcast
    * and subquery jobs, so concurrent AQE jobs are tagged too. */
  val SpanKey = "perfbench.span"

  /** Total length of the union of [start, end) intervals. Jobs that AQE
    * runs concurrently overlap, so a plain sum of job durations can
    * exceed the wall that contains them. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Benchmark-side scheduler listener. Stages are billed to jobs from
  * `SparkListenerJobStart.stageIds` (a stage belongs to the first job
  * that lists it), and jobs to spans from the span local property. */
class Trace(sc: SparkContext) extends SparkListener {
  private case class Job(span: String, start: Long, @volatile var end: Long)
  private case class Task(stage: Int, durMs: Long, shuffleWrite: Long, spill: Long,
                          shuffleRecordsRead: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey))).orNull
    jobs.put(e.jobId, Job(span, e.time, -1L))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.stageId, e.taskInfo.duration, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.shuffleReadMetrics.recordsRead))
  }

  private var seq = 0

  /** Run `body` as one span; returns its value and what the scheduler did. */
  def span[T](label: String)(body: => T): (T, SpanStats) = {
    seq += 1
    val key = s"$label#$seq"
    val prev = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, key)
    val t0 = System.currentTimeMillis()
    val t0n = System.nanoTime()
    val out = try body finally sc.setLocalProperty(Trace.SpanKey, prev)
    val wallS = (System.nanoTime() - t0n) / 1e9
    val t1 = System.currentTimeMillis()
    org.apache.spark.PerfbenchShim.drainListeners(sc)
    (out, stats(label, key, wallS, t0, t1))
  }

  private def stats(label: String, key: String, wallS: Double, t0: Long, t1: Long): SpanStats = {
    val mine = jobs.asScala.filter(_._2.span == key).toMap
    val ids = mine.keySet
    val stageIds = stageJob.asScala.collect { case (s, j) if ids(j) => s }.toSet
    val ts = tasks.asScala.filter(t => stageIds(t.stage)).toSeq
    // clip to the span: a job's end event can trail the action's return
    val intervals = mine.values.toSeq.map(j => (math.max(j.start, t0),
      math.min(if (j.end < 0) t1 else j.end, t1)))
    val ranStages = ts.map(_.stage).distinct
    val last = if (ranStages.isEmpty) Seq.empty[Task]
               else { val s = ranStages.max; ts.filter(_.stage == s) }
    val busy = last.filter(_.shuffleRecordsRead > 0)
    SpanStats(label, wallS, mine.size, ranStages.size, ts.size,
      Trace.unionLength(intervals) / 1e3,
      ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum,
      if (ts.isEmpty) 0.0 else ts.map(_.durMs).max / 1e3,
      if (ts.isEmpty) 0.0 else ts.map(_.durMs).sum / 1e3 / ts.size,
      busy.size, if (busy.isEmpty) 0.0 else busy.map(_.durMs).max / 1e3)
  }

  def close(): Unit = sc.removeSparkListener(this)
}
