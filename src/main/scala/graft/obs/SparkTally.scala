package graft.obs

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{GraftBus, SparkContext}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** The one Spark listener of the program: whole-context totals plus one
  * row per stage and one per job. The timing mains (Bench, Soak, Probe)
  * take total deltas around a run; the specs that pin job counts read the
  * job rows.
  *
  * Listener events arrive on Spark's asynchronous bus, so every reader
  * first drains it ([[GraftBus.drain]]): the counts are then exact for
  * all work that has returned, with no sleep or poll. */
final class SparkTally private (sc: SparkContext) extends SparkListener {
  import SparkTally._

  private val jobsN, stagesN, tasksN, cpuNs, shuffleR, shuffleW, spillB, inputB =
    new AtomicLong
  // written only on the bus thread; read by drained callers
  private val stageRows = mutable.LinkedHashMap.empty[Int, Stage]
  private val jobRows = mutable.LinkedHashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsN.incrementAndGet()
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    synchronized {
      jobRows(e.jobId) = Job(e.jobId, e.time, 0L,
        prop("spark.job.description").getOrElse(""), prop("spark.jobGroup.id"),
        prop("streaming.sql.batchId"))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobRows.get(e.jobId).foreach(j => jobRows(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stagesN.incrementAndGet()
    seen(e.stageInfo)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = seen(e.stageInfo)

  private def seen(si: StageInfo): Unit = synchronized {
    stageRows(si.stageId) = stage(si.stageId).copy(name = si.name,
      submittedMs = si.submissionTime.getOrElse(0L),
      completedMs = si.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasksN.incrementAndGet()
    val m = e.taskMetrics
    val (r, w, in, runMs) =
      if (m == null) (0L, 0L, 0L, 0L)
      else {
        cpuNs.addAndGet(m.executorCpuTime)
        spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        (m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.executorRunTime)
      }
    shuffleR.addAndGet(r); shuffleW.addAndGet(w); inputB.addAndGet(in)
    synchronized {
      val s = stage(e.stageId)
      stageRows(e.stageId) = s.copy(tasks = s.tasks + 1, runMs = s.runMs + runMs,
        shuffleRead = s.shuffleRead + r, shuffleWrite = s.shuffleWrite + w,
        input = s.input + in)
    }
  }

  private def stage(id: Int): Stage = stageRows.getOrElse(id, Stage(id, "?"))

  /** Whole-context totals since the tally was attached. */
  def totals(): Totals = {
    GraftBus.drain(sc)
    Totals(jobsN.get, stagesN.get, tasksN.get, cpuNs.get, shuffleR.get, shuffleW.get,
      spillB.get, inputB.get)
  }

  /** Stage rows since the last [[clear]], in submission order. */
  def stages(): Seq[Stage] = { GraftBus.drain(sc); synchronized(stageRows.values.toVector) }

  /** Job rows since the last [[clear]], in start order. */
  def jobs(): Seq[Job] = { GraftBus.drain(sc); synchronized(jobRows.values.toVector) }

  /** Forget the stage and job rows; the totals keep counting. */
  def clear(): Unit = {
    GraftBus.drain(sc)
    synchronized { stageRows.clear(); jobRows.clear() }
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

object SparkTally {
  /** A tally registered on `sc`, counting only events posted after the
    * call; [[SparkTally.detach]] removes it. */
  def attach(sc: SparkContext): SparkTally = {
    GraftBus.drain(sc)
    val t = new SparkTally(sc)
    sc.addSparkListener(t)
    t
  }

  /** Bytes are summed over task metrics; `taskCpuNs` is executor CPU. */
  final case class Totals(jobs: Long, stages: Long, tasks: Long, taskCpuNs: Long,
                          shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long) {
    def -(o: Totals): Totals = Totals(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      taskCpuNs - o.taskCpuNs, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
      spill - o.spill, input - o.input)
  }

  /** Times are epoch ms, 0 until known. `runMs` sums executor run time. */
  final case class Stage(id: Int, name: String, submittedMs: Long = 0L,
                         completedMs: Long = 0L, tasks: Int = 0, runMs: Long = 0L,
                         shuffleRead: Long = 0L, shuffleWrite: Long = 0L,
                         input: Long = 0L) {
    /** None while running, or when the submission was never seen. */
    def wallMs: Option[Long] =
      if (submittedMs > 0 && completedMs > 0) Some(completedMs - submittedMs) else None
  }

  /** `endMs` is 0 while the job runs; `batchId` is the micro-batch that
    * launched it (`streaming.sql.batchId`), if any. */
  final case class Job(id: Int, startMs: Long, endMs: Long, description: String,
                       group: Option[String], batchId: Option[String]) {
    def wallMs: Option[Long] = if (endMs > 0) Some(endMs - startMs) else None
  }
}
