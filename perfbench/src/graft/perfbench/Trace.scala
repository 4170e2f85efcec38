package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Percentiles and the benchmark's reporting rules. */
object Stats {
  /** Nearest-rank percentile of unsorted samples (p in [0, 100]). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, rank(p, s.length) - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** 1-based nearest rank of percentile p among n samples. */
  private def rank(p: Double, n: Int): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail percentile a run may report: the highest of [[Ladder]]
    * with at least 10 samples strictly beyond it, or None. */
  def tailPct(n: Int): Option[Double] =
    Ladder.find(p => n - rank(p, n) >= 10)
}

/** In-memory span recorder. Spans are (id, name, parent, request,
  * start, end) in monotonic nanoseconds, kept in memory and written
  * when the run ends. When `on` is false every call runs its body
  * untouched: the untraced run records nothing and sets no job groups. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  final case class Span(id: Long, name: String, parent: Long, req: Long, start: Long, end: Long)
  /** Epoch ms of a span's start (spans are in monotonic ns; Spark events in epoch ms). */
  def startEpochMs(s: Span): Double = s.start / 1e6 + epochOffsetMs
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  /** The innermost span the benchmark's main thread is in: Spark jobs
    * started under a foreign job group (the streaming query's own)
    * are charged to it. */
  @volatile var active: Long = 0L
  /** Spans whose jobs count toward the run's `spark.*` figures. */
  val measured: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
  val tally: JobTally = if (on) { val t = new JobTally(this); sc.addSparkListener(t); t } else null

  /** Time `f` as span `name`. With `jobs` the body runs under job
    * group `pb:<id>` (for calls on the calling thread that start Spark jobs). */
  def span[T](name: String, parent: Long = 0L, req: Long = 0L, jobs: Boolean = false,
              measure: Boolean = false)(f: Long => T): T = {
    if (!on) return f(0L)
    val id = ids.incrementAndGet()
    if (measure) measured.add(id)
    val prevActive = active
    val prevGroup = if (jobs) sc.getLocalProperty("spark.jobGroup.id") else null
    // no job description, so each SQL execution keeps its call site as description
    if (jobs) { active = id; sc.setJobGroup(s"pb:$id", null) }
    val t0 = System.nanoTime()
    try f(id)
    finally {
      val t1 = System.nanoTime()
      if (jobs) {
        if (prevGroup != null) sc.setJobGroup(prevGroup, prevGroup) else sc.clearJobGroup()
        active = prevActive
      }
      spans.add(Span(id, name, parent, req, t0, t1))
    }
  }

  /** Record an interval measured elsewhere (e.g. a client-side request). */
  def record(name: String, parent: Long, req: Long, start: Long, end: Long): Long = {
    if (!on) return 0L
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, parent, req, start, end))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq
  def named(n: String): Seq[Span] = all.filter(_.name == n)
  def dur(s: Span): Double = (s.end - s.start).toDouble

  /** Span duration minus the union of its children's intervals. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curS = 0L; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.end - s.start) - covered
  }

  /** Write every span, with its self time and Spark tally, as JSON lines. */
  def write(file: java.io.File): Unit = {
    if (!on) return
    org.apache.spark.PerfbenchBus.drain(sc)
    val ss = all.sortBy(_.start)
    val kids = ss.groupBy(_.parent)
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try ss.foreach { s =>
      val t = tally.of(s.id)
      w.println(f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        f""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${selfNs(s, kids.getOrElse(s.id, Nil))},""" +
        f""""jobs":${t.jobs.get},"stages":${t.stages.get},"task_cpu_s":${t.cpuNs.get / 1e9}%.4f,""" +
        f""""shuffle_mb":${t.shuffleBytes.get / 1048576.0}%.4f,"spill_mb":${t.spillBytes.get / 1048576.0}%.4f}""")
    } finally w.close()
  }
}

/** Spark listener that charges jobs, stages, task CPU, shuffle and spill
  * bytes to spans: by job group `pb:<span>` when the benchmark set one,
  * else to the span active on the benchmark's thread. */
final class JobTally(tr: Tracer) extends SparkListener {
  final class Agg {
    val jobs, stages, cpuNs, shuffleBytes, spillBytes = new AtomicLong
  }
  private val aggs = new ConcurrentHashMap[Long, Agg]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  /** stage id → (call site, task CPU ns) */
  val stageCpu = new ConcurrentHashMap[Int, (String, Long)]()
  /** streaming batch id → jobs started for it */
  val batchJobs = new ConcurrentHashMap[String, AtomicLong]()
  /** Every job: span, submission time (epoch ms), call site of its last
    * stage, SQL execution id (-1 outside one). */
  final case class Job(span: Long, timeMs: Long, site: String, execution: Long)
  val jobLog = new ConcurrentLinkedQueue[Job]()

  /** SQL execution id → (start time in epoch ms, description, e.g. "parquet at Graft.scala:707") */
  val executions = new ConcurrentHashMap[Long, (Long, String)]()

  def of(span: Long): Agg = aggs.computeIfAbsent(span, _ => new Agg)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executions.put(x.executionId, (x.time, x.description))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb:")).map(_.drop(3).toLong).getOrElse(tr.active)
    props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach { b =>
      batchJobs.computeIfAbsent(b, _ => new AtomicLong).incrementAndGet()
    }
    jobLog.add(Job(span, e.time, e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?"),
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)))
    val a = of(span)
    a.jobs.incrementAndGet()
    a.stages.addAndGet(e.stageInfos.size)
    e.stageInfos.foreach { si =>
      stageSpan.putIfAbsent(si.stageId, span)
      stageCpu.putIfAbsent(si.stageId, (si.name, 0L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = of(stageSpan.getOrDefault(e.stageId, tr.active))
    a.cpuNs.addAndGet(m.executorCpuTime)
    a.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    stageCpu.compute(e.stageId, (_, v) =>
      if (v == null) ("?", m.executorCpuTime) else (v._1, v._2 + m.executorCpuTime))
  }

  /** Totals over `spans`, plus the costliest stage among them. */
  def totals(spans: Iterable[Long]): (Map[String, Double], String) = {
    val set = spans.toSet
    val as = set.toSeq.map(of)
    def sum(f: Agg => AtomicLong) = as.map(a => f(a).get).sum
    val top = stageCpu.asScala.toSeq
      .filter { case (st, _) => set.contains(stageSpan.getOrDefault(st, -1L)) }
      .map(_._2).sortBy(-_._2).headOption
    (Map(
      "spark.jobs" -> sum(_.jobs).toDouble,
      "spark.stages" -> sum(_.stages).toDouble,
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.shuffle_mb" -> sum(_.shuffleBytes) / 1048576.0,
      "spark.spill_mb" -> sum(_.spillBytes) / 1048576.0,
      "spark.top_stage_cpu_s" -> top.map(_._2 / 1e9).getOrElse(0.0)),
      top.map(_._1).getOrElse("-"))
  }
}
