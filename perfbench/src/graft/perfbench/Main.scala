package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run's state: inputs, the tracer, and what the run
  * reports (metrics, output checks, attempted/failed counts). */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Tracer, val work: File, val cfg: JsonNode, val nproc: Int) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))
  def note(s: String): Unit = {
    notes += s
    val up = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench +$up%.1fs] $s")
  }

  def int(wl: String, k: String): Int = cfg.get(wl).get(k).asInt()
  def dbl(wl: String, k: String): Double = cfg.get(wl).get(k).asDouble()
  /** Run the workload's set-up `setup_repeats` times (once when traced),
    * each from the same session settings, and report the median as `setup_s`. */
  def setups(wl: String)(f: Int => Unit): Unit = {
    val ts = (0 until (if (trace.on) 1 else int(wl, "setup_repeats"))).map { i =>
      resetConf()
      val t0 = now
      f(i)
      secs(t0)
    }
    note(s"set-ups, s: ${ts.map(t => f"$t%.2f").mkString(" ")}")
    metric("setup_s", Stats.median(ts), "s")
  }

  def now: Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** JVM heap in use after a full GC, in MB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(50) }
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Cumulative GC time of the JVM, in ms. */
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Run `f` under span `name` on the measured side: its Spark jobs count
    * toward the run's `spark.*` totals. */
  def measured[T](name: String, parent: Long = 0L)(f: Long => T): T =
    trace.span(name, parent, jobs = true, measure = true)(f)

  /** Restore the batch settings that `GraftSession.tuneForServing` (or an
    * earlier workload step) changed, so every set-up repeat starts alike. */
  def resetConf(): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions", nproc.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}

/** `graft.perfbench.Main --workload <w> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --config <workloads.json> --out <result.json>`
  * runs one workload (or several, comma-separated, one after another in
  * this JVM) and writes its result as JSON. */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "serve_hybrid" -> ServeWl.run,
    "dedup_ingest" -> DedupWl.run,
    "ann_index" -> AnnWl.run)

  /** Spans reported per layer as `<name>_s`: the median span, in seconds. */
  val TimedSpans: Seq[String] = Seq("ingest.validate", "hadith_search.build_index", "resident.layers",
    "dedup.stage", "dedup.groups", "dedup.survivors", "similarity.probe",
    "graft_indexes.write", "graft_indexes.append", "graft_indexes.open")
  private val SparkUnits = Map("spark.jobs" -> "count", "spark.stages" -> "count", "spark.task_cpu_s" -> "s",
    "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.top_stage_cpu_s" -> "s")

  /** The traced run's layer figures that come straight from its spans. */
  private def spanMetrics(c: Ctx): Unit = {
    org.apache.spark.PerfbenchBus.drain(c.spark.sparkContext)
    val (tot, top) = c.trace.tally.totals(c.trace.measured.asScala)
    tot.foreach { case (n, v) => c.metric(n, v, SparkUnits(n)) }
    c.note(s"costliest measured stage: $top")
    TimedSpans.foreach { n =>
      val ss = c.trace.named(n)
      if (ss.nonEmpty) c.metric(s"${n}_s", Stats.median(ss.map(c.trace.dur(_) / 1e9)), "s")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--selftest")) return SelfTest.main(args.drop(1))
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new File(a("out"))
    val mapper = new ObjectMapper()
    // several workloads in one JVM: how run.py loads every class once for its class archive
    val runs = a("workload").split(",").toSeq.map(wl => Workloads.getOrElse(wl, sys.error(s"unknown workload $wl")))
    val nproc = Runtime.getRuntime.availableProcessors()
    val work = new File(a("work"))
    val spark = graft.GraftSession.local("graft-perfbench", nproc.toString)
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(s"[perfbench] session up after ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble,
      new Tracer(a("trace") == "1", spark.sparkContext), work,
      mapper.readTree(new File(a("config"))), nproc)
    val error =
      try { runs.foreach(_(ctx)); if (ctx.trace.on) spanMetrics(ctx); None }
      catch { case t: Throwable => t.printStackTrace(); Some(t.toString) }
    try ctx.trace.write(new File(a("trace_out")))
    catch { case t: Throwable => ctx.note(s"trace write failed: $t") }
    val o = mapper.createObjectNode()
    val failedChecks = ctx.checks.filterNot(_._2)
    o.put("correct", error.isEmpty && failedChecks.isEmpty)
    o.put("attempted", ctx.attempted)
    o.put("failed", ctx.failed)
    o.put("nproc", nproc)
    error.foreach(e => o.put("error", e))
    val ms = o.putObject("metrics")
    ctx.metrics.foreach { case (n, (v, u)) => ms.putObject(n).put("value", v).put("unit", u) }
    val cs = o.putArray("checks")
    ctx.checks.foreach { case (n, ok, d) => cs.addObject().put("name", n).put("ok", ok).put("detail", d) }
    val ns = o.putArray("notes")
    ctx.notes.foreach(ns.add)
    mapper.writerWithDefaultPrettyPrinter().writeValue(out, o)
    ctx.note("done")
    spark.stop()
    sys.exit(if (error.isEmpty) 0 else 3)
  }
}
