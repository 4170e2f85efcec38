package graft

import graft.obs.SparkTally

/** Same-host probe of a few registered queries (not part of the library
  * surface): times each one with the bench's own cold run
  * ([[Bench.coldRun]]) on a session opened like the bench's, in
  * interleaved passes, and prints per run the total and build seconds,
  * the tally's totals, and the per-stage and per-job table, so two source
  * trees can be compared on identical measurement code and the expensive
  * stages named instead of guessed. The last lines give the MIN per
  * query over the passes. Cores come from `SPARK_GRAFT_CPUS`. Usage:
  *   runMain graft.Probe <sfDir> <q1,q2,...> [passes]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).getOrElse("minhash_lsh_pairs").split(",").toSeq
    val passes = args.lift(2).flatMap(_.toIntOption).getOrElse(3)
    val qs = names.map(n => n -> SparkEntry.queries(n))
    val spark = GraftSession.local("graft-probe", GraftSession.envCores)
    val tally = SparkTally.attach(spark.sparkContext)
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    for (pass <- 1 to passes; (name, fn) <- qs) {
      tally.clear()
      val pre = tally.totals()
      val run = Bench.coldRun(spark, sfDir, name, fn, s"probe-$name-$pass", Bench.queryCapS)
      val t = tally.totals() - pre
      val build = run.buildS.map(b => f" build=$b%.2f s").getOrElse("")
      val err = run.err.map(e => s" FAILED: $e").getOrElse("")
      println(f"[probe] pass $pass $name total=${run.totalS}%.2f s$build$err")
      if (run.err.isEmpty) samples(name) = samples.getOrElse(name, Nil) :+ run.totalS
      println(f"[probe]  totals jobs=${t.jobs} stages=${t.stages} tasks=${t.tasks} " +
        f"cpu=${t.taskCpuNs / 1e6}%.0f ms shufR=${t.shuffleRead} B " +
        f"shufW=${t.shuffleWrite} B spill=${t.spill} B in=${t.input} B")
      report(tally)
    }
    samples.foreach { case (n, ss) =>
      println(f"[probe] MIN $n%-20s ${ss.min}%.2f s  passes=${ss.map(x => f"$x%.2f").mkString(",")}")
    }
    spark.stop()
  }

  /** Every stage and job of the run, longest first; a stage or job still
    * running (or whose submission was never seen) prints as "running". */
  private def report(tally: SparkTally): Unit = {
    def wall(w: Option[Long]) = w.map(ms => f"$ms%5d ms").getOrElse("running ")
    tally.stages().sortBy(-_.wallMs.getOrElse(-1L)).foreach { s =>
      println(f"[probe]  stage ${s.id}%4d wall=${wall(s.wallMs)} tasks=${s.tasks}%3d " +
        f"run=${s.runMs}%6d ms shufR=${s.shuffleRead}%10d B shufW=${s.shuffleWrite}%10d B " +
        f"in=${s.input}%10d B  ${s.name.take(90)}")
    }
    tally.jobs().sortBy(-_.wallMs.getOrElse(-1L)).foreach { j =>
      println(f"[probe]  job ${j.id}%4d wall=${wall(j.wallMs)}  ${j.description.take(80)}")
    }
  }
}
