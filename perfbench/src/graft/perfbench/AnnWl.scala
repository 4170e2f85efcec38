package graft.perfbench

import graft.GraftIndexes
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** ann_index: seeded 64-d Gaussian-mixture vectors through
  * `GraftIndexes.writeIvfSq8` (base), `appendIvfSq8` (delta) and
  * `openIvf`, then batched `Similarity.ivfSq8ProbeJoin` calls over a
  * held-out probe set at the wide nProbe, k = 10. */
object AnnWl {
  val W = "ann_index"
  private val schema = StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val dir = new File(c.work, "ann")
    val v = Gen.vectors(c.seed, c.int(W, "dim"), c.int(W, "base"), c.int(W, "delta"), c.int(W, "probes"),
      c.int(W, "clusters"), dir)
    def frame(rows: Array[Array[Float]], idBase: Long): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.indices.map(i => Row(idBase + i, rows(i).toSeq)), c.nproc), schema)
    // the inputs as parquet, written before any graft call
    Seq("base" -> frame(v.base, 0L), "delta" -> frame(v.delta, v.base.length.toLong))
      .foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$dir/$n.parquet") }
    val base = spark.read.parquet(s"$dir/base.parquet")
    val delta = spark.read.parquet(s"$dir/delta.parquet")
    val k = c.int(W, "k")
    val lists = c.int(W, "lists")

    // ---- measured: build and append (the write side), in a fresh JVM as a batch job runs
    val index = s"$dir/index"
    val gc0 = c.gcMs()
    val tBuild = c.now
    c.measured("graft_indexes.write")(_ => GraftIndexes.writeIvfSq8(spark, base, "vec_id", "embedding", index,
      nCentroids = lists))
    c.measured("graft_indexes.append")(_ => GraftIndexes.appendIvfSq8(spark, delta, "vec_id", "embedding", index))
    val buildS = c.secs(tBuild)
    c.attempted += 2
    c.metric("throughput_per_s", (v.base.length + v.delta.length) / buildS, "1/s")
    c.note(f"build + append: ${v.base.length + v.delta.length} vectors in $buildS%.2f s")
    if (c.trace.on) trainTime(c)

    // ---- set-up: open the persisted index for probing
    var asg: DataFrame = null
    c.setups(W) { _ => asg = c.trace.span("graft_indexes.open", jobs = true)(_ => GraftIndexes.openIvf(spark, index))._1 }
    c.metric("heap_retained_mb", c.retainedHeapMb(), "MB")
    val rows = asg.count()
    GraftIndexes.appendIvfSq8(spark, delta, "vec_id", "embedding", index)
    val (asgM, centsM) = GraftIndexes.openIvf(spark, index)
    val again = asgM.count()
    c.check("a repeated appendIvfSq8 of the same delta leaves the row count unchanged",
      Checks.appendIdempotent(rows, again), s"before=$rows after=$again")

    // ---- quality: ONE batched probe of the whole held-out set vs brute force
    val nProbe = Similarity.nProbeWideFor(centsM.length)
    def probe(ids: Seq[Int]) = Similarity.ivfSq8ProbeJoin(asgM, centsM,
      spark.createDataFrame(java.util.Arrays.asList(ids.map(i => Row(i.toLong, v.probes(i).toSeq)): _*), schema),
      "vec_id", "embedding", nProbe, k).select("probe_id", "vec_id", "rn").collect()
    val approx = probe(v.probes.indices).groupBy(_.getLong(0)).map { case (p, rs) =>
      p.toInt -> rs.sortBy(_.getAs[Number](2).longValue).map(_.getLong(1)).toSeq
    }
    val all = v.base ++ v.delta
    val norms = all.map(Checks.norm)
    val exact = v.probes.toSeq.map(q => Checks.bruteTopK(all, norms, q, k))
    c.check("every probe answered", approx.size == v.probes.length, s"${v.probes.length - approx.size} probes without a result")
    c.metric("recall", Checks.recallAtK(v.probes.indices.map(i => approx.getOrElse(i, Nil)), exact, k), "ratio")

    // ---- measured: batched probe calls of `batch` held-out vectors until time is up
    val batch = c.int(W, "batch")
    val batches = v.probes.indices.grouped(batch).toArray
    val lat = ArrayBuffer.empty[Double]
    val t1 = c.now
    var calls = 0
    while (calls < c.int(W, "min_calls") || c.secs(t1) < c.seconds) {
      val ids = batches(calls % batches.length)
      val t = c.now
      // traced runs trace every other call, so the two halves give the tracing overhead
      if (calls % 2 == 0) c.measured("similarity.probe")(_ => probe(ids)) else probe(ids)
      lat += c.secs(t) * 1e3
      calls += 1
    }
    val probeS = c.secs(t1)
    c.attempted += calls
    c.metric("ann.probe_qps", calls.toDouble * batch / probeS, "1/s")
    c.metric("latency_p50_ms", Stats.median(lat.toSeq), "ms")
    c.metric("jvm.gc_ms", c.gcMs() - gc0, "ms")
    c.note(f"index: ${centsM.length} lists, nProbe $nProbe, $rows rows; $calls probe calls of $batch, ms: " +
      lat.map(x => f"$x%.0f").mkString(" "))

    if (c.trace.on) {
      val sizes = asgM.groupBy("centroid").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val scanned = v.probes.map(q => Similarity.spillProbeSet(centsM, q, nProbe).map(sizes.getOrElse(_, 0L)).sum)
      c.metric("similarity.scan_frac", scanned.sum.toDouble / (v.probes.length.toLong * rows), "ratio")
      val traced = c.trace.named("similarity.probe").map(c.trace.dur(_) / 1e6)
      val untraced = lat.indices.filter(_ % 2 == 1).map(lat)
      if (untraced.nonEmpty)
        c.metric("trace.overhead_pct", 100 * (Stats.median(traced) / Stats.median(untraced) - 1), "%")
    }
  }

  /** `similarity.train_s`: `writeIvfSq8` first trains its quantizer
    * (`Similarity.ivfIndexSpill`: the seed and Lloyd-round collects, each
    * its own SQL execution), then writes the assignment as parquet. The
    * training ends when the first write execution of the span starts. */
  private def trainTime(c: Ctx): Unit = {
    org.apache.spark.PerfbenchBus.drain(c.spark.sparkContext)
    val w = c.trace.named("graft_indexes.write").head
    val tally = c.trace.tally
    val execs = tally.jobLog.asScala.filter(_.span == w.id).map(_.execution).toSeq.distinct
      .flatMap(x => Option(tally.executions.get(x))).sortBy(_._1)
    c.note("graft_indexes.write executions: " + execs.map(_._2).mkString("; "))
    execs.find(_._2.startsWith("parquet at"))
      .foreach(x => c.metric("similarity.train_s", (x._1 - c.trace.startEpochMs(w)) / 1e3, "s"))
  }
}
