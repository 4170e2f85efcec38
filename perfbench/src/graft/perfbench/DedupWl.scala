package graft.perfbench

import graft.operators.Dedup
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import java.io.File
import scala.jdk.CollectionConverters._

/** dedup_ingest: a seeded Zipf-vocabulary corpus with injected near and
  * exact dups through the full-corpus stage (`Dedup.nearDupStage` →
  * `.groups` → `.survivors` to parquet), then seeded delta drops, one
  * per micro-batch, through `Streams.nearDupIngest`. */
object DedupWl {
  val W = "dedup_ingest"

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val nh = c.int(W, "num_hashes"); val rpb = c.int(W, "rows_per_band"); val thr = c.dbl(W, "threshold")
    val corpusFile = new File(c.work, "dedup/corpus.jsonl")
    val corpus = Gen.dedupCorpus(c.seed, c.int(W, "docs"), corpusFile)
    val boot = c.int(W, "bootstrap_drops")
    val drops = Gen.drops(c.seed, boot + c.int(W, "max_drops"), c.int(W, "drop_size"), 1L << 40)
    val docSchema = "doc_id LONG, text STRING"
    val docs = spark.read.schema(docSchema).json(corpusFile.getAbsolutePath)

    // ---- set-up: start the ingest stream on empty stores
    var query: StreamingQuery = null
    var mem: MemoryStream[(Long, String)] = null
    var store: File = null
    c.setups(W) { i =>
      if (query != null) query.stop()
      store = new File(c.work, s"dedup/stream$i")
      mem = MemoryStream[(Long, String)]
      query = c.trace.span("streams.start", jobs = true)(_ =>
        Streams.nearDupIngest(mem.toDF().toDF("doc_id", "text"), s"$store/corpus", s"$store/index",
          s"$store/ckpt", "doc_id", "text", thr, nh, rpb))
    }
    c.metric("heap_retained_mb", c.retainedHeapMb(), "MB")

    // unmeasured bootstrap drops give the store a prior corpus and pay the
    // first-use JIT and code generation of the stream: the first drop has
    // no earlier drop to probe, so the second is the first to run every
    // step of a micro-batch
    for (d <- 0 until boot) { mem.addData(drops(d).rows.toSeq); query.processAllAvailable() }
    val gc0 = c.gcMs()

    // ---- phase 2 (measured): delta drops, one micro-batch each, for
    // `seconds` and at least `min_drops`, right after the bootstrap drops
    val t2 = c.now
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var k = boot
    while (k < drops.length && (k < boot + c.int(W, "min_drops") || c.secs(t2) < c.seconds)) {
      val t = c.now
      // traced runs trace every other batch, so the two halves give the tracing overhead
      if (k % 2 == 0) c.measured("streams.batch") { _ =>
        mem.addData(drops(k).rows.toSeq); query.processAllAvailable()
      } else { mem.addData(drops(k).rows.toSeq); query.processAllAvailable() }
      lat += c.secs(t) * 1e3
      k += 1
    }
    c.attempted += k - boot
    c.metric("latency_p50_ms", Stats.median(lat.toSeq), "ms")
    c.note(f"phase 2: ${k - boot} drops, ms: ${lat.map(x => f"$x%.0f").mkString(" ")}")
    val progress = query.recentProgress.filter(p => p.batchId >= 1 && p.numInputRows > 0)
    query.stop()
    val storeIds = spark.read.parquet(s"$store/corpus").select("doc_id").as[Long].collect().toSet
    c.check("injected delta dups are absent from the streaming corpus store",
      Checks.storeIsNovel(storeIds, drops.take(k).toSeq),
      s"store=${storeIds.size} fed=${drops.take(k).map(_.rows.length).sum}")

    // ---- phase 1 (measured): the full-corpus stage, `stage_repeats`
    // times; each repeat reads its own copy of the corpus (a new
    // input-file list and plan), so neither the stage memo nor a cached
    // frame of an earlier repeat serves it. The first repeat pays the
    // first-use JIT and code generation of the stage's plans and is not
    // counted.
    val runs = (0 until c.int(W, "stage_repeats")).map { r =>
      val copy = new File(c.work, s"dedup/corpus_$r.jsonl")
      java.nio.file.Files.copy(corpusFile.toPath, copy.toPath)
      val docsR = spark.read.schema(docSchema).json(copy.getAbsolutePath)
      val survivorsDir = new File(c.work, s"dedup/survivors_$r").getAbsolutePath
      val t1 = c.now
      val stage = c.measured("dedup.stage")(_ => Dedup.nearDupStage(docsR, "doc_id", "text", nh, rpb, thr))
      val groups = c.measured("dedup.groups")(_ => stage.groups)
      c.measured("dedup.survivors")(_ => stage.survivors.write.mode("overwrite").parquet(survivorsDir))
      (c.secs(t1), stage, groups, survivorsDir)
    }
    val phase1 = Stats.median(runs.drop(1).map(_._1))
    val (_, stage, groups, survivorsDir) = runs.last
    c.attempted += runs.length
    c.metric("throughput_per_s", corpus.n / phase1, "1/s")
    c.metric("jvm.gc_ms", c.gcMs() - gc0, "ms")
    c.note(f"phase 1: ${corpus.n} docs, s: ${runs.map(r => f"${r._1}%.2f").mkString(" ")}")

    val survivorIds = spark.read.parquet(survivorsDir).select("doc_id").as[Long].collect().toSet
    val comp = groups.select("doc_id", "component").as[(Long, Long)].collect().toMap
    val removed = comp.count { case (d, k) => d != k }
    c.check("survivors plus removed docs equal the input count",
      Checks.survivorsAddUp(corpus.n, survivorIds.size, removed), s"n=${corpus.n} s=${survivorIds.size} r=$removed")
    c.check("no exact duplicate survives", Checks.exactDupsRemoved(survivorIds, corpus.exactDups.toSeq))
    val found = corpus.nearPairs.count { case (a, b) => comp.get(a).exists(x => comp.get(b).contains(x)) }
    c.metric("recall", found.toDouble / corpus.nearPairs.length, "ratio")

    if (c.trace.on) {
      c.metric("dedup.verified_pairs", stage.pairs.count().toDouble, "count")
      val cand = c.trace.span("dedup.candidates", jobs = true)(_ =>
        Dedup.lshCandidatePairs(Dedup.minhashSignatures(docs, "doc_id", "text", nh), rpb).count())
      c.metric("dedup.candidate_pairs", cand.toDouble, "count")
      c.metric("dedup.verify_yield", c.metrics("dedup.verified_pairs")._1 / math.max(1L, cand), "ratio")
      val trig = progress.map(_.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0) / 1e3)
      if (trig.nonEmpty) c.metric("streams.batch_s", Stats.median(trig.toSeq), "s")
      c.metric("streams.rows_per_batch", progress.map(_.numInputRows.toDouble).sum / math.max(1, progress.length), "count")
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val perBatch = progress.map(p => Option(c.trace.tally.batchJobs.get(p.batchId.toString)).map(_.get).getOrElse(0L))
      c.metric("streams.jobs_per_batch", perBatch.sum.toDouble / math.max(1, perBatch.length), "count")
      val traced = c.trace.named("streams.batch").map(c.trace.dur(_) / 1e6)
      val untraced = lat.indices.filter(i => (boot + i) % 2 == 1).map(lat)
      if (traced.nonEmpty && untraced.nonEmpty)
        c.metric("trace.overhead_pct", 100 * (Stats.median(traced) / Stats.median(untraced) - 1), "%")
    }
  }
}
