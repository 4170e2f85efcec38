package graft

import graft.obs.SparkTally
import graft.operators.{Dedup, IvfCode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup-spine scale soak (dev harness, like [[SkewGen]]/[[Bench]]):
  * runs the three production near-dup paths — full corpus stage,
  * incremental delta probe, two-run streaming ingest — on the zipf
  * skew twin at 1× and at a derived 10× corpus (sf1-class doc count),
  * and reports wall time, shuffle, spill, and hot-bucket-cap trips per
  * scale. The claim under test is the 100 TB shape: banded candidate
  * generation keeps the work ~linear in rows (never all-pairs), zero
  * spill at both scales, and the skew twin's viral clique stays under
  * the hot-bucket cap even at 10×.
  *
  * The 10× corpus is derived deterministically from the skew twin:
  * replica k>0 of doc d gets doc_id k·(max+1)+d and ~30% of its tokens
  * rewritten by an md5 keyed on (doc_id, position) — far enough below
  * the 0.9 Jaccard bar that replicas are NOT near-dups of their source
  * (the dup DENSITY stays the twin's own: the viral clique and natural
  * dups), so scaling measures volume, not an artificial clique
  * explosion. Rerunning reproduces byte-identical content.
  *
  * Output: one JSON line (+ SOAK_LOCAL.json) with per-scale sections
  * and the 10×/1× wall-clock ratios.
  */
object Soak {

  /** ~30% deterministic token rewrite for replica docs (k > 0). */
  private def mutateText(text: org.apache.spark.sql.Column,
                         seed: org.apache.spark.sql.Column) = {
    val toks = split(text, "\\s+")
    array_join(
      zip_with(toks, sequence(lit(0), greatest(size(toks) - 1, lit(0))),
        (t, i) => when(
          conv(substring(md5(concat_ws(":", seed, i.cast("string"), t)), 1, 13), 16, 10)
            .cast("long") % 10 < 3,
          concat(lit("tok"), substring(md5(concat_ws("#", seed, i.cast("string"))), 1, 8)))
          .otherwise(t)),
      " ")
  }

  /** The skew twin's embeddings replicated `factor`× — replica k of
    * vector v is v ROTATED left by k positions: deterministic, distinct
    * from its source, norm- and distribution-preserving (the sizing
    * claim measures volume, not an artificial cluster), byte-identical
    * on rerun. factor must stay below the embedding dim. */
  private[graft] def embAt(emb: DataFrame, factor: Int): DataFrame =
    if (factor <= 1) emb.select(col("vec_id"), col("embedding"))
    else {
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      require(factor < dim,
        s"embAt: factor $factor must stay below the embedding dim $dim " +
          "(rotation by k >= dim would be a negative-length slice)")
      val maxId = emb.agg(max("vec_id")).head().getLong(0) + 1
      emb.select(col("vec_id"), col("embedding"),
          explode(sequence(lit(0), lit(factor - 1))).as("k"))
        .select((col("k").cast("long") * maxId + col("vec_id")).as("vec_id"),
          when(col("k") === 0, col("embedding"))
            .otherwise(concat(
              slice(col("embedding"), col("k") + 1, size(col("embedding")) - col("k")),
              slice(col("embedding"), lit(1), col("k"))))
            .as("embedding"))
    }

  /** The skew twin's documents replicated `factor`×, replicas mutated. */
  private[graft] def corpusAt(docs: DataFrame, factor: Int): DataFrame = {
    if (factor <= 1) docs.select(col("doc_id"), col("text"))
    else {
      val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1
      docs.select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(factor - 1))).as("k"))
        .select(
          (col("k").cast("long") * maxId + col("doc_id")).as("doc_id"),
          when(col("k") === 0, col("text"))
            .otherwise(mutateText(col("text"),
              concat_ws("/", col("doc_id").cast("string"), col("k").cast("string"))))
            .as("text"))
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/repo/testdata-skew/sf0.1")
    val factors = args.lift(1).map(_.split(",").toSeq.map(_.toInt))
      .getOrElse(Seq(1, 10))
    val spark = GraftSession.local("graft-soak", GraftSession.envCores)
    val (json, _) = run(spark, src, factors)
    java.nio.file.Files.write(java.nio.file.Paths.get("SOAK_LOCAL.json"),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }

  /** Per-scale wall/shuffle/spill numbers for one stage run. */
  final case class Scale(nDocs: Long, stageS: Double, incrS: Double,
                         streamS: Double, spillMb: Double, trips: Long,
                         annTrainS: Double, annScan: Double, annRecall: Double,
                         annDefScan: Double = 0.0, annDefRecall: Double = 0.0,
                         annBatchS: Double = 0.0, annBatchProbes: Long = 0L,
                         pqTrainS: Double = 0.0, pqRecall: Double = 0.0,
                         pqByteFrac: Double = 0.0)

  /** Run the soak on an EXISTING session (the bench embeds this) —
    * returns (full JSON, per-factor numbers). The listener and every
    * scratch tree are torn down on exit: the bench calls this each
    * round on a long-lived session, and leaked listeners/10× parquet
    * trees would stack round over round (r14 review). */
  def run(spark: SparkSession, src: String, factors: Seq[Int])
      : (String, Seq[(Int, Scale)]) = {
    // total deltas, not per-group figures: the stream leg's jobs run
    // under the streaming query's own job group
    val tally = SparkTally.attach(spark.sparkContext)
    val scratches = scala.collection.mutable.ArrayBuffer.empty[String]
    def scratch(tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(tag).toString
      scratches += d; d
    }

    def section(factor: Int): (String, Scale) = {
      val scratchDocs = scratch(s"soak-docs-$factor")
      // materialize the derived corpus to parquet so every stage reads
      // files (the production shape), not a cached lineage
      corpusAt(Tables(spark, src, "documents"), factor)
        .repartition(32).write.mode("overwrite").parquet(scratchDocs)
      val docs = spark.read.parquet(scratchDocs)
      val n = docs.count()
      def timed(tag: String)(f: => Long): (Double, Long, SparkTally.Totals) = {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.foreach(_._2.unpersist(false))
        val pre = tally.totals()
        val (rows, el) = Bench.secs(f)
        val delta = tally.totals() - pre
        System.err.println(f"[soak] x$factor $tag%-12s $el%7.2f s  rows=$rows")
        (el, rows, delta)
      }
      // 1. full-corpus near-dup stage → survivors
      val (tStage, nSurv, shStage) = timed("stage") {
        Dedup.nearDupStage(docs, "doc_id", "text").survivors.count()
      }
      // 2. incremental: 90/10 split, delta probes the existing index
      val (tIncr, nIncrPairs, shIncr) = timed("incremental") {
        val existing = docs.where(col("doc_id") % 10 =!= 0)
        val delta = docs.where(col("doc_id") % 10 === 0)
        Dedup.incrementalNearDupPairs(
          Dedup.bandIndex(existing, "doc_id", "text"),
          existing, delta, "doc_id", "text", 0.9).count()
      }
      // 3. streaming ingest: two real AvailableNow runs (even, then odd)
      val (tStream, nCorpus, shStream) = timed("stream") {
        val sdir = scratch(s"soak-ndi-$factor")
        def run(phase: Int) = {
          val q = graft.streaming.Streams.nearDupIngest(
            spark.readStream.schema(docs.schema).parquet(scratchDocs)
              .where(pmod(col("doc_id"), lit(2L)) === phase),
            s"$sdir/corpus", s"$sdir/index", s"$sdir/ck$phase",
            "doc_id", "text",
            trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
            batchIdOffset = phase.toLong)
          graft.streaming.Streams.awaitDone(q)
        }
        run(0); run(1)
        spark.read.parquet(s"$sdir/corpus").count()
      }
      // hot-bucket audit: cap trips at this scale (must stay zero)
      val trips = Dedup.hotBuckets(
        Dedup.bandKeys(Dedup.minhashSignatures(docs, "doc_id", "text", 16), 16),
        Seq("band", "band_key"), 10000).count()
      // 4. ANN sizing leg: the K ∝ √N claim measured at this factor —
      // scale-aware spill-IVF training cost, the probe's ACTUAL scanned
      // fraction (list imbalance makes it ~14% at x1's 2000 vectors;
      // it CONVERGES to the ~5.5% nominal at scale — the ann_scan10
      // number is the pin), and recall@20
      import graft.operators.Similarity
      val scratchEmb = scratch(s"soak-emb-$factor")
      embAt(Tables(spark, src, "embeddings"), factor)
        .repartition(32).write.mode("overwrite").parquet(scratchEmb)
      val emb = spark.read.parquet(scratchEmb)
      val nV = emb.count()
      val nLists = Similarity.nListsFor(nV)
      val nProbe = Similarity.nProbeFor(nLists)
      var annState: Option[(DataFrame, Array[Array[Double]])] = None
      val (tTrain, _, _) = timed("ann-train") {
        // cache the scan for the training passes (ivfIndexSpill's
        // documented contract at lloydIters > 1 — uncached, ~5
        // redundant parquet scans bill to train_s; r14 review). Marked
        // INSIDE the timed block: `timed` clears the cache at entry,
        // and the one materializing scan is the honest cold-train cost.
        emb.cache()
        val (asg0, cents) = Similarity.ivfIndexSpill(emb, "vec_id", "embedding", nLists)
        annState = Some((asg0.cache(), cents))
        annState.get._1.count()
      }
      val (asg, cents) = annState.get
      // two probe shapes per factor: the NARROW exact probe (the
      // K ∝ √N row-scan convergence pin) and the SHIPPED DEFAULT —
      // wide schedule through the SQ8 code rank (r15 ann_topk) — so a
      // scale-dependent regression in the wide schedule or the
      // code-rank cut cannot pass the soak unnoticed
      val nProbeW = Similarity.nProbeWideFor(nLists)
      // batched leg (r16): a fixed probe SET through the trained index's
      // schedule join (ivfProbeSpillJoin — broadcast schedule, marker-
      // join dedupe, one exchange). Per-probe wall must stay flat or
      // fall at 10×: each probe's scan is nProbe/K of the corpus and
      // K ∝ √N keeps that fraction shrinking, so a rising per-probe
      // ratio means the schedule/dedupe shape stopped scaling.
      val nBatchProbes = 32L
      val (annScan, annRecall, defScan, defRecall, batchS, pqTrainS, pqRecall, pqByteFrac) =
        try {
          val pre = Bench.recallBaselines(emb, Seq(0L, 7L), 20)
          val recall = Bench.recallFrom(emb, pre, (_, qv) =>
            Similarity.ivfProbe(asg, cents, qv, nProbe, k = 21, IvfCode.Raw))
          val recallDef = Bench.recallFrom(emb, pre, (_, qv) =>
            Similarity.ivfProbe(asg, cents, qv, nProbeW, k = 21, IvfCode.Sq8))
          def scanAt(np: Int) = pre.map { case (_, qv, _) =>
            val ps = Similarity.spillProbeSet(cents, qv, np)
            asg.where(col("centroid").isin(ps.map(x => x: Any): _*))
              .count().toDouble / nV.toDouble
          }.sum / pre.size
          val scanW = scanAt(nProbeW)
          // PQ rungs at scale (r17 — r16 verdict #6): codebooks train on
          // the SAME assigned frame (corpus-global, like the registered
          // rung), the composed IVF×PQ probe measures recall@20 at this
          // factor, and the ADC byte fraction is derived from the
          // measured row-scan fraction: scanned rows × m code bytes +
          // k·rerank exact-rerank vectors, over N full vectors. The
          // rerank term amortizes ∝ 1/N and the scan fraction falls
          // ∝ 1/√N, so the fraction must be flat-or-falling at 10×.
          val m = 8
          val (books, tPq) = Bench.secs(Similarity.pqTrain(
            asg.select(col("vec_id"), col("qv")), Queries.Dim, m, 16, 1))
          val pqRec = Bench.recallFrom(emb, pre, (_, qv) =>
            Similarity.ivfProbe(asg, cents, qv, nProbeW, k = 21, IvfCode.Pq(books)))
          val pqFrac = scanW * (m / (Queries.Dim * 4.0)) +
            (21.0 * 8) / nV.toDouble
          val (_, tB) = Bench.secs(Similarity.ivfProbeSpillJoin(asg, cents,
            emb.where(col("vec_id") < nBatchProbes), "vec_id", "embedding",
            nProbe, k = 20).write.format("noop").mode("overwrite").save())
          (scanAt(nProbe), recall, scanW, recallDef, tB, tPq, pqRec, pqFrac)
        } finally { asg.unpersist(); emb.unpersist(): Unit }
      System.err.println(
        f"[soak] x$factor ann          $tTrain%7.2f s  lists=$nLists probe=$nProbe scan=$annScan%.3f recall=$annRecall%.2f def(probe=$nProbeW scan=$defScan%.3f recall=$defRecall%.2f) batch($nBatchProbes probes $batchS%.2f s)")
      def sh(t: SparkTally.Totals) =
        f"""{"w_mb":${t.shuffleWrite / 1048576.0}%.1f,"r_mb":${t.shuffleRead / 1048576.0}%.1f,"spill_mb":${t.spill / 1048576.0}%.1f}"""
      val spillMb = (shStage.spill + shIncr.spill + shStream.spill) / 1048576.0
      val json =
        f""""x$factor":{"n_docs":$n,"stage_s":$tStage%.2f,"survivors":$nSurv,""" +
          f""""incr_s":$tIncr%.2f,"incr_pairs":$nIncrPairs,""" +
          f""""stream_s":$tStream%.2f,"stream_corpus":$nCorpus,""" +
          f""""hot_bucket_trips":$trips,""" +
          s""""stage_shuffle":${sh(shStage)},"incr_shuffle":${sh(shIncr)},"stream_shuffle":${sh(shStream)},""" +
          f""""ann":{"n_vecs":$nV,"lists":$nLists,"nprobe":$nProbe,""" +
          f""""train_s":$tTrain%.2f,"scan_frac":$annScan%.4f,"recall20":$annRecall%.3f,""" +
          f""""def_nprobe":$nProbeW,"def_scan_frac":$defScan%.4f,"def_recall20":$defRecall%.3f,""" +
          f""""pq_train_s":$pqTrainS%.2f,"pq_recall20":$pqRecall%.3f,"pq_byte_frac":$pqByteFrac%.5f,""" +
          f""""batch_probes":$nBatchProbes,"batch_s":$batchS%.2f}}"""
      (json, Scale(n, tStage, tIncr, tStream, spillMb, trips,
        tTrain, annScan, annRecall, defScan, defRecall, batchS, nBatchProbes,
        pqTrainS, pqRecall, pqByteFrac))
    }

    try {
      val sections = factors.map(f => f -> section(f))
      val json = sections.map(_._2._1).mkString("{\"soak\":{", ",", "},") +
        s""""src":"$src"}"""
      (json, sections.map { case (f, (_, s)) => f -> s })
    } finally {
      tally.detach()
      scratches.foreach { d =>
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p): Unit)
        finally walk.close()
      }
    }
  }
}
