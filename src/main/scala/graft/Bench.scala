package graft
import graft.obs.SparkTally
import graft.operators.{Bm25, Postings}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Two-part benchmark: (1) the cold query suite — every SparkEntry query
  * end-to-end including its index builds (what a batch pipeline pays);
  * (2) the WARM serving path — engines opened once via Graft, then
  * repeated queries against resident indexes (what the reference's
  * 150 ms p95 serving target measures). One JSON line carries both.
  * [[BenchServe]] runs part 2 standalone.
  *
  * CONTENTION-AWARENESS: this host shows multi-minute CPU bursts that
  * can inflate identical runs 2-10×. Both parts therefore measure a
  * fixed SENTINEL probe alongside the real queries (a small job through
  * the scheduler — the same path contention inflates) and the artifact
  * flags measurements whose sentinel context was inflated, so a reader
  * can tell "this query regressed" from "this pass was contended".
  */
object Bench {
  private[graft] def esc(s: String): String =
    // truncate BEFORE escaping (truncating after can cut an escape pair
    // and break the JSON line), then strip every control char
    s.take(300).replace("\\", "\\\\").replace("\"", "\\\"")
      .map(c => if (c.isControl) ' ' else c)

  private def pct(sorted: Array[Double], p: Double): Double =
    sorted(math.min(sorted.length - 1, math.ceil(p * sorted.length).toInt - 1).max(0))

  // Locale.ROOT: the f interpolator uses the default locale, and a
  // decimal-comma locale (de_DE, tr_TR, …) would render invalid JSON
  private[graft] def fmt(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** Rotation pools for the two point-lookup warm queries: repeated
    * IDENTICAL keys would let any JVM/plan-level residue make the timed
    * runs unrepresentative (the engines deliberately keep no result
    * cache — see Graft.lookupRefResident — and rotation keeps it
    * honest from the bench side too). All keys exist in the bundled
    * corpora, so every run measures a HIT lookup. */
  private val Citations = Array(
    "Riyad as-Salihin 680", "Riyad as-Salihin 1", "Riyad as-Salihin 993",
    "Riyad as-Salihin 1511", "book 1, hadith 3", "5:2")
  private val VerseKeys = Array(
    "2:255", "1:1", "3:5", "112:1", "18:10", "36:1", "55:13", "2:1")

  /** The two corpus engines of the serve section, with their open
    * seconds and the `1:1` verse vector the hybrid rows query with. */
  private final case class ServeEngines(hadith: Graft.HadithEngine,
      quran: Graft.QuranEngine, qv: Array[Float],
      hadithOpenS: Double, quranOpenS: Double)

  /** The warm serving measurement: open engines + resident indexes once,
    * run each query `runs` times after warm-up, report p50/p95/mean plus
    * sentinel-adjusted tail stats. Returns the serve section as a JSON
    * object string. */
  private[graft] def serveSection(spark: SparkSession, sfDir: String, runs: Int): String =
    try {
      // drop any accumulated cache entries so the serve measurement
      // starts from a clean block manager (cold paths mark per-query
      // frames cached and never revisit them)
      spark.catalog.clearCache()
      // settle the heap: the cold suite leaves GBs of garbage + pending
      // ContextCleaner references; without a collection here the first
      // full GC lands INSIDE a timed loop (with 15 runs, p95 is the max,
      // so one pause was writing the whole tail — r6 p95 3.3× p50)
      System.gc()
      // narrow shuffles BEFORE the builds: the cached index layers
      // inherit this width, so per-query probe stages schedule `width`
      // tasks, not 32 (AQE stays ON through the opens/builds — they are
      // batch work). Default 8 balances open time (builds parallelize
      // 8-wide) against per-query task count; with the two probe legs
      // running concurrently (Postings.await2) both fit 32 cores.
      val buildWidth = math.max(1, sys.env.get("SPARK_GRAFT_SERVE_BUILD_WIDTH")
        .flatMap(_.toIntOption).getOrElse(8))
      spark.conf.set("spark.sql.shuffle.partitions", buildWidth.toString)

      // resident BM25 index over the sf documents table
      val p = Postings.build(Tables(spark, sfDir, "documents"), "doc_id", "text").cache()
      val dict = Postings.dictionary(p).cache()
      val stats = Postings.corpusStats(p).cache()
      p.count(); dict.count(); stats.count()
      // resident ANN bucket index over the sf embeddings table
      val embT = Tables(spark, sfDir, "embeddings")
      val annIdx = graft.operators.Similarity
        .annIndex(embT, "vec_id", "embedding", Queries.Dim, nBits = 4).cache()
      annIdx.count()
      // prepared spill-IVF index at the registered default's sizing
      // (scale-aware K, 3 spherical Lloyd iterations), CODED: the c8
      // column is materialized into the cache (the writeIvfSq8 layout
      // shape) so warm probes rank on stored codes instead of
      // re-deriving them from qv per call
      val embN = embT.count()
      val ivfLists = graft.operators.Similarity.nListsFor(embN)
      val (ivfAsg0, ivfCents) = graft.operators.Similarity
        .ivfIndexSpill(embT, "vec_id", "embedding", nCentroids = ivfLists)
      val ivfAsg = GraftIndexes.ivfSq8Rows(ivfAsg0).cache()
      ivfAsg.count()
      val ev = embT.where(col("vec_id") === 0)
        .head().getSeq[Float](1).toArray
      // the engines read the bundled corpora, not the sf tables: opened
      // AFTER the sf indexes and in an isolated step, so a failed open
      // costs only the engine rows — the section still measures the two
      // sf rows and reports the open's error beside them
      val engines: Either[String, ServeEngines] = try {
        val (hadith, hadithOpenS) = secs(Graft.openHadith(spark, Queries.HadithBooks))
        val (quran, quranOpenS) =
          secs(Graft.openQuran(spark, Queries.QuranDir, Some(Queries.NpzPath)))
        val qv = quran.emb.get.where(col("verse_key") === "1:1")
          .head().getSeq[Float](1).toArray
        Right(ServeEngines(hadith, quran, qv, hadithOpenS, quranOpenS))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] serve engines skipped: $e")
          Left(e.toString)
      }
      // indexes are built — now the per-QUERY tune (AQE off: stage
      // re-planning is pure latency on small fixed serving plans)
      GraftSession.tuneForServing(spark)

      val cN = new java.util.concurrent.atomic.AtomicInteger
      val vN = new java.util.concurrent.atomic.AtomicInteger
      // Methodology (uniform across rounds from r10 on): the search/
      // lookup queries are EAGER — plan construction IS execution
      // (probe legs run at call time), so their timed lambda includes
      // construction. bm25/ann are lazy plans, so they are prepared ONCE
      // outside the loop and the lambda times execution over the
      // resident index — the prepared-statement shape a serving system
      // amortizes. The artifact's "prepared" list records which rows
      // follow the second regime.
      val engineQueries: Seq[(String, () => Unit)] = engines.toSeq.flatMap {
        case ServeEngines(hadith, quran, qv, _, _) => Seq[(String, () => Unit)](
        "hadith_search_warm" -> (() =>
          hadith.search("Hadith narrated by Abu Hurairah", 10).collect(): Unit),
        "hadith_thematic_warm" -> (() =>
          hadith.search("patience and gratitude in hardship", 10).collect(): Unit),
        "quran_fts_warm" -> (() =>
          quran.search(Queries.QuranQuery, 5, "fts").collect(): Unit),
        "quran_hybrid_warm" -> (() =>
          quran.search(Queries.QuranQuery, 5, "hybrid", Some(qv)).collect(): Unit),
        "quran_get_verse_warm" -> (() =>
          quran.getVerse(VerseKeys(vN.getAndIncrement() % VerseKeys.length))
            .collect(): Unit),
        "exact_ref_warm" -> (() =>
          hadith.search(Citations(cN.getAndIncrement() % Citations.length),
            10, "spec").collect(): Unit),
        // the typed twins: same resident store, no DataFrame envelope —
        // measures the honest sub-5-ms path next to its ~5-ms-floor
        // DataFrame sibling (SURVEY §7.10 floor decomposition)
        "exact_ref_typed" -> (() =>
          hadith.lookupCitation(
            Citations(cN.getAndIncrement() % Citations.length), 10): Unit),
        "get_verse_typed" -> (() =>
          quran.getVerseTyped(
            VerseKeys(vN.getAndIncrement() % VerseKeys.length)): Unit),
        // typed FULL SEARCH (operators/Resident.scala): same queries as
        // the DataFrame rows above, zero Spark jobs per call — the path
        // the transports serve, and the honest comparison against the
        // reference's in-process <50 ms p95 search target
        "hadith_search_typed" -> (() =>
          hadith.searchTyped("Hadith narrated by Abu Hurairah", 10): Unit),
        "quran_hybrid_typed" -> (() =>
          quran.searchTyped(Queries.QuranQuery, 5, "hybrid", Some(qv)): Unit))
      }
      val serveQueries: Seq[(String, () => Unit)] = engineQueries ++ Seq(
        "bm25_topk_warm" -> {
          val df = Bm25.topK(Bm25.score(p, dict, stats, Queries.Bm25Terms), 20)
          () => df.collect(): Unit
        },
        "ann_topk_warm" -> {
          // the REGISTERED default form (r15: wide spill-IVF probe over
          // SQ8 codes + exact rerank) probed against its prepared CODED
          // index — the warm row must measure the query users actually
          // run, in the shape a serving session holds it (stored codes,
          // predicate spill-dedupe: scan → filter → two TakeOrdereds)
          val df = graft.operators.Similarity.ivfSq8Probe(ivfAsg, ivfCents,
            ev, graft.operators.Similarity.nProbeWideFor(ivfLists), k = 20)
          () => df.collect(): Unit
        })

      // sentinel: a fixed small job THROUGH the scheduler — warm queries
      // are dominated by job scheduling + short stages, exactly what a
      // CPU burst inflates. One per round; rounds whose sentinel runs
      // > 2× the quietest round are flagged and excluded from the
      // *_adj stats (the raw p50/p95 still report every run).
      // 8 partitions, not defaultParallelism: 32 micro-tasks made the
      // sentinel itself scheduling-noise-bound (its own variance
      // flagged 14/15 rounds on a moderately busy host)
      def sentinelMs(): Double =
        secs(spark.range(0L, 1L << 22, 1L, 8).agg(sum("id")).head())._2 * 1e3

      // warm-up every query first (JIT + codegen + broadcast reuse), then
      // measure in ROUND-ROBIN rounds (run 1 of every query, run 2, …) —
      // not 15 consecutive runs per query: host contention bursts last
      // minutes, and a burst over one query's whole consecutive block
      // writes its entire distribution (r8: one serve section reported
      // p50 957 ms for a query that medians ~250 ms on the same box).
      // Interleaved, a burst inflates a few ROUNDS of every query and
      // the per-query p50 recovers; p95 still reports the honest tail —
      // and the sentinel-adjusted fields separate that tail from bursts.
      val allSentinels = scala.collection.mutable.ArrayBuffer.empty[Double]
      def measureLoop(qs: Seq[(String, () => Unit)]): (Seq[String], Int) = {
        qs.foreach { case (_, run) => run(); run() }
        sentinelMs() // warm the sentinel's own codegen path
        val times = scala.collection.mutable.Map.empty[String, List[(Int, Double)]]
        val sentinels = scala.collection.mutable.ArrayBuffer.empty[Double]
        for (round <- 0 until runs) {
          sentinels += sentinelMs()
          allSentinels += sentinels.last
          qs.foreach { case (name, run) =>
            // park collector debt before EVERY timed run, not once per
            // round: r9's quiet-host tail (p95 1.2-1.9× p50) still carried
            // GC pauses from the previous query's garbage landing inside
            // the next query's timed window
            System.gc()
            times(name) = times.getOrElse(name, Nil) :+ ((round, secs(run())._2 * 1e3))
          }
        }
        // a contended round must clear BOTH a relative and an absolute
        // bar: multi-minute CPU bursts add hundreds of ms to the
        // sentinel, while scheduler jitter on a quiet host adds tens —
        // a pure 2× criterion on a small baseline flagged nearly every
        // round
        val sMin = sentinels.min
        val noisyRounds = sentinels.zipWithIndex.collect {
          case (s, i) if s > 2 * sMin && s > sMin + 150.0 => i
        }.toSet
        val entries = qs.map { case (name, _) =>
          val all = times(name)
          val t = all.map(_._2).toArray.sorted
          // adjusted distribution: quiet rounds only (fall back to all
          // when contention ate too many rounds to leave a sample)
          val quiet0 = all.collect { case (r, v) if !noisyRounds.contains(r) => v }
          val quiet = (if (quiet0.size >= math.max(3, runs / 3)) quiet0
                       else all.map(_._2)).toArray.sorted
          val tailAdj = if (pct(quiet, 0.50) > 0) pct(quiet, 0.95) / pct(quiet, 0.50) else 0.0
          s""""$name":{"p50_ms":${fmt(pct(t, 0.50), 1)},"p95_ms":${fmt(pct(t, 0.95), 1)},""" +
            s""""mean_ms":${fmt(t.sum / t.length, 1)},"runs":$runs,""" +
            s""""p50_adj_ms":${fmt(pct(quiet, 0.50), 1)},"p95_adj_ms":${fmt(pct(quiet, 0.95), 1)},""" +
            s""""tail_adj":${fmt(tailAdj, 2)}}"""
        }
        (entries, noisyRounds.size)
      }
      val (entries, noisyMain) = measureLoop(serveQueries)

      // persisted-layout phase AFTER the main loop — the shape a cluster
      // restart serves from (S9): write the index layers as parquet,
      // open engines straight off the layout, measure their warm rows.
      // Sequenced after (not interleaved with) the in-memory loop so its
      // extra cache entries cannot pressure the main measurements
      // (observed ~25% inflation on ann_topk when interleaved). Failures
      // here must not cost the main numbers, hence the isolated try.
      var persistedTimes = Map.empty[String, Double]
      var persistedEntries = Seq.empty[String]
      var noisyPersisted = 0
      for (ServeEngines(_, _, qv, _, _) <- engines.toOption
           if !sys.env.get("SPARK_GRAFT_SERVE_PERSISTED").contains("0")) orSkip("persisted serve") {
        // writes/opens are batch work: restore batch conf, re-tune after
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", buildWidth.toString)
        val dir = java.nio.file.Files.createTempDirectory("graft-serve-idx").toString
        val (_, writeS) = secs {
          GraftIndexes.writeHadith(spark, Queries.HadithBooks, s"$dir/hadith")
          GraftIndexes.writeQuran(spark, Queries.QuranDir, s"$dir/quran",
            Some(Queries.NpzPath))
        }
        val (ph, phOpenS) = secs(GraftIndexes.openHadith(spark, s"$dir/hadith"))
        val (pq, pqOpenS) = secs(GraftIndexes.openQuran(spark, s"$dir/quran"))
        persistedTimes = Map("index_write_s" -> writeS,
          "hadith_open_persisted_s" -> phOpenS, "quran_open_persisted_s" -> pqOpenS)
        GraftSession.tuneForServing(spark)
        val (pe, np) = measureLoop(Seq(
          "hadith_search_warm_persisted" -> (() =>
            ph.search("Hadith narrated by Abu Hurairah", 10).collect(): Unit),
          "quran_hybrid_warm_persisted" -> (() =>
            pq.search(Queries.QuranQuery, 5, "hybrid", Some(qv)).collect(): Unit)))
        persistedEntries = pe; noisyPersisted = np
      }
      // typed-path THROUGHPUT: aggregate QPS over a fixed thread pool and
      // rotated queries (every call re-runs its probes — no result cache
      // to hit). Latency rows above measure one request at a time; this
      // documents the concurrent capacity of the zero-job serving path.
      // Measured after the latency loops so pool contention cannot
      // inflate them.
      def qps(threads: Int, iters: Int)(body: Int => Unit): Double = {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
        try {
          (0 until threads * 8).foreach(body) // warm
          iters / secs((0 until iters).map(i =>
            pool.submit(new Runnable { def run(): Unit = body(i) })).foreach(_.get()))._2
        } finally pool.shutdown()
      }
      // same doctrine as the persisted phase: a throughput failure must
      // not cost the latency entries already measured — isolated try,
      // rows omitted on failure
      val HadithQs = Array("Hadith narrated by Abu Hurairah",
        "patience and gratitude in hardship", "honesty in trade",
        "kindness to parents", "\"actions are judged by intentions\"")
      var qpsRows = Seq.empty[String]
      for (ServeEngines(hadith, quran, qv, _, _) <- engines.toOption) orSkip("qps phase") {
        val hadithQps = qps(16, 2000)(i =>
          hadith.searchTyped(HadithQs(i % HadithQs.length), 10): Unit)
        val quranQps = qps(16, 1000)(i =>
          quran.searchTyped(Queries.QuranQuery, 5, "hybrid", Some(qv)): Unit)
        qpsRows = Seq(
          s""""hadith_search_typed_qps16":${fmt(hadithQps, 0)}""",
          s""""quran_hybrid_typed_qps16":${fmt(quranQps, 0)}""")
      }

      val persistedJson = persistedEntries ++ persistedTimes.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${fmt(v, 2)}""" }
      val engineJson = engines.fold(
        e => Seq(s""""engine_error":"${esc(e)}""""),
        en => Seq(s""""hadith_open_s":${fmt(en.hadithOpenS, 2)}""",
          s""""quran_open_s":${fmt(en.quranOpenS, 2)}"""))
      val tail = qpsRows ++ engineJson ++ Seq(
        s""""sentinel_p50_ms":${fmt(pct(allSentinels.toArray.sorted, 0.5), 1)}""",
        s""""noisy_rounds":${noisyMain + noisyPersisted}""",
        s""""prepared":["bm25_topk_warm","ann_topk_warm"]""",
        """"notes":"search/lookup rows time eager construction+collect; prepared rows time collect only; exact_ref/get_verse rotate keys; *_typed rows are the no-DataFrame driver-resident paths (lookups AND full typed search - zero Spark jobs per call, no result memoization); *_adj stats exclude sentinel-inflated rounds; persisted rows measured in their own phase after the main loop"""")
      (entries ++ persistedJson ++ tail).mkString("{", ",", "}")
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] FAIL serve: $e")
        s"""{"error":"${esc(e.toString)}"}"""
    }

  /** The shared recall@k harness (AnnRecallSpec pins its floors through
    * the SAME code, so the per-round numbers and the pinned thresholds
    * can never desynchronize): per-query vector + exact-cosine top-k
    * baseline, computed ONCE per qid and reused across every
    * approximate form. */
  private[graft] def recallBaselines(e: org.apache.spark.sql.DataFrame,
      qids: Seq[Long], k: Int): Seq[(Long, Array[Float], Set[Long])] =
    qids.map { qid =>
      val qv = e.where(col("vec_id") === qid)
        .select("embedding").head().getSeq[Float](0).toArray
      val exact = graft.operators.Similarity.cosineTopK(e, "vec_id", "embedding",
          typedLit(qv), k, excludeId = Some(qid))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (qid, qv, exact)
    }

  /** Mean recall of one approximate form against precomputed baselines.
    * Queries whose exact baseline set is EMPTY are skipped (a degenerate
    * fixture — single vector, all-NaN cosines — would otherwise divide
    * by zero and print a bare NaN into the artifact line, breaking the
    * round driver's JSON parse). */
  private[graft] def recallFrom(e: org.apache.spark.sql.DataFrame,
      pre: Seq[(Long, Array[Float], Set[Long])],
      approx: (org.apache.spark.sql.DataFrame, Array[Float]) =>
        org.apache.spark.sql.DataFrame): Double = {
    val rs = pre.collect { case (qid, qv, exact) if exact.nonEmpty =>
      val got = approx(e, qv).where(col("vec_id") =!= qid)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (exact & got).size.toDouble / exact.size
    }
    if (rs.isEmpty) 0.0 else rs.sum / rs.size
  }

  /** Recall@20 of every REGISTERED approximate-similarity form (the
    * full ladder — AnnRecallSpec's no-silent-drop pin names each rung)
    * vs exact cosine, at the registered queries' own parameters —
    * recorded per round so a parameter change can never silently trade
    * recall for the latency the bench rewards (the floors themselves
    * are pinned in AnnRecallSpec; this is the per-round measurement).
    * The exact baselines are computed once for all forms; the
    * multi-probe and spill-IVF index plans are hoisted out of the
    * per-query loop. */
  private[graft] def recallSection(spark: SparkSession, sfDir: String): (String, Option[Double]) = {
    import graft.operators.Similarity
    import org.apache.spark.sql.DataFrame
    var cached: List[DataFrame] = Nil
    try {
      val k = 20
      val e = Tables(spark, sfDir, "embeddings").cache()
      cached ::= e
      val present = e.select("vec_id").where(col("vec_id")
        .isin(Seq(0L, 7L, 42L, 99L, 123L).map(x => x: Any): _*))
        .collect().map(_.getLong(0)).toSeq.sorted
      val pre = recallBaselines(e, present, k)
      val annIdx = Similarity.annIndex(e, "vec_id", "embedding", Queries.Dim, nBits = 4)
      // the r14 scale-aware spill index, hoisted like annIdx (train
      // once, probe per query — the registered defaults' own serving
      // shape); the assignment is CACHED so the probes don't each
      // re-derive the per-row centroid scan. BOTH registered IVF rungs
      // (default + wide) probe this one index at their own widths.
      val nTotal = e.count()
      val nLists = Similarity.nListsFor(nTotal)
      val nProbe = Similarity.nProbeFor(nLists)
      val (spillAsg0, spillCents) = Similarity.ivfIndexSpill(e, "vec_id", "embedding",
        nCentroids = nLists)
      val spillAsg = spillAsg0.cache()
      cached ::= spillAsg
      // r16 PQ rung's hoisted training + coded frame (8 subspaces × 16
      // sub-centroids, 1 Lloyd step — the registered ann_pq sizing)
      val pqd = e.select(col("vec_id").cast("long").as("vec_id"),
        graft.functions.VecFns.quantize(col("embedding")).as("qv")).cache()
      cached ::= pqd
      val pqBooks = Similarity.pqTrain(pqd, Queries.Dim, m = 8, ksub = 16,
        iters = 1)
      val pqCoded = pqd.withColumn("pcode",
        Similarity.pqCodeExpr(col("qv"), pqBooks, Queries.Dim / 8)).cache()
      cached ::= pqCoded
      // mirrors the REGISTERED forms: ann_topk is the scale-aware
      // spherical spill IVF (r14 — the single-bucket probe is the
      // explicit floor variant; the r12 multi-probe h=1 default stays
      // measured as ann_multiprobe_h1). Probes ask for k+1,
      // AnnRecallSpec's exact methodology: every form returns the query
      // vector itself at rank 1 (cos=1) and recallFrom drops it, so a
      // k-probe could surface at most k−1 true neighbors — the artifact
      // would sit ~1/k below the spec-pinned number for a regression
      // that never happened.
      val forms: Seq[(String, (DataFrame, Array[Float]) => DataFrame)] = Seq(
        // r15 default: wide probe over SQ8 codes + top-80 exact rerank
        ("ann_topk", (_, qv) =>
          Similarity.ivfSq8Probe(spillAsg, spillCents, qv,
            Similarity.nProbeWideFor(nLists), k = k + 1)),
        ("ann_ivf_wide", (_, qv) =>
          Similarity.ivfProbeSpill(spillAsg, spillCents, qv,
            Similarity.nProbeWideFor(nLists), k = k + 1)),
        ("ann_multiprobe_h1", (_, qv) =>
          Similarity.annTopKMultiProbe(annIdx, qv, Queries.Dim,
            nBits = 4, k = k + 1, hamming = 1)),
        ("ann_multiprobe", (_, qv) =>
          Similarity.annTopKMultiProbe(annIdx, qv, Queries.Dim,
            nBits = 4, k = k + 1, hamming = 2)),
        ("ann_bucket_floor", (_, qv) =>
          Similarity.annTopKWith(annIdx, qv, Queries.Dim, nBits = 4, k = k + 1)),
        ("ann_ensemble", (d, qv) =>
          Similarity.annTopKEnsemble(d, "vec_id", "embedding", qv,
            Queries.Dim, nBits = 4, nTables = 3, k = k + 1)),
        ("ivf_topk", (d, qv) =>
          Similarity.ivfTopK(d, "vec_id", "embedding", typedLit(qv),
            nCentroids = 16, nProbe = 4, k = k + 1)),
        ("ann_sq8", (d, qv) =>
          Similarity.sq8TopK(d, "vec_id", "embedding", qv, k = k + 1)),
        ("ann_ivf_sq8", (_, qv) =>
          Similarity.ivfSq8Probe(spillAsg, spillCents, qv, nProbe, k = k + 1)),
        // r16 PQ rung: books trained once (hoisted like spillAsg), the
        // coded frame cached — probes pay the m-byte ADC scan + rerank
        // (rerank=8, the registered ann_pq sizing)
        ("ann_pq", (_, qv) =>
          Similarity.pqProbeCoded(pqCoded, pqBooks, qv, k = k + 1, rerank = 8)),
        // r16 composed IVF×PQ: wide-probe row pruning over the m-byte
        // codes — the ladder's deepest byte point (registered sizing)
        ("ann_ivf_pq", (_, qv) =>
          Similarity.ivfPqProbe(spillAsg, spillCents, pqBooks, qv,
            Similarity.nProbeWideFor(nLists), k = k + 1, rerank = 8)))
      // r17 residual rung: books trained on own-list residuals — same
      // bytes as ann_ivf_pq, measured +0.05 recall (the twelfth rung)
      val rpqBooks = Similarity.rpqTrain(spillAsg, spillCents, Queries.Dim)
      val allForms = forms :+ (("ann_ivf_rpq", (_: DataFrame, qv: Array[Float]) =>
        Similarity.ivfRpqProbe(spillAsg, spillCents, rpqBooks, qv,
          Similarity.nProbeWideFor(nLists), k = k + 1, rerank = 8)))
      val measured = allForms.map { case (name, approx) =>
        name -> recallFrom(e, pre, approx)
      }
      // scanned-row fraction of the default's probe (index rows whose
      // centroid is in the WIDE probe schedule, spill duplicates
      // INCLUDED — the honest rows-read number), averaged over the
      // same queries, plus its BYTE-normalized twin: the r15 default
      // scans 1-byte SQ8 codes where brute force reads the 8-byte
      // grid, and exact-reranks a fixed 80 full vectors, so bytes =
      // (rows·1 + 80·8) / (8·rows_total) — the cost a 100 TB reader
      // pays over the coded layout. `ann_topk_scan` stays the ROW
      // fraction (r14's unit — a same-key cross-round diff must never
      // silently change meaning; code-review r15); the byte envelope
      // is the new `ann_topk_scan_bytes` key.
      val nProbeWide = Similarity.nProbeWideFor(nLists)
      val scanRows = {
        val fs = pre.map { case (_, qv, _) =>
          val ps = Similarity.spillProbeSet(spillCents, qv, nProbeWide)
          spillAsg.where(col("centroid").isin(ps.map(x => x: Any): _*))
            .count().toDouble / nTotal.toDouble
        }
        if (fs.isEmpty) 0.0 else fs.sum / fs.size
      }
      val scanBytes = (scanRows * nTotal + k * 4 * 8.0) / (8.0 * nTotal)
      val out = measured.map { case (name, r) => s""""$name":${fmt(r, 3)}""" }
      ((out :+ s""""ann_topk_scan":${fmt(scanRows, 3)}"""
        :+ s""""ann_topk_scan_bytes":${fmt(scanBytes, 3)}"""
        :+ s""""ann_topk_lists":$nLists""" :+ s""""ann_topk_nprobe":$nProbeWide"""
        :+ s""""k":$k""" :+ s""""n_queries":${present.size}""")
        .mkString("{", ",", "}"),
        measured.collectFirst { case ("ann_topk", r) => r })
    } catch {
      case ex: Throwable =>
        System.err.println(s"[bench] recall section skipped: $ex")
        ("null", None)
    } finally {
      // best-effort: unpersist on a stopped SparkContext throws, and an
      // exception escaping the finally would replace the handled one and
      // kill the run before the artifact lines print
      cached.foreach { c =>
        try c.unpersist() catch { case _: Throwable => () }
      }
    }
  }

  /** Run an optional bench phase: a failure costs only that phase's
    * fields and is logged as skipped. */
  private def orSkip(phase: String)(body: => Unit): Unit =
    try body catch { case e: Throwable => System.err.println(s"[bench] $phase skipped: $e") }

  /** `f`'s value and its wall seconds. */
  private[graft] def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-query wall cap (seconds) of every cold run; generous vs the
    * ~18 s worst honest cold query at sf0.1 — it exists to catch wedged
    * queries, not slow ones. */
  private[graft] def queryCapS: Int = math.max(30,
    sys.env.get("SPARK_GRAFT_QUERY_TIMEOUT_S").flatMap(_.toIntOption).getOrElse(300))

  /** One cold run: `totalS` wall seconds, `buildS` the part spent inside
    * the query function, `err` set when it failed or hit the cap. */
  private[graft] final case class ColdRun(totalS: Double, buildS: Option[Double],
                                          err: Option[String], timedOut: Boolean)

  /** Time one registered query cold — the one timer of Bench, BenchSkew
    * and Probe. Its jobs run under job group `group`, cancelled after
    * `capS` seconds. */
  private[graft] def coldRun(spark: SparkSession, sfDir: String, name: String,
                             fn: Queries.Q, group: String, capS: Int): ColdRun = {
    // each run measured against a clean block manager: several
    // operators cache intra-query frames, and the suite's accumulated
    // (never-revisited) entries otherwise squeeze execution memory for
    // the later queries — eviction thrash, not honest cold cost.
    // clearCache only drops CacheManager entries; the dedup operators'
    // localCheckpoint snapshots are RDD-level persists freed lazily by
    // the ContextCleaner, so drop every persisted RDD explicitly too —
    // no operator keeps state across queries, so nothing here is re-read.
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val t0 = System.nanoTime()
    // lifecycle mark: nanoTime when the query FUNCTION returned (index
    // build+persist + driver-side planning done) and the measured
    // action is about to start; −1 until then
    val buildMark = new java.util.concurrent.atomic.AtomicLong(-1L)
    // The cap: a deadline that only fires BETWEEN queries would let one
    // wedged query eat the whole window (r8 died mid-query). The job
    // group is thread-local — set it inside the query's own (pool)
    // thread so cancelJobGroup reaches its jobs, and clear it after.
    // noop-sink write: forces full evaluation of every column (a bare
    // count() would let Catalyst prune the projections being measured).
    val fut = scala.concurrent.Future {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
      try {
        val df = fn(spark, sfDir)
        buildMark.set(System.nanoTime())
        df.write.format("noop").mode("overwrite").save()
      } finally spark.sparkContext.clearJobGroup()
    }(scala.concurrent.ExecutionContext.global)
    val (err, timedOut) =
      try {
        scala.concurrent.Await.result(fut,
          scala.concurrent.duration.Duration(capS.toLong, "s"))
        (None, false)
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(group)
          System.err.println(s"[bench] TIMEOUT $name after ${capS}s")
          (Some(s"timeout after ${capS}s"), true)
        case e: Throwable =>
          System.err.println(s"[bench] FAIL $name: $e")
          (Some(e.toString), false)
      }
    val mark = buildMark.get()
    ColdRun((System.nanoTime() - t0) / 1e9,
      if (mark >= 0) Some((mark - t0) / 1e9) else None, err, timedOut)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench", GraftSession.envCores)

    // wall-clock budget: the driver's bench window is finite and a killed
    // run that wrote nothing is a lost round (r7 AND r8 both ended with
    // no parsed artifact). When the budget is exceeded the remaining cold
    // passes are SKIPPED (min over the passes that did complete) and the
    // run jumps straight to the serve section.
    // Default 2100 s: r8's driver kill landed at ~2,695 s, and the serve
    // section needs ~3-5 min after the cold suite — 35 min of cold passes
    // keeps the whole run inside the observed window. Explicit "0"
    // disables the deadline.
    val startNs = System.nanoTime()
    val deadlineS: Option[Int] = sys.env.get("SPARK_GRAFT_DEADLINE_S") match {
      case Some(v) => v.toIntOption.filter(_ > 0)
      case None    => Some(2100)
    }
    def pastDeadline: Boolean =
      deadlineS.exists(d => (System.nanoTime() - startNs) / 1e9 > d)

    // ── part 1: cold suite ───────────────────────────────────────────
    // Each query runs `coldRuns` times (min reported): a shared-host CPU
    // burst landing inside a single-shot measurement writes the whole
    // number. The runs are INTERLEAVED as full passes over the suite
    // (pass 1 of every query, then pass 2, …), NOT back-to-back per
    // query: contention windows on this host last minutes, so
    // back-to-back runs of one query both land inside the same window
    // and the min learns nothing — across passes the window hits
    // DIFFERENT queries and the min recovers the honest number (r8:
    // a ~5-min burst wrote 10-90 s into one alphabetical stretch of
    // every per-query min). Every run is STILL cold — the cache/persist
    // sweep below runs before each one. Default raised to 3 passes in
    // r10: BENCH_r09 proved two passes can BOTH straddle one multi-
    // minute burst (23.5 s recorded for a 2.5 s query).
    // clamp: "0"/negative would leave `samples` empty and throw far from
    // the cause; non-numeric would throw before any artifact is written.
    val coldRuns = math.max(1,
      sys.env.get("SPARK_GRAFT_COLD_RUNS").flatMap(_.toIntOption).getOrElse(3))
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    // per query: (seconds, error, pass index) — pass index keys into
    // passSentinelS for the noise flag
    val samples = scala.collection.mutable.Map.empty[String, List[(Double, Option[String], Int)]]
    // lifecycle split (r17): seconds spent INSIDE the query function —
    // index build+persist, driver-side planning, eager probe scheduling
    // — vs the measured action itself. Queries that rebuild an index
    // per evaluation (ann_probe_join_split, ivf_append_probe) otherwise
    // put ~80% build noise into the number the regression tracker
    // watches. Keyed (name → (build_s, pass)); probe_s = total − build.
    val buildSecs = scala.collection.mutable.Map.empty[String, List[(Double, Int)]]
    // per query: the tally's total deltas (shuffle write/read, spill)
    // from the first successful pass (passes are plan-identical)
    val shuffleStats = scala.collection.mutable.Map.empty[String, SparkTally.Totals]
    val tally = SparkTally.attach(spark.sparkContext)
    // telemetry quarantine after a TIMEOUT: cancelJobGroup is async and
    // non-interruptible tasks run on, still incrementing the tally —
    // recording the next queries' deltas would bill the zombie's bytes
    // to them. Skip recording for the next few queries (first-success
    // recording lets a later pass fill them in cleanly).
    var tallyQuarantine = 0
    // per-pass sentinel: one fixed CPU-bound job timed at the start of
    // each pass; a pass whose sentinel runs > 2× the quietest pass was
    // contended, and mins achieved only in such passes are flagged noisy
    val passSentinelS = scala.collection.mutable.Map.empty[Int, Double]
    var deadlineHit = false
    // filled between the cold suite and the serve section; "null" until
    // measured so mid-run artifact rewrites stay parseable
    var recallJson = "null"
    var goldenJson = "null"
    var goldenCompact: Option[String] = None
    var soakJson = "null"
    var soakCompact: Option[String] = None
    // per-query movers vs the prior round's artifact (regressionsJson);
    // recomputed from coldResults() before each artifact write so it
    // rides BOTH artifact forms (full + compact tail)
    var regrJson = """{"base":null,"rows":{}}"""
    // per-tag MATCH battery seconds (r19) — measured once after the
    // cold suite over a warmed index; "null" until then
    var matchTagsJson = "null"

    // partial artifact > no artifact: rebuild the full JSON line from
    // whatever has completed so far and REWRITE the file after every
    // single query run — a kill at any point leaves the freshest state
    // on disk (r8's bench ran 2,695 s, was killed, and wrote nothing
    // because the old code wrote only at exit).
    // per-query rollup shared by the full artifact and the compact tail
    // line (min over ok passes, error fallback, noisy flag)
    def coldResults(): Seq[(String, Double, Option[String], List[Double], Boolean, Option[Double])] = {
      val sMin = if (passSentinelS.nonEmpty) passSentinelS.values.min else 0.0
      named.flatMap { case (name, _) =>
        samples.get(name).map { runsOut =>
          // min over SUCCESSFUL passes only: a fast-failing pass would
          // report an artificially small "cold" time, and one transient
          // failure must not flag a query red when another pass measured
          // it fine — the error is reported only when every pass failed.
          val ok = runsOut.collect { case (t, None, p) => (t, p) }
          if (ok.nonEmpty) {
            val (minT, minPass) = ok.minBy(_._1)
            // the min pass's lifecycle split (build = inside the query fn)
            val build = buildSecs.get(name)
              .flatMap(_.collectFirst { case (b, p) if p == minPass => b })
            // noisy ⇔ the best measurement is still untrustworthy:
            // either the passes disagree >2× (a burst ate some of them
            // and with few passes the min may not have escaped), or the
            // min's OWN pass ran under an inflated sentinel. The spread
            // bar is relative AND absolute (mirroring the sentinel bar):
            // a 0.3 s query drifting to 0.7 s is scheduler jitter, not a
            // burst — pure-ratio flagged exactly those on quiet hosts.
            // Spread is computed over QUIET-sentinel passes only (r17
            // ADVICE): a sample from a pass the sentinel already proved
            // contended is explained noise, and keeping it in the spread
            // meant a fresh quiet top-up run could never clear the flag
            // — both top-up passes were spent re-running rows that
            // stayed flagged by their own history.
            val quietOk = ok.filter { case (_, p) =>
              sMin == 0 ||
                passSentinelS.get(p).forall(s => s <= 2 * sMin || s <= sMin + 1.0)
            }
            // exactly ONE quiet pass: no spread evidence — rely on the
            // sentinel flag alone rather than falling back to samples
            // from passes already proven contended (r18 ADVICE #3: the
            // fallback kept re-condemning rows by their own history)
            val spread = if (quietOk.nonEmpty) quietOk else ok
            val spreadNoisy = spread.size > 1 &&
              spread.map(_._1).max / math.max(spread.map(_._1).min, 1e-9) > 2.0 &&
              spread.map(_._1).max - spread.map(_._1).min > 1.0
            // both a relative and an absolute bar (see serve section):
            // sub-second sentinel jitter is not contention
            val sentinelNoisy = sMin > 0 &&
              passSentinelS.get(minPass).exists(s => s > 2 * sMin && s > sMin + 1.0)
            (name, minT, None: Option[String], ok.map(_._1),
              spreadNoisy || sentinelNoisy, build)
          } else (name, runsOut.map(_._1).min, runsOut.collectFirst { case (_, Some(e), _) => e },
            Nil: List[Double], false, None: Option[Double])
        }
      }
    }
    def artifactJson(serveJson: String): String = {
      val results = coldResults()
      // ms precision keeps the one-line artifact short enough for tail
      // captures that truncate from the front (a full-precision double per
      // query tripled the line length and broke downstream parsers)
      val qs = results.map { case (k, v, _, _, _, _) => s""""$k":${fmt(v, 3)}""" }
        .mkString("{", ",", "}")
      val detail = results.collect { case (k, v, None, passes, noisy, build) =>
        val sh = shuffleStats.get(k).map { t =>
          s""","shuffle_w_mb":${fmt(t.shuffleWrite / 1048576.0, 1)}""" +
            s""","shuffle_r_mb":${fmt(t.shuffleRead / 1048576.0, 1)}""" +
            s""","spill_mb":${fmt(t.spill / 1048576.0, 1)}"""
        }.getOrElse("")
        // lifecycle split whenever the in-fn phase is non-trivial: the
        // regression tracker reads probe_s for build-dominated rows
        val lc = build.filter(_ >= 0.1).map(b =>
          s""","build_s":${fmt(b, 2)},"probe_s":${fmt(math.max(v - b, 0), 2)}""")
          .getOrElse("")
        // per-tag MATCH seconds ride the battery row's detail (r19)
        val tags = if (k == "quran_match_syntax" && matchTagsJson != "null")
          s""","tags":$matchTagsJson""" else ""
        s""""$k":{"passes":[${passes.map(fmt(_, 2)).mkString(",")}],"noisy":$noisy$sh$lc$tags}"""
      }.mkString("{", ",", "}")
      val failed = results.collect { case (k, _, Some(e), _, _, _) => s"\"$k\":\"${esc(e)}\"" }
        .mkString("{", ",", "}")
      val skipped = named.collect { case (n, _) if !samples.contains(n) => s""""$n"""" }
        .mkString("[", ",", "]")
      val sentinelJson = passSentinelS.toSeq.sortBy(_._1)
        .map { case (p, s) => s""""$p":${fmt(s, 2)}""" }.mkString("{", ",", "}")
      val nFailed = results.count(_._3.isDefined)
      val nNoisy = results.count(_._5)
      // a failed query's partial elapsed time must not inflate the headline
      val total = results.collect { case (_, v, None, _, _, _) => v }.sum
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","cold_runs":$coldRuns,"queries":$qs,""" +
        s""""query_detail":$detail,"sentinel_s":$sentinelJson,"n_noisy":$nNoisy,""" +
        s""""n_failed":$nFailed,"failed":$failed,"skipped":$skipped,""" +
        s""""deadline_hit":$deadlineHit,"recall_at_20":$recallJson,""" +
        s""""golden":$goldenJson,"soak":$soakJson,"regressions":$regrJson,""" +
        s""""serve":$serveJson,"sf":"$sfDir"}"""
    }
    def writeArtifact(serveJson: String): String = {
      val json = artifactJson(serveJson)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
        json.getBytes("UTF-8"))
      json
    }

    def runSentinel(pass: Int): Unit = if (!pastDeadline) {
      // the sentinel is pure CPU through the scheduler (no IO, no
      // cache interplay): ~0.2 s quiet, and it scales with exactly the
      // contention that poisons the real measurements
      passSentinelS(pass) = secs(spark.range(256L << 20).agg(sum("id")).head())._2
    }
    def runOne(name: String, fn: Queries.Q, pass: Int): Unit = {
      val pre = if (shuffleStats.contains(name)) None else Some(tally.totals())
      val run = coldRun(spark, sfDir, name, fn, s"bench-$name-$pass", queryCapS)
      if (run.timedOut) tallyQuarantine = 3
      samples(name) = samples.getOrElse(name, Nil) :+ ((run.totalS, run.err, pass))
      if (run.err.isEmpty) run.buildS.foreach(b =>
        buildSecs(name) = buildSecs.getOrElse(name, Nil) :+ ((b, pass)))
      if (run.err.isEmpty && tallyQuarantine == 0)
        pre.foreach(p => shuffleStats(name) = tally.totals() - p)
      else if (run.err.isEmpty && tallyQuarantine > 0) tallyQuarantine -= 1
      writeArtifact("\"pending\"")
    }

    // warm the sentinel's own codegen/JIT path BEFORE pass 1 — unwarmed,
    // the first pass's sentinel read ~10× high (its own compilation) and
    // falsely flagged every query whose min landed in pass 1
    spark.range(256L << 20).agg(sum("id")).head()
    for (pass <- 1 to coldRuns) {
      runSentinel(pass)
      for ((name, fn) <- named) {
        if (pastDeadline) deadlineHit = true
        if (!deadlineHit) runOne(name, fn, pass)
      }
    }
    // ── adaptive noise top-up (r17) ──────────────────────────────────
    // Past ~15 noisy rows the artifact's round-over-round deltas stop
    // being adjudicable (r16 ran n_noisy=35 in a busy window). Instead
    // of paying another FULL pass, re-run only the still-noisy queries
    // — a fresh quiet-window measurement either lowers the min or
    // clears the flag (the min's own pass sentinel goes quiet). Bounded
    // and deadline-guarded.
    val noisyBar = math.max(0,
      sys.env.get("SPARK_GRAFT_NOISY_BAR").flatMap(_.toIntOption).getOrElse(15))
    // default raised 2 → 8 (r19, r18 verdict #2): the artifact run must
    // keep re-measuring still-noisy rows until n_noisy ≤ the bar or the
    // deadline fires — r18 shipped n_noisy 83 because two top-up passes
    // could not outlast a multi-minute contention window, and a verdict
    // adjudicated on 83 flagged rows is not a measurement. Each pass
    // re-runs ONLY the flagged rows, so the worst case stays bounded by
    // the deadline, not by 8 full suite passes.
    val maxTopup = math.max(0,
      sys.env.get("SPARK_GRAFT_NOISY_TOPUP").flatMap(_.toIntOption).getOrElse(8))
    var topup = 0
    while (topup < maxTopup && !pastDeadline && !deadlineHit &&
        coldResults().count(_._5) > noisyBar) {
      topup += 1
      val pass = coldRuns + topup
      runSentinel(pass)
      val noisy = coldResults().collect { case (n, _, _, _, true, _) => n }.toSet
      System.err.println(s"[bench] noise top-up pass $pass: ${noisy.size} noisy rows")
      for ((name, fn) <- named if noisy(name)) {
        if (!pastDeadline) runOne(name, fn, pass)
      }
    }
    System.err.println(
      s"[bench] noise gate: ${coldResults().count(_._5)} rows still flagged " +
        s"after $topup top-up pass(es) (bar $noisyBar)")
    if (deadlineHit)
      System.err.println(s"[bench] deadline ${deadlineS.getOrElse(0)}s exceeded — " +
        s"skipping remaining cold passes (${named.count(n => !samples.contains(n._1))} queries unmeasured)")

    // ── per-tag MATCH battery timing (r19, r18 verdict #8) ───────────
    // One regressed leg hides inside the 11-leg union's aggregate
    // number; time each tag's leg separately over ONE warmed index
    // (build excluded — the aggregate row already tracks it) so
    // query_detail.quran_match_syntax carries per-tag seconds.
    // Deadline-guarded and isolated: a failure costs this field only.
    if (!deadlineHit && !pastDeadline) orSkip("match-tag timing") {
      val idx = graft.operators.Quran.buildIndex(
        graft.operators.Quran.load(spark, Queries.QuranDir), None).warmed()
      val tags = Queries.MatchQueries.map { case (tag, mq) =>
        val (_, s) = secs(graft.operators.FtsMatch.search(idx, mq, 5).fold(
          err => sys.error(s"'$mq': $err"),
          df => df.write.format("noop").mode("overwrite").save()))
        s""""$tag":${fmt(s, 2)}"""
      }
      matchTagsJson = tags.mkString("{", ",", "}")
      spark.catalog.clearCache()
    }

    // ── part 2: ANN recall + warm serving path ───────────────────────
    // skipped when the deadline already truncated the cold suite: the
    // run is being cut short for time, and the recall numbers only
    // change when ANN parameters do (the floors stay spec-pinned)
    var recallDefault: Option[Double] = None
    if (!deadlineHit) {
      val (rj, rd) = recallSection(spark, sfDir)
      recallJson = rj; recallDefault = rd
      // the 86-query success-criteria scoreboard (TEST_QUERIES.md bars) —
      // ONE implementation with GoldenQueriesSpec's asserts (graft.Golden),
      // emitted per round so the driver sees the measured rates, not just
      // a green test name. ~30 s warm-index work; deadline-guarded like
      // the soak below (a run that burned its budget in recallSection
      // must not overshoot by the scoreboard's whole cost — r14 review).
      if (!pastDeadline) orSkip("golden scoreboard") {
        val (full, compact) = Golden.scoreboard(spark)
        goldenJson = full; goldenCompact = Some(compact)
      }
      // dedup-spine scale soak (1× vs 10× of the zipf twin): wall-clock
      // scaling + shuffle + spill + hot-bucket trips for the three
      // production near-dup paths — the per-round proof that the banded
      // shapes stay ~linear and spill-free as the corpus grows (see
      // Soak's scaladoc). Skippable via SPARK_GRAFT_SOAK=0; guarded by
      // the same deadline as the rest of part 2.
      if (!pastDeadline && sys.env.getOrElse("SPARK_GRAFT_SOAK", "1") != "0")
        orSkip("scale soak") {
          val (full, scales) = Soak.run(spark, "/root/repo/testdata-skew/sf0.1", Seq(1, 10))
          soakJson = full
          soakCompact = for {
            s1 <- scales.collectFirst { case (1, s) => s }
            s10 <- scales.collectFirst { case (10, s) => s }
          } yield f"""{"stage_r":${s10.stageS / s1.stageS}%.1f,""" +
            f""""incr_r":${s10.incrS / s1.incrS}%.1f,""" +
            f""""stream_r":${s10.streamS / s1.streamS}%.1f,""" +
            f""""spill_mb":${s1.spillMb + s10.spillMb}%.0f,""" +
            f""""trips":${s1.trips + s10.trips},""" +
            // the K ∝ √N pin at 10×: scan fraction must hold, recall too
            f""""ann_scan10":${s10.annScan}%.3f,"ann_rec10":${s10.annRecall}%.2f,""" +
            // the SHIPPED default (wide × SQ8) at 10× — row-scan + recall
            f""""ann_def_scan10":${s10.annDefScan}%.3f,"ann_def_rec10":${s10.annDefRecall}%.2f,""" +
            // PQ byte ladder at 10× (r17): ADC byte fraction must be
            // flat-or-falling (scan ∝ 1/√N, rerank amortizes ∝ 1/N)
            // and IVF×PQ recall must hold
            f""""ann_pq_scan10":${s10.pqByteFrac}%.4f,"ann_pq_rec10":${s10.pqRecall}%.2f,""" +
            // batched schedule-join per-probe wall ratio 10×/1× (r16):
            // the bound is √factor, not flat — per-probe scanned ROWS
            // grow ∝ √N (fraction nProbe/K ∝ 1/√N × rows ∝ N), so at
            // 10× the ratio must stay ≤ ~3.2; above it the schedule
            // broadcast / marker-join shape stopped scaling (measured
            // 2.25 on this host — sublinear, fixed costs amortizing)
            f""""ann_batch_r":${(s10.annBatchS / math.max(s10.annBatchProbes, 1L)) /
              math.max(s1.annBatchS / math.max(s1.annBatchProbes, 1L), 0.001)}%.2f,""" +
            f""""ann_batch_s10":${s10.annBatchS}%.2f,""" +
            f""""ann_train_r":${s10.annTrainS / math.max(s1.annTrainS, 0.01)}%.1f}"""
        }
    }
    val runs = sys.env.getOrElse("SPARK_GRAFT_SERVE_RUNS", "15").toInt
    val serveJson = serveSection(spark, sfDir, runs)

    // regressions vs the prior round, from the finished cold suite —
    // set ONCE here so the final full artifact and the compact tail
    // carry the same field (mid-run "pending" artifacts keep the
    // placeholder: a partial suite must not flag phantom movers)
    val finalCold = coldResults()
    regrJson = regressionsJson(
      finalCold.collect { case (k, v, None, _, _, _) => k -> v }.toMap,
      probe = finalCold.collect {
        case (k, v, None, _, _, Some(b)) if b >= 1.0 => k -> math.max(v - b, 0)
      }.toMap)
    // bare-JSON artifact: stdout rides through sbt's "[info] " decoration,
    // which breaks naive line parsers — the file carries the clean line
    val json = writeArtifact(serveJson)
    println(json)
    // The driver's round artifact keeps only a 2000-char stdout TAIL and
    // json-parses what it finds there — the full line above is ~10 kB and
    // arrives truncated from the front (BENCH_r01..r10: parsed null every
    // round). So the LAST line printed is a compact summary that carries
    // every cold row at degraded-but-sufficient precision, sized to fit
    // the tail whole (build.sbt suppresses sbt's trailing "[success]"
    // line so nothing lands after it).
    // driver-visible per-round guarantees ride the compact line too:
    // the default ANN form's recall@20 and the noisy-measurement count
    // (the full artifact has the complete recall/noise sections)
    // top-5 shuffle movers (write+read MB): the cluster-scale cost the
    // 32-core wall clock hides — full per-query numbers in query_detail
    val shuffleTop = shuffleStats.toSeq
      .map { case (n, t) => (n, t.shuffleWrite + t.shuffleRead) }
      .sortBy { case (n, b) => (-b, n) }.take(5)
      .map { case (n, b) => s""""$n":${fmt(b / 1048576.0, 0)}""" }
      .mkString("{", ",", "}")
    // lifecycle split for build-dominated rows (build ≥ 1 s inside the
    // query fn): rides the compact line so NEXT round's regression
    // check can key those rows on the probe component (b=build, p=probe)
    val lifecycleJson = finalCold.collect {
      case (k, v, None, _, _, Some(b)) if b >= 1.0 =>
        s""""$k":{"b":${fmt(b, 1)},"p":${fmt(math.max(v - b, 0), 1)}}"""
    }.mkString("{", ",", "}")
    val extra = recallDefault.map(r => s""""recall20_ann":${fmt(r, 2)},""").getOrElse("") +
      goldenCompact.map(g => s""""golden":$g,""").getOrElse("") +
      soakCompact.map(s => s""""soak10x":$s,""").getOrElse("") +
      s""""n_noisy":${finalCold.count(_._5)},""" +
      (if (lifecycleJson != "{}") s""""lifecycle":$lifecycleJson,""" else "") +
      s""""regressions":$regrJson,""" +
      (if (shuffleStats.nonEmpty) s""""shuffle_top_mb":$shuffleTop,""" else "")
    println(compactJson(samples.toMap, named.map(_._1), sfDir, extra = extra))
    spark.stop()
  }

  /** One tail-sized JSON line: every measured query's min-over-passes at
    * the highest precision/envelope level that keeps the line ≤ maxLen
    * (2000-char driver tail, minus the trailing newline, minus slack —
    * build.sbt's StdoutOutput strategy removes sbt's per-line "[info] "
    * decoration so the budget is the line itself). Degradation ladder:
    * uniform 3/2/1 decimals → adaptive (1 dec under 10 s, whole seconds
    * above) → adaptive with a minimal envelope → whole seconds with the
    * minimal envelope (never expected; 96 queries fit the level above). */
  /** Per-query regression check against the PRIOR round's driver
    * artifact (highest-numbered `BENCH_r*.json` in `dir`): reports the
    * top 5 queries that grew by BOTH >1 s and >50% vs their prior
    * round value — below that is host jitter at this fixture scale —
    * plus any query ≥2 s with NO prior row. `"prev":null` means
    * exactly "absent from the prior artifact's query map": the query
    * was rolled into the prior rest bucket (so it ran under that
    * round's slow-tier cutoff and a real regression was hiding — the
    * r14 verdict-#7 case), OR it failed/was skipped that round, OR it
    * is newly registered. The flag cannot distinguish these — the
    * reader checks the prior round's failed/skipped lists and the
    * registry diff before calling it a regression; what it guarantees
    * is that none of the three can sit at ≥2 s unsurfaced.
    * Shape: {"base":"r14","rows":{"q":{"prev":4.1,"cur":7.2},…}} —
    * base null when no prior artifact exists (fresh checkout). The
    * driver-tail A/B discipline still applies before blaming code:
    * this field FLAGS movers, the Probe interleave adjudicates. */
  private[graft] def regressionsJson(cur: Map[String, Double],
                                     dir: String = ".",
                                     probe: Map[String, Double] = Map.empty): String = {
    try {
      val files = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.matches("BENCH_r\\d+\\.json"))
      if (files.isEmpty) return """{"base":null,"rows":{}}"""
      val latest = files.maxBy(f => "\\d+".r.findFirstIn(f.getName).get.toInt)
      val base = latest.getName.stripPrefix("BENCH_").stripSuffix(".json")
      val root = graft.serve.ServeJson.mapper.readTree(latest)
      val q = root.path("parsed").path("queries")
      if (!q.isObject) return s"""{"base":"$base","rows":{}}"""
      val prior = scala.collection.mutable.Map.empty[String, Double]
      q.fields().forEachRemaining(e => prior(e.getKey) = e.getValue.asDouble())
      // lifecycle rows (r17): when BOTH rounds carry a probe-component
      // number for a query (the compact line's lifecycle.{q}.p), the
      // mover check compares probe vs probe — build+persist noise for
      // per-evaluation index builds stops masquerading as a regression
      val priorProbe = scala.collection.mutable.Map.empty[String, Double]
      val lc = root.path("parsed").path("lifecycle")
      if (lc.isObject)
        lc.fields().forEachRemaining { e =>
          val p = e.getValue.path("p")
          if (p.isNumber) priorProbe(e.getKey) = p.asDouble()
        }
      val rows = cur.toSeq.flatMap { case (k, v) =>
        val (cv, pvOpt, basis) = (probe.get(k), priorProbe.get(k)) match {
          case (Some(cp), Some(pp)) => (cp, Some(pp), ""","basis":"probe"""")
          case _ => (v, prior.get(k), "")
        }
        pvOpt match {
          case Some(p) if cv - p > 1.0 && cv > 1.5 * p =>
            Some((cv - p, s""""$k":{"prev":${fmt(p, 1)},"cur":${fmt(cv, 1)}$basis}"""))
          case None if cv >= 2.0 =>
            Some((cv, s""""$k":{"prev":null,"cur":${fmt(cv, 1)}$basis}"""))
          case _ => None
        }
      }.sortBy { case (d, s) => (-d, s) }.take(5).map(_._2)
      s"""{"base":"$base","rows":${rows.mkString("{", ",", "}")}}"""
    } catch { case _: Throwable => """{"base":null,"rows":{}}""" }
  }

  private[graft] def compactJson(
      samples: Map[String, List[(Double, Option[String], Int)]],
      names: Seq[String], sfDir: String, maxLen: Int = 1995,
      extra: String = ""): String = {
    val pairs = names.sorted.flatMap { name =>
      samples.get(name).flatMap { runsOut =>
        val ok = runsOut.collect { case (t, None, _) => t }
        if (ok.nonEmpty) Some(name -> ok.min) else None
      }
    }
    val nFailed = names.count(n =>
      samples.get(n).exists(rs => rs.nonEmpty && rs.forall(_._2.isDefined)))
    val total = pairs.map(_._2).sum
    val sfTok = "sf([0-9.]+)$".r.findFirstMatchIn(
      sfDir.stripSuffix("/")).map(_.group(1)).getOrElse("0")
    def trim(s: String): String =
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      else s
    def line(dec: Int, full: Boolean): String = {
      def f(v: Double) = trim(dec match {
        case -1 => fmt(v, 0)
        case 0  => fmt(v, if (v >= 10) 0 else 1)
        case d  => fmt(v, d)
      })
      val qs = pairs.map { case (k, v) => s""""$k":${f(v)}""" }
        .mkString("{", ",", "}")
      if (full)
        s"""{"metric":"total","value":${trim(fmt(total, 2))},"unit":"sec",""" +
          s"""$extra"sf":$sfTok,"n_failed":$nFailed,"queries":$qs}"""
      else
        s"""{"metric":"total","value":${trim(fmt(total, 1))},$extra"sf":$sfTok,"queries":$qs}"""
    }
    val levels = Seq((3, true), (2, true), (1, true), (0, true), (0, false), (-1, false))
    levels.map { case (d, fl) => line(d, fl) }.find(_.length <= maxLen)
      .getOrElse {
        // registry too wide for per-query rows at ANY precision (first
        // hit at 109 queries: 2135 chars of mostly name bytes). Keep
        // the SLOWEST rows — the ones a baseline comparison reads —
        // and roll the fast tail into an explicit (rest_n, rest_s)
        // pair: the truncation is visible, never silent.
        val bySlow = pairs.sortBy { case (k, v) => (-v, k) }
        def topLine(k: Int): String = {
          val top = bySlow.take(k)
          val rest = bySlow.drop(k)
          // adaptive precision (the ladder's own rule): the kept rows
          // are the slowest, where >=10 s prints whole seconds — fixed
          // 1 dp would spend 2 chars per slow row and roll more rows
          // into the rest bucket than the boundary requires
          val qs = top.map { case (n, v) =>
            s""""$n":${trim(fmt(v, if (v >= 10) 0 else 1))}"""
          }.mkString("{", ",", "}")
          s"""{"metric":"total","value":${trim(fmt(total, 1))},$extra"sf":$sfTok,""" +
            s""""n_total":${pairs.size},"n_failed":$nFailed,""" +
            s""""rest_n":${rest.size},"rest_s":${trim(fmt(rest.map(_._2).sum, 1))},""" +
            s""""queries":$qs}"""
        }
        (pairs.size to 0 by -1).iterator.map(topLine)
          .find(_.length <= maxLen).getOrElse(topLine(0))
      }
  }
}

/** Targeted skew benchmark: times the skew-SENSITIVE queries on a
  * uniform fixture dir vs its [[SkewGen]] twin and prints one JSON line
  * (`{"metric":"skew", "queries":{q:{"uniform":s,"skew":s,"ratio":r}}}`).
  * The operators under test (salted join, bucketed as-of, bounded-heap
  * top-k, per-group caps, LSH hot-bucket paths) exist FOR zipf data;
  * this is their honest wall-clock under a hot key, next to the uniform
  * baseline the main bench measures. Usage:
  *   runMain graft.BenchSkew [uniformDir] [skewDir]
  */
object BenchSkew {
  private val Sensitive = Seq(
    "salted_join", "events_asof_bucketed", "topk_per_group", "source_cap",
    "session_assign", "events_sessions", "minhash_lsh_pairs",
    "ngram_jaccard_pairs", "near_dup_pairs", "ann_topk", "semantic_dedup",
    "curriculum_order", "mix_temperature")

  def main(args: Array[String]): Unit = {
    val uniform = args.headOption.getOrElse("/root/testdata/sf0.01")
    val skew = if (args.length > 1) args(1)
               else s"testdata-skew/${uniform.stripSuffix("/").split('/').last}"
    val spark = GraftSession.local("graft-bench-skew", GraftSession.envCores)
    def time(q: String, dir: String): Double = {
      val run = Bench.coldRun(spark, dir, q, Queries.all(q), s"skew-$q", Bench.queryCapS)
      run.err.foreach(e => sys.error(s"$q on $dir: $e"))
      run.totalS
    }
    val rows = Sensitive.map { q =>
      // one UNTIMED warm-up per dir (JIT + codegen would otherwise land
      // entirely on whichever side runs first and write the ratio), then
      // min-of-2 per dir, dirs INTERLEAVED so a contention burst hits
      // both sides of the ratio rather than one
      time(q, uniform); time(q, skew)
      val u1 = time(q, uniform); val s1 = time(q, skew)
      val u2 = time(q, uniform); val s2 = time(q, skew)
      val u = math.min(u1, u2); val s = math.min(s1, s2)
      val ratio = if (u > 0) s / u else 0.0
      q -> s""""$q":{"uniform":${Bench.fmt(u, 2)},"skew":${Bench.fmt(s, 2)},"ratio":${Bench.fmt(ratio, 2)}}"""
    }
    val json = rows.map(_._2).mkString(
      s"""{"metric":"skew","uniform_dir":"$uniform","skew_dir":"$skew","queries":{""",
      ",", "}}")
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SKEW.json"),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}

/** Standalone warm-path benchmark: skips the cold suite and measures
  * only the serving path (engine opens + repeated queries over resident
  * indexes). Same JSON shape as Bench's "serve" section. */
object BenchServe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_SERVE_RUNS", "15").toInt
    val spark = GraftSession.local("graft-bench-serve", GraftSession.envCores)
    val json = s"""{"metric":"serve","serve":${Bench.serveSection(spark, sfDir, runs)},"sf":"$sfDir"}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SERVE.json"),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
