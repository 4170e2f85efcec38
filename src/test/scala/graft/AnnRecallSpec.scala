package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall harness for the approximate similarity paths: pins recall@20 of
  * [[Similarity.annTopK]] (random-hyperplane LSH bucket) and
  * [[Similarity.ivfTopK]] (inverted-file probe) against exact cosine at
  * fixed params, so a refactor that silently degrades the pruning trade
  * fails a test instead of a production pipeline.
  *
  * Context for the thresholds: the test embeddings are near-UNIFORM
  * random vectors — the hardest case for locality pruning (no cluster
  * structure to exploit; the reference's HNSW store has the same
  * degradation on uniform data). Real text embeddings are strongly
  * clustered and recall at these params is far higher; the floor pinned
  * here is the documented worst-case trade, not the expected one.
  */
class AnnRecallSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.1" // 2000 vectors — the largest local corpus
  private val K = 20

  // the SAME harness Bench.recallSection reports through each round —
  // one implementation, so the pinned floors and the per-round artifact
  // numbers can never desynchronize
  private def recallAt(qids: Seq[Long], approx: (DataFrame, Array[Float]) => DataFrame): Double = {
    val e = Tables(spark, sf, "embeddings").cache()
    try Bench.recallFrom(e, Bench.recallBaselines(e, qids, K), approx)
    finally e.unpersist(): Unit
  }

  test("semanticDedupSurvivors: exact-duplicate vectors keep only the lowest id") {
    import spark.implicits._
    // 0,1,2 identical; 3 orthogonal-ish; 4 = near-copy of 3
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(1f, 0f, 0f, 0f)), (3L, Array(0f, 1f, 0f, 0f)),
      (4L, Array(0f, 1f, 0.01f, 0f)))
      .toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedupSurvivors(rows, "vec_id", "embedding",
      nCentroids = 2, tau = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(0L, 3L))
    // tau above every pairwise cos keeps everything
    val all = Similarity.semanticDedupSurvivors(rows, "vec_id", "embedding",
      nCentroids = 2, tau = 1.1)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(all === Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("ivfTopK recall@20 vs exact cosine (16 centroids, nProbe=4 — 1/4 of the corpus scanned)") {
    val r = recallAt(Seq(0L, 7L, 42L, 99L, 123L), (e, qv) =>
      Similarity.ivfTopK(e, "vec_id", "embedding", typedLit(qv),
        nCentroids = 16, nProbe = 4, k = K + 1))
    info(f"ivf recall@20 = $r%.3f")
    assert(r >= 0.45, f"IVF recall degraded: $r%.3f (uniform-vector floor 0.45 at nProbe/K=1/4)")
  }

  test("driver-side queryBucket equals the column lshBucket bit-for-bit") {
    import graft.functions.VecFns
    val e = Tables(spark, sf, "embeddings")
    for (qid <- Seq(0L, 7L, 42L)) {
      val qv = e.where(col("vec_id") === qid)
        .select("embedding").head().getSeq[Float](0).toArray
      val colBucket = e.sparkSession.range(1)
        .select(Similarity.lshBucket(VecFns.quantize(typedLit(qv)), Queries.Dim, 6)
          .as("b")).head().getLong(0)
      assert(Similarity.queryBucket(qv, Queries.Dim, 6) === colBucket, s"qid=$qid")
    }
  }

  test("array-query ANN probe (driver-literal bucket+quantization) is row-identical to the column form") {
    import graft.functions.VecFns
    val e = Tables(spark, sf, "embeddings")
    val idx = Similarity.annIndex(e, "vec_id", "embedding", Queries.Dim, 4).cache()
    idx.count()
    for (qid <- Seq(0L, 42L, 123L)) {
      val qv = e.where(col("vec_id") === qid)
        .select("embedding").head().getSeq[Float](0).toArray
      // quantizeLocal is element-identical to the quantize column
      val colQ = e.sparkSession.range(1)
        .select(VecFns.quantize(typedLit(qv)).as("q")).head().getSeq[Double](0)
      assert(VecFns.quantizeLocal(qv).toSeq === colQ, s"quantize drift qid=$qid")
      assert(Similarity.annTopKWith(idx, qv, Queries.Dim, 4, K).collect().toSeq ===
        Similarity.annTopKWith(idx, typedLit(qv), Queries.Dim, 4, K).collect().toSeq,
        s"probe drift qid=$qid")
    }
    idx.unpersist()
  }

  test("multi-probe at hamming=0 degenerates to the single-bucket probe") {
    val e = Tables(spark, sf, "embeddings")
    val qv = e.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val idx = Similarity.annIndex(e, "vec_id", "embedding", Queries.Dim, nBits = 4).cache()
    val single = Similarity.annTopKWith(idx, typedLit(qv), Queries.Dim, nBits = 4, k = 21)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val multi0 = Similarity.annTopKMultiProbe(idx, qv, Queries.Dim, nBits = 4, k = 21, hamming = 0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    idx.unpersist()
    assert(single === multi0)
  }

  test("multi-probe recall@20 (nBits=6, hamming=1 — 7/64 of the corpus scanned)") {
    // same scan budget class as single-bucket nBits=3 (≈11% vs 12.5%)
    // but the candidates come from the query's own code neighborhood —
    // recall roughly doubles on these uniform vectors
    val r = recallAt(Seq(0L, 7L, 42L, 99L, 123L), (e, qv) =>
      Similarity.annTopKMultiProbe(
        Similarity.annIndex(e, "vec_id", "embedding", Queries.Dim, nBits = 6),
        qv, Queries.Dim, nBits = 6, k = K + 1, hamming = 1))
    info(f"multi-probe recall@20 = $r%.3f")
    assert(r >= 0.1, f"multi-probe recall degraded: $r%.3f")
  }

  test("REGISTERED default ann_topk (wide spill IVF x SQ8 codes) holds recall@20 >= 0.85 at <= 8% byte scan") {
    // the r14 verdict's bar: recall ≥0.85 at ≤8% scan COST. Exact
    // parameters of Queries.all("ann_topk") at sf0.1: K =
    // nListsFor(2000) = 128 lists, WIDE probe nProbeWideFor = 26,
    // SQ8 code pre-rank, top-80 exact rerank, 3 spherical Lloyd
    // iterations, spill δ=0.03 — measured recall@20 0.91 at 21.5%
    // scanned ROWS whose scan column is the 1-byte code (vs the
    // 8-byte grid brute force reads), i.e. 6.7% of the brute-force
    // BYTES incl. the fixed 80-row rerank (→ 2.7% asymptotically —
    // the rerank is O(k), not O(N)). Deterministic fixture +
    // deterministic training: the pins have zero run-to-run noise.
    val e = Tables(spark, sf, "embeddings").cache()
    try {
      val n = e.count()
      val nLists = Similarity.nListsFor(n)
      val nProbe = Similarity.nProbeWideFor(nLists)
      assert(nLists === 128 && nProbe === 26, s"sizing drift: K=$nLists nP=$nProbe")
      val (asg0, cents) = Similarity.ivfIndexSpill(e, "vec_id", "embedding",
        nCentroids = nLists)
      val asg = asg0.cache()
      try {
        val qids = Seq(0L, 7L, 42L, 99L, 123L)
        val pre = Bench.recallBaselines(e, qids, K)
        val r = Bench.recallFrom(e, pre, (_, qv) =>
          Similarity.ivfSq8Probe(asg, cents, qv, nProbe, K + 1))
        val scanRows = pre.map { case (_, qv, _) =>
          val ps = Similarity.spillProbeSet(cents, qv, nProbe)
          asg.where(col("centroid").isin(ps.map(x => x: Any): _*))
            .count().toDouble / n
        }.sum / pre.size
        val scanBytes = (scanRows * n + K * 4 * 8.0) / (8.0 * n)
        info(f"default ann_topk recall@20 = $r%.3f at row scan $scanRows%.3f, byte scan $scanBytes%.3f")
        assert(r >= 0.85, f"default ANN recall below the shippable bar: $r%.3f")
        assert(scanRows <= 0.25, f"default ANN probe reads more than 25%% of rows: $scanRows%.3f")
        assert(scanBytes <= 0.08, f"default ANN probe costs more than 8%% of brute-force bytes: $scanBytes%.3f")
      } finally asg.unpersist(): Unit
    } finally e.unpersist(): Unit
  }

  test("batched ivfProbeSpillJoin equals the per-query ivfProbeSpill for every probe row") {
    // the r15 batched entry's core invariant: one distributed plan over
    // a query SET returns, per probe, exactly what the single-query
    // driver-ranked path returns — same expression-side centroid
    // ranking (comparator sort vs driver sort), same spill dedupe,
    // same (cos desc, vec_id) rank
    val e = Tables(spark, sf, "embeddings").cache()
    try {
      val nLists = Similarity.nListsFor(e.count())
      val nProbe = Similarity.nProbeFor(nLists)
      val (asg0, cents) = Similarity.ivfIndexSpill(e, "vec_id", "embedding",
        nCentroids = nLists)
      val asg = asg0.cache()
      try {
        val probes = e.where(col("vec_id") < 5)
        val batched = Similarity.ivfProbeSpillJoin(asg, cents, probes,
          "vec_id", "embedding", nProbe, k = 10).collect()
        assert(batched.map(_.getLong(0)).distinct.sorted.toSeq === (0L until 5L).toSeq)
        (0L until 5L).foreach { pid =>
          val qv = e.where(col("vec_id") === pid)
            .select("embedding").head().getSeq[Float](0).toArray
          val single = Similarity.ivfProbeSpill(asg, cents, qv, nProbe, k = 10)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          val batchRows = batched.filter(_.getLong(0) == pid).sortBy(_.getInt(3))
            .map(r => (r.getLong(1), r.getDouble(2))).toSeq
          assert(batchRows === single, s"probe $pid diverged from the single-query path")
        }
      } finally asg.unpersist(): Unit
    } finally e.unpersist(): Unit
  }

  test("batched ivfSq8ProbeJoin equals the per-query ivfSq8Probe for every probe row") {
    // the composed batched pin (registered ann_probe_join_sq8 sizing):
    // per-probe code-rank cut + exact rerank through the join form
    // must match the single-query composed probe row-for-row
    val e = Tables(spark, sf, "embeddings").cache()
    try {
      val nLists = Similarity.nListsFor(e.count())
      val nProbe = Similarity.nProbeWideFor(nLists)
      val (asg0, cents) = Similarity.ivfIndexSpill(e, "vec_id", "embedding",
        nCentroids = nLists)
      val asg = asg0.cache()
      try {
        val batched = Similarity.ivfSq8ProbeJoin(asg, cents,
          e.where(col("vec_id") < 5), "vec_id", "embedding", nProbe, k = 10)
          .collect()
        (0L until 5L).foreach { pid =>
          val qv = e.where(col("vec_id") === pid)
            .select("embedding").head().getSeq[Float](0).toArray
          val single = Similarity.ivfSq8Probe(asg, cents, qv, nProbe, k = 10)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          val batchRows = batched.filter(_.getLong(0) == pid).sortBy(_.getInt(3))
            .map(r => (r.getLong(1), r.getDouble(2))).toSeq
          assert(batchRows === single, s"probe $pid diverged from the composed single-query path")
        }
      } finally asg.unpersist(): Unit
    } finally e.unpersist(): Unit
  }

  test("spill-IVF probing ALL lists degenerates to exact cosine top-k") {
    // with nProbe = K every list is probed: candidates = the whole
    // corpus, so the rerank must equal the exact form row-for-row —
    // pins assignment/spill/dedupe against dropped or duplicated rows
    val e = Tables(spark, sf, "embeddings")
    val qv = e.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val (asg, cents) = Similarity.ivfIndexSpill(e, "vec_id", "embedding",
      nCentroids = 16, lloydIters = 1)
    val full = Similarity.ivfProbeSpill(asg, cents, qv, nProbe = 16, k = K)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = Similarity.cosineTopK(e, "vec_id", "embedding",
        typedLit(qv), K)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full === exact)
  }

  test("high-recall rung ann_ivf_wide (scale-aware spill IVF, wide probe) holds recall@20 >= 0.8 at <= 25% scanned rows") {
    // the HNSW-class quality tier: measured 0.91 at ~21% scanned rows
    // on the uniform fixture (the r13 grid-16/10 rung paid a 62% scan
    // for the same recall) — the registered ann_ivf_wide parameters
    val e = Tables(spark, sf, "embeddings").cache()
    try {
      val n = e.count()
      val nLists = Similarity.nListsFor(n)
      val nProbe = Similarity.nProbeWideFor(nLists)
      val (asg0, cents) = Similarity.ivfIndexSpill(e, "vec_id", "embedding",
        nCentroids = nLists)
      val asg = asg0.cache()
      try {
        val qids = Seq(0L, 7L, 42L, 99L, 123L)
        val pre = Bench.recallBaselines(e, qids, K)
        val r = Bench.recallFrom(e, pre, (_, qv) =>
          Similarity.ivfProbeSpill(asg, cents, qv, nProbe, K + 1))
        val scan = pre.map { case (_, qv, _) =>
          val ps = Similarity.spillProbeSet(cents, qv, nProbe)
          asg.where(col("centroid").isin(ps.map(x => x: Any): _*))
            .count().toDouble / n
        }.sum / pre.size
        info(f"ann_ivf_wide recall@20 = $r%.3f at scan fraction $scan%.3f")
        assert(r >= 0.8, f"high-recall rung degraded: $r%.3f")
        assert(scan <= 0.25, f"wide rung scans more than 25%%: $scan%.3f")
      } finally asg.unpersist(): Unit
    } finally e.unpersist(): Unit
  }

  test("PQ rung (ann_pq) holds recall@20 >= 0.6 at the 1.6% byte envelope (r16)") {
    // the byte ladder's bottom: m=8 one-byte codes per vector where
    // brute force reads the 8-byte 64-dim grid — 8/(8·64) = 1.56% of
    // bytes plus a fixed 160-row exact rerank. Measured recall@20 0.71
    // at the registered sizing (m=8, ksub=16, iters=1, rerank=8) on
    // the worst-case uniform sf0.1 fixture; floor 0.6 leaves noise
    // margin. Uniform vectors are PQ's hardest case — real clustered
    // embeddings code far tighter.
    val e = Tables(spark, sf, "embeddings").cache()
    try {
      val qd = e.select(col("vec_id").cast("long").as("vec_id"),
        graft.functions.VecFns.quantize(col("embedding")).as("qv")).cache()
      try {
        val books = Similarity.pqTrain(qd, Queries.Dim, m = 8, ksub = 16,
          iters = 1)
        val coded = qd.withColumn("pcode",
          Similarity.pqCodeExpr(col("qv"), books, Queries.Dim / 8)).cache()
        try {
          val qids = Seq(0L, 7L, 42L, 99L, 123L)
          val pre = Bench.recallBaselines(e, qids, K)
          val r = Bench.recallFrom(e, pre, (_, qv) =>
            Similarity.pqProbeCoded(coded, books, qv, k = K + 1, rerank = 8))
          // the byte claim is structural: m bytes scanned per vector
          val byteFrac = 8.0 / (8.0 * Queries.Dim)
          info(f"ann_pq recall@20 = $r%.3f at byte scan $byteFrac%.4f (+160-row rerank)")
          assert(r >= 0.6, f"PQ rung degraded: $r%.3f (floor 0.6)")
          assert(byteFrac <= 0.02, "PQ code scan lost its byte envelope")
          // composed IVF×PQ (registered ann_ivf_pq): wide-probe row
          // pruning stacked on the m-byte codes — bytes ≈ 21.5% rows ×
          // 1.6% ≈ 0.34% of brute force, the ladder's deepest point.
          // Recall is bounded above by the wide probe's own (~0.93 on
          // this fixture) and below by the PQ distortion.
          val nLists = Similarity.nListsFor(e.count())
          val (asg0, cents) = Similarity.ivfIndexSpill(e, "vec_id",
            "embedding", nCentroids = nLists)
          val asg = asg0.cache()
          try {
            val rc = Bench.recallFrom(e, pre, (_, qv) =>
              Similarity.ivfPqProbe(asg, cents, books, qv,
                Similarity.nProbeWideFor(nLists), k = K + 1, rerank = 8))
            // measured 0.85 — ABOVE flat PQ's 0.71: the row pruning
            // removes the distant distractors PQ distortion would
            // otherwise rank into the rerank set
            info(f"ann_ivf_pq recall@20 = $rc%.3f")
            assert(rc >= 0.7, f"composed IVF×PQ degraded: $rc%.3f (floor 0.7)")
            // RESIDUAL books (registered ann_ivf_rpq, r17): identical
            // bytes, codebooks spent on local structure — measured
            // 0.90 vs flat 0.85 on this fixture; floor 0.85 keeps the
            // lift-over-flat pinned while leaving fixture noise room
            val rbooks = Similarity.rpqTrain(asg, cents, Queries.Dim)
            val rr = Bench.recallFrom(e, pre, (_, qv) =>
              Similarity.ivfRpqProbe(asg, cents, rbooks, qv,
                Similarity.nProbeWideFor(nLists), k = K + 1, rerank = 8))
            info(f"ann_ivf_rpq recall@20 = $rr%.3f")
            assert(rr >= 0.85, f"residual IVF×PQ degraded: $rr%.3f (floor 0.85)")
            assert(rr >= rc - 0.05,
              f"residual books under flat books: $rr%.3f < $rc%.3f - 0.05")
          } finally asg.unpersist()
        } finally coded.unpersist()
      } finally qd.unpersist()
    } finally e.unpersist()
  }

  test("bench recall section emits the full twelve-rung ladder (no silent drop)") {
    // the per-round artifact's recall JSON must carry every registered
    // rung — a refactor that drops one would silently shrink the
    // driver-visible ladder (sf0.001 keeps the structural pin cheap)
    val (json, default) = Bench.recallSection(spark, "/root/testdata/sf0.001")
    Seq("ann_topk", "ann_ivf_wide", "ann_multiprobe_h1", "ann_multiprobe",
      "ann_bucket_floor", "ann_ensemble", "ivf_topk", "ann_sq8", "ann_ivf_sq8",
      "ann_pq", "ann_ivf_pq", "ann_ivf_rpq")
      .foreach(k => assert(json.contains("\"" + k + "\""), s"ladder rung $k missing"))
    assert(default.isDefined, "default ann_topk recall missing from the tail")
  }

  test("composed IVF+SQ8 rung (ann_ivf_sq8) holds recall@20 >= 0.7 — code-rank loses nothing vs the default") {
    // same probe schedule as the registered default (K=nListsFor,
    // nProbe=nProbeFor); the int8 code-rank cut keeps the exact rerank's
    // answer set — recall must match the default's bar
    val e = Tables(spark, sf, "embeddings").cache()
    try {
      val nLists = Similarity.nListsFor(e.count())
      val (asg0, cents) = Similarity.ivfIndexSpill(e, "vec_id", "embedding",
        nCentroids = nLists)
      val asg = asg0.cache()
      try {
        val qids = Seq(0L, 7L, 42L, 99L, 123L)
        val pre = Bench.recallBaselines(e, qids, K)
        val r = Bench.recallFrom(e, pre, (_, qv) =>
          Similarity.ivfSq8Probe(asg, cents, qv,
            Similarity.nProbeFor(nLists), k = K + 1))
        info(f"ivf+sq8 recall@20 = $r%.3f")
        assert(r >= 0.7, f"composed IVF+SQ8 rung degraded: $r%.3f")
      } finally asg.unpersist(): Unit
    } finally e.unpersist(): Unit
  }

  test("SQ8 rung (ann_sq8): int8-code scan + exact rerank holds recall@20 >= 0.95") {
    // the memory-bandwidth rung: full-row scan over int8 codes, top-80
    // exact-reranked. Int8 distortion (~0.4% relative) is far below the
    // fixture's top-20 cosine gaps — measured recall 1.0 at sf0.1; the
    // floor leaves room only for genuine quantizer regressions.
    val r = recallAt(Seq(0L, 7L, 42L, 99L, 123L), (e, qv) =>
      Similarity.sq8TopK(e, "vec_id", "embedding", qv, k = K + 1))
    info(f"sq8 recall@20 = $r%.3f")
    assert(r >= 0.95, f"SQ8 rung degraded: $r%.3f")
  }

  test("zero-norm query: every SQ8 path returns EMPTY (the oracle contract), never throws") {
    import spark.implicits._
    val emb = Seq((0L, Array(1f, 2f, 3f, 4f)), (1L, Array(4f, 3f, 2f, 1f)))
      .toDF("vec_id", "embedding")
    val zero = Array(0f, 0f, 0f, 0f)
    assert(Similarity.sq8TopK(emb, "vec_id", "embedding", zero, k = 5).count() === 0L)
    val (asg, cents) = Similarity.ivfIndexSpill(emb, "vec_id", "embedding", 2)
    assert(Similarity.ivfSq8Probe(asg, cents, zero, nProbe = 1, k = 5).count() === 0L)
    val dir = java.nio.file.Files.createTempDirectory("sq8-zero").toString
    GraftIndexes.writeSq8(spark, emb, "vec_id", "embedding", s"$dir/sq8")
    assert(GraftIndexes.sq8Probe(GraftIndexes.openSq8(spark, s"$dir/sq8"),
      emb, "vec_id", "embedding", zero, k = 5).count() === 0L)
  }

  test("sq8Codes stay in [-127,127] on the int8 grid and preserve direction") {
    import spark.implicits._
    val rows = Seq((0L, Array(0.5f, -1.0f, 0.25f, 0f)))
      .toDF("vec_id", "embedding")
    val qv = graft.functions.VecFns.quantize(col("embedding"))
    val c = rows.select(Similarity.sq8Codes(qv, Similarity.sq8Max(qv)).as("c8"))
      .head().getSeq[Double](0)
    assert(c === Seq(64.0, -127.0, 32.0, 0.0)) // round(0.5·127)=64 (HALF_UP)
    assert(c.forall(x => x == math.rint(x) && math.abs(x) <= 127))
  }

  test("multi-probe ladder rung (nBits=4, hamming=1) holds recall@20 >= 0.4") {
    // the r12 default, kept as a measured ladder rung (bucket-index
    // family — the serving path's prebuilt-index probe shape)
    val r = recallAt(Seq(0L, 7L, 42L, 99L, 123L), (e, qv) =>
      Similarity.annTopKMultiProbe(
        Similarity.annIndex(e, "vec_id", "embedding", Queries.Dim, nBits = 4),
        qv, Queries.Dim, nBits = 4, k = K + 1, hamming = 1))
    info(f"multi-probe h1 recall@20 = $r%.3f")
    assert(r >= 0.4, f"multi-probe h1 recall degraded: $r%.3f")
  }

  test("lloydCentroidsSphGrid stays on the integer grid, keeps seeds for empty clusters") {
    import spark.implicits._
    // three tight groups + a far singleton; 4 centroids, seeds = ids 0-3
    val rows = Seq(
      (0L, Array(10f, 0f, 0f, 0f)), (1L, Array(0f, 10f, 0f, 0f)),
      (2L, Array(0f, 0f, 10f, 0f)), (3L, Array(0f, 0f, 0f, 10f)),
      (4L, Array(10f, 1f, 0f, 0f)), (5L, Array(0f, 10f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val q = rows.select(col("vec_id"),
      graft.functions.VecFns.quantize(col("embedding")).as("qv"))
    val cents = Similarity.lloydCentroidsSphGrid(q, nCentroids = 4, iters = 2)
    assert(cents.length === 4)
    // every trained coordinate is integer-valued (the exactness contract
    // that lets the DuckDB oracle replay the training bit-for-bit)
    for (c <- cents; x <- c) assert(x == math.floor(x) && !x.isNaN,
      s"non-integer trained centroid coordinate $x")
    // cluster 0 absorbed vec 4 (spherical score 1e8 against seed 0, 1e7
    // against seed 1): its mean over {(1e8,0,..),(1e8,1e7,..)} truncates
    // to (1e8, 5e6, 0, 0)
    assert(cents(0).toSeq === Seq(1e8, 5e6, 0.0, 0.0))
    // a centroid whose list goes EMPTY keeps its previous value: seeds 0
    // and 1 identical → every member ties → lowest centroid index wins →
    // centroid 1 gets no members and must keep its seed vector
    val dup = Seq(
      (0L, Array(10f, 0f, 0f, 0f)), (1L, Array(10f, 0f, 0f, 0f)),
      (2L, Array(10f, 2f, 0f, 0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        graft.functions.VecFns.quantize(col("embedding")).as("qv"))
    val cents2 = Similarity.lloydCentroidsSphGrid(dup, nCentroids = 2, iters = 1)
    assert(cents2(1).toSeq === Seq(1e8, 0.0, 0.0, 0.0),
      "empty cluster must keep its seed centroid")
    assert(cents2(0).toSeq === Seq(1e8, (2e7.toLong / 3).toDouble, 0.0, 0.0))
  }

  test("multi-table ensemble (nBits=4, 3 tables ≈ 3/16 scan) holds recall@20 >= 0.25") {
    // independent tables decorrelate misses: measured 0.35 here vs 0.43
    // for multi-probe h=1 at 5/16 scan — BETTER recall per scanned row
    // (the registered ann_ensemble's parameters)
    val r = recallAt(Seq(0L, 7L, 42L, 99L, 123L), (e, qv) =>
      Similarity.annTopKEnsemble(e, "vec_id", "embedding", qv,
        Queries.Dim, nBits = 4, nTables = 3, k = K + 1))
    info(f"ensemble recall@20 = $r%.3f")
    assert(r >= 0.25, f"ensemble recall degraded: $r%.3f")
  }

  test("annTopK recall@20 vs exact cosine (nBits=3 — 1/8 of the corpus scanned)") {
    // measured ≈0.10 on these uniform vectors (single-bucket LSH pays the
    // full no-structure penalty; a banded variant recovers recall — see
    // nearDupPairs/knnJoinBucketed). The floor distinguishes a working
    // trade from broken bucketing: probing a WRONG bucket scores at the
    // background rate K/N = 20/2000 = 0.01.
    val r = recallAt(Seq(0L, 7L, 42L, 99L, 123L), (e, qv) =>
      Similarity.annTopK(e, "vec_id", "embedding", typedLit(qv),
        dim = Queries.Dim, nBits = 3, k = K + 1))
    info(f"ann recall@20 = $r%.3f")
    assert(r >= 0.05, f"LSH recall degraded: $r%.3f (uniform-vector floor 0.05 at 1/8 scan)")
  }
}
