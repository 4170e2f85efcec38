package graft.operators

import graft.functions.{TextFns, VecFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (SURVEY.md §2.9; reference:
  * ChromaDB HNSW cosine — mcp_server/apps/embeddings.py:277-321 — and NumPy
  * brute-force matmul — quran_mcp/search.py:145-176).
  *
  * Baseline is exact brute-force cosine + TakeOrderedAndProject: on a
  * cluster this is an embarrassingly parallel scan (the query vector is a
  * broadcast literal), which is the right default for one-off top-k.
  * The scale path for repeated queries and all-pairs work is
  * random-hyperplane LSH: sign buckets turn candidate generation into an
  * equi-join, pruning the scan to matching buckets.
  */
object Similarity {

  /** Exact cosine top-k of `emb`'s `vecCol` against one query vector. */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 queryVec: Column, k: Int, excludeId: Option[Long] = None): DataFrame = {
    val base = emb.select(col(idCol).cast("long").as("vec_id"),
      round(VecFns.cosineQ(VecFns.quantize(col(vecCol)), VecFns.quantize(queryVec)), 6).as("cos"))
    val filtered = excludeId.map(i => base.where(col("vec_id") =!= i)).getOrElse(base)
    filtered.orderBy(desc("cos"), asc("vec_id")).limit(k)
  }

  /** Int8 (SQ8) codes of a quantized vector: c_i = round(qv_i·127/max|qv|)
    * ∈ [-127,127]. Cosine is scale-invariant, so the per-vector max
    * scaling costs nothing at score time — approx cos is just the cosine
    * of the code vectors. Derivation is exact-replayable: qv_i·127 is
    * exact integer arithmetic in doubles, /max one correctly-rounded
    * IEEE division, round() the shared away-from-zero half rule — the
    * DuckDB twin reproduces every code bit-for-bit.
    * `qm` is the caller's per-vector max(|qv_i|) COLUMN — every call
    * site already computes it for the zero-norm guard, and passing it
    * in keeps the per-element lambda free of the invariant max
    * (ArrayTransform re-evaluates the whole lambda body per element —
    * an embedded array_max would make coding O(dim²) per row on the
    * rung whose entire pitch is a cheap scan; r14 review). */
  def sq8Codes(vecQ: Column, qm: Column): Column =
    transform(vecQ, x => round(x * lit(127.0) / qm))

  /** The per-vector max(|qv_i|) feeding [[sq8Codes]] and its zero-norm
    * guard. */
  def sq8Max(vecQ: Column): Column = array_max(transform(vecQ, x => abs(x)))

  /** Empty (vec_id, cos) frame — the SQ8 rungs' answer to a zero-norm
    * QUERY vector (matches the oracle twins, whose qm > 0 filter drops
    * the query row and yields zero rows — error vs empty must not
    * diverge between the engine and its replay). */
  private[graft] def emptyTopK(like: DataFrame): DataFrame = {
    val s = like.sparkSession
    import s.implicits._
    Seq.empty[(Long, Double)].toDF("vec_id", "cos")
  }

  /** The exact-rerank tail every ANN probe ends in (apply with
    * `.transform`): round-6 cosine of each candidate's quantized `qv`
    * against the query `q`, top k by (cos desc, vec_id asc). */
  private[graft] def exactTopK(q: Column, k: Int)(cand: DataFrame): DataFrame =
    cand.select(col("vec_id"), round(VecFns.cosineQ(col("qv"), q), 6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id")).limit(k)

  /** SQ8 cosine top-k — the MEMORY-BANDWIDTH rung of the ANN ladder
    * (scalar quantization, the FAISS SQ8 design): rank the corpus by
    * int8-code cosine, keep the top k·rerank candidates, exact-rerank
    * those on the full quantized vectors. Unlike the IVF rungs this
    * scans every ROW, but the scan is over 1-byte codes instead of the
    * 8-byte grid (8× less bandwidth where the code column is the
    * persisted scan; compose with the spill IVF's partition pruning for
    * the 100 TB shape — probe nProbe lists, ADC over codes, rerank).
    * Recall loss is bounded by the int8 distortion (~0.4% relative),
    * far above the LSH rungs. Plan shape: one narrow scan → two
    * TakeOrderedAndProject — zero shuffles, zero joins (candidates
    * carry their vectors, so the rerank is local). */
  def sq8TopK(emb: DataFrame, idCol: String, vecCol: String,
              queryVec: Array[Float], k: Int, rerank: Int = 4): DataFrame = {
    val qq = VecFns.quantizeLocal(queryVec)
    val q8 = VecFns.sq8CodesLocal(qq) match {
      case Some(c) => c
      case None => return emptyTopK(emb) // zero query: no direction to rank
    }
    val coded = quantized(emb, idCol, vecCol)
      .withColumn("qm", sq8Max(col("qv")))
      .where(col("qm") > 0) // a zero vector has no direction to rank
      .select(col("vec_id"), col("qv"),
        round(VecFns.cosineQ(sq8Codes(col("qv"), col("qm")), typedLit(q8)), 6).as("approx"))
    coded.orderBy(desc("approx"), asc("vec_id")).limit(k * rerank)
      .transform(exactTopK(typedLit(qq), k))
  }

  /** k-NN join: top-k neighbors for every probe row. Probes are broadcast
    * (they are the small side); ranking is a per-probe window. */
  def knnJoin(emb: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
              k: Int): DataFrame = {
    val corpus = emb.select(col(idCol).cast("long").as("nbr_id"),
      VecFns.quantize(col(vecCol)).as("qv"))
    val probeQ = probes.select(col(idCol).cast("long").as("probe_id"),
      VecFns.quantize(col(vecCol)).as("pv"))
    val scored = corpus.crossJoin(broadcast(probeQ))
      .where(col("nbr_id") =!= col("probe_id"))
      .select(col("probe_id"), col("nbr_id"),
        round(VecFns.cosineQ(col("pv"), col("qv")), 6).as("cos"))
    val w = Window.partitionBy(col("probe_id")).orderBy(desc("cos"), asc("nbr_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select("probe_id", "nbr_id", "cos", "rn")
  }

  /** Bucketed k-NN join — the scale path when the probe side is beyond
    * broadcast size (the [[knnJoin]] broadcast form is a driver/exchange
    * killer there): BOTH sides key on banded random-hyperplane LSH
    * buckets and meet in an EQUI-join on (band, bucket) — shuffle on the
    * key, never a cross join — then candidates are exact-reranked per
    * probe. Collisions in several bands are deduped by a max-cos
    * aggregate (cos is band-independent) so no join-back of the vector
    * arrays is needed. Approximate by construction: a true neighbor
    * sharing no band bucket with its probe is missed; nBands trades
    * recall for candidate volume. [[knnJoin]] stays the exact form for
    * small probe sets. */
  def knnJoinBucketed(emb: DataFrame, probes: DataFrame, idCol: String,
                      vecCol: String, k: Int, dim: Int, nBits: Int = 8,
                      nBands: Int = 4, maxBucket: Int = 10000,
                      materialize: Boolean = true): DataFrame = {
    def keyed(df: DataFrame, idAs: String, vAs: String) = {
      val q = df.select(col(idCol).cast("long").as(idAs),
        VecFns.quantize(col(vecCol)).as(vAs))
      val buckets = array((0 until nBands).map(b =>
        struct(lit(b).as("band"), lshBucket(col(vAs), dim, nBits, s"b$b").as("bkey"))): _*)
      q.withColumn("bk", explode(buckets))
        .select(col(idAs), col(vAs), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    }
    // cached: the hot-bucket count and the candidate join both scan it
    val corpus = Dedup.maybeCache(keyed(emb, "nbr_id", "qv"), materialize)
    val corpusCapped = Dedup.capBuckets(corpus, Seq("band", "bkey"), maxBucket)
    val scored = corpusCapped.join(keyed(probes, "probe_id", "pv"), Seq("band", "bkey"))
      .where(col("nbr_id") =!= col("probe_id"))
      .select(col("probe_id"), col("nbr_id"),
        round(VecFns.cosineQ(col("pv"), col("qv")), 6).as("cos"))
      .groupBy("probe_id", "nbr_id").agg(max("cos").as("cos"))
    val w = Window.partitionBy(col("probe_id")).orderBy(desc("cos"), asc("nbr_id"))
    Dedup.scoped(materialize, corpus) {
      scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
        .select("probe_id", "nbr_id", "cos", "rn")
    }
  }

  /** Deterministic ±1 hyperplane signs for LSH bit `j` under `seed`,
    * computed ONCE on the driver (round-3 verdict fix: the old form inlined
    * dim×nBits md5-expression nodes and blew past the codegen method
    * limit). Derivation is the same md5 family as the column hashes, so
    * the DuckDB oracle can embed the identical literals. */
  def hyperplaneSigns(dim: Int, j: Int, seed: String = ""): Array[Double] =
    (0 until dim).map { d =>
      val h = TextFns.hash31Local(if (seed.isEmpty) s"$j:$d" else s"$seed:$j:$d")
      if (h % 2 == 0) 1.0 else -1.0
    }.toArray

  /** Random-hyperplane LSH bucket key (nBits sign bits) over a quantized
    * vector. Each bit is ONE zip_with/aggregate pass against a single
    * array literal — nBits expression nodes total, codegen-friendly. */
  def lshBucket(vecQ: Column, dim: Int, nBits: Int, seed: String = ""): Column =
    (0 until nBits).map { j =>
      val signs = typedLit(hyperplaneSigns(dim, j, seed))
      val proj = VecFns.dot(vecQ, signs)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embedding-cosine near-duplicate pairs (a < b, cos ≥ minCos), with
    * candidate generation through banded LSH buckets — an equi-join on
    * (band, bucket), never an n² nested loop (round-3 verdict fix).
    * Recall < 1 by construction (pairs sharing no band bucket are missed);
    * nBands trades recall for candidate volume. */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String, minCos: Double,
                   dim: Int, nBits: Int = 8, nBands: Int = 4,
                   maxBucket: Int = 10000,
                   materialize: Boolean = true): DataFrame = {
    val q = emb.select(col(idCol).cast("long").as("id"), VecFns.quantize(col(vecCol)).as("qv"))
    val buckets = array((0 until nBands).map(b =>
      struct(lit(b).as("band"), lshBucket(col("qv"), dim, nBits, s"b$b").as("bkey"))): _*)
    // cached: bucket-size count + both self-join sides scan it
    val ex = Dedup.maybeCache(
      q.withColumn("bk", explode(buckets))
        .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey")),
      materialize)
    val exCapped = Dedup.capBuckets(ex, Seq("band", "bkey"), maxBucket)
    val cand = exCapped.as("x").join(exCapped.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
    Dedup.scoped(materialize, ex) {
      cand
        .join(q.select(col("id").as("a"), col("qv").as("va")), "a")
        .join(q.select(col("id").as("b"), col("qv").as("vb")), "b")
        .select(col("a"), col("b"), round(VecFns.cosineQ(col("va"), col("vb")), 6).as("cos"))
        .where(col("cos") >= minCos)
    }
  }

  /** IVF (inverted-file) ANN: a deterministic coarse quantizer — the K
    * corpus vectors with the lowest ids act as centroids, every vector is
    * assigned to its max-dot centroid (ties → lowest centroid index), and
    * a query scans only the `nProbe` centroid lists nearest to it, then
    * exact-reranks. The scale path for repeated queries over a static
    * corpus: the assignment is computed once (one narrow pass), and each
    * probe reads ~nProbe/K of the data. All math is on the quantized
    * integer grid, so assignment and ranking are oracle-reproducible. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, queryVec: Column,
              nCentroids: Int, nProbe: Int, k: Int): DataFrame = {
    val q = quantized(emb, idCol, vecCol)
    val cents = seedCentroids(q, nCentroids)
    val assigned = q.withColumn("centroid", bestCentroid(col("qv"), cents))
    // centroid ranking for the query happens on the driver (K tiny)
    val qRow = q.sparkSession.range(1).select(VecFns.quantize(queryVec).as("qv"))
      .head().getSeq[Double](0).toArray
    val probeSet = cents.zipWithIndex
      .map { case (cv, i) => (dotLocal(qRow, cv), i) }
      .sortBy { case (d, i) => (-d, i) }.take(nProbe).map(_._2)
    assigned.where(col("centroid").isin(probeSet: _*))
      // qRow (the query's quantized values, already evaluated once)
      // enters as a LITERAL — a quantize expression would re-quantize
      // the query per scanned row
      .transform(exactTopK(typedLit(qRow.toSeq), k))
  }

  /** (vec_id, qv): the id cast to long and the vector on the
    * quantized integer grid — the one input projection of every index
    * build and probe. */
  private[graft] def quantized(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("vec_id"), VecFns.quantize(col(vecCol)).as("qv"))

  /** Scale-aware IVF list count: the power of two nearest (in log
    * scale) to 3·√N, clamped to [16, 2^18]. The r13 default hard-shaped
    * K=16, so its nProbe=5 probe scanned ~31% of the corpus — a
    * near-full scan at 100 TB. Growing K with √N keeps per-list size ≈
    * N/K ≈ √N/3 and the probe's nominal scan fraction CONSTANT (≈5.5%,
    * see [[nProbeFor]]) at any corpus size: 2000 vectors → 128 lists;
    * 2·10⁹ → ~2^17 — the same K ∝ √N rule FAISS documents for IVF
    * sizing. Derivation is EXACT integer arithmetic, never a libm log
    * (whose last-ulp rounding differs between engines): round(log2
    * (3√N)) = e ⟺ 2^(e−1/2) ≤ 3√N < 2^(e+1/2) ⟺ 2^(2e−1) ≤ 9N <
    * 2^(2e+1) — so e is the smallest exponent with 9N < 2^(2e+1)
    * (half-up ties like math.round), and the DuckDB oracle replays the
    * same comparison over count(*) with exact power-of-two doubles. */
  def nListsFor(n: Long): Int = {
    val t = 9.0 * math.max(1L, math.min(n, 1L << 49)).toDouble // exact ≤ 2^53
    var e = 4
    while (e < 18 && t >= math.pow(2.0, 2 * e + 1)) e += 1
    1 << e
  }

  /** Probe width for a [[nListsFor]]-sized quantizer: ~5.5% of the
    * lists (7 of 128 at the sf0.1 operating point, the measured
    * recall-0.73 knee), floor 2. Oracle twin: GREATEST(2, (7*K)//128). */
  def nProbeFor(nCentroids: Int): Int = math.max(2, (7 * nCentroids) / 128)

  /** WIDE probe width — the high-recall rung's schedule: ~20% of the
    * lists (26 of 128 at sf0.1 — recall@20 0.91, the same HNSW-class
    * tier the r13 grid-16/10 rung hit at a 62% scan; the scale-aware
    * quantizer reaches it scanning ~21% of rows, and the fraction holds
    * at any N). Oracle twin: GREATEST(4, (26*K)//128). */
  def nProbeWideFor(nCentroids: Int): Int = math.max(4, (26 * nCentroids) / 128)

  /** Spherical-IVF spill threshold: a vector is ALSO indexed under its
    * second-nearest centroid when the two centroid cosines are within
    * this margin — the boundary-vector insurance that buys the last
    * ~5 recall points for ~0.5% extra index rows (measured at sf0.1:
    * recall@20 0.70 → 0.73, scan 5.4% → 5.9%). */
  val SpillDelta: Double = 0.03

  /** Per-centroid L2 norms with the empty-centroid guard (norm 0 → 1,
    * so a degenerate all-zero centroid divides to 0 instead of NaN);
    * the DuckDB oracle mirrors the guard with an identical CASE. */
  private def centNorms(cents: Array[Array[Double]]): Array[Double] =
    cents.map { c =>
      val n = math.sqrt(dotLocal(c, c)); if (n == 0.0) 1.0 else n
    }

  /** Array of SPHERICAL centroid scores dot(v,cⱼ)/|cⱼ| for all K
    * centroids — the cosine-ranking geometry (|v| cancels in any
    * argmax/ordering over j). ONE 2-D literal + a transform loop, so
    * the expression tree stays O(1) in K instead of K unrolled dot
    * expressions (the codegen-method-limit lesson from hyperplaneSigns).
    * Exactness: dot is exact integer arithmetic (quantized grid), |cⱼ|
    * is a correctly-rounded sqrt of an exact integer, and the division
    * is one correctly-rounded IEEE op — bit-identical on any engine,
    * which is what lets the DuckDB oracle replay spherical training. */
  private def sphDots(v: Column, cents: Array[Array[Double]]): Column = {
    val cLit = typedLit(cents.map(_.toSeq).toSeq)
    val nLit = typedLit(centNorms(cents).toSeq)
    transform(sequence(lit(0), lit(cents.length - 1)),
      j => VecFns.dot(v, element_at(cLit, j + 1)) / element_at(nLit, j + 1))
  }

  /** Spherical argmax assignment (ties → lowest index, exactly like
    * [[bestCentroid]]): the right quantizer geometry for COSINE
    * retrieval — raw-dot assignment biases toward long centroids, and
    * the trained lists stop matching the probe metric (measured: the
    * spherical form is worth ~6 recall points at the same scan). */
  private def bestCentroidSph(v: Column, cents: Array[Array[Double]]): Column = {
    val dn = sphDots(v, cents)
    (array_position(dn, array_max(dn)) - 1).cast("int")
  }

  /** The Lloyd trainer: `iters` steps from the deterministic seeds
    * ([[seedCentroids]]), each a spherical assignment
    * ([[bestCentroidSph]]) → per-(cluster, dim) cell aggregate
    * (posexplode/groupBy — one narrow shuffle of K·dim cells) → new
    * centroid. The update is the per-cell TRUNCATED integer mean
    * `sum / n` on `Long`s (DuckDB `//` — identical truncate-toward-zero
    * semantics), so every centroid coordinate stays on the quantized
    * integer grid, all downstream dots stay exact integer arithmetic in
    * doubles (order-independent below 2^53), and the DuckDB oracle
    * replays the training bit-for-bit. Truncation costs < 1 part in
    * ~1e7 per coordinate. Empty clusters keep their previous centroid. */
  def lloydCentroidsSphGrid(q: DataFrame, nCentroids: Int, iters: Int = 1): Array[Array[Double]] = {
    var cents = seedCentroids(q, nCentroids)
    for (_ <- 0 until iters) {
      val assigned = q.withColumn("centroid", bestCentroidSph(col("qv"), cents))
      val cells = assigned
        .select(col("centroid"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy("centroid", "pos")
        .agg(sum(col("v").cast("long")).as("s"), count("*").as("n"))
        .collect() // K·dim cells — driver-side planning data, tiny
      val byC = cells.groupBy(_.getInt(0))
      cents = cents.indices.map { i =>
        byC.get(i) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1)).map(r => (r.getLong(2) / r.getLong(3)).toDouble)
          case None => cents(i)
        }
      }.toArray
    }
    cents
  }

  /** Spherical grid-trained IVF index WITH boundary spill — the
    * scale-aware ANN default (r14). Each vector is indexed under its
    * nearest centroid (by cosine), and ALSO under its second-nearest
    * when the two centroid cosines are within [[SpillDelta]] (boundary
    * vectors are the ones an nProbe cut misses; duplicating just them
    * costs ~0.5% extra rows at δ=0.03 on the uniform fixture).
    *
    * 100 TB shape: K = [[nListsFor]](N) grows with √N, so the probe's
    * nominal scan fraction stays ≈5.5% at ANY corpus size (the r13
    * fixed-K=16 default degraded to a 31% scan); training is
    * `lloydIters` narrow scans against one broadcast 2-D centroid
    * literal (K·dim doubles — planning data); the index is one explode
    * of ≤2 entries per row, persisted partitioned by `centroid` so
    * every probe partition-prunes. Returns (assignment rows
    * (vec_id, qv, centroid), trained centroids). The caller owns
    * caching `emb`'s quantized scan if lloydIters > 1. */
  def ivfIndexSpill(emb: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int, lloydIters: Int = 3)
      : (DataFrame, Array[Array[Double]]) =
    ivfIndexSpillQ(quantized(emb, idCol, vecCol), nCentroids, lloydIters)

  /** [[ivfIndexSpill]] over an ALREADY-quantized (vec_id, qv) frame —
    * the shared core, so a caller that caches the quantized scan
    * ([[withSpillIvf]]) cannot accidentally quantize twice. */
  private def ivfIndexSpillQ(q: DataFrame, nCentroids: Int, lloydIters: Int)
      : (DataFrame, Array[Array[Double]]) = {
    val cents = lloydCentroidsSphGrid(q, nCentroids, lloydIters)
    (assignSpillQ(q, cents), cents)
  }

  /** Spill assignment to FIXED centroids — [[ivfIndexSpillQ]]'s
    * assignment stage without the training, exposed (via
    * [[ivfAssignSpill]]) so a persisted index can be MAINTAINED
    * incrementally: new vectors assign against the already-trained
    * quantizer exactly as the base corpus did, and only their
    * partitions are appended. One narrow scan against K broadcast
    * centroid literals — no shuffle, no retrain.
    *
    * Every index row ALSO carries its vector's `primary` (nearest)
    * centroid: a spill copy is (centroid = i2, primary = i1), the
    * main copy (centroid = i1, primary = i1). That one extra int is
    * what lets a single-query probe dedupe spill double-assignments
    * with a ROW-LOCAL predicate — `centroid = primary OR primary ∉
    * probeSet` keeps exactly one copy of every qualifying vector —
    * instead of a dropDuplicates SHUFFLE per probe (r15: the shuffle
    * was ~130 ms of the warm composed probe's latency; the predicate
    * form probes shuffle-free). */
  private def assignSpillQ(q: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    // dn is consumed by four downstream expressions — materialize it as
    // a column so CollapseProject cannot inline four copies of the
    // K·dim dot loop into one row pass
    val scored = q.withColumn("dn", sphDots(col("qv"), cents))
      .withColumn("m1", array_max(col("dn")))
      .withColumn("i1", (array_position(col("dn"), col("m1")) - 1).cast("int"))
    val masked = scored
      .withColumn("dn2", transform(col("dn"), (x, i) =>
        when(i === col("i1"), lit(Double.NegativeInfinity)).otherwise(x)))
      .withColumn("m2", array_max(col("dn2")))
      .withColumn("i2", (array_position(col("dn2"), col("m2")) - 1).cast("int"))
      // spill test is on TRUE cosine: (dot/|c|)/|v| margins
      .withColumn("spill",
        (col("m1") - col("m2")) / VecFns.norm2(col("qv")) <= lit(SpillDelta))
    masked.select(col("vec_id"), col("qv"),
      explode(when(col("spill"), array(col("i1"), col("i2")))
        .otherwise(array(col("i1")))).as("centroid"),
      col("i1").as("primary"))
  }

  /** Shuffle-free spill dedupe for SINGLE-query probes: the probed
    * rows filtered so exactly one copy of each vector survives — the
    * primary copy when its list is probed too, else the spill copy.
    * Falls back to dropDuplicates for frames without the `primary`
    * column (pre-r15 persisted layouts). The batched join forms keep
    * their aggregate dedupe: there the probe set is per-probe_id, not
    * a row-local literal. */
  private[graft] def probeDeduped(assigned: DataFrame,
                                  probeSet: Seq[Int]): DataFrame = {
    val probed = assigned.where(col("centroid").isin(probeSet: _*))
    if (assigned.columns.contains("primary"))
      probed.where(col("centroid") === col("primary") ||
        !col("primary").isin(probeSet: _*))
    else probed.dropDuplicates("vec_id")
  }

  /** [[assignSpillQ]] over raw (id, vector) columns — the incremental
    * index-maintenance entry ([[graft.GraftIndexes.appendIvf]]). */
  def ivfAssignSpill(emb: DataFrame, idCol: String, vecCol: String,
                     cents: Array[Array[Double]]): DataFrame =
    assignSpillQ(quantized(emb, idCol, vecCol), cents)

  /** Probe a prebuilt [[ivfIndexSpill]]: centroids ranked on the DRIVER
    * by spherical score (K tiny — planning data), the nProbe list
    * filter is a LITERAL isin (partition pruning on a persisted
    * layout), spilled duplicates collapse through [[probeDeduped]]'s
    * row-local `primary` predicate (r15; both copies carry identical
    * qv, so keeping either is exact), then exact cosine rerank. */
  def ivfProbeSpill(assigned: DataFrame, cents: Array[Array[Double]],
                    q: Array[Float], nProbe: Int, k: Int): DataFrame = {
    val qRow = VecFns.quantizeLocal(q)
    val probeSet = spillProbeSet(cents, q, nProbe)
    probeDeduped(assigned, probeSet)
      .transform(exactTopK(typedLit(qRow.toSeq), k))
  }

  /** BATCHED probe of a prebuilt [[ivfIndexSpill]] — the trained-index
    * path for a query SET (offline eval suites, contrastive mining,
    * embedding-dedup sweeps): every probe row gets its top-k in ONE
    * distributed plan, closing the driver-loop gap of the
    * one-`Array[Float]` [[ivfProbeSpill]] entry. Shape mirrors
    * [[knnJoinBucketed]]:
    *
    *  1. each probe row ranks ALL K centroids as an EXPRESSION — the
    *     same [[sphDots]] scores the corpus assignment uses, sorted by
    *     (score desc, index asc) with an explicit comparator and
    *     sliced to nProbe (array work over K·dim planning-size
    *     literals, no shuffle, no driver loop);
    *  2. the exploded (probe_id, centroid) schedule equi-joins the
    *     index on `centroid` — over a [[graft.GraftIndexes.writeIvf]]
    *     layout the broadcast probe side makes this DYNAMIC partition
    *     pruning (plan-audited): only the union of probed partition
    *     directories is read, never the corpus;
    *  3. spill double-assignments collapse with a SHUFFLE-FREE marker
    *     join (r15): a candidate pair is duplicated exactly when the
    *     vector's spill copy AND its primary list are both probed by
    *     the same probe, so a broadcast left-join of the schedule's
    *     (probe_id, centroid) keys against each row's `primary`
    *     decides keep/drop row-locally — keep the primary copy, or
    *     the spill copy when the primary list is unprobed — and the
    *     per-probe top-k window is the ONLY exchange in the plan
    *     (plan-audited; the r14 cut paid a (probe_id, vec_id)
    *     aggregate shuffle here).
    *
    * Scan cost is nProbe/K of the corpus PER PROBE, same as the
    * single-query path; the join visits each (probe, candidate) pair
    * once. The exploded schedule is broadcast (right for probe sets up
    * to millions of rows — nProbe ints + one quantized vector each).
    * Returns (probe_id, vec_id, cos, rn) like [[knnJoin]]; the probe's
    * own row is NOT excluded (parity with [[ivfProbeSpill]], whose
    * query is free to be a corpus member). */
  def ivfProbeSpillJoin(assigned: DataFrame, cents: Array[Array[Double]],
                        probes: DataFrame, idCol: String, vecCol: String,
                        nProbe: Int, k: Int): DataFrame = {
    val schedule = spillScheduleFrame(probes, idCol, vecCol, cents, nProbe)
    val cand = scheduleDeduped(assigned.join(broadcast(schedule), "centroid"),
        schedule)
      .select(col("probe_id"), col("vec_id"),
        round(VecFns.cosineQ(col("pv"), col("qv")), 6).as("cos"))
    val w = Window.partitionBy(col("probe_id")).orderBy(desc("cos"), asc("vec_id"))
    cand.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select("probe_id", "vec_id", "cos", "rn")
  }

  /** Shuffle-free spill dedupe for the BATCHED joins — the per-probe
    * twin of [[probeDeduped]]'s predicate: a (probe, vector) pair is
    * duplicated exactly when the vector's spill copy and its primary
    * list are BOTH in that probe's schedule, so marking each
    * candidate row with "is my primary list probed by this probe?"
    * (a broadcast left-join of the schedule's (probe_id, centroid)
    * keys against the row's `primary`) decides keep/drop row-locally:
    * keep the primary copy always, the spill copy only when its
    * primary list is unprobed. Falls back to a (probe_id, vec_id)
    * max-agnostic dropDuplicates for indexes without the `primary`
    * column (pre-r15 frames). */
  private[graft] def scheduleDeduped(cand: DataFrame,
                                     schedule: DataFrame): DataFrame =
    if (!cand.columns.contains("primary")) cand.dropDuplicates("probe_id", "vec_id")
    else {
      val keys = schedule.select(col("probe_id"),
        col("centroid").as("primary"), lit(1).as("__pin"))
      cand.join(broadcast(keys), Seq("probe_id", "primary"), "left")
        .where(col("centroid") === col("primary") || col("__pin").isNull)
        .drop("__pin")
    }

  /** The batched probes' exploded list schedule — ONE derivation for
    * [[ivfProbeSpillJoin]] and [[ivfSq8ProbeJoin]]: each probe row
    * ranks ALL K centroids as an expression (the same [[sphDots]] the
    * corpus assignment uses) sorted by an explicit (score desc, idx
    * asc) comparator — not double negation: -0.0 vs 0.0 must not
    * re-order vs the SQL row_number twin — sliced to nProbe and
    * exploded to (probe_id, pv, centroid) rows. */
  private[graft] def spillScheduleFrame(probes: DataFrame, idCol: String,
                                        vecCol: String, cents: Array[Array[Double]],
                                        nProbe: Int): DataFrame = {
    // the long cast of a non-numeric id yields NULL probe_ids, which
    // would collapse every probe into ONE window partition and return
    // wrong per-probe top-k with no error (ADVICE r15) — fail loudly
    // at plan time instead
    import org.apache.spark.sql.types._
    val idType = probes.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"batched-probe id column `$idCol` must be integral (got $idType): " +
        "a silent long cast would null non-numeric ids and merge their " +
        "probes into one window partition")
    val q = probes.select(col(idCol).cast("long").as("probe_id"),
      VecFns.quantize(col(vecCol)).as("pv"))
    val scored = q.withColumn("dn",
      transform(sphDots(col("pv"), cents), (x, i) =>
        struct(x.as("s"), i.as("i"))))
    val cmp = (l: Column, r: Column) =>
      when(l("s") > r("s"), -1).when(l("s") < r("s"), 1)
        .otherwise(when(l("i") < r("i"), -1).when(l("i") > r("i"), 1)
          .otherwise(0))
    scored
      .withColumn("probe_list",
        transform(slice(array_sort(col("dn"), cmp), 1, nProbe), e => e("i")))
      .select(col("probe_id"), col("pv"),
        explode(col("probe_list")).as("centroid"))
  }

  /** [[spillScheduleFrame]] with the probe's own SQ8 codes riding along
    * as `p8` (zero-norm probe rows dropped — no direction to rank):
    * the shared schedule of the code-ranked batched probes
    * ([[ivfSq8ProbeJoin]] and the byte-narrow split form
    * [[graft.GraftIndexes.ivfSq8ProbeJoinSplit]]). */
  private[graft] def sq8ScheduleFrame(probes: DataFrame, idCol: String,
                                      vecCol: String,
                                      cents: Array[Array[Double]],
                                      nProbe: Int): DataFrame =
    spillScheduleFrame(probes, idCol, vecCol, cents, nProbe)
      .withColumn("pm", sq8Max(col("pv")))
      .where(col("pm") > 0)
      .withColumn("p8", sq8Codes(col("pv"), col("pm")))
      .drop("pm")

  /** BATCHED probe through the SQ8 code path — [[ivfProbeSpillJoin]]'s
    * composed twin: the schedule equi-joins the index on `centroid`
    * exactly as the exact form does (broadcast → dynamic partition
    * pruning over a persisted layout), candidates are first ranked per
    * probe by CODE cosine (the probe's own int8 codes ride the
    * schedule as an expression over pv; an index that already CARRIES
    * `c8` — a [[graft.GraftIndexes.writeIvfSq8]] open — is ranked on
    * its stored codes instead of re-deriving them per candidate),
    * only the per-probe top k·rerank survive to the exact rerank, and
    * a second per-probe window takes the top k.
    *
    * Byte-cost honesty: this is ONE plan, so over a persisted layout
    * the scan reads qv for every candidate (the rerank needs it in
    * the same pass) — the code-rank here saves RANKING work, not scan
    * bytes. The byte-narrow scan shapes are the single-query forms,
    * where the candidate cut is a bounded driver literal
    * ([[graft.GraftIndexes.ivfSq8ProbeSplit]]'s two-phase read,
    * [[ivfSq8Probe]] over a cached coded index); a batched job
    * that must stay byte-narrow at 100 TB should run the code-rank
    * pass as its own job and join the bounded winners back.
    *
    * Zero-norm probe rows drop (no direction to rank — the
    * [[sq8TopK]] query guard, mirrored by the oracle's qm > 0
    * filter); zero-norm corpus rows drop the same way. Returns
    * (probe_id, vec_id, cos, rn) like [[ivfProbeSpillJoin]]. */
  def ivfSq8ProbeJoin(assigned: DataFrame, cents: Array[Array[Double]],
                      probes: DataFrame, idCol: String, vecCol: String,
                      nProbe: Int, k: Int, rerank: Int = 4): DataFrame = {
    val schedule = sq8ScheduleFrame(probes, idCol, vecCol, cents, nProbe)
    val sched = broadcast(schedule)
    val hasStoredCodes = assigned.columns.contains("c8")
    val base =
      if (hasStoredCodes) assigned.join(sched, "centroid")
        .withColumn("a8", col("c8").cast("array<double>"))
      else assigned.join(sched, "centroid")
        .withColumn("qm", sq8Max(col("qv")))
        .where(col("qm") > 0)
        .withColumn("a8", sq8Codes(col("qv"), col("qm")))
    val cand = scheduleDeduped(base, schedule)
      .select(col("probe_id"), col("vec_id"), col("qv"), col("pv"),
        round(VecFns.cosineQ(col("a8"), col("p8")), 6).as("approx"))
    val wa = Window.partitionBy(col("probe_id"))
      .orderBy(desc("approx"), asc("vec_id"))
    val we = Window.partitionBy(col("probe_id"))
      .orderBy(desc("cos"), asc("vec_id"))
    cand.withColumn("ra", row_number().over(wa)).where(col("ra") <= k * rerank)
      .select(col("probe_id"), col("vec_id"),
        round(VecFns.cosineQ(col("qv"), col("pv")), 6).as("cos"))
      .withColumn("rn", row_number().over(we)).where(col("rn") <= k)
      .select("probe_id", "vec_id", "cos", "rn")
  }

  /** The cold spill-IVF scope of the registered IVF rows: quantize
    * the corpus ONCE and cache it for the call (the Lloyd passes and
    * the final assignment re-scan it lloydIters + 1 times), train +
    * spill-assign ([[ivfIndexSpill]]), run `probe` on (quantized
    * corpus, assignment, centroids) — a probe that trains codebooks
    * ([[pqTrain]] on the quantized corpus, [[rpqTrain]] on the
    * assignment) does so inside the scope — then snapshot its ≤k-row
    * result and release the cache ([[Dedup.scoped]]). With
    * `materialize = false` nothing is cached and the lazy plan comes
    * back (plan audits). Serving sessions build ([[ivfIndexSpill]]) or
    * open ([[graft.GraftIndexes.openIvf]]) the index once and call the
    * probe directly. */
  def withSpillIvf(emb: DataFrame, idCol: String, vecCol: String,
                   nCentroids: Int, lloydIters: Int = 3,
                   materialize: Boolean = true)(
      probe: (DataFrame, DataFrame, Array[Array[Double]]) => DataFrame): DataFrame = {
    val qd = Dedup.maybeCache(quantized(emb, idCol, vecCol), materialize)
    val (assigned, cents) = ivfIndexSpillQ(qd, nCentroids, lloydIters)
    Dedup.scoped(materialize, qd)(probe(qd, assigned, cents))
  }

  /** The nProbe spherically-nearest centroid indices for a query —
    * [[ivfProbeSpill]]'s list schedule, exposed so the bench can count
    * the SCANNED rows of a probe (the ≤6%-scan pin) without re-deriving
    * the ranking. */
  def spillProbeSet(cents: Array[Array[Double]], q: Array[Float],
                    nProbe: Int): Seq[Int] = {
    val qRow = VecFns.quantizeLocal(q)
    val norms = centNorms(cents)
    cents.zipWithIndex
      .map { case (cv, i) => (dotLocal(qRow, cv) / norms(i), i) }
      .sortBy { case (d, i) => (-d, i) }.take(nProbe).map(_._2).toSeq
  }

  /** IVF+SQ8 probe — the composed 100 TB stack (FAISS's IVF+SQ design):
    * the spill IVF prunes ROWS (nProbe lists ≈ 5.9% nominal scan), the
    * SQ8 codes shrink the BYTES of what remains (ADC over int8 codes;
    * with [[graft.GraftIndexes]]-persisted codes partitioned by
    * centroid the probe reads nProbe partitions × 1 byte/dim), and the
    * exact rerank touches only k·rerank full vectors. Same dedup rule
    * as [[ivfProbeSpill]] (spill double-assignments keep one row per
    * vec_id).
    *
    * An index whose rows already CARRY their codes in a `c8` column (an
    * open — cached or not — of the [[graft.GraftIndexes.writeIvfSq8]]
    * layout) is ranked on the STORED codes — the warm serving form,
    * and at disk scale the stored codes are the scan column (the byte
    * claim). Zero-norm rows were dropped at coding time there. Any
    * other index derives the codes from qv per probe call, dropping
    * zero-norm candidates first ([[sq8Codes]]'s guard). The two forms
    * are bit-identical (codes are integral values; the byte→double
    * cast is exact — spec-pinned), the same choice [[ivfSq8ProbeJoin]]
    * makes. */
  def ivfSq8Probe(assigned: DataFrame, cents: Array[Array[Double]],
                  q: Array[Float], nProbe: Int, k: Int,
                  rerank: Int = 4): DataFrame = {
    val qq = VecFns.quantizeLocal(q)
    val q8 = VecFns.sq8CodesLocal(qq) match {
      case Some(c) => c
      case None => return emptyTopK(assigned)
    }
    val probed = probeDeduped(assigned, spillProbeSet(cents, q, nProbe))
    val (cand, codes) =
      if (assigned.columns.contains("c8"))
        (probed, col("c8").cast("array<double>"))
      else
        (probed.withColumn("qm", sq8Max(col("qv"))).where(col("qm") > 0),
          sq8Codes(col("qv"), col("qm")))
    cand.select(col("vec_id"), col("qv"),
        round(VecFns.cosineQ(codes, typedLit(q8)), 6).as("approx"))
      .orderBy(desc("approx"), asc("vec_id")).limit(k * rerank)
      .transform(exactTopK(typedLit(qq), k))
  }

  // ---- Product quantization (PQ) — the byte rung BELOW SQ8 ----

  /** Sub-vector j of a quantized vector (1-based slice). */
  private def subSlice(v: Column, j: Int, dsub: Int): Column =
    slice(v, j * dsub + 1, dsub)

  /** Nearest sub-centroid index (euclidean, ties → lowest index — the
    * first occurrence [[org.apache.spark.sql.functions.array_position]]
    * takes, mirroring the oracle's (d ASC, i ASC) row_number). Ranks by
    * the SHIFTED squared distance `c·c − 2·s·c` — the row-constant s·s
    * term shifts every candidate equally, so dropping it preserves the
    * argmin while halving the work; both terms are exact integers
    * (grid values ≤1e7, dsub ≤ 8-dim sums ≤ 1.6e15 < 2⁵³), so the rank
    * is engine-independent and the DuckDB twin uses the same shifted
    * form. The codebook rides as ONE array-of-arrays literal under a
    * transform (a per-centroid expression fan-out blew past the
    * codegen method limit and fell back to interpreted eval). */
  private def bestSubCode(s: Column, cents: Array[Array[Double]]): Column = {
    val cbLit = typedLit(cents.map(_.toSeq).toSeq)
    val n2Lit = typedLit(cents.map(cv => dotLocal(cv, cv)).toSeq)
    val d = zip_with(n2Lit, transform(cbLit, cv => VecFns.dot(s, cv)),
      (n2, dp) => n2 - lit(2.0) * dp)
    (array_position(d, array_min(d)) - 1).cast("int")
  }

  /** Train PQ codebooks (the FAISS PQ design, Jégou et al. 2011): the
    * dim-dimensional grid splits into `m` contiguous subspaces of
    * dim/m dims; each runs its own `iters`-step EUCLIDEAN Lloyd on the
    * integer grid under [[lloydCentroidsSphGrid]]'s rules
    * (deterministic lowest-id seeds, truncated-integer means, empty
    * cells keep their seed) — every arithmetic step exact, so the
    * DuckDB replay is bit-for-bit. Returns books(j)(i) = sub-centroid
    * i of subspace j (m·ksub·dsub integral doubles — planning data).
    * Training is (iters+1) scans per subspace; cache the quantized
    * corpus for the call's duration (the [[withSpillIvf]] doctrine).
    * At 100 TB train on a sample — codebook quality converges long
    * before the corpus is exhausted; ENCODING stays corpus-wide. */
  def pqTrain(qd: DataFrame, dim: Int, m: Int, ksub: Int,
              iters: Int): Array[Array[Array[Double]]] = {
    val dsub = dim / m
    require(m * dsub == dim, s"dim $dim not divisible into $m subspaces")
    // ONE fused job per training step for ALL m subspaces (r19; the
    // r17 form ran the m trainings as concurrent per-subspace jobs —
    // 8 seed collects + 8·iters cell collects of ~100 ms driver
    // latency each, and at sf0.1 the rPQ rung's build was ~44 such
    // micro-jobs; guide §1.2 — the per-JOB fixed cost was the cost).
    // Arithmetic is unchanged and exact: the same bestSubCode
    // assignment per subspace, the same truncated-integer cell means,
    // empty cells keep their seed — the DuckDB training replay pins
    // the values bit-for-bit.
    //
    // seeds: every subspace's seeds are slices of the SAME ksub
    // lowest-id vectors — collect them once, slice driver-side
    val seedRows = qd.orderBy("vec_id").limit(ksub)
      .collect().map(_.getSeq[Double](1).toArray)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seedRows.map(_.slice(j * dsub, (j + 1) * dsub)))
    for (_ <- 0 until iters) {
      // per-row: m (subspace, nearest-code, sub-vector) structs explode
      // into per-(subspace, code, dim) integer cell sums — one narrow
      // shuffle of m·ksub·dsub cells, one collect
      val subCols = (0 until m).map { j =>
        struct(lit(j).as("sub"),
          bestSubCode(subSlice(col("qv"), j, dsub), books(j)).as("centroid"),
          subSlice(col("qv"), j, dsub).as("sv"))
      }
      val cells = qd
        .select(explode(array(subCols: _*)).as("a"))
        .select(col("a.sub").as("sub"), col("a.centroid").as("centroid"),
          posexplode(col("a.sv")).as(Seq("pos", "v")))
        .groupBy("sub", "centroid", "pos")
        .agg(sum(col("v").cast("long")).as("s"), count("*").as("n"))
        .collect() // m·ksub·dsub cells — driver-side planning data, tiny
      val byJC = cells.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = Array.tabulate(m) { j =>
        books(j).indices.map { i =>
          byJC.get((j, i)) match {
            case Some(rows) => rows.sortBy(_.getInt(2))
              .map(r => (r.getLong(3) / r.getLong(4)).toDouble).toArray
            case None => books(j)(i) // empty cell keeps its seed
          }
        }.toArray
      }
    }
    books
  }

  /** Per-row PQ code array: element j = nearest sub-centroid of
    * subspace j. One byte per SUBSPACE (m bytes/vector — 8× narrower
    * than SQ8's dim bytes at m = dim/8, 64× narrower than the 8-byte
    * grid), the persisted scan column of the PQ rung. */
  private[graft] def pqCodeExpr(v: Column, books: Array[Array[Array[Double]]],
                                dsub: Int): Column =
    array(books.zipWithIndex.map { case (cb, j) =>
      bestSubCode(subSlice(v, j, dsub), cb).cast("byte")
    }: _*)

  /** ADC rank + exact rerank over a coded frame — the probe tail shared
    * by the in-memory rung ([[pqTopK]]) and the persisted layer
    * ([[graft.GraftIndexes.pqProbe]], whose codes come off disk):
    * approximate cosine reconstructs each candidate as its sub-centroid
    * concatenation via two per-(subspace, code) LUTs riding the plan as
    * LITERALS — numerator Σⱼ q⁽ʲ⁾·c⁽ʲ⁾[code], norm² Σⱼ |c⁽ʲ⁾[code]|²,
    * both exact-integer sums (≤ m·8e14 < 2⁵³) — so the scan touches
    * ONLY the m-byte code column; the top k·rerank rows are
    * exact-rescored on their full vectors. Zero-norm reconstructions
    * drop (no direction to rank — the SQ8 qm > 0 rule's PQ analog,
    * mirrored by the oracle's den2 > 0 filter). `coded` must carry
    * (vec_id, pcode) and, for the rerank, qv — [[pqRankIds]] is the
    * qv-free phase-1 for split reads. */
  private[graft] def pqRankIds(coded: DataFrame,
                               books: Array[Array[Array[Double]]],
                               qq: Array[Double], cut: Int): DataFrame = {
    val (num, den2) = adcTerms(books, qq)
    adcRankIds(coded.withColumn("num", num).withColumn("den2", den2), qq, cut)
  }

  /** The flat ADC (numerator, norm²) columns over `pcode`: Σⱼ of the
    * per-subspace query×book dot LUT and book norm² LUT, each a
    * literal indexed by the code byte — shared by [[pqRankIds]] and the
    * residual [[rpqProbeCoded]], which adds its per-list terms. */
  private def adcTerms(books: Array[Array[Array[Double]]],
                       qq: Array[Double]): (Column, Column) = {
    val dsub = books.head.head.length
    def lutSum(luts: Array[Seq[Double]]): Column =
      luts.zipWithIndex.map { case (l, j) =>
        element_at(typedLit(l), col("pcode")(j).cast("int") + 1)
      }.reduce(_ + _)
    (lutSum(books.zipWithIndex.map { case (cb, j) =>
      val qs = qq.slice(j * dsub, (j + 1) * dsub)
      cb.map(cv => dotLocal(qs, cv)).toSeq
    }), lutSum(books.map(_.map(cv => dotLocal(cv, cv)).toSeq)))
  }

  /** Rank a frame carrying ADC `num`/`den2` columns by approx cosine
    * (zero-norm reconstructions drop; round 6, vec_id tie-break) and
    * keep the top `cut` ids. */
  private def adcRankIds(scored: DataFrame, qq: Array[Double], cut: Int): DataFrame =
    scored.where(col("den2") > 0)
      .select(col("vec_id"), round(col("num") /
        (lit(math.sqrt(dotLocal(qq, qq))) * sqrt(col("den2"))), 6).as("approx"))
      .orderBy(desc("approx"), asc("vec_id")).limit(cut)
      .select("vec_id")

  /** ADC rank + exact rerank over a coded frame that CARRIES its
    * vectors (vec_id, qv, pcode) — the warm serving form (train/encode
    * once, probe per query), and the tail [[pqTopK]] runs cold. A
    * persisted code layer (codes only, no qv) probes through
    * [[graft.GraftIndexes.pqProbe]] instead. */
  def pqProbeCoded(coded: DataFrame, books: Array[Array[Array[Double]]],
                   q: Array[Float], k: Int, rerank: Int = 4): DataFrame = {
    val qq = VecFns.quantizeLocal(q)
    if (dotLocal(qq, qq) == 0) return emptyTopK(coded) // no direction to rank
    val ids = pqRankIds(coded, books, qq, k * rerank)
    coded.join(broadcast(ids), "vec_id")
      .transform(exactTopK(typedLit(qq.toSeq), k))
  }

  /** PQ cosine top-k — the 100 TB byte ladder's rung BELOW SQ8: scan
    * m bytes per vector (vs SQ8's dim bytes, vs the grid's 8·dim),
    * ADC-rank, exact-rerank the top k·rerank. Plan shape mirrors
    * [[sq8TopK]]: narrow scan → TakeOrdered → bounded rescore. Cold
    * form trains the codebooks in-call; serving persists them with
    * [[graft.GraftIndexes.writePq]]. */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             q: Array[Float], k: Int, dim: Int, m: Int = 8, ksub: Int = 16,
             iters: Int = 1, rerank: Int = 4,
             materialize: Boolean = true): DataFrame = {
    val qd = Dedup.maybeCache(quantized(emb, idCol, vecCol), materialize)
    val books = pqTrain(qd, dim, m, ksub, iters)
    val coded = qd.withColumn("pcode", pqCodeExpr(col("qv"), books, dim / m))
    Dedup.scoped(materialize, qd)(pqProbeCoded(coded, books, q, k, rerank))
  }

  /** IVF×PQ — the composed DEEP-byte stack (FAISS IVFPQ): the spill
    * IVF prunes ROWS (nProbe of K lists), PQ shrinks the BYTES of what
    * remains to m per vector (vs SQ8's dim — the composition below
    * [[ivfSq8Probe]] on the byte ladder), and the exact rerank touches
    * only k·rerank full vectors. Books train on the FULL corpus
    * (codebook quality is corpus-global; per-list residual codebooks
    * are the next refinement and change the oracle contract). Same
    * spill dedupe as every probe of the assigned frame. */
  def ivfPqProbe(assigned: DataFrame, cents: Array[Array[Double]],
                 books: Array[Array[Array[Double]]], q: Array[Float],
                 nProbe: Int, k: Int, rerank: Int = 8): DataFrame = {
    val probeSet = spillProbeSet(cents, q, nProbe)
    val dim = books.length * books.head.head.length
    val coded = probeDeduped(assigned, probeSet)
      .withColumn("pcode", pqCodeExpr(col("qv"), books, dim / books.length))
    pqProbeCoded(coded, books, q, k, rerank)
  }

  // ---- Residual IVF×PQ (rPQ) — recall lift at IDENTICAL byte cost ----

  /** Residual view of an assignment frame: adds `rqv` = qv −
    * cent[centroid], elementwise on the integer grid. The spill
    * centroids are truncated-integer means (integral doubles), so
    * residuals are EXACT integers and the training/encoding replay
    * stays bit-for-bit in the DuckDB oracle. A spilled copy's residual
    * is against the list HOLDING the copy (FAISS IVFPQ's invariant:
    * codes reconstruct against their own list's centroid). */
  private def residualFrame(assigned: DataFrame,
                            cents: Array[Array[Double]]): DataFrame = {
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    assigned.withColumn("rqv",
      zip_with(col("qv"), element_at(centsLit, col("centroid") + 1),
        (v, c) => v - c))
  }

  /** Train residual-PQ codebooks (Jégou et al. 2011 §IV — IVFADC
    * encodes residuals, not raw vectors): the SAME per-subspace Lloyd
    * as [[pqTrain]], but over (qv − own-list centroid). Residuals
    * cluster tightly around 0 regardless of WHICH list a vector sits
    * in, so a corpus-global codebook spends its 16 sub-centroids on
    * local structure instead of re-describing coarse position — the
    * measured recall lift over [[pqTrain]] books at identical bytes.
    * Trains on PRIMARY rows only: spill duplicates would make the
    * lowest-vec_id seed rows ambiguous (two rows, one id, two
    * residuals) and double-weight boundary vectors. */
  def rpqTrain(assigned: DataFrame, cents: Array[Array[Double]], dim: Int,
               m: Int = 8, ksub: Int = 16,
               iters: Int = 1): Array[Array[Array[Double]]] = {
    require(assigned.columns.contains("primary"),
      "rpqTrain needs a spill-IVF assignment frame (with `primary`)")
    // materialize the residual training frame ONCE: each of the m
    // subspace trainings scans it (iters+1)×, and uncached every scan
    // would recompute the upstream spill ASSIGNMENT (K·dim dots per
    // row) plus the K·dim-literal residual subtraction — measured 9.5 s
    // → ~2 s for the registered rung at the sf0.1 fixture
    val rqd = residualFrame(
        assigned.where(col("centroid") === col("primary")), cents)
      .select(col("vec_id"), col("rqv").as("qv")).cache()
    try {
      rqd.count() // fill the cache before the concurrent trainings race it
      pqTrain(rqd, dim, m, ksub, iters)
    } finally { rqd.unpersist(): Unit }
  }

  /** Probe an IVF assignment with RESIDUAL codebooks — same bytes as
    * [[ivfPqProbe]] (m code bytes per scanned row + k·rerank exact
    * vectors), higher recall. ADC reconstructs a candidate in list L
    * as cent_L + concat_j(book_j[code_j]), so the approx cosine
    * decomposes into per-list planning scalars (q·cent_L, |cent_L|²),
    * the query×book LUT, and a per-(list, subspace, code) CROSS LUT
    * (cent_L⁽ʲ⁾·book entries) riding the plan as one map literal over
    * the probed lists — nProbe·m·ksub doubles, planning data. Every
    * term is an exact-integer product on the grid; both engines sum in
    * the same order, so round-6 ranks are engine-independent. */
  def ivfRpqProbe(assigned: DataFrame, cents: Array[Array[Double]],
                  books: Array[Array[Array[Double]]], q: Array[Float],
                  nProbe: Int, k: Int, rerank: Int = 8): DataFrame = {
    val probeSet = spillProbeSet(cents, q, nProbe)
    // probe-side residuals only ever subtract a PROBED list's centroid
    // — carry an nProbe-sized map literal, not the full K·dim array
    // (the K=128 full literal rode the plan twice — rank + rerank scans
    // — and its codegen dominated the probe wall at small fixtures)
    val probedCents: Map[Int, Seq[Double]] =
      probeSet.map(l => l -> cents(l).toSeq).toMap
    val coded = probeDeduped(assigned, probeSet)
      .withColumn("rqv", zip_with(col("qv"),
        element_at(typedLit(probedCents), col("centroid")), (v, c) => v - c))
      .withColumn("pcode",
        pqCodeExpr(col("rqv"), books, books.head.head.length))
    rpqProbeCoded(coded, cents, books, q, probeSet, k, rerank)
  }

  /** [[ivfRpqProbe]] over an ALREADY-CODED layout — the persisted form
    * ([[graft.GraftIndexes.writeRpq]] stores (vec_id, qv, pcode,
    * primary, centroid) partitioned by list): probe-prune + spill-
    * dedupe, then score the stored codes directly. */
  def rpqProbeLayout(assign: DataFrame, cents: Array[Array[Double]],
                     books: Array[Array[Array[Double]]], q: Array[Float],
                     nProbe: Int, k: Int, rerank: Int = 8): DataFrame = {
    val probeSet = spillProbeSet(cents, q, nProbe)
    rpqProbeCoded(probeDeduped(assign, probeSet), cents, books, q,
      probeSet, k, rerank)
  }

  /** Residual-ADC rank + exact rerank over a frame carrying (vec_id,
    * qv, centroid, pcode) — the scoring tail shared by the in-memory
    * rung and the persisted layout (one derivation, so the two cannot
    * drift on what a residual score is). */
  private[graft] def rpqProbeCoded(coded: DataFrame,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      q: Array[Float], probeSet: Seq[Int], k: Int,
      rerank: Int): DataFrame = {
    val qq = VecFns.quantizeLocal(q)
    if (dotLocal(qq, qq) == 0)
      return emptyTopK(coded.select(col("vec_id"), col("qv")))
    val m = books.length
    val dsub = books.head.head.length
    val crossLut: Map[Int, Seq[Seq[Double]]] = probeSet.map { l =>
      l -> books.zipWithIndex.map { case (cb, j) =>
        val cs = cents(l).slice(j * dsub, (j + 1) * dsub)
        cb.map(cv => dotLocal(cs, cv)).toSeq
      }.toSeq
    }.toMap
    val qdotc: Map[Int, Double] =
      probeSet.map(l => l -> dotLocal(qq, cents(l))).toMap
    val cn2: Map[Int, Double] =
      probeSet.map(l => l -> dotLocal(cents(l), cents(l))).toMap
    val crossCol = (0 until m).map { j =>
      element_at(element_at(element_at(typedLit(crossLut), col("centroid")),
        j + 1), col("pcode")(j).cast("int") + 1)
    }.reduce(_ + _)
    val (num, den2) = adcTerms(books, qq)
    val ranked = adcRankIds(coded
      .withColumn("num", element_at(typedLit(qdotc), col("centroid")) + num)
      .withColumn("den2", element_at(typedLit(cn2), col("centroid")) +
        lit(2.0) * crossCol + den2), qq, k * rerank)
    coded.join(broadcast(ranked), "vec_id")
      .transform(exactTopK(typedLit(qq.toSeq), k))
  }

  /** The residual layout's row projection — ONE derivation shared by
    * [[graft.GraftIndexes.writeRpq]] and [[graft.GraftIndexes.appendIvf]]
    * (the ivfSq8Rows doctrine): each assignment row coded against ITS
    * list's centroid. */
  private[graft] def rpqRows(asg: DataFrame, cents: Array[Array[Double]],
                             books: Array[Array[Array[Double]]]): DataFrame =
    residualFrame(asg, cents)
      .withColumn("pcode",
        pqCodeExpr(col("rqv"), books, books.head.head.length))
      .select("vec_id", "qv", "pcode", "primary", "centroid")

  /** Deterministic coarse-quantizer seeds: the K lowest-id vectors. */
  private def seedCentroids(q: DataFrame, nCentroids: Int): Array[Array[Double]] =
    q.orderBy("vec_id").limit(nCentroids)
      .collect().map(_.getSeq[Double](1).toArray)

  // argmax over a dot-product ARRAY; a pairwise when-reduce would
  // re-reference both branches per step and grow the tree 2^K
  // (round-4 bench: 683 s at sf0.1 before this form). array_position
  // takes the FIRST occurrence of the max — ties → lowest index.
  private def bestCentroid(v: Column, cents: Array[Array[Double]]): Column = {
    val dots = array(cents.map(cv => VecFns.dot(v, typedLit(cv))): _*)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  private def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }; s
  }

  /** SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540 — "SemDeDup: data-efficient learning at web-scale
    * through semantic deduplication"): coarse k-means clusters scope the
    * pairwise cosine check, so the quadratic work is per-cluster, never
    * corpus-wide. Deterministic keep policy: a vector SURVIVES iff no
    * LOWER-id vector in its cluster has cosine ≥ tau to it (the paper
    * keeps one representative per semantic-duplicate neighborhood; the
    * lowest-id rule makes the representative reproducible). Returns
    * (vec_id, centroid) survivors ordered by vec_id.
    *
    * Scale shape: assignment is a narrow scan against K broadcast
    * centroid literals; the duplicate probe is an equi-join on centroid
    * — shuffle on the cluster key only — and pair volume is Σ|cluster|²,
    * bounded by scaling nCentroids with the corpus (the paper runs 50k
    * clusters for LAION-scale). The centroids are the seeds (first-K
    * vectors), which keeps the assignment SQL-reproducible — the DuckDB
    * oracle replays it exactly. */
  def semanticDedupSurvivors(emb: DataFrame, idCol: String, vecCol: String,
                             nCentroids: Int, tau: Double,
                             materialize: Boolean = true): DataFrame = {
    val q = Dedup.maybeCache(quantized(emb, idCol, vecCol), materialize)
    val asg = Dedup.maybeCache(q.withColumn("centroid",
      bestCentroid(col("qv"), seedCentroids(q, nCentroids))), materialize)
    val a = asg.select(col("centroid"), col("vec_id").as("a"), col("qv").as("qa"))
    val b = asg.select(col("centroid"), col("vec_id").as("b"), col("qv").as("qb"))
    val dups = a.join(b, "centroid").where(col("a") < col("b"))
      .where(round(VecFns.cosineQ(col("qa"), col("qb")), 6) >= tau)
      .select(col("b").as("vec_id")).distinct()
    Dedup.scoped(materialize, q, asg)(
      asg.join(dups, Seq("vec_id"), "left_anti")
        .select("vec_id", "centroid").orderBy("vec_id"))
  }

  /** Query-independent ANN index: quantized vectors with their LSH
    * bucket, computed ONCE. A serving session caches this (or persists it
    * partitioned by bucket, making every probe partition pruning); the
    * per-query work is then [[annTopKWith]]'s filtered scan + rerank. */
  def annIndex(emb: DataFrame, idCol: String, vecCol: String,
               dim: Int, nBits: Int): DataFrame =
    quantized(emb, idCol, vecCol)
      .withColumn("bucket", lshBucket(col("qv"), dim, nBits))

  /** Probe a prebuilt [[annIndex]]: candidates share the query's bucket,
    * then exact rerank. Column form — the bucket/quantization ride as
    * (unfoldable) expressions evaluated per row; when the raw query
    * ARRAY is in hand, prefer the overload below. */
  def annTopKWith(idx: DataFrame, queryVec: Column,
                  dim: Int, nBits: Int, k: Int): DataFrame = {
    val qvec = VecFns.quantize(queryVec)
    val qBucket = lshBucket(qvec, dim, nBits)
    idx.where(col("bucket") === qBucket)
      .transform(exactTopK(qvec, k))
  }

  /** Array-query probe: bucket and quantization computed ON THE DRIVER
    * (bit-equal twins [[queryBucket]] / `VecFns.quantizeLocal`, pinned
    * in AnnRecallSpec), so the bucket filter is a LITERAL — cached
    * batch stats and persisted partitions can prune on it, and the scan
    * stops re-deriving the query's own bucket/quantization per row (the
    * column form embeds higher-order functions Catalyst cannot
    * constant-fold — that re-derivation was the bulk of warm ANN probe
    * latency: 89 ms → ~25 ms on the resident sf0.1 index). */
  def annTopKWith(idx: DataFrame, q: Array[Float],
                  dim: Int, nBits: Int, k: Int): DataFrame = {
    val qq = graft.functions.VecFns.quantizeLocal(q)
    idx.where(col("bucket") === queryBucket(q, dim, nBits))
      .transform(exactTopK(typedLit(qq.toSeq), k))
  }

  /** Bucketed ANN, cold form — builds the index inline.
    * (Recall < 1 by construction; the exact path remains the oracle.) */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String, queryVec: Column,
              dim: Int, nBits: Int, k: Int): DataFrame =
    annTopKWith(annIndex(emb, idCol, vecCol, dim, nBits), queryVec, dim, nBits, k)

  /** Array-query cold form (driver-literal bucket + quantization). */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String, q: Array[Float],
              dim: Int, nBits: Int, k: Int): DataFrame =
    annTopKWith(annIndex(emb, idCol, vecCol, dim, nBits), q, dim, nBits, k)

  /** Driver-side twin of [[lshBucket]] over a raw query vector: the same
    * HALF_UP ×1e7 quantization grid and the same strict left-to-right
    * sign projections, so the returned bucket equals the column
    * expression's value bit-for-bit (pinned in AnnRecallSpec). Planning
    * one query's bucket is driver work, exactly like the query-vector
    * quantization in Quran.searchWith. */
  def queryBucket(q: Array[Float], dim: Int, nBits: Int, seed: String = ""): Long = {
    val qq = q.map(x => BigDecimal(x.toDouble * VecFns.Scale)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble)
    (0 until nBits).map { j =>
      val signs = hyperplaneSigns(dim, j, seed)
      var proj = 0.0
      var i = 0
      while (i < dim) { proj += qq(i) * signs(i); i += 1 }
      if (proj > 0) 1L << j else 0L
    }.sum
  }

  /** Multi-probe schedule: the query's bucket plus every bucket within
    * Hamming distance `hamming` of it (the classic multi-probe LSH bit
    * flips). Enumerated on the driver — sum of C(nBits, i) values, i ≤
    * hamming — so the probe compiles to an `isin` that partition-prunes
    * a [[graft.GraftIndexes.writeAnn]] layout and batch-prunes a cached
    * index, instead of a bit_count predicate that forces a full scan. */
  def probeBuckets(q: Array[Float], dim: Int, nBits: Int, hamming: Int,
                   seed: String = ""): Seq[Long] = {
    val qb = queryBucket(q, dim, nBits, seed)
    (0 to hamming).flatMap(h => (0 until nBits).combinations(h))
      .map(_.foldLeft(0L)((acc, b) => acc | (1L << b)))
      .map(qb ^ _)
  }

  /** Multi-TABLE LSH ANN (the classic ensemble-of-hash-tables form):
    * `nTables` INDEPENDENT hyperplane sets, the query probes its one
    * bucket in each, candidates are the union, then exact rerank.
    * Complements [[annTopKMultiProbe]]'s neighbor-bucket schedule: the
    * multi-probe explores NEAR buckets of one table (cheap, correlated
    * candidates); the ensemble draws from INDEPENDENT projections
    * (decorrelated misses — a vector mis-hashed by one table gets
    * nTables−1 more chances), the standard recall lever when one
    * table's bucketing is unlucky.
    *
    * 100 TB shape: this inline form is ONE narrow scan evaluating
    * nTables nBits-bit sign projections per row (scan fraction ≈
    * nTables/2^nBits after the OR-filter); a persisted layout adds one
    * `bucket_t` column per table (or one [[graft.GraftIndexes.writeAnn]]
    * partition tree per table) so each probe partition-prunes instead
    * of scanning. Seeds `b0..b(n-1)` are the same md5 family the DuckDB
    * oracle mirrors (Oracles.bucketExpr). */
  def annTopKEnsemble(emb: DataFrame, idCol: String, vecCol: String,
                      q: Array[Float], dim: Int, nBits: Int, nTables: Int,
                      k: Int): DataFrame = {
    val qq = graft.functions.VecFns.quantizeLocal(q)
    val base = quantized(emb, idCol, vecCol)
    val hit = (0 until nTables).map { t =>
      lshBucket(col("qv"), dim, nBits, s"b$t") ===
        lit(queryBucket(q, dim, nBits, s"b$t"))
    }.reduce(_ || _)
    base.where(hit)
      .transform(exactTopK(typedLit(qq.toSeq), k))
  }

  /** Multi-probe ANN over a prebuilt [[annIndex]]: candidates from the
    * query bucket AND its Hamming-≤h neighbors, then exact rerank — the
    * standard recall knob for sign-LSH (one extra probed bucket costs
    * ~1/2^nBits of the corpus; recall climbs far faster than scan
    * fraction on clustered data). hamming=0 degenerates to
    * [[annTopKWith]] exactly. */
  def annTopKMultiProbe(idx: DataFrame, q: Array[Float], dim: Int,
                        nBits: Int, k: Int, hamming: Int = 1): DataFrame = {
    val buckets = probeBuckets(q, dim, nBits, hamming)
    // driver-quantized literal, not quantize(typedLit(q)): the column
    // form re-quantizes the query per row (see annTopKWith overload)
    val qvec = typedLit(VecFns.quantizeLocal(q).toSeq)
    idx.where(col("bucket").isin(buckets: _*))
      .transform(exactTopK(qvec, k))
  }

  /** Maximal-marginal-relevance rerank: the diversified top-k a serving
    * layer returns when plain cosine top-k collapses onto near-duplicate
    * hits (the retrieval-side face of semanticDedupSurvivors' corpus-side
    * dedup). Greedy: pick argmax `λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s)`
    * k times (ties: higher relevance, then lower id; the first pick is
    * exactly the cosine top-1). λ=1 degenerates to plain top-k.
    *
    * Shape: the candidate generation is DISTRIBUTED exact cosine top-C
    * (a TakeOrderedAndProject — same plan as cosineTopK; at index scale
    * swap in [[annTopKWith]]/[[ivfTopK]] candidates); only the ≤C
    * (id, vector) survivors reach the driver — a COUNTED collect,
    * C ≤ 4096 by contract, never data-scale — where the O(k·C·dim)
    * greedy runs. MMR's selection is inherently sequential (each pick
    * changes every remaining score), so the bounded-candidate collect
    * IS the scale design, not a shortcut. Spec-pinned (DedupSpec-style
    * brute-force twin); not oracle-registered — a greedy loop has no
    * engine-stable single-statement SQL twin. */
  def mmrRerank(emb: DataFrame, idCol: String, vecCol: String,
                q: Array[Float], k: Int, lambda: Double = 0.7,
                nCandidates: Int = 128): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // k may exceed the pool (the whole pool comes back, ranked); the
    // upper bound is the counted-collect contract
    require(nCandidates >= 1 && nCandidates <= 4096,
      s"candidate pool must satisfy 1 <= C <= 4096, got $nCandidates")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0,1]")
    val spark = emb.sparkSession
    val qvec = typedLit(VecFns.quantizeLocal(q).toSeq)
    val cand = quantized(emb, idCol, vecCol)
      .withColumn("cos", round(VecFns.cosineQ(col("qv"), qvec), 6))
      // NaN (a zero-norm vector's 0/0) sorts ABOVE every real double in
      // desc order — drop it with the nulls or it becomes pick #1
      .where(col("cos").isNotNull && !isnan(col("cos")))
      .orderBy(desc("cos"), asc("vec_id")).limit(nCandidates)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    def cosLocal(a: Array[Double], b: Array[Double]): Double = {
      var sab = 0.0; var saa = 0.0; var sbb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { sab += a(i) * b(i); saa += a(i) * a(i); sbb += b(i) * b(i); i += 1 }
      if (saa == 0.0 || sbb == 0.0) 0.0 else sab / (math.sqrt(saa) * math.sqrt(sbb))
    }
    val maxToSel = scala.collection.mutable.HashMap.empty[Long, Double]
    val remaining = scala.collection.mutable.LinkedHashMap(
      cand.map(c => c._1 -> c): _*)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    while (picked.size < k && remaining.nonEmpty) {
      val best = remaining.valuesIterator.map { case (id, v, rel) =>
        val mmr = lambda * rel - (1 - lambda) * maxToSel.getOrElse(id, 0.0)
        (mmr, rel, id, v)
      }.reduceLeft { (a, b) =>
        if (b._1 > a._1 || (b._1 == a._1 && (b._2 > a._2 ||
          (b._2 == a._2 && b._3 < a._3)))) b else a
      }
      picked += ((picked.size + 1, best._3, best._2, best._1))
      remaining.remove(best._3)
      remaining.valuesIterator.foreach { case (id, v, _) =>
        val s = cosLocal(v, best._4)
        if (s > maxToSel.getOrElse(id, Double.NegativeInfinity)) maxToSel(id) = s
      }
    }
    import spark.implicits._
    picked.toSeq.toDF("rank", "vec_id", "cos", "mmr")
  }

  /** Per-label embedding cohesion report: for every label, the member
    * count and the mean cosine of members to their label CENTROID —
    * the cluster-quality number that decides whether a labeling (or a
    * k-means fit) is tight enough to drive semanticDedup / IVF probes.
    *
    * Exactness discipline (the reason the whole computation is
    * relational integer arithmetic, never a float fold):
    * cos(v, centroid) = cos(v, S) where S = Σ members (the 1/n scale
    * cancels), so every input stays on the quantized integer grid:
    * per-dim sums S_d are exact long sums; dot(v,S) and |S|² accumulate
    * in decimal(38,0) (a per-dim product v_d·S_d already exceeds
    * double's 2^53 exact range at ~10³ members — a double sum would be
    * partition-order-dependent and cross-engine unstable, HUGEINT/
    * decimal is exact at any membership); |v|² fits a long. The only
    * doubles are the final sqrt/division of identical integers (same
    * IEEE values on any engine), floored onto the 1e-6 grid, and the
    * per-label mean floors the exact micro sum. Zero-norm vectors (and
    * labels whose members cancel to a zero centroid) are excluded
    * before the mean — 0/0 is NaN on one engine and an error path on
    * another.
    *
    * Shape: TWO corpus passes (the histogram bounds+assign shape) — one
    * posexplode into the (label,dim)-keyed sum, which MATERIALIZES
    * (localCheckpoint: |labels|·dim rows, report-sized by construction)
    * so both downstream readers (|S|² and the join back) reuse it
    * instead of re-exploding the corpus a third time; then the second
    * pass joins positions to the tiny sum table (AQE broadcasts it) and
    * folds two label-keyed combinable aggregates. */
  def clusterStats(emb: DataFrame, idCol: String, vecCol: String,
                   labelCol: String): DataFrame =
    centroidCos6(emb, idCol, vecCol, labelCol)
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("cos6").as("sum_cos6"))
      .withColumn("mean_cos6",
        floor(col("sum_cos6").cast("double") / col("n")).cast("long"))
      .select("label", "n", "mean_cos6")

  /** Per-member mislabel/outlier flags on the SAME centroid-cosine grid
    * as [[clusterStats]] (one cosine definition, two reports): a member
    * whose micro-cosine to its own label centroid falls below `minCos6`
    * is flagged — the row-level drill-down a label-quality audit reads
    * after the per-label mean says a cluster is loose. */
  def centroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, minCos6: Long): DataFrame =
    centroidCos6(emb, idCol, vecCol, labelCol)
      .withColumn("is_outlier", col("cos6") < minCos6)
      .select("vec_id", "label", "cos6", "is_outlier")

  /** Shared core of [[clusterStats]] / [[centroidOutliers]]: each
    * member's micro-floored cosine to its label centroid, on the exact
    * integer grids (see clusterStats' scaladoc for the exactness
    * discipline and the two-pass shape). */
  private def centroidCos6(emb: DataFrame, idCol: String, vecCol: String,
                           labelCol: String): DataFrame = {
    val rows = emb.select(col(labelCol).cast("int").as("label"),
        col(idCol).cast("long").as("vec_id"),
        posexplode(VecFns.quantize(col(vecCol))).as(Seq("dim", "v")))
      .withColumn("vl", col("v").cast("long"))
    val s = rows.groupBy("label", "dim").agg(sum("vl").as("s"))
      .localCheckpoint()
    val perVec = rows.join(s, Seq("label", "dim"))
      .groupBy("label", "vec_id")
      .agg(sum(col("vl").cast("decimal(38,0)") * col("s")).as("dot"),
        sum(col("vl") * col("vl")).as("nv"))
    val ns = s.groupBy("label")
      .agg(sum(col("s").cast("decimal(38,0)") * col("s")).as("ns2"))
    val cos6 = floor(col("dot").cast("double") /
      (sqrt(col("nv").cast("double")) * sqrt(col("ns2").cast("double"))) * 1e6)
      .cast("long")
    perVec.join(ns, "label")
      .where(col("nv") > 0 && col("ns2") > 0)
      .select(col("label"), col("vec_id"), cos6.as("cos6"))
  }
}
