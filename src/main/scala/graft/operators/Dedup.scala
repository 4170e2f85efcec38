package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for large-scale text pipelines (builder brief):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard. The embedding-cosine
  * near-dup lives in [[Similarity.nearDupPairs]].
  *
  * Scale design: every method is banded/bucketed so candidate generation is
  * an equi-join on a bucket key (shuffle on the key, never an n² cross
  * join); only verified candidates pay the exact-similarity cost.
  */
object Dedup {

  /** Scope for intra-operator caches: with `materialize=true` the (small)
    * result is snapshotted eagerly via localCheckpoint and every helper
    * cache is released before returning — a long-lived serving session
    * can call these operators repeatedly without block-manager entries
    * accumulating until they evict the working-set index caches. With
    * `materialize=false` the caller gets the fully lazy plan (for
    * composition or plan audit) and owns the caches' lifetime.
    * (localCheckpoint trades lineage fault-tolerance for an executor-
    * resident snapshot — right for candidate/pair frames, which are
    * orders of magnitude smaller than their inputs; a cluster pipeline
    * that needs re-execution safety writes pairs to a table instead.) */
  private[operators] def scoped(materialize: Boolean, caches: DataFrame*)(
      result: DataFrame): DataFrame =
    if (!materialize) result
    else {
      val out = result.localCheckpoint(true)
      caches.foreach(_.unpersist(false))
      out
    }

  /** Cache only when [[scoped]] will later unpersist. With
    * `materialize=false` the caller holds a lazy plan and nothing ever
    * releases a cache, so marking one would leak storage the first time
    * that plan executes; recomputing the frame per consumer is the safe
    * trade there (that mode exists for plan composition/audit, not
    * execution).
    *
    * The cache is filled EAGERLY by default (one count): every
    * maybeCache site feeds 2-3 consumers that evaluate inside one
    * action (hot-bucket agg + both self-join sides; signature build +
    * verify), and those consumers' stages run as concurrent jobs —
    * over a lazily-marked cache they stampede, each recomputing the
    * full upstream pipeline in parallel (measured r18: the LSH band
    * frame's minhash build ran 2-3× per query, ~50 s of duplicate task
    * CPU at sf0.1). The count costs one extra tiny job; the fill
    * happens exactly once (guide §2.4). `eager=false` keeps the lazy
    * marking for sites where a same-window A/B measured the duplicate
    * compute cheaper than serializing the fill (idle local cores soak
    * the duplicates; see sourceOverlap). */
  private[operators] def maybeCache(df: DataFrame, materialize: Boolean,
                                    eager: Boolean = true): DataFrame =
    if (materialize) {
      val c = df.cache(); if (eager) c.count(); c
    } else df

  /** Exact dedup groups by content hash: survivor = min(doc_id).
    * (hash-groupBy; at scale a single shuffle on the 128-bit content key)
    * `normalize=true` keys on whitespace-collapsed lowercase text —
    * pipeline-style exact dedup that merges trivial reformattings the
    * raw-byte key under-merges. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String,
                  normalize: Boolean = false): DataFrame = {
    val key =
      if (normalize) md5(lower(TextFns.normWhitespace(col(textCol))))
      else md5(col(textCol))
    docs.groupBy(key.as("content_key"))
      .agg(min(col(idCol)).as("survivor"), count("*").as("n_copies"))
  }

  /** Deterministic order-preserving dedupe (T4 in SURVEY.md — the
    * reference's walk-sorted-hits dedupe, quran_mcp/search.py:262-278):
    * row_number over the content key, ordered by rank criteria. */
  def keepBest(docs: DataFrame, keyCol: org.apache.spark.sql.Column,
               orderCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols: _*)
    docs.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
  }

  /** Top-k rows per group WITHOUT sorting whole groups — the k>1 scale
    * twin of [[keepBest]]. The direct window form shuffles EVERY row to
    * its group's task and sorts the whole group; this runs a narrow
    * per-partition pass first (one bounded min-heap per (partition,
    * group) — O(log k) per row, never a sort of the partition), so at
    * most k·P candidate rows per group enter the exchange, then the
    * exact window ranks that tiny candidate frame. Output is identical
    * to the window form (heap eviction uses the same (order DESC, tie
    * ASC) total order — property-pinned in DedupSpec).
    *
    * Memory bound: k × (distinct groups seen per partition) heap entries
    * per task. With billions of tiny groups the partial pass stops
    * paying (every row is its own candidate) — use the plain window
    * then; this form wins when groups are large or skewed (one viral
    * group no longer sorts in a single task's memory).
    *
    * Rows with a NULL order or tie value cannot rank and are dropped
    * (the oracle's `WHERE v IS NOT NULL`); a NULL GROUP is a group like
    * any other (both engines put all-null partition keys in one window
    * partition). Order and tie columns must be longs — the heap
    * comparator and the window ordering must be the same total order,
    * and a double grid would reopen the cross-engine comparison
    * doctrine for no operator value. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], orderCol: String,
                   tieCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    require(k >= 1, "k must be >= 1")
    val sch = df.schema
    require(sch(orderCol).dataType == LongType && sch(tieCol).dataType == LongType,
      s"order/tie columns must be LongType, got " +
        s"${sch(orderCol).dataType}/${sch(tieCol).dataType}")
    require(!df.columns.contains("_rn"),
      "a column named _rn collides with the internal rank column")
    val gi = groupCols.map(sch.fieldIndex)
    val oi = sch.fieldIndex(orderCol)
    val ti = sch.fieldIndex(tieCol)
    // head of the heap = the WORST kept row (lowest order, then highest
    // tie) = the eviction candidate. Explicit comparator, NOT
    // Ordering.by(-o, …): negating Long.MinValue overflows back to
    // itself and would sort the worst row as the best.
    val worstFirst: Ordering[(Long, Long, org.apache.spark.sql.Row)] =
      (a, b) => {
        val c = java.lang.Long.compare(b._1, a._1) // lower order = worse = larger
        if (c != 0) c else java.lang.Long.compare(a._2, b._2) // higher tie = worse
      }
    val pruned = df.where(col(orderCol).isNotNull && col(tieCol).isNotNull)
    val partial = pruned.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Seq[Any], scala.collection.mutable.PriorityQueue[(Long, Long, org.apache.spark.sql.Row)]]
      it.foreach { r =>
        val h = heaps.getOrElseUpdate(gi.map(r.get),
          scala.collection.mutable.PriorityQueue.empty(worstFirst))
        val o = r.getLong(oi)
        val t = r.getLong(ti)
        if (h.size < k) h.enqueue((o, t, r))
        else {
          val (wo, wt, _) = h.head
          if (o > wo || (o == wo && t < wt)) { h.dequeue(); h.enqueue((o, t, r)) }
        }
      }
      heaps.valuesIterator.flatMap(_.iterator.map(_._3))
    }(org.apache.spark.sql.Encoders.row(sch))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(desc(orderCol), asc(tieCol))
    partial.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k).drop("_rn")
  }

  /** Universal-hash family for MinHash: h_s(x) = (a_s·h31(x) + b_s) mod p,
    * p = 2³¹−1. One md5 per ELEMENT (not per element×seed — round-4 bench
    * fix: the seeded-md5 form cost 16× the hashing and a 16× row
    * explosion); the per-seed hashes are two integer ops. Constants are
    * md5-derived on the driver so the DuckDB oracle embeds identical
    * literals. */
  val MinhashP = 2147483647L
  def minhashCoeffs(numHashes: Int): (Seq[Long], Seq[Long]) =
    (0 until numHashes).map { s =>
      (TextFns.hash31Local(s"mh-a:$s") | 1L, TextFns.hash31Local(s"mh-b:$s"))
    }.unzip

  /** MinHash signatures over an exploded element set (doc_id, elem).
    * One shuffle of the element rows with numHashes parallel min
    * aggregates (map-side combinable); the (doc, seed, minh) long form is
    * unpivoted afterwards from numHashes columns per doc. */
  def minhashFromElems(elems: DataFrame, numHashes: Int): DataFrame = {
    val (as_, bs) = minhashCoeffs(numHashes)
    val projected = elems.select(col("doc_id"), TextFns.hash31(col("elem")).as("h0"))
    val aggs = (0 until numHashes).map(s =>
      min((lit(as_(s)) * col("h0") + lit(bs(s))) % lit(MinhashP)).as(s"m$s"))
    val wide = projected.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val pairs = array((0 until numHashes).map(s =>
      struct(lit(s).as("seed"), col(s"m$s").as("minh"))): _*)
    wide.select(col("doc_id"), explode(pairs).as("sm"))
      .select(col("doc_id"), col("sm.seed").as("seed"), col("sm.minh").as("minh"))
  }

  /** MinHash signatures over the doc's distinct tokens. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int): DataFrame =
    minhashFromElems(docs.select(col(idCol).cast("long").as("doc_id"),
      explode(TextFns.distinctTokens(col(textCol))).as("elem")), numHashes)

  /** Hot-bucket guard shared by every LSH-style candidate generator: a
    * bucket with m members emits m²/2 candidate rows in ONE join task, so
    * a skewed corpus (boilerplate text, near-constant vectors) turns a
    * single bucket into the classic straggler/OOM. Buckets over
    * `maxBucket` are dropped from candidate generation; the dropped set
    * is itself tiny (≤ n/maxBucket buckets) and broadcastable at any
    * corpus size. NOT silent: [[hotBuckets]] exposes exactly what was
    * dropped (band, key, size) for audit/logging, and mega-groups of
    * literal duplicates are what [[exactGroups]] handles without pairwise
    * expansion. */
  private[operators] def capBuckets(ex: DataFrame, keys: Seq[String],
                                    maxBucket: Int): DataFrame =
    if (maxBucket >= Int.MaxValue) ex
    else {
      val hot = ex.groupBy(keys.map(col): _*).agg(count("*").as("bsize"))
        .where(col("bsize") > maxBucket).select(keys.map(col): _*)
      ex.join(broadcast(hot), keys, "left_anti")
    }

  /** Audit view of the buckets [[capBuckets]] would drop. */
  def hotBuckets(ex: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    ex.groupBy(keys.map(col): _*).agg(count("*").as("bsize"))
      .where(col("bsize") > maxBucket)

  /** LSH banding: group the signature into bands of `rowsPerBand`, hash each
    * band, and emit candidate pairs (a < b) sharing any band bucket.
    * The join key is (band, band_key) — candidates never require n².
    * `maxBucket` caps per-bucket membership (skew guard, see
    * [[capBuckets]]). */
  /** Banded signature keys: one (doc_id, band, band_key) row per band —
    * the LSH bucket identity every candidate generator (and the
    * incremental probe) joins on. The key is the FUSED 60-bit hash of
    * the band's minhash sequence (r19, VERDICT #7 / guide §2.3 narrower
    * types): a band row is (long, int, long) instead of carrying a
    * 32-char md5 hex string through every band self-join, bucket-size
    * count and index write — same collision-free-in-practice bucket
    * identity (the hash input string is unchanged; the oracle twin
    * parses the same 15 hex chars of the same md5), ~60% narrower band
    * frame in the exchanges. */
  def bandKeys(sigs: DataFrame, rowsPerBand: Int): DataFrame =
    sigs
      .withColumn("band", (col("seed") / rowsPerBand).cast("int"))
      .groupBy("doc_id", "band")
      .agg(TextFns.hash60(concat_ws(":", transform(array_sort(collect_list(struct(col("seed"), col("minh")))),
        s => s.getField("minh").cast("string")))).as("band_key"))

  def lshCandidatePairs(sigs: DataFrame, rowsPerBand: Int,
                        maxBucket: Int = 10000,
                        materialize: Boolean = true): DataFrame = {
    // cached: the bucket-size count and the candidate self-join all scan it
    val banded = maybeCache(bandKeys(sigs, rowsPerBand), materialize)
    scoped(materialize, banded)(candidatesFromBands(banded, maxBucket))
  }

  /** Candidate pairs (a < b) from an already-built band-key frame — the
    * core of [[lshCandidatePairs]], exposed for callers that CACHE the
    * (|docs|·bands)-scale band frame themselves and derive several
    * consumers from it (the streaming ingest's per-batch kit: candidate
    * self-join, cross-batch probe, index append — one band build, three
    * readers). */
  private[graft] def candidatesFromBands(banded: DataFrame, maxBucket: Int): DataFrame = {
    val capped = capBuckets(banded, Seq("band", "band_key"), maxBucket)
    val a = capped.select(col("band"), col("band_key"), col("doc_id").as("a"))
    val b = capped.select(col("band"), col("band_key"), col("doc_id").as("b"))
    a.join(b, Seq("band", "band_key"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** (doc_id, shingles, n_sh) distinct-token sets — [[jaccardVerify]]'s
    * internal frame, exposed so a caller can cache it ONCE per batch and
    * feed several [[verifyPairs]] consumers (same rationale as
    * [[candidatesFromBands]]). */
  private[graft] def tokenSetsSized(docs: DataFrame, idCol: String,
                                    textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        TextFns.distinctTokens(col(textCol)).as("shingles"))
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n_sh"))

  /** Exact-Jaccard verify over a precomputed [[tokenSetsSized]] frame
    * whose rows carry an int `side` tag, for pairs (a, a_side, b, b_side):
    * each pair end joins only its own side's token set, so one verify can
    * compare two frames (a micro-batch and its corpus) whose doc_ids
    * overlap without a shared id merging their rows. Output is
    * (a, a_side, b, b_side, jacc). */
  private[graft] def verifyPairs(sized: DataFrame, pairs: DataFrame,
                                 threshold: Double): DataFrame =
    shingleJaccard(sized, pairs, threshold, sided = true)

  /** Cap + project an already-built band frame into the persisted-index
    * shape — [[bandIndex]]'s core for callers holding cached bands. */
  private[graft] def indexFromBands(banded: DataFrame, maxBucket: Int): DataFrame =
    capBuckets(banded, Seq("band", "band_key"), maxBucket)
      .select(col("band"), col("band_key"), col("doc_id"))

  /** MinHash-LSH candidate generation + exact-Jaccard verify over ONE
    * shared token-set frame — the full near-dup pair pipeline
    * (signatures → bands → candidates → verify) with the corpus
    * tokenized ONCE (r19, guide §2.4 compute shared layers once): the
    * composed `minhashSignatures(docs) → lshCandidatePairs →
    * jaccardVerify(docs, …)` form tokenizes every document twice —
    * once under the signature build and again under the verify's
    * shingle sets — and the two fills were the near-dup pipeline's two
    * dominant task-time stages at sf0.1 (45 s + 59 s task CPU of a
    * ~105 s total). Both legs here read the same cached
    * [[tokenSetsSized]] frame, exactly like the streaming ingest's
    * per-batch kit. Output is identical to the composed form by
    * construction: [[minhashFromElems]] over the exploded cached sets
    * is the definition of [[minhashSignatures]], and the verify's
    * shingle sets ARE `distinctTokens` rows either way. */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          numHashes: Int = 16, rowsPerBand: Int = 16,
                          threshold: Double = 0.9,
                          materialize: Boolean = true): DataFrame = {
    val sized = maybeCache(tokenSetsSized(docs, idCol, textCol), materialize)
    val sigs = minhashFromElems(
      sized.select(col("doc_id"), explode(col("shingles")).as("elem")), numHashes)
    val cand = lshCandidatePairs(sigs, rowsPerBand, materialize = materialize)
    scoped(materialize, sized)(shingleJaccard(sized, cand, threshold))
  }

  /** Exact Jaccard over distinct token sets for given candidate pairs. */
  def jaccardVerify(docs: DataFrame, idCol: String, textCol: String,
                    pairs: DataFrame, threshold: Double,
                    materialize: Boolean = true): DataFrame = {
    val sized = sizedShingles(docs.select(col(idCol).cast("long").as("doc_id"),
      TextFns.distinctTokens(col(textCol)).as("shingles")), materialize)
    scoped(materialize, sized)(shingleJaccard(sized, pairs, threshold))
  }

  private def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      array_distinct(TextFns.shingles(TextFns.tokens(col(textCol)), n)).as("shingles"))

  /** n-gram (token shingle) Jaccard near-dup pairs. Candidates come from
    * MinHash-LSH over the shingle SETS (round-4 bench fix: the raw
    * shared-shingle join is Σ df² — quadratic on repetitive corpora even
    * with a df cap; banding bounds candidates by actual similarity).
    * Only LSH-surviving pairs pay the exact-Jaccard verify; pairs below
    * the banding's similarity knee are missed (documented recall trade). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double, numHashes: Int = 16,
                        rowsPerBand: Int = 4,
                        materialize: Boolean = true): DataFrame = {
    // cached: the signature build and the exact-Jaccard verify both scan
    // the (expensive) shingle sets
    val sized = sizedShingles(shingleSets(docs, idCol, textCol, n), materialize)
    val sigs = minhashFromElems(
      sized.select(col("doc_id"), explode(col("shingles")).as("elem")), numHashes)
    val cand = lshCandidatePairs(sigs, rowsPerBand, materialize = materialize)
    scoped(materialize, sized)(shingleJaccard(sized, cand, threshold))
  }

  /** Cross-source overlap matrix — the corpus-level duplication report a
    * pipeline reads before mixing sources: for every source pair, how
    * many distinct sub-cap n-gram shingles both contain. High counts
    * mean one source republishes another (mirror sites, syndication) —
    * near-dup work then targets those pairs first. Shingles in more
    * than `maxDf` DOCUMENTS are excluded: boilerplate claims every pair
    * overlaps (the [[graft.operators.TextAnalysis.boilerplateNgrams]]
    * regime) and says nothing about real duplication.
    *
    * Scale shape: one combinable df count on the shingle key, a
    * distinct (source, shingle) projection, and a shingle-keyed
    * self-join whose fan-out per shingle is ≤ C(#sources, 2) — sources
    * are bounded (hosts/shards), so the join never goes quadratic in
    * DOCUMENTS the way a doc-level shared-shingle join does. Output is
    * ≤ C(#sources, 2) rows. */
  def sourceOverlap(docs: DataFrame, idCol: String, textCol: String,
                    sourceCol: String, n: Int = 3, maxDf: Long = 100,
                    materialize: Boolean = true): DataFrame = {
    // the tokenize+shingle+explode over every document is the dominant
    // cost and is referenced by BOTH the df-cap aggregate and the
    // (source, shingle) projection — cache it once (the file-wide
    // materialize discipline; the two subplans shuffle differently, so
    // ReuseExchange alone cannot dedupe them)
    val el = maybeCache(
      docs.select(col(sourceCol).as("source"),
        col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(TextFns.shingles(TextFns.tokens(col(textCol)), n))).as("s")),
      materialize,
      // lazy (r18, measured): `el` is the biggest maybeCache frame (the
      // full exploded shingle set) and its two consumers' duplicate
      // fills overlap on otherwise-idle cores — the eager fill
      // serialized the phases and cost +0.5 s same-window (1.97 → 2.46)
      eager = false)
    val keep = el.groupBy("s").agg(countDistinct("doc_id").as("sdf"))
      .where(col("sdf") <= maxDf).select("s")
    val srcSh = el.join(keep, "s").select("source", "s").distinct()
    scoped(materialize, el)(
      srcSh.as("a").join(srcSh.as("b"),
          col("a.s") === col("b.s") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared_shingles")))
  }

  /** Shared-shingle candidate variant with a document-frequency cap —
    * exact recall for pairs connected through any sub-cap shingle; right
    * when shingles are selective (large vocab), wrong when they are hot.
    * The hot set is anti-joined out (small by construction, broadcastable
    * at any corpus size). */
  def ngramJaccardPairsSharedShingle(docs: DataFrame, idCol: String, textCol: String,
                                     n: Int, threshold: Double, maxDf: Int = 1000,
                                     materialize: Boolean = true): DataFrame = {
    val sized = sizedShingles(shingleSets(docs, idCol, textCol, n), materialize)
    val ex = maybeCache(
      sized.select(col("doc_id"), explode(col("shingles")).as("s")), materialize)
    val hot = ex.groupBy("s").agg(count("*").as("sdf")).where(col("sdf") > maxDf)
      .select("s")
    val exCapped = ex.join(broadcast(hot), Seq("s"), "left_anti")
    val cand = exCapped.as("x").join(exCapped.as("y"), col("x.s") === col("y.s"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    scoped(materialize, sized, ex)(shingleJaccard(sized, cand, threshold))
  }

  /** Shingle sets with their cardinality, cached — the exact-Jaccard
    * verify scans it once per pair side (and LSH legs scan it again);
    * callers release it through [[scoped]]. */
  private def sizedShingles(sh: DataFrame, materialize: Boolean = true): DataFrame =
    maybeCache(
      sh.select(col("doc_id"), col("shingles"), size(col("shingles")).as("n_sh")),
      materialize)

  /** Exact Jaccard for candidate pairs, in the exploded/equi-join shape:
    * |A∩B| = count of shingles shared per pair, from (pair × shingle-of-A)
    * ⋈ (doc, shingle). Compared to carrying both ARRAYS to each pair row
    * and intersecting per row (`array_intersect` builds a hash set per
    * PAIR, off the codegen path), every step here is a codegen'd
    * equi-join/aggregate — and at 100 TB the doc→shingle-array frame
    * could never ride a broadcast anyway, while these shuffles are linear
    * in pairs×|doc| with no wide rows. Pairs sharing zero shingles drop
    * out of the inner join — correct, since jacc=0 never meets a positive
    * threshold. `sided` keys every join on (doc_id, side) instead of
    * doc_id alone (see [[verifyPairs]]). */
  private def shingleJaccard(sized: DataFrame, pairs: DataFrame, threshold: Double,
                             sided: Boolean = false): DataFrame = {
    val side = if (sided) Seq("side") else Nil
    // one pair end's key columns, renamed from sized's (doc_id[, side])
    def key(end: String) = end +: side.map(s => s"${end}_$s")
    def keyCols(end: String) =
      col("doc_id").as(end) +: side.map(s => col(s).as(s"${end}_$s"))
    val ex = sized.select((col("doc_id") +: side.map(col)) :+
      explode(col("shingles")).as("sh"): _*)
    val sizes = sized.select((col("doc_id") +: side.map(col)) :+ col("n_sh"): _*)
    val inter = pairs
      .join(ex.select(keyCols("a") :+ col("sh"): _*), key("a"))
      .join(ex.select(keyCols("b") :+ col("sh"): _*), key("b") :+ "sh")
      .groupBy((key("a") ++ key("b")).map(col): _*).agg(count("*").as("inter"))
    inter
      .join(sizes.select(keyCols("a") :+ col("n_sh").as("na"): _*), key("a"))
      .join(sizes.select(keyCols("b") :+ col("n_sh").as("nb"): _*), key("b"))
      .withColumn("jacc", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .where(col("jacc") >= threshold)
      .select((key("a") ++ key("b")).map(col) :+ col("jacc"): _*)
  }

  /** Connected components over an undirected near-dup pair set — the
    * pairs→groups step every dedup pipeline ends with (a survivor per
    * GROUP, not per pair: A~B and B~C must collapse A,B,C together even
    * though (A,C) was never emitted). Min-label propagation to the unique
    * fixpoint: every node's label converges to the smallest doc_id in its
    * component, so the result is deterministic regardless of execution
    * order — and therefore oracle-checkable (the DuckDB twin is a
    * recursive CTE).
    *
    * Scale shape: each iteration is one equi-join + map-side-combinable
    * min aggregation on the (cached) symmetric edge list; iterations are
    * bounded by the largest component's DIAMETER, which for
    * similarity-threshold graphs is small (near-dup clusters are dense).
    * labels are localCheckpoint'ed per round to cut the iterative
    * lineage; a component whose diameter exceeds `maxIter` fails
    * loudly. (This is the GraphX-style form.) */
  // ── localCheckpoint lifecycle (the CC loop, the streaming ingest's
  // per-batch snapshots): each localCheckpoint registers one RDD-level
  // persist that spark.catalog.clearCache cannot see; track its ids so
  // the owner frees it — a CC loop the PREVIOUS generation as soon as the
  // next one is materialized (at most two snapshots at a time), a
  // micro-batch all of its own at the end of the batch ───────────────
  private[graft] def trackedSnapshot(df: DataFrame): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val out = df.localCheckpoint()
    // Track ONLY the snapshot's own persisted RDD: localCheckpoint persists
    // exactly one RDD — the materialized internal RDD the returned frame
    // scans — and after the eager materialization its lineage is truncated
    // to the checkpoint, so the ancestor walk below sees just that RDD.
    // (A global before/after diff of getPersistentRDDs here would also
    // capture unrelated persists that happen to register DURING the eager
    // job — a lazily-registered .cache() buffer of a frame the snapshot
    // reads, or a concurrent persist from another thread — and freeTracked
    // would later silently drop those caches.)
    val persisted = sc.getPersistentRDDs.keySet.toSet
    val seen = scala.collection.mutable.Set[Int]()
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
      if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    walk(out.queryExecution.toRdd)
    (out, seen.toSet & persisted)
  }
  private[graft] def freeTracked(spark: org.apache.spark.sql.SparkSession, ids: Set[Int]): Unit =
    ids.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))

  /** Edge-count threshold under which the closure computes on the driver
    * (union-find over the collected edge list) instead of the iterative
    * distributed loop — the CC analog of a broadcast join's size
    * threshold. A verified near-dup pair set is usually TINY relative to
    * its corpus (pairs are candidates that survived Jaccard ≥ 0.9), and
    * the distributed loop pays a fixed multi-second cost PER ITERATION
    * (two shuffles + a checkpoint) regardless of data size; under the
    * threshold the driver closure is exact, deterministic, and runs in
    * milliseconds. 1M edges ≈ tens of MB on the driver — bounded. Above
    * it, the iterative loop is the scale path, unchanged. */
  val SmallGraphEdges: Long = 1L << 20

  /** Driver union-find, min-id representative — produces EXACTLY the
    * labels the distributed fixpoint converges to (the equivalence spec
    * pins both forms on random graphs). */
  private def unionFindComponents(spark: org.apache.spark.sql.SparkSession,
                                  edges: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2))
      .toArray.distinct.sorted
    val rows: Seq[org.apache.spark.sql.Row] =
      nodes.map(x => org.apache.spark.sql.Row(x, find(x))).toSeq
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType))))
  }

  def connectedComponents(pairs: DataFrame, maxIter: Int = 100,
                          smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    val spark = pairs.sparkSession
    def snapshot(df: DataFrame) = trackedSnapshot(df)
    def free(ids: Set[Int]): Unit = freeTracked(spark, ids)
    val e = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    // Hybrid threshold via ONE bounded evaluation that both decides and
    // supplies the driver fast path: limit(threshold+1).collect() is an
    // incremental take (never a full materialization the distributed loop
    // would then repeat), and returns either the COMPLETE edge list
    // (≤ threshold — exactly the rows union-find closes over, so a
    // nondeterministic pairs plan cannot disagree between the decision
    // and the data) or threshold+1 rows, which are discarded and the
    // distributed loop evaluates the plan itself.
    val cap = math.min(smallGraphEdges, Int.MaxValue - 2L).toInt
    val probe = e.limit(cap + 1).collect()
    if (probe.length <= cap)
      return unionFindComponents(spark,
        probe.map(r => (r.getLong(0), r.getLong(1))))
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .distinct().cache()
    // materialize sym BEFORE the first snapshot: its cache buffer must
    // register outside the snapshot's eager job so the loop's free() can
    // never touch it
    sym.count()
    var (labels, labelIds) = snapshot(
      sym.select(col("a").as("node")).distinct().withColumn("label", col("node")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = sym.join(labels.select(col("node").as("b"), col("label")), "b")
        .groupBy("a").agg(min("label").as("nmin"))
      // the previous label rides INSIDE the snapshot, so the convergence
      // probe below is a local scan of the checkpointed rows — folding it
      // in saves a per-iteration shuffle join + second full plan (the
      // check used to re-join next against labels every round)
      val (next, nextIds) = snapshot(labels
        .join(nbrMin.select(col("a").as("node"), col("nmin")), Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          col("label").as("prev")))
      // labels only ever decrease, so fixpoint ⇔ nothing changed
      val changed = next.where(col("label") =!= col("prev")).limit(1).count()
      converged = changed == 0
      free(labelIds)
      labels = next.drop("prev")
      labelIds = nextIds
      iter += 1
    }
    sym.unpersist(false)
    // NOT silent (module convention, cf. capBuckets): an unconverged
    // result would split real components into several groups with no
    // hint why — a diameter > maxIter graph must fail loudly
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter iterations " +
        "(component diameter exceeds the bound); raise maxIter")
    labels.select(col("node").as("doc_id"), col("label").as("component"))
  }

  /** One near-dup pipeline run: [[minhashNearDupPairs]] executes when
    * the stage is built (the verified pairs are an eager localCheckpoint
    * snapshot); `groups` and `survivors` derive from that frame instead
    * of recomputing the chain. Every stage boundary is a checkpointed
    * frame, as a cluster dedup persists each boundary as a table. Nothing
    * is kept across calls: each call pays its own pipeline. */
  final class NearDupStage private[operators] (docs: DataFrame, idCol: String,
                                               val pairs: DataFrame) {
    /** pairs→groups closure, computed once per stage. */
    lazy val groups: DataFrame = connectedComponents(pairs)
    /** Terminal step: one survivor (the group's min id) per near-dup
      * group; untouched docs pass through. */
    lazy val survivors: DataFrame = {
      val dupes = groups.where(col("doc_id") =!= col("component"))
        .select(col("doc_id").as(idCol))
      docs.join(dupes, Seq(idCol), "left_anti")
    }
  }

  def nearDupStage(docs: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 16, rowsPerBand: Int = 16,
                   threshold: Double = 0.9): NearDupStage =
    new NearDupStage(docs, idCol,
      minhashNearDupPairs(docs, idCol, textCol, numHashes, rowsPerBand, threshold))

  /** Banded-minhash index of a corpus: (band, band_key, doc_id) — the
    * persistent form of the LSH buckets, built once over the EXISTING
    * corpus so later deltas dedupe against it without re-signing the
    * world (the incremental doctrine of quran_mcp/embeddings.py:139-144,
    * applied to dedup). Over-cap buckets are dropped at BUILD time
    * ([[capBuckets]] semantics; audit via [[hotBuckets]] on the raw
    * frame). At scale this frame is persisted `partitionBy("band")` and
    * bucketed by `band_key`, so a delta probe prunes to its own band
    * partitions and meets the index in a bucket-local equi-join. */
  def bandIndex(docs: DataFrame, idCol: String, textCol: String,
                numHashes: Int = 16, rowsPerBand: Int = 16,
                maxBucket: Int = 10000): DataFrame =
    indexFromBands(
      bandKeys(minhashSignatures(docs, idCol, textCol, numHashes), rowsPerBand),
      maxBucket)

  /** Incremental near-dup detection: a DELTA batch probed against an
    * existing corpus's [[bandIndex]]. The delta's band keys equi-join the
    * index (never delta × corpus), and only colliding (delta, existing)
    * pairs pay the exact-Jaccard verify against the existing docs. Output
    * columns: `a` = delta doc, `b` = existing doc it near-duplicates,
    * `jacc`. A delta row with no output row is novel — the caller
    * appends it to the corpus and its bands to the index; this is how a
    * 100 TB dedup ingests a daily drop without re-running the corpus. */
  def incrementalNearDupPairs(index: DataFrame, existing: DataFrame,
                              delta: DataFrame, idCol: String, textCol: String,
                              threshold: Double, numHashes: Int = 16,
                              rowsPerBand: Int = 16,
                              materialize: Boolean = true): DataFrame = {
    // delta token sets shared by the band build AND the verify's a-side
    // (r19 — the composed form tokenized the delta twice), mirroring
    // [[minhashNearDupPairs]]
    val deltaSized = maybeCache(tokenSetsSized(delta, idCol, textCol), materialize)
    val deltaBands = bandKeys(
      minhashFromElems(
        deltaSized.select(col("doc_id"), explode(col("shingles")).as("elem")),
        numHashes),
      rowsPerBand)
    val cand = deltaBands.select(col("band"), col("band_key"), col("doc_id").as("a"))
      .join(index.select(col("band"), col("band_key"), col("doc_id").as("b")),
        Seq("band", "band_key"))
      .select("a", "b").distinct()
    // verify needs shingle sets from BOTH sides: a-ids resolve in the
    // delta (cached above), b-ids in the existing corpus. A corpus-side
    // semi-join prune to candidate partners (the streaming ingest's r19
    // shape, where the index is PERSISTED) was A/B'd here and lost at
    // 32 cores: this API's registered form builds `index` in-memory, so
    // caching cand to feed the prune serialized the full index probe
    // ahead of the verify (2.79 → 4.17 s same-window) — the overlap the
    // single-action form gets for free beats the saved tokenize at this
    // fixture scale. Persisted-index callers get the prune via
    // [[graft.streaming.Streams.nearDupIngest]]'s arm.
    val sized = maybeCache(
      tokenSetsSized(existing, idCol, textCol).unionByName(deltaSized),
      materialize)
    scoped(materialize, deltaSized, sized)(
      shingleJaccard(sized, cand, threshold))
  }

  /** SimHash (bits ≤ 32): per bit j, sum tf·(±1) by the j-th bit of the
    * term hash; the fingerprint sets bit j where the sum is positive.
    *
    * Shape: `bits` parallel conditional sums over the UN-exploded postings
    * — one map-side-combinable shuffle of the posting rows, versus the
    * naive explode-per-bit form (bits× the shuffle volume and a second
    * aggregation; that form measured ~3× slower at sf0.1). h ≥ 0 (60-bit
    * md5 prefix), so shiftright == the oracle's integer division. */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 32): DataFrame = {
    val postings = Postings.build(docs, idCol, textCol)
    val withH = postings.select(col("doc_id"), col("tf"),
      TextFns.hash60(col("term")).as("h"))
    val sums = (0 until bits).map { j =>
      val bit = shiftright(col("h"), j) % 2
      sum(col("tf") * (bit * 2 - 1)).as(s"s$j")
    }
    val agg = withH.groupBy("doc_id").agg(sums.head, sums.tail: _*)
    val fp = (0 until bits).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col("doc_id"), fp.as("simhash"))
  }

  /** Near-dup pairs by Hamming distance on simhash fingerprints, banded:
    * the fingerprint is split into (maxHamming+1) bit-bands; by pigeonhole
    * any pair within Hamming ≤ maxHamming agrees exactly on at least one
    * band, so candidate generation is an equi-join on (band, band bits) —
    * never an n² nested loop (round-3 verdict fix). Exact Hamming verify
    * runs only on candidates. */
  def simhashPairs(sim: DataFrame, maxHamming: Int, bits: Int = 32,
                   maxBucket: Int = 10000,
                   materialize: Boolean = true): DataFrame = {
    val nBands = maxHamming + 1
    // band b covers bits [lo(b), lo(b+1)) with near-even widths
    def lo(b: Int): Int = b * bits / nBands
    val bandKeys = array((0 until nBands).map { b =>
      val width = lo(b + 1) - lo(b)
      val mask = (1L << width) - 1L
      struct(lit(b).as("band"),
        (shiftright(col("simhash"), lo(b)) bitwiseAND lit(mask)).as("bkey"))
    }: _*)
    // cached: bucket-size count + both self-join sides scan it
    val ex = maybeCache(
      sim.select(col("doc_id"), col("simhash"), explode(bandKeys).as("bk"))
        .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.bkey").as("bkey")),
      materialize)
    val exCapped = capBuckets(ex, Seq("band", "bkey"), maxBucket)
    val cand = exCapped.as("x").join(exCapped.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("x.simhash").as("ha"),
        col("y.doc_id").as("b"), col("y.simhash").as("hb"))
      .distinct()
    scoped(materialize, ex) {
      cand
        .withColumn("hamming", bit_count(expr("ha ^ hb")))
        .where(col("hamming") <= maxHamming)
        .select("a", "b", "hamming")
    }
  }

  /** Per-document duplicated-SPAN coverage — the substring-dedup audit
    * metric (Lee et al.'s "deduplicating training data" measure, span
    * granularity): for each doc, how many of its tokens sit inside at
    * least one n-gram that also occurs in ANOTHER document, and that
    * count as a 1e-6-grid fraction of the doc. Near-dup pair mining
    * (minhash/simhash) says WHICH docs overlap; this says HOW MUCH of
    * each doc is non-novel text — the number a data-diet curriculum
    * thresholds on.
    *
    * Shape: positions explode (narrow), a gram-keyed df count, a
    * LEFT-SEMI join of occurrences against the df≥2 gram set (equi on
    * the gram, AQE-sized — the dup-gram set is corpus-vocabulary-scale,
    * never broadcastable by contract), a covered-index explode bounded
    * by n per occurrence, and a doc-keyed distinct+count. Overlapping
    * occurrences union via the distinct — no per-doc array ever forms.
    * All-integer output: `dup_frac6 = n_dup·1e6 div n_tokens`
    * (non-negative operands — engine-identical). */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 5): DataFrame = {
    require(n >= 2, "span length must be >= 2")
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      graft.functions.TextFns.tokens(col(textCol)).as("t"))
    val lens = toks.select(col("doc_id"),
      when(col("t").isNotNull, size(col("t"))).otherwise(0)
        .cast("long").as("n_tokens"))
    val grams = toks.select(col("doc_id"),
      posexplode(graft.functions.TextFns.shingles(col("t"), n)).as(Seq("j", "g")))
    val dup = grams.groupBy("g").agg(countDistinct("doc_id").as("df"))
      .where(col("df") >= 2).select("g")
    val covered = grams.join(dup, Seq("g"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("j"), col("j") + lit(n - 1))).as("i"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_tokens"))
    lens.join(covered, Seq("doc_id"), "left")
      .withColumn("n_dup_tokens", coalesce(col("n_dup_tokens"), lit(0L)))
      .withColumn("dup_frac6",
        when(col("n_tokens") > 0,
          expr("(n_dup_tokens * 1000000) div n_tokens")).otherwise(lit(0L)))
  }
}
