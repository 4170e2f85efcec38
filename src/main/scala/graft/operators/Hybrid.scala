package graft.operators

import graft.Router
import graft.functions.{Scoring, TextFns, VecFns}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** The flagship hybrid-search pipeline (reference: mcp_server/tools.py:39-175):
  * route → lexical probe (BM25 top-k) → semantic probe (cosine top-k) →
  * full-outer fusion on doc_id (J1) → metadata backfill (J2) → priority
  * scoring (F9/F12/F14/A5) → final rank (T3).
  *
  * Spark shape: the two probes are each a broadcast-join + aggregation +
  * TakeOrderedAndProject; fusion is a full-outer join of two ≤k-row frames;
  * backfill is a broadcast hash join of the tiny candidate set against the
  * doc table. Nothing shuffles more than the postings groupBy — the same
  * plan scales to a partitioned corpus unchanged.
  */
object Hybrid {

  val CandidateFanout = 50 // max(50, n*5): tools.py:87,93

  /** Lexical candidates: prefix-expand the compiled terms against the
    * dictionary (FTS5 `tok*` semantics, router.py:93-107), then BM25.
    * Expansion is a broadcast of ≤6 prefixes against the dictionary — a
    * linear dictionary scan, not a shuffle. */
  def lexicalCandidates(postings: DataFrame, dict: DataFrame, stats: DataFrame,
                        terms: Seq[String], prefix: Boolean, k: Int): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val probes = terms.distinct.toDF("probe")
    // expansion carries (term, df) so the full dictionary is NEVER
    // broadcast (it is vocabulary-sized — unbounded at corpus scale).
    // The exact path is ≤|terms| rows — hint it; a prefix expansion is
    // unbounded for short prefixes over a web-scale vocabulary, so the
    // planner chooses there (AQE/stats still broadcast it while small).
    val expanded =
      if (prefix) dict.join(broadcast(probes), col("term").startsWith(col("probe")))
        .select("term", "df").distinct()
      else broadcast(dict.join(broadcast(probes), col("term") === col("probe"))
        .select("term", "df"))
    val matched = postings
      .join(expanded, "term")
      .crossJoin(broadcast(stats))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val w = idf * ((col("tf") * lit(Bm25.K1 + 1)) /
      (col("tf") + lit(Bm25.K1) * (lit(1.0) - lit(Bm25.B) + lit(Bm25.B) * col("dl") / avgdl)))
    matched.select(col("doc_id"), w.as("w"))
      .groupBy("doc_id").agg(round(sum("w"), 6).as("bm25"))
      .orderBy(desc("bm25"), asc("doc_id")).limit(k)
  }

  /** Query-INDEPENDENT half of the semantic probe: per-doc sparse
    * vectors as bucket-sorted parallel arrays plus the precomputed norm
    * — (doc_id, buckets, qs, na). A serving session builds this once,
    * caches/persists it, and the per-query leg is then a NARROW map +
    * top-k over one row per document: no groupBy, so no per-query
    * shuffle (the entry-level (doc, bucket, qs) layout paid a two-stage
    * shuffle job on every search). The "prebuilt vector index" the
    * reference keeps in Chroma. All values are integral on the quantized
    * grid, so the build-time norm and the array-ordered dot are
    * bit-equal to the old per-query shuffle aggregation (integer sums
    * below 2^53 are exact in double regardless of order). */
  def embedSlots(docs: DataFrame, idCol: String, textCol: String,
                 dim: Int): DataFrame =
    // r13: the whole explode/groupBy/norm-join/collect_list pipeline is
    // one per-row expression (graft.plans.EmbedSlots — every quantity
    // depends on nothing outside the document), so the build is a pure
    // scan projection with ZERO exchanges; bit-equality to the old
    // chain is pinned in EmbedSlotsSpec. The null-drop goes through
    // inline() — a Generate is a predicate-pushdown barrier, so the
    // filter CANNOT be substituted below the projection (a plain
    // .where(sl.isNotNull) was pushed under the Project and evaluated
    // the expression twice per row — one md5 per token, doubled)
    docs.select(col(idCol).cast("long").as("doc_id"),
        graft.plans.EmbedSlots(
          graft.functions.TextFns.tokens(col(textCol)), dim).as("sl"))
      .select(col("doc_id"), inline(array(col("sl"))))
      .where(col("na").isNotNull)

  /** Query-dependent half: sparse dot of each doc's slot arrays against
    * the driver-quantized query literal — one narrow pass, no shuffle. */
  def vectorCandidatesFromSlots(slots: DataFrame, queryTokens: Seq[String],
                                dim: Int, k: Int): DataFrame = {
    if (queryTokens.isEmpty)
      return slots.sparkSession.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0.0).as("cos")).limit(0)
    val qn = VecFns.l2NormalizeLocal(VecFns.hashEmbedLocal(queryTokens, dim))
    val qq = qn.map(x => BigDecimal(x * VecFns.Scale)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val qnorm = math.sqrt(qq.map(x => x * x).sum)
    // sign-cancelled hash embedding ⇒ zero-norm query: no direction to
    // probe, and ANSI division would throw — empty leg, like the
    // token-less case above
    if (qnorm == 0.0)
      return slots.sparkSession.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0.0).as("cos")).limit(0)
    val qlit = typedLit(qq)
    val dot = aggregate(
      zip_with(col("qs"), col("buckets"),
        (v, b) => v * element_at(qlit, b.cast("int") + 1)),
      lit(0.0), (a, v) => a + v)
    slots
      .select(col("doc_id"), round(dot / (col("na") * lit(qnorm)), 6).as("cos"))
      .orderBy(desc("cos"), asc("doc_id")).limit(k)
  }

  /** J1 driver-side fusion of the two collected probe legs — the
    * full-outer join of two ≤k-row candidate sets, rebuilt as a
    * LocalRelation so the backfill join consumes it as a broadcast with
    * no outer-join or broadcast-build job. Null bm25/cos mirror exactly
    * what the full-outer join produced for one-sided candidates. Keys
    * are emitted sorted so the relation's row order (and therefore any
    * downstream tie behavior) is deterministic. */
  private[operators] def fuseCandidates(
      spark: SparkSession, legs: (Array[Row], Array[Row])): DataFrame = {
    val (lexRows, vecRows) = legs
    val bm = lexRows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val co = vecRows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows: Seq[Row] = (bm.keySet ++ co.keySet).toSeq.sorted.map { id =>
      Row(id, bm.get(id).map(Double.box).orNull, co.get(id).map(Double.box).orNull)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("bm25", DoubleType), StructField("cos", DoubleType))))
  }

  /** The resident index for a generic document table: postings +
    * dictionary + corpus stats + quantized embedding slots, plus the
    * (id, text) projection the backfill needs. Same warm/cold split as
    * HadithSearch.Index / Quran.Index. */
  final case class Index(docs: DataFrame, postings: DataFrame, dict: DataFrame,
                         stats: DataFrame, slots: DataFrame, dim: Int) {
    def materialize(): Index = {
      docs.count(); postings.count(); dict.count(); stats.count(); slots.count()
      this
    }
  }

  def buildIndex(docs0: DataFrame, idCol: String, textCol: String,
                 dim: Int = 64, cache: Boolean = true): Index = {
    def c(df: DataFrame) = if (cache) df.cache() else df
    val docs = c(docs0.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text")))
    val p = c(Postings.build(docs, "doc_id", "text"))
    Index(docs, p, c(Postings.dictionary(p)), c(Postings.corpusStats(p)),
      c(embedSlots(docs, "doc_id", "text", dim)), dim)
  }

  /** Full pipeline, cold form — builds the index inline. */
  def search(docs: DataFrame, idCol: String, textCol: String, query: String,
             n: Int = 10, mode: String = "balanced", dim: Int = 64,
             parityFts: Boolean = false): DataFrame =
    // not warmed — two-leg stampede costs less than the fill jobs
    // (r18 measurement; see HadithSearch.search)
    searchWith(buildIndex(docs, idCol, textCol, dim), query, n, mode, parityFts)

  /** Full pipeline over a resident [[Index]]. Returns the scored hit
    * envelope (tools.py:150-160): doc_id, snippet, per-signal breakdown
    * (rounded 4), total score. EAGER: the probe legs run at call time
    * and the returned frame freezes the candidate set (see
    * HadithSearch.searchWith's contract note). */
  def searchWith(idx: Index, query: String, n: Int = 10,
                 mode: String = "balanced",
                 parityFts: Boolean = false): DataFrame = {
    val intent = Router.route(query)
    val w = Scoring.preset(mode)
    val k = math.max(CandidateFanout, n * 5)
    val docs = idx.docs
    val postings = idx.postings
    val dict = idx.dict
    val stats = idx.stats

    // F8 compile: narrator-type queries probe narrator tokens; otherwise
    // phrase/term tokens. Our generic doc table has a single text field, so
    // field scoping collapses to the text field (documented divergence).
    val matchTerms =
      if (intent.qtype == "narrator" && intent.narrator.isDefined) {
        Router.tokenize(intent.narrator.get) match {
          case Nil => intent.tokens.take(6); case ts => ts.take(6)
        }
      } else intent.phrase match {
        case Some(p) => Router.tokenize(p)
        case None => intent.tokens.take(6)
      }
    val lex =
      if (matchTerms.isEmpty) docs.sparkSession.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0.0).as("bm25")).limit(0)
      else lexicalCandidates(postings, dict, stats, matchTerms,
        prefix = intent.phrase.isEmpty, k = k)

    val vec = vectorCandidatesFromSlots(idx.slots,
      Router.embedTokens(intent.normalized), idx.dim, k)

    // J1 fusion + J2 backfill (docs already carries the (doc_id, text)
    // projection). Two-phase serving execution — concurrent probe legs,
    // driver-side fusion of the bounded candidate sets, one backfill job
    // (see fuseCandidates / HadithSearch.searchWith).
    val fused = fuseCandidates(docs.sparkSession,
      Postings.await2(() => lex.collect(), () => vec.collect()))
    val backfilled = docs.join(broadcast(fused), "doc_id")

    val phraseCol = intent.phrase.map(lit(_)).getOrElse(lit(null).cast("string"))
    val v = Scoring.vectorSignal(col("cos"))
    val fts = Scoring.ftsSignal(col("bm25"), parityFts)
    val pb = Scoring.phraseBonus(col("text"), phraseCol, w.bonusPhrase)
    // synonym-group coverage, same decision point as HadithSearch
    // (scoring.py:57-67 group branch; phrase intents stay unexpanded)
    val cov = Scoring.termCoverageGroups(col("text"),
      typedLit(Router.coverageGroups(intent)))
    val score = Scoring.total(v, fts, pb, lit(0.0), cov, w)

    backfilled.select(
        col("doc_id"),
        TextFns.snippet(trim(col("text")), 240).as("snippet"),
        round(v, 4).as("vector_similarity"),
        round(fts, 4).as("fts_signal"),
        round(pb, 4).as("phrase_bonus"),
        round(cov, 4).as("term_coverage"),
        round(score, 4).as("score"))
      .orderBy(desc("score"), asc("doc_id")).limit(n)
  }
}
