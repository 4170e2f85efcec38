package graft

import graft.functions.VecFns
import graft.operators._
import graft.sources.Npz
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The serving facade — what the reference exposes over MCP/HTTP/CLI
  * (mcp_server/http_server.py, mcp_stdio.py, apps/hybrid_cli.py,
  * fts_cli.py), minus the transports (out of engine scope, SURVEY §7.1).
  *
  * Unlike the reference's per-request index opens (tools.py:53-57 — the
  * inefficiency SURVEY §7.5 flags), an engine instance builds its index
  * layers ONCE at open (postings, per-field dictionaries, corpus stats,
  * quantized embedding slots), materializes them into the block-manager
  * cache, and every search is a plan over resident data — the warm
  * serving path the reference's 150 ms p95 target assumes.
  */
object Graft {

  /** Hard bound on the corpora the engines may collect driver-side for
    * their resident point-lookup caches. The bundled corpora are bounded
    * by DOMAIN (6,236 verses / 1,896 hadiths), but nothing used to stop
    * a caller from pointing the same engine class at a corpus-scale
    * table and having the first `getVerse`/spec-lookup collect it to the
    * driver — so the bound is now ENFORCED the way `Dedup.SmallGraphEdges`
    * gates the CC driver fast path: one cheap count over the cached docs
    * layer BEFORE any collect; over-threshold corpora transparently serve
    * through the distributed twins ([[operators.Quran.getVerse]],
    * [[operators.HadithSearch.lookupRef]]), which stay correct at any
    * scale. 2^17 rows of lookup projection ≈ tens of MB on the driver. */
  val MaxResidentRows: Long = 1L << 17

  /** Typed point-lookup results — the sub-5-ms serving path. A
    * DataFrame-returning lookup cannot honestly serve below ~5 ms per
    * request on Spark: every call pays the per-execution tax (a
    * QueryExecution + SQLExecution event round-trip, ~4-5 ms measured
    * even over a one-row LocalRelation — SURVEY §7.10's floor
    * decomposition). Callers that need the reference's in-process-
    * SQLite-class latency (HADITH_SEARCH_SPEC.md:553's <5 ms bar) read
    * the SAME driver-resident store through these typed accessors
    * instead: a filter over the memoized projection, no plan, no job,
    * microseconds per call. Parity with the DataFrame twins is pinned
    * in GraftEngineSpec; over-bound corpora transparently fall back to
    * collecting the distributed twin (one bounded job per call). */
  final case class CitationHit(docId: String, bookId: String,
                               narrator: String, snippet: String)

  /** Typed tafsir lookup row (the serving projection of the corpus
    * schema; the DataFrame twin [[QuranEngine.getVerse]] returns the
    * full 12-column envelope). Ordered by resourceId. */
  final case class TafsirHit(verseKey: String, surah: Int, ayah: Int,
                             resourceId: Int, resourceName: String,
                             slug: String, textPlain: String)

  /** Hadith engine over validated corpus JSONL (cold open: scan +
    * index build happen here, once). */
  def openHadith(spark: SparkSession, booksGlob: String,
                 dim: Int = 128): HadithEngine = {
    val silver = HadithSearch.silver(Ingest.validated(Ingest.readBooks(spark, booksGlob)))
    new HadithEngine(HadithSearch.buildIndex(silver, dim).materialize())
  }

  /** Tafsir engine over the quran corpus + optional npz vector cache. */
  def openQuran(spark: SparkSession, corpusDir: String,
                npzPath: Option[String] = None): QuranEngine = {
    val corpus = Quran.load(spark, corpusDir)
    val emb = npzPath.map(p => Npz.embeddings(spark, p).cache())
    new QuranEngine(Quran.buildIndex(corpus, emb).materialize())
  }

  final class HadithEngine private[graft] (val index: HadithSearch.Index,
      maxResidentRows: Long = Graft.MaxResidentRows) {
    /** Resident silver table (with the numeric surrogate key). */
    def silver: DataFrame = index.docs

    /** ENFORCED resident bound (see [[Graft.MaxResidentRows]]): one count
      * over the cached docs layer decides, once, whether the citation
      * cache may collect. Over-threshold corpora serve every citation
      * through the distributed [[HadithSearch.lookupRef]] instead. */
    private lazy val residentOk: Boolean = index.docs.count() <= maxResidentRows

    /** Driver-resident exact-reference cache: the corpus is bounded by
      * DOMAIN (Riyad as-Salihin — 1,896 hadiths at full scale), so the
      * query-independent lookup projection (HadithSearch.refProjection —
      * shared with the distributed lookupRef, so the paths cannot drift)
      * collects once and warm spec-mode citation lookups resolve as a
      * driver filter + LocalTableScan with NO Spark job — the reference's
      * <5 ms SQLite-direct-lookup design (HADITH_SEARCH_SPEC.md:553).
      * Guarded by [[residentOk]] — never built over-threshold. */
    private lazy val refRows: Array[org.apache.spark.sql.Row] =
      HadithSearch.refProjection(index.docs).collect()
    private lazy val refSchema =
      HadithSearch.refProjection(index.docs).schema
    private lazy val refFieldIdx = refSchema.fieldNames.zipWithIndex.toMap
    // Only the query-INDEPENDENT projection is memoized (refRows, schema,
    // field index). The per-citation filter/sort/take runs on EVERY call —
    // the reference's SQLite lookup executes its B-tree probe per request,
    // and memoizing built result frames here made repeated-identical-
    // citation benches time a map hit over precomputed answers.
    private lazy val refOutSchema =
      org.apache.spark.sql.types.StructType(
        refSchema.fields.take(refSchema.fields.length - HadithSearch.RefFilterCols.length))
    private lazy val refToInternal =
      org.apache.spark.sql.graftshim.ColumnShim.internalConverter(refOutSchema)
    /** The shared resident citation probe: filter + order + take over
      * the memoized projection. Both the DataFrame form and the typed
      * form serve from THIS, so the two public paths cannot drift. */
    private def refHits(ref: Router.ExactRef, n: Int): Seq[org.apache.spark.sql.Row] = {
      val fi = refFieldIdx
      def fits(r: org.apache.spark.sql.Row): Boolean =
        ref.collection.forall(c => !r.isNullAt(fi("collection")) && r.getString(fi("collection")) == c) &&
        ref.global.forall(g => !r.isNullAt(fi("ref_global")) && r.getLong(fi("ref_global")) == g) &&
        ref.book.forall(b => !r.isNullAt(fi("ref_book")) && r.getLong(fi("ref_book")) == b) &&
        ref.num.forall(x => !r.isNullAt(fi("ref_num")) && r.getLong(fi("ref_num")) == x)
      // doc_ids are ASCII, so JVM string order == Spark's UTF8 binary order
      refRows.view.filter(fits).toSeq.sortBy(_.getString(0)).take(n)
    }
    private def lookupRefResident(ref: Router.ExactRef, n: Int): (DataFrame, Int) = {
      val keep = refOutSchema.fields.length
      val hits = refHits(ref, n)
        .map(r => refToInternal(org.apache.spark.sql.Row(r.toSeq.take(keep): _*)))
      (org.apache.spark.sql.graftshim.ColumnShim.localDf(
        index.docs.sparkSession, refOutSchema, hits), hits.size)
    }

    /** Sub-5-ms spec-mode citation lookup (see [[Graft.CitationHit]]):
      * the typed twin of spec-mode [[search]] for exact references —
      * same resident probe, no DataFrame, no per-call QueryExecution
      * tax. Over-bound corpora collect the distributed
      * [[HadithSearch.lookupRef]] instead (one bounded job). */
    def lookupRefTyped(ref: Router.ExactRef, n: Int = 10): Seq[Graft.CitationHit] = {
      val fi = refFieldIdx
      val rows =
        if (residentOk) refHits(ref, n)
        else HadithSearch.lookupRef(index.docs, ref, n).collect().toSeq
      // positions 0-3 of the shared refProjection envelope
      rows.map(r => Graft.CitationHit(r.getString(0), r.getString(fi("book_id")),
        r.getString(fi("narrator")), r.getString(fi("snippet"))))
    }

    /** Parse-and-lookup convenience over [[lookupRefTyped]]: Nil when
      * the text does not contain a parseable citation. */
    def lookupCitation(citation: String, n: Int = 10): Seq[Graft.CitationHit] =
      Router.parseExactRef(Router.route(citation).normalized)
        .map(lookupRefTyped(_, n)).getOrElse(Nil)

    /** Driver-resident typed-search layers (see [[operators.Resident]]):
      * built lazily by the first [[searchTyped]] call — a handful of
      * bounded collects over the SAME cached index layers the DataFrame
      * probes join — and None whenever any counted bound trips (doc rows,
      * posting rows, per-field vocabulary), in which case typed searches
      * fall back to collecting the distributed plan. */
    private lazy val searchLayers: Option[Resident.HadithLayers] =
      if (residentOk) Resident.hadithLayers(index, maxResidentRows) else None

    /** Sub-millisecond hybrid search — the typed twin of [[search]], the
      * path that honestly meets the reference's <50 ms p95 search /
      * <150 ms p95 end-to-end targets (HADITH_SEARCH_SPEC.md:549,
      * ROADMAP.md:41). Runs the full pipeline (route → BM25 → cosine →
      * fusion → scoring → rank) per call over the driver-resident layers:
      * no result memoization, zero Spark jobs once the layers are built.
      * Parity with [[search]] is pinned across the reference's 86-query
      * benchmark corpus (ResidentSearchSpec). */
    def searchTyped(query: String, n: Int = 10,
                    mode: String = "balanced"): Seq[Resident.SearchHit] =
      searchTypedScored(query, n, mode)._1

    /** [[searchTyped]] plus the fused candidate-pool size before the
      * top-n cut — the reference envelope's `total_candidates`
      * (citation lookups report their hit count: a direct lookup has
      * no ranked pool). */
    def searchTypedScored(query: String, n: Int = 10,
                          mode: String = "balanced"): (Seq[Resident.SearchHit], Int) = {
      if (mode == "spec") {
        val intent = Router.route(query)
        if (intent.qtype == "exact_reference")
          Router.parseExactRef(intent.normalized) match {
            case Some(ref) =>
              val hits = lookupRefTyped(ref, n).map(c =>
                Resident.SearchHit(c.docId, c.bookId, c.narrator, c.snippet,
                  0.0, 0.0, 0.0, 0.0, 1.0))
              return (hits, hits.size)
            case None => ()
          }
      }
      searchLayers match {
        case Some(l) => Resident.searchHadithScored(l, query, n, mode)
        case None =>
          val (df, pool) = HadithSearch.searchWithStats(index, query, n, mode)
          (df.collect().toSeq.map(r => Resident.SearchHit(
            r.getString(0), r.getString(1), r.getString(2), r.getString(3),
            r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
            r.getDouble(8))), pool)
      }
    }

    /** fts_match (the reference's MCP MATCH tool, mcp_stdio.py:156-191):
      * per-field exact-term BM25 legs AND-merged — a doc must match
      * every provided leg, leg scores sum — ranked by (-bm25, doc_id).
      * Typed resident probe when the layers are resident (zero Spark
      * jobs); the distributed fieldProbe merge otherwise. */
    def ftsMatchTyped(legs: Seq[(String, String)],
                      limit: Int = 10): Seq[Resident.FtsMatchHit] =
      searchLayers match {
        case Some(l) => Resident.ftsMatch(l, legs, limit)
        case None if legs.nonEmpty =>
          // distributed AND-merge over the UNTRUNCATED per-field score
          // frames (cutting a leg before the intersection drops true
          // AND-matches): legs union with a leg tag, one groupBy keeps
          // docs present in EVERY leg and sums their scores, and only
          // the ≤limit winners collect — the corpus-scale work stays
          // distributed. Each leg localCheckpoints first: composing the
          // same REROOTED cached postings layer twice in one plan trips
          // InMemoryRelation's attribute remap, and the checkpoint also
          // keeps leg scores (bounded by matching docs) off the driver.
          val legFrames = legs.zipWithIndex.map { case ((f, text), i) =>
            HadithSearch.fieldScores(index, f, Router.tokenize(text).take(6),
              prefix = false)
              .select(col("doc_id"), col("bm25"), lit(i).as("leg"))
          }
          // snapshot the legs CONCURRENTLY (the two-phase discipline of
          // the search paths) — sequential localCheckpoints would pay
          // leg1+leg2+leg3 wall-clock for independent jobs
          val snapped = new Array[DataFrame](legFrames.size)
          operators.Postings.awaitAll(legFrames.zipWithIndex.map {
            case (df, i) => () => { snapped(i) = df.localCheckpoint(true) }: Unit
          })
          val merged = snapped.reduce(_ unionByName _)
            .groupBy("doc_id")
            .agg(sum("bm25").as("bm25"), countDistinct("leg").as("nl"))
            .where(col("nl") === legs.size)
          val top = merged.orderBy(desc("bm25"), asc("doc_id")).limit(limit)
            .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
          if (top.isEmpty) Nil
          else {
            val byId = top.toMap
            index.docs.select(col("num_id"), col("doc_id"), col("narrator"),
                graft.functions.TextFns.snippet(trim(col("english_text")), 240)
                  .as("snippet"))
              .where(col("num_id").isin(top.map(_._1): _*))
              .collect().toSeq
              .sortBy(r => (-byId(r.getLong(0)), r.getString(1)))
              .map(r => Resident.FtsMatchHit(r.getString(1), r.getString(2),
                r.getString(3), math.round(byId(r.getLong(0)) * 10000.0) / 10000.0))
          }
        case None => Nil
      }

    /** hybrid_search parity (tools.py:39-175) — warm: no index rebuild.
      * Spec-mode exact citations resolve from the driver-resident
      * reference cache (zero Spark jobs); every other query keeps the
      * two-phase distributed plan. */
    def search(query: String, n: Int = 10, mode: String = "balanced"): DataFrame =
      searchWithCandidates(query, n, mode)._1

    /** [[search]] plus the fused candidate-pool size (see
      * [[searchTypedScored]]). */
    def searchWithCandidates(query: String, n: Int = 10,
                             mode: String = "balanced"): (DataFrame, Int) = {
      if (mode == "spec") {
        val intent = Router.route(query)
        if (intent.qtype == "exact_reference")
          Router.parseExactRef(intent.normalized) match {
            case Some(ref) =>
              // resident: hit count known without a job (zero-job pin);
              // over-bound fallback: one bounded count job
              return if (residentOk) lookupRefResident(ref, n)
                     else {
                       val df = HadithSearch.lookupRef(index.docs, ref, n)
                       (df, df.count().toInt)
                     }
            case None => ()
          }
      }
      HadithSearch.searchWithStats(index, query, n, mode)
    }

    /** fts_status / vector_index_status analog (A3). */
    def status: DataFrame =
      silver.agg(count("*").as("documents"),
        countDistinct("book_id").as("books"),
        countDistinct("narrator").as("narrators"))

    /** T5 peek. */
    def peek(n: Int = 3): DataFrame = Ingest.peek(silver, n)
  }

  final class QuranEngine private[graft] (val index: Quran.Index,
      maxResidentRows: Long = Graft.MaxResidentRows) {
    def corpus: DataFrame = index.docs
    def emb: Option[DataFrame] = index.emb

    /** ENFORCED resident bound (see [[Graft.MaxResidentRows]]): decided
      * once by a cheap count over the cached corpus; over-threshold
      * corpora serve lookups through the distributed [[Quran.getVerse]]. */
    private lazy val residentOk: Boolean = index.docs.count() <= maxResidentRows

    /** Driver-resident point-lookup cache. The tafsir corpus is bounded
      * by DOMAIN, not by data scale — one row per ayah (6,236 at full
      * scale), the same bound that lets the reference serve get_verse
      * from in-process SQLite (quran_mcp/server.py:77-107). Collecting
      * it once turns every warm lookup into a LocalTableScan: the
      * collect() returns rows without launching a Spark job, so lookup
      * latency is driver map access, not job scheduling. Guarded by
      * [[residentOk]] — never collected over-threshold. Built lazily:
      * the first lookup pays one bounded collect over the cached corpus. */
    private lazy val verseRows: Map[String, Array[org.apache.spark.sql.Row]] = {
      val rows = index.docs.collect()
      rows.groupBy(_.getAs[String]("verse_key"))
    }
    // pre-converted ONCE (tafsir rows are KBs of text each — per-call
    // conversion dominated the honest lookup cost); the per-call work is
    // the leaf-plan QueryExecution + collect
    private lazy val verseInternal
        : Map[String, Seq[org.apache.spark.sql.catalyst.InternalRow]] = {
      val conv = org.apache.spark.sql.graftshim.ColumnShim
        .internalConverter(index.docs.schema)
      verseRows.map { case (k, rs) => k -> rs.toSeq.map(conv) }
    }

    /** search_tafsir parity (quran_mcp/search.py:178-318) — warm. When no
      * vector cache or query vector is present the engine serves the
      * reference's own degraded mode (search.py:212-215). */
    def search(query: String, n: Int = 5, mode: String = "hybrid",
               queryVec: Option[Array[Float]] = None): DataFrame =
      Quran.searchWith(index, query, queryVec, n, mode)

    /** Raw FTS5 MATCH passthrough (r16) — the reference's
      * `search_tafsir` hands the user string verbatim to FTS5
      * (search.py:116-127), so `OR`/`NOT`/`NEAR()`/`"phrase"`/`content:`
      * work and malformed syntax surfaces as an error string. Left =
      * that error (the str(sqlite3.OperationalError) analog, to ride a
      * result envelope); Right = (verse_key, surah, ayah, bm25) top-n. */
    def matchSearch(matchQuery: String,
                    n: Int = 5): Either[String, DataFrame] =
      operators.FtsMatch.search(index, matchQuery, n)

    /** Driver-resident typed-search layers (see [[operators.Resident]]) —
      * same lazy build / counted-bound / distributed-fallback contract as
      * the hadith engine's. */
    private lazy val searchLayers: Option[Resident.QuranLayers] =
      if (residentOk) Resident.quranLayers(index, maxResidentRows) else None

    /** Sub-millisecond tafsir search — the typed twin of [[search]]; zero
      * Spark jobs once the layers are built, no result memoization.
      * Parity pinned in ResidentSearchSpec. */
    def searchTyped(query: String, n: Int = 5, mode: String = "hybrid",
                    queryVec: Option[Array[Float]] = None): Seq[Resident.QuranHit] =
      searchLayers match {
        case Some(l) => Resident.searchQuran(l, query, queryVec, n, mode)
        case None => Quran.searchWith(index, query, queryVec, n, mode)
          .collect().toSeq.map(r => Resident.QuranHit(
            r.getString(0), r.getInt(1), r.getInt(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5), r.getString(6)))
      }

    /** get_verse parity (server.py:77-107) — served from the
      * driver-resident cache as a LocalRelation (no Spark job). Only the
      * key→rows map is memoized (the B-tree analog); the result frame is
      * built per call, so repeated-identical-key benches measure the
      * lookup, not a result cache. */
    def getVerse(verseKey: String): DataFrame =
      if (!residentOk) Quran.getVerse(index.docs, verseKey)
      else org.apache.spark.sql.graftshim.ColumnShim.localDf(
        index.docs.sparkSession, index.docs.schema,
        verseInternal.getOrElse(verseKey, Nil))

    /** Sub-5-ms verse lookup (see [[Graft.TafsirHit]]): the typed twin
      * of [[getVerse]] — same resident key→rows map, no DataFrame, no
      * per-call QueryExecution tax; entries ordered by resourceId.
      * Over-bound corpora collect the distributed [[Quran.getVerse]]
      * instead (one bounded job). */
    def getVerseTyped(verseKey: String): Seq[Graft.TafsirHit] = {
      val rows: Seq[org.apache.spark.sql.Row] =
        if (residentOk) verseRows.getOrElse(verseKey, Array.empty).toSeq
        else Quran.getVerse(index.docs, verseKey).collect().toSeq
      rows.map(r => Graft.TafsirHit(r.getAs[String]("verse_key"),
          r.getAs[Int]("surah"), r.getAs[Int]("ayah"),
          r.getAs[Int]("resource_id"), r.getAs[String]("resource_name"),
          r.getAs[String]("slug"), r.getAs[String]("text_plain")))
        .sortBy(_.resourceId)
    }

    /** index_status parity (server.py:109-113). */
    def status: DataFrame = Quran.indexStatus(index.docs)

    /** Nearest corpus vector to a verse's own embedding — utility the
      * reference exposes through search-by-content. */
    def similarVerses(verseKey: String, n: Int = 5): DataFrame = {
      val e = emb.getOrElse(sys.error("no embedding cache loaded"))
      val qv = e.where(col("verse_key") === verseKey)
        .head().getSeq[Float](1).toArray
      search("", n, "semantic", Some(qv))
    }
  }
}

/** S9-style index persistence: write the query-independent index layers
  * as parquet once (an expensive corpus-wide job), then open engines
  * straight from the persisted layout — no raw-JSONL rescan, no postings
  * or embedding rebuild. At cluster scale these directories are the
  * bucketed/partitioned tables every executor reads locally; here they
  * are plain parquet with the same schemas.
  */
object GraftIndexes {

  /** Term buckets in persisted postings layouts. Fixed (not a knob): the
    * reader must re-register the identical bucket spec or the layout
    * silently degrades to a plain scan. */
  val PostingsBuckets = 16

  // catalog identity of a persisted postings layout: the same dir always
  // maps to the same table name, so re-opens in any session find/recreate
  // the same registration
  private def postingsTable(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("md5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"graft_postings_${md.take(12)}"
  }

  /** Persist the hadith index layers (silver + field postings + slots). */
  def writeHadith(spark: SparkSession, booksGlob: String, dir: String,
                  dim: Int = 128): Unit = {
    val silver = HadithSearch.silver(Ingest.validated(Ingest.readBooks(spark, booksGlob)))
    val idx = HadithSearch.buildIndex(silver, dim, cache = true)
    idx.docs.write.mode("overwrite").parquet(s"$dir/silver")
    // postings partitioned by field AND bucketed by term: a field-scoped
    // probe is partition pruning (the FTS5 column-filter equivalent,
    // SURVEY S9), and dictionary expansion / term-probe joins run
    // shuffle-free off the bucket layout
    Postings.saveBucketed(idx.post, postingsTable(s"$dir/postings"),
      PostingsBuckets, Some(s"$dir/postings"), Seq("field"))
    idx.slots.write.mode("overwrite").parquet(s"$dir/slots")
  }

  /** Open a hadith engine from persisted layers (warm open: only the
    * tiny dictionaries/stats are re-derived, over the persisted postings,
    * through the SAME indexFromLayers the in-memory build uses). */
  def openHadith(spark: SparkSession, dir: String, dim: Int = 128): Graft.HadithEngine = {
    val docs = spark.read.parquet(s"$dir/silver").cache()
    val post = Postings.openBucketed(spark, postingsTable(s"$dir/postings"),
      s"$dir/postings", PostingsBuckets, Seq("field")).cache()
    val slots = spark.read.parquet(s"$dir/slots").cache()
    new Graft.HadithEngine(
      HadithSearch.indexFromLayers(docs, post, slots, dim).materialize())
  }

  /** Persist the quran index layers (docs + postings + embeddings). */
  def writeQuran(spark: SparkSession, corpusDir: String, dir: String,
                 npzPath: Option[String] = None): Unit = {
    val idx = Quran.buildIndex(Quran.load(spark, corpusDir), None, cache = false)
    idx.docs.write.mode("overwrite").parquet(s"$dir/docs")
    Postings.saveBucketed(idx.postings, postingsTable(s"$dir/postings"),
      PostingsBuckets, Some(s"$dir/postings"))
    npzPath.foreach { p =>
      Npz.embeddings(spark, p).write.mode("overwrite").parquet(s"$dir/embeddings")
    }
  }

  /** Cluster index rows by their partition column before a
    * `partitionBy` parquet write. An un-clustered frame makes every
    * write task open one file per partition DIRECTORY it sees — worst
    * case tasks × K files, and with one input split the whole write is
    * a single task creating K directories sequentially (measured r18:
    * writeIvfSq8's 128-dir write ran 3-8 s in one task and dominated
    * the ann_probe_join_split build). Clustered, the write parallelizes
    * across directories and each directory gets exactly ONE file
    * (guide §6 — shuffle before a partitioned write; file count = K,
    * not tasks × K). Rows are additionally sorted by `vec_id` inside
    * each directory so the rerank phase's pushed `vec_id IN (…)`
    * filter keeps effective row-group min/max stats. The tiny
    * assignment shuffle this adds is metadata-scale next to the file
    * churn it removes at any corpus size.
    *
    * HASH-collision caveat (r18 ADVICE #2): repartition(K, col) can
    * land two partition values in one task (written sequentially)
    * while other tasks stay empty, so write parallelism degrades
    * probabilistically — one-file-per-directory still holds, which is
    * the property the readers depend on. repartitionByRange would
    * avoid collisions outright but pays a sampling pass per write;
    * hashing into 2K partitions instead keeps the single shuffle and
    * roughly halves the share of values that land in a shared task
    * (P(value alone) = (1−1/B)^(K−1): ≈ e⁻¹ at B=K, ≈ e^−½ at B=2K) —
    * and a directory still never splits (all rows of one value hash to
    * one task). */
  private def clusterForWrite(df: DataFrame, partCol: String,
                              nParts: Int): DataFrame =
    df.repartition(math.max(1, 2 * nParts), col(partCol))
      .sortWithinPartitions(col(partCol), col("vec_id"))

  /** Persist an ANN index partitioned by bucket — a probe that filters
    * on the query's bucket reads exactly one partition directory. */
  def writeAnn(spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
               dir: String, dim: Int, nBits: Int): Unit =
    clusterForWrite(Similarity.annIndex(emb, idCol, vecCol, dim, nBits),
      "bucket", 1 << nBits)
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)

  /** Open a persisted ANN index (cached; probe via Similarity.annTopKWith). */
  def openAnn(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).cache()

  /** Persist the SQ8 code layer — (vec_id, c8 array<TINYINT>): ONE byte
    * per dimension on disk and in the probe's scan, vs eight for the
    * integer-grid doubles — the materialized form of the `ann_sq8`
    * rung's bandwidth claim. Codes are integral values in [-127,127]
    * ([[graft.operators.Similarity.sq8Codes]]), so the byte cast is
    * exact and a reopened probe is bit-identical to the in-memory
    * rung. Zero-norm vectors are dropped (no direction to rank) —
    * same guard as the rung. */
  private def sq8CodeFrame(emb: DataFrame, idCol: String,
                           vecCol: String): DataFrame =
    Similarity.quantized(emb, idCol, vecCol)
      .withColumn("qm", Similarity.sq8Max(col("qv")))
      .where(col("qm") > 0)
      .select(col("vec_id"),
        transform(Similarity.sq8Codes(col("qv"), col("qm")), x => x.cast("byte")).as("c8"))

  def writeSq8(spark: SparkSession, emb: DataFrame, idCol: String,
               vecCol: String, dir: String): Unit =
    sq8CodeFrame(emb, idCol, vecCol)
      .write.mode("overwrite").parquet(s"$dir/codes")

  /** The flat SQ8 layer's append — the easier half of the
    * incremental-index story: the code layer has NO trained state
    * (per-vector max scaling), so appending a delta is just encoding
    * it with the same per-row rule and appending the files; a
    * rebuilt-from-scratch layer is row-identical (spec-pinned).
    *
    * IDEMPOTENT-APPEND (r16, shared with [[appendIvf]]): the delta
    * anti-joins the layout's existing vec_ids before the write, so a
    * retried or double-run append is a NO-OP — duplicate codes would
    * otherwise DILUTE [[sq8Probe]]'s candidate cut (`limit(k·rerank)`
    * over the code rank). The check reads the layout's vec_id column
    * only. vec_id is the identity key: re-ingesting an existing id is
    * a no-op, not an update. */
  def appendSq8(spark: SparkSession, delta: DataFrame, idCol: String,
                vecCol: String, dir: String): Unit =
    sq8CodeFrame(delta, idCol, vecCol)
      .join(openSq8(spark, dir).select("vec_id"), Seq("vec_id"), "left_anti")
      .write.mode("append").parquet(s"$dir/codes")

  /** Open a persisted SQ8 code layer. */
  def openSq8(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/codes")

  /** Probe a persisted SQ8 layer: the byte-code scan ranks the corpus
    * (approx cosine, round-6, vec_id tie-break), the top k·rerank ids
    * join BACK to the vector table for the exact rerank — the scan
    * reads one byte per dimension; the full vectors are touched for
    * ≤k·rerank rows only. Results are bit-identical to the in-memory
    * [[graft.operators.Similarity.sq8TopK]] (spec-pinned). */
  def sq8Probe(codes: DataFrame, emb: DataFrame, idCol: String,
               vecCol: String, queryVec: Array[Float], k: Int,
               rerank: Int = 4): DataFrame = {
    val qq = VecFns.quantizeLocal(queryVec)
    val q8 = VecFns.sq8CodesLocal(qq) match {
      case Some(c) => c
      case None => return Similarity.emptyTopK(codes) // zero query
    }
    val cand = codes
      .select(col("vec_id"),
        round(VecFns.cosineQ(col("c8").cast("array<double>"), typedLit(q8)), 6)
          .as("approx"))
      .orderBy(desc("approx"), asc("vec_id")).limit(k * rerank)
      .select("vec_id")
    Similarity.quantized(emb, idCol, vecCol)
      .join(broadcast(cand), "vec_id")
      .transform(Similarity.exactTopK(typedLit(qq), k))
  }

  /** Persist the PQ layer — (vec_id, pcode array<TINYINT>) codes plus
    * the trained codebooks as a tiny sidecar (m·ksub rows of exact
    * integer-valued doubles; parquet round-trips them bitwise, so a
    * reopened probe is bit-identical to the in-memory rung). The code
    * column is m BYTES per vector — 8× narrower than the SQ8 layer at
    * m = dim/8 and 64× narrower than the 8-byte grid — the byte
    * ladder's bottom rung made physical. Training scans the corpus
    * (iters+1)× per subspace; [[appendPq]] encodes deltas against the
    * read-back books with no retrain. */
  def writePq(spark: SparkSession, emb: DataFrame, idCol: String,
              vecCol: String, dir: String, dim: Int, m: Int = 8,
              ksub: Int = 16, iters: Int = 1): Unit = {
    val qd = Similarity.quantized(emb, idCol, vecCol).cache()
    try {
      val books = Similarity.pqTrain(qd, dim, m, ksub, iters)
      qd.select(col("vec_id"),
          Similarity.pqCodeExpr(col("qv"), books, dim / m).as("pcode"))
        .write.mode("overwrite").parquet(s"$dir/codes")
      writeBooks(spark, dir, books)
    } finally qd.unpersist()
  }

  /** The codebook sidecar of [[writePq]] and [[writeRpq]]: m·ksub rows
    * (j, i, cqv), read back by [[readBooks]]. */
  private def writeBooks(spark: SparkSession, dir: String,
                         books: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (cv, i) => (j, i, cv.toSeq) }
    }.toSeq.toDF("j", "i", "cqv").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/books")
  }

  private def readBooks(spark: SparkSession,
                        dir: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$dir/books").orderBy("j", "i").collect()
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map(_._2
      .sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)).toArray
  }

  /** Open a persisted PQ layer: (codes frame, codebooks). */
  def openPq(spark: SparkSession,
             dir: String): (DataFrame, Array[Array[Array[Double]]]) = {
    val books = readBooks(spark, dir)
    (spark.read.parquet(s"$dir/codes"), books)
  }

  /** INCREMENTAL maintenance of a [[writePq]] layer: the delta encodes
    * against the READ-BACK codebooks (no retrain — sub-centroid
    * assignment is per-row, so base and append cannot drift) through
    * the same [[graft.operators.Similarity.pqCodeExpr]] projection.
    * IDEMPOTENT-APPEND (the [[appendIvf]] rule): existing vec_ids
    * anti-join away, so a retried append is a no-op and the code-rank
    * cut can't be diluted. Retrain cadence is caller policy. */
  def appendPq(spark: SparkSession, delta: DataFrame, idCol: String,
               vecCol: String, dir: String): Unit = {
    val (codes, books) = openPq(spark, dir)
    val dim = books.length * books.head.head.length
    Similarity.quantized(delta, idCol, vecCol)
      .select(col("vec_id"),
        Similarity.pqCodeExpr(col("qv"), books, dim / books.length).as("pcode"))
      .join(codes.select("vec_id"), Seq("vec_id"), "left_anti")
      .write.mode("append").parquet(s"$dir/codes")
  }

  /** Probe a persisted PQ layer: the m-byte-code scan ADC-ranks the
    * corpus through [[graft.operators.Similarity.pqRankIds]] (the ONE
    * rank tail the in-memory rung uses — bit-identical, spec-pinned),
    * the top k·rerank ids join BACK to the vector table for the exact
    * rerank. The scan reads m bytes per vector; full vectors are
    * touched for ≤ k·rerank rows only. */
  def pqProbe(codes: DataFrame, emb: DataFrame, idCol: String,
              vecCol: String, books: Array[Array[Array[Double]]],
              queryVec: Array[Float], k: Int, rerank: Int = 4): DataFrame = {
    val qq = VecFns.quantizeLocal(queryVec)
    if (qq.map(x => x * x).sum == 0) return Similarity.emptyTopK(codes)
    val ids = Similarity.pqRankIds(codes, books, qq, k * rerank)
    Similarity.quantized(emb, idCol, vecCol)
      .join(broadcast(ids), "vec_id")
      .transform(Similarity.exactTopK(typedLit(qq.toSeq), k))
  }

  /** Persist the scale-aware spill-IVF index (the r14 `ann_topk`
    * default's serving face): the assignment partitioned by `centroid`
    * — a probe's literal isin over ≤nProbe centroid ids reads exactly
    * those partition directories (partition pruning at any corpus
    * size; plan-audited) — plus the trained centroids as a tiny
    * sidecar table (K rows of exact integer-valued doubles; parquet
    * round-trips them bitwise, so a reopened probe is bit-identical
    * to the in-memory one). `nCentroids = 0` derives K from the
    * corpus size ([[graft.operators.Similarity.nListsFor]]). */
  def writeIvf(spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
               dir: String, nCentroids: Int = 0, lloydIters: Int = 3): Unit =
    writeSpillIvf(spark, emb, idCol, vecCol, dir, nCentroids, lloydIters)((a, _) => a)

  /** The build shared by every spill-IVF layout: derive K (when
    * `nCentroids = 0`), train + spill-assign, write `code`'s rows of
    * the assignment clustered and partitioned by `centroid`, then the
    * trained-centroid sidecar. `code` may run jobs of its own (the
    * residual books); this writer adds none. */
  private def writeSpillIvf(spark: SparkSession, emb: DataFrame, idCol: String,
                            vecCol: String, dir: String, nCentroids: Int,
                            lloydIters: Int)(
      code: (DataFrame, Array[Array[Double]]) => DataFrame): Unit = {
    val k = if (nCentroids > 0) nCentroids else Similarity.nListsFor(emb.count())
    val (asg, cents) = Similarity.ivfIndexSpill(emb, idCol, vecCol, k, lloydIters)
    clusterForWrite(code(asg, cents), "centroid", k)
      .write.mode("overwrite").partitionBy("centroid").parquet(s"$dir/assign")
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("i", "cvec").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Persist the COMPOSED IVF×SQ8 layout — the serving face of the
    * r15 `ann_topk` default: ONE partitioned-by-centroid table
    * carrying (vec_id, c8, qv) plus the trained-centroid sidecar.
    * Parquet is columnar, so the code-rank phase of
    * [[ivfSq8ProbeSplit]] reads ONLY the (vec_id, c8) columns of the
    * probed partitions — 1 byte/dim where brute force reads the
    * 8-byte grid, the default rung's byte claim made physical
    * (plan-audited via ReadSchema) — and the exact rerank re-reads
    * the same partitions with a pushed `vec_id IN (k·rerank ids)`
    * filter, touching only the qv pages whose row-group stats
    * overlap. Zero-norm vectors are dropped (no direction to rank —
    * the [[graft.operators.Similarity.sq8TopK]] guard). [[openIvf]]
    * opens this layout unchanged (the extra c8 column rides along),
    * so [[graft.operators.Similarity.ivfProbeSpill]] and
    * [[graft.operators.Similarity.ivfProbeSpillJoin]] probe it too.
    * `nCentroids = 0` derives K from the corpus size. */
  def writeIvfSq8(spark: SparkSession, emb: DataFrame, idCol: String,
                  vecCol: String, dir: String, nCentroids: Int = 0,
                  lloydIters: Int = 3): Unit =
    writeSpillIvf(spark, emb, idCol, vecCol, dir, nCentroids, lloydIters)(
      (asg, _) => ivfSq8Rows(asg))

  /** The composed layout's row projection — ONE derivation shared by
    * [[writeIvfSq8]], [[appendIvf]], and the bench's warm coded
    * index, so base build, delta append, and the cached serving form
    * cannot drift on what a code row is (the appendSq8 doctrine).
    * Zero-norm vectors drop. */
  private[graft] def ivfSq8Rows(asg: DataFrame): DataFrame =
    asg.withColumn("qm", Similarity.sq8Max(col("qv")))
      .where(col("qm") > 0)
      .withColumn("c8",
        transform(Similarity.sq8Codes(col("qv"), col("qm")), x => x.cast("byte")))
      .select("vec_id", "qv", "c8", "primary", "centroid")

  /** [[appendIvf]] under its earlier composed-layout name. */
  def appendIvfSq8(spark: SparkSession, delta: DataFrame, idCol: String,
                   vecCol: String, dir: String): Unit =
    appendIvf(spark, delta, idCol, vecCol, dir)

  /** Persist a RESIDUAL IVF×PQ layer (the r17 `ann_ivf_rpq` rung's
    * serving face — FAISS IVFADC on disk): spill-IVF assignment rows
    * coded against their own list's centroid through the shared
    * [[graft.operators.Similarity.rpqRows]] projection, partitioned by
    * centroid (probes partition-prune), plus the coarse centroids and
    * residual codebooks as planning sidecars (K·dim + m·ksub·dsub
    * integral doubles). */
  def writeRpq(spark: SparkSession, emb: DataFrame, idCol: String,
               vecCol: String, dir: String, dim: Int, m: Int = 8,
               ksub: Int = 16, iters: Int = 1, nCentroids: Int = 0,
               lloydIters: Int = 3): Unit = {
    var cached: Option[DataFrame] = None // books training + the row write both scan it
    try writeSpillIvf(spark, emb, idCol, vecCol, dir, nCentroids, lloydIters) { (asg, cents) =>
      cached = Some(asg.cache())
      val books = Similarity.rpqTrain(asg, cents, dim, m, ksub, iters)
      writeBooks(spark, dir, books)
      Similarity.rpqRows(asg, cents, books)
    } finally cached.foreach(_.unpersist())
  }

  /** Open a persisted residual layer: (assignment+codes frame, coarse
    * centroids, residual codebooks). Probe via
    * [[graft.operators.Similarity.rpqProbeLayout]] — spec-pinned
    * bit-identical to the in-memory rung. */
  def openRpq(spark: SparkSession, dir: String)
      : (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val (asg, cents) = openIvf(spark, dir)
    (asg, cents, readBooks(spark, dir))
  }

  /** Probe a persisted [[writeIvfSq8]] layout in the two-phase
    * narrow-read shape (the on-disk twin of
    * [[graft.operators.Similarity.ivfSq8Probe]], bit-identical
    * results — spec-pinned):
    *
    *  1. code rank: scan ONLY (vec_id, c8) of the nProbe probed
    *     partitions (partition pruning on the centroid literal;
    *     column pruning keeps the 8-byte qv out of the read), rank by
    *     code cosine, keep the top k·rerank ids — a COUNTED collect,
    *     k·rerank ≤ a few hundred by contract;
    *  2. exact rerank: re-read the same partitions with the literal
    *     `vec_id IN (ids)` PUSHED to parquet (row-group stats skip
    *     most qv pages), exact-rescore, top k.
    *
    * The spill double-assignment means a vec_id can appear in two
    * probed partitions — both carry identical codes/vectors, so phase
    * 1 dedupes before the cut and phase 2 before the rescore. */
  def ivfSq8ProbeSplit(assigned: DataFrame, cents: Array[Array[Double]],
                       q: Array[Float], nProbe: Int, k: Int,
                       rerank: Int = 4): DataFrame = {
    val qq = VecFns.quantizeLocal(q)
    val q8 = VecFns.sq8CodesLocal(qq) match {
      case Some(c) => c
      case None => return Similarity.emptyTopK(assigned) // zero query
    }
    val probeSet = Similarity.spillProbeSet(cents, q, nProbe)
    val ids = sq8CodeRankFrame(assigned, probeSet, q8, k * rerank)
      .collect().map(_.getLong(0)).toSeq
    if (ids.isEmpty) return Similarity.emptyTopK(assigned)
    Similarity.probeDeduped(assigned, probeSet)
      .where(col("vec_id").isin(ids: _*))
      .transform(Similarity.exactTopK(typedLit(qq), k))
  }

  /** [[ivfSq8ProbeSplit]]'s phase-1 code-rank frame, factored out so
    * the plan audit pins the REAL read shape: partition pruning on the
    * probed centroid set, column pruning to (vec_id, c8) — qv never
    * enters the scan. */
  private[graft] def sq8CodeRankFrame(assigned: DataFrame, probeSet: Seq[Int],
                                      q8: Array[Double], cut: Int): DataFrame =
    Similarity.probeDeduped(assigned, probeSet)
      .select(col("vec_id"),
        round(VecFns.cosineQ(col("c8").cast("array<double>"), typedLit(q8)), 6)
          .as("approx"))
      .orderBy(desc("approx"), asc("vec_id")).limit(cut)
      .select("vec_id")

  /** BATCHED probe of a persisted [[writeIvfSq8]] layout in the
    * byte-narrow two-phase shape — [[ivfSq8ProbeSplit]]'s batched twin
    * and the 100 TB form of
    * [[graft.operators.Similarity.ivfSq8ProbeJoin]] (whose one-plan
    * scan reads qv for every candidate because the rerank needs it in
    * the same pass):
    *
    *  1. code rank, ITS OWN JOB: the (probe_id, centroid, p8) schedule
    *     broadcast-equi-joins ONLY the (vec_id, c8, primary) columns of
    *     the probed partitions (parquet column pruning keeps the
    *     8-byte-per-dim qv out of the read — plan-audited via
    *     ReadSchema; partition pruning via the dynamic broadcast key,
    *     exactly as the one-plan join), spill duplicates collapse
    *     row-locally, candidates rank per probe by code cosine, and
    *     the per-probe top k·rerank (probe_id, vec_id, centroid)
    *     winners COLLECT — a counted set, ≤ |probes|·k·rerank rows by
    *     contract (offline eval suites, contrastive mining; an
    *     unbounded probe firehose should stay in the one-plan
    *     [[graft.operators.Similarity.ivfSq8ProbeJoin]]);
    *  2. exact rerank: re-read ONLY the winners' partition directories
    *     (a literal centroid set — tighter than the probed union) with
    *     the bounded `vec_id IN (…)` literal PUSHED to parquet
    *     (row-group stats skip most qv pages), join the winner pairs
    *     and probe vectors back as broadcasts, exact-rescore, per-probe
    *     top k.
    *
    * Bytes scanned ≈ probed-partition rows × 1 byte/dim + winner qv
    * pages — batched retrieval inside the single-query split probe's
    * envelope. Results are row-identical to [[ivfSq8ProbeJoin]]
    * (spec-pinned): phase 1 replays its code-rank window (same
    * rounding, same (approx desc, vec_id asc) total order, same cut)
    * and phase 2 its exact window over the identical candidate set. */
  def ivfSq8ProbeJoinSplit(assigned: DataFrame, cents: Array[Array[Double]],
                           probes: DataFrame, idCol: String, vecCol: String,
                           nProbe: Int, k: Int, rerank: Int = 4): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val schedule = Similarity.sq8ScheduleFrame(probes, idCol, vecCol, cents,
      nProbe)
    val winners = sq8CodeRankJoinFrame(assigned, schedule, k * rerank).collect()
    if (winners.isEmpty)
      return Seq.empty[(Long, Long, Double, Int)]
        .toDF("probe_id", "vec_id", "cos", "rn")
    val ids = winners.map(_.getLong(1)).distinct.toSeq
    val cset = winners.map(_.getInt(2)).distinct.toSeq
    // spill copies carry identical qv, so keeping either is exact
    val vecs = assigned
      .where(col("centroid").isin(cset: _*))
      .where(col("vec_id").isin(ids: _*))
      .select("vec_id", "qv").dropDuplicates("vec_id")
    val pairs = winners.map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("probe_id", "vec_id")
    // no forced hint on the probes side: the winner-filtered left is
    // ≤ |probes|·k·rerank rows and the probe side ≤ |probes| rows —
    // both bounded, so AQE's runtime sizes pick the broadcast (the
    // registry-wide hint audit forbids forced hints over file scans
    // that aren't bounded by construction)
    val pv = probes.select(col(idCol).cast("long").as("probe_id"),
      VecFns.quantize(col(vecCol)).as("pv"))
    val we = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(desc("cos"), asc("vec_id"))
    vecs.join(broadcast(pairs), "vec_id")
      .join(pv, "probe_id")
      .select(col("probe_id"), col("vec_id"),
        round(VecFns.cosineQ(col("qv"), col("pv")), 6).as("cos"))
      .withColumn("rn", row_number().over(we)).where(col("rn") <= k)
      .select("probe_id", "vec_id", "cos", "rn")
  }

  /** [[ivfSq8ProbeJoinSplit]]'s phase-1 frame, factored out so the
    * plan audit pins the batched code-rank job's read shape: the
    * assigned side is projected to (vec_id, c8, primary, centroid)
    * BEFORE the schedule join — ReadSchema carries the 1-byte codes,
    * never the 8-byte qv. Window semantics are byte-identical to
    * [[graft.operators.Similarity.ivfSq8ProbeJoin]]'s code-rank stage
    * (same round-6 code cosine, (approx desc, vec_id asc) order, same
    * k·rerank cut) so the split form's winner set is ITS candidate
    * set. Emits (probe_id, vec_id, centroid) — the kept copy's
    * partition rides along so phase 2 prunes to exactly the winners'
    * directories. */
  private[graft] def sq8CodeRankJoinFrame(assigned: DataFrame,
                                          schedule: DataFrame, cut: Int): DataFrame = {
    val narrow = assigned.select("vec_id", "c8", "primary", "centroid")
    val base = narrow.join(broadcast(schedule), "centroid")
      .withColumn("a8", col("c8").cast("array<double>"))
    val cand = Similarity.scheduleDeduped(base, schedule)
      .select(col("probe_id"), col("vec_id"), col("centroid"),
        round(VecFns.cosineQ(col("a8"), col("p8")), 6).as("approx"))
    val wa = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(desc("approx"), asc("vec_id"))
    cand.withColumn("ra", row_number().over(wa)).where(col("ra") <= cut)
      .select("probe_id", "vec_id", "centroid")
  }

  /** INCREMENTAL maintenance of every persisted spill-IVF layout —
    * the hourly-append face of the nightly-retrain index: new vectors
    * are assigned against the EXISTING trained centroids (same spill
    * rule as the base build — read back bitwise from the sidecar, so
    * the appended assignment is exactly what a from-scratch assignment
    * over base+delta with these centroids produces) and appended to
    * the partitioned layout; only the delta's partitions gain files.
    * The layout's schema (the footer [[openIvf]] reads) picks the code:
    * `c8` → [[ivfSq8Rows]] ([[writeIvfSq8]]), `pcode` →
    * [[graft.operators.Similarity.rpqRows]] against the read-back books
    * ([[writeRpq]]; no retrain), neither → raw rows ([[writeIvf]]) — so
    * an append can never mix coded and code-less files. Retraining
    * cadence is the caller's policy: re-run the layout's write when
    * the corpus has grown past the next K ∝ √N power-of-two boundary.
    *
    * IDEMPOTENT-APPEND (r16, was exactly-once-by-contract): the delta's
    * assignment anti-joins the layout's existing (vec_id, centroid)
    * pairs before the write, so a retried or double-run append is a
    * NO-OP instead of silently duplicating rows — duplicates would
    * occupy probe top-k slots twice (the r15 row-local spill dedupe
    * keeps both copies of an append duplicate) and dilute
    * [[sq8Probe]]'s candidate cut. The check scans only the
    * (vec_id, centroid) columns (column-pruned; centroids are fixed, so
    * a re-run delta assigns to the same partitions it did before).
    * vec_id is the IDENTITY key: re-ingesting an existing id is a
    * no-op, not an update — updates rebuild or go through the
    * [[graft.operators.Incremental]] upsert path. */
  def appendIvf(spark: SparkSession, delta: DataFrame, idCol: String,
                vecCol: String, dir: String): Unit = {
    val (asg, cents) = openIvf(spark, dir)
    requirePrimary(asg, dir)
    val assigned = Similarity.ivfAssignSpill(delta, idCol, vecCol, cents)
    val rows =
      if (asg.columns.contains("c8")) ivfSq8Rows(assigned)
      else if (asg.columns.contains("pcode"))
        Similarity.rpqRows(assigned, cents, readBooks(spark, dir))
      else assigned
    clusterForWrite(freshAssignRows(rows, asg), "centroid", cents.length)
      .write.mode("append").partitionBy("centroid").parquet(s"$dir/assign")
  }

  /** The idempotence filter of [[appendIvf]]: delta
    * assignment rows whose (vec_id, centroid) pair already exists in
    * the layout are dropped. Anti-join on the pair (not vec_id alone)
    * so a spill copy whose primary landed in an earlier partial run
    * still completes. The existing side reads two columns of the
    * layout only. */
  private def freshAssignRows(assignedDelta: DataFrame,
                              existing: DataFrame): DataFrame =
    assignedDelta.join(existing.select("vec_id", "centroid"),
      Seq("vec_id", "centroid"), "left_anti")

  /** Refuse to append r15 rows (which carry the `primary` centroid)
    * onto a pre-r15 layout that lacks the column: the mixed layout
    * would read old-file rows with primary = NULL, and the row-local
    * spill-dedupe predicate drops NULL rows — every probe would
    * SILENTLY return results drawn only from the appended delta.
    * Loud error over silent wrongness (the nearDupIngest fresh-start
    * doctrine); rebuild with writeIvf/writeIvfSq8 instead. */
  private def requirePrimary(asg: DataFrame, dir: String): Unit =
    require(asg.columns.contains("primary"),
      s"$dir/assign is a pre-r15 layout without the `primary` column; " +
        "appending r15 rows would mix schemas and make probes silently " +
        "drop the base corpus — rebuild the layout with writeIvf/writeIvfSq8")

  /** Open a persisted spill-IVF: (assignment frame, trained centroids).
    * Probe via [[graft.operators.Similarity.ivfProbeSpill]] — the
    * centroid filter partition-prunes the layout. */
  def openIvf(spark: SparkSession, dir: String): (DataFrame, Array[Array[Double]]) = {
    val cents = spark.read.parquet(s"$dir/centroids").orderBy("i")
      .collect().map(_.getSeq[Double](1).toArray)
    (spark.read.parquet(s"$dir/assign"), cents)
  }

  /** Open a quran engine from persisted layers. */
  def openQuran(spark: SparkSession, dir: String): Graft.QuranEngine = {
    val docs = spark.read.parquet(s"$dir/docs").cache()
    val post = Postings.openBucketed(spark, postingsTable(s"$dir/postings"),
      s"$dir/postings", PostingsBuckets).cache()
    // Hadoop FS probe, not java.io.File — the layer may live on any
    // filesystem the session can read (hdfs://, s3a://, local)
    val embPath = new org.apache.hadoop.fs.Path(s"$dir/embeddings")
    val fs = embPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val emb =
      if (fs.exists(embPath)) Some(spark.read.parquet(s"$dir/embeddings").cache())
      else None
    new Graft.QuranEngine(Quran.indexFromLayers(docs, post, emb).materialize())
  }
}
