package graft

import graft.operators.{HadithSearch, Ingest}
import scala.io.Source

/** The reference benchmark corpus's success-criteria SCOREBOARD
  * (TEST_QUERIES.md:390-413 — the runner the reference documents but
  * never built): per-category measured rates, computed by ONE
  * implementation shared between GoldenQueriesSpec's hard per-case
  * asserts and the per-round bench artifact (the AnnRecallSpec /
  * Bench.recallSection pattern — the pinned bars and the driver-visible
  * numbers can never desynchronize).
  *
  * Categories and bars (reference's own targets):
  *  - router classification accuracy (>95%): category 1 → exact_reference,
  *    5.1/5.2 → phrase extracted;
  *  - narrator accuracy (100%): top hit's narrator matches on every
  *    ANSWERABLE narrator query (some corpus narrator matches the probe);
  *  - phrase found rate (100%): top hit carries the phrase bonus on every
  *    answerable quoted-phrase query;
  *  - exact-reference precision (100%): spec mode returns exactly the
  *    cited hadith rows;
  *  - term coverage (>70% target; 0.69 with raw-token semantics, 0.719
  *    with the r14 Router.lightStems synonym-group expansion — the
  *    dictionary the reference declared but never shipped);
  *  - cross-lingual success (>85%): category 6 returns positive-score
  *    results.
  */
object Golden {

  val MdPath = "/root/reference/data/riyadussalihin/TEST_QUERIES.md"

  /** (category id, query) rows parsed from the benchmark markdown. */
  def queries(mdPath: String = MdPath): Seq[(String, String)] = {
    val src = Source.fromFile(mdPath, "UTF-8")
    try {
      val line = "^(\\d+(?:\\.\\d+){1,2})\\s{2,}(.+?)\\s*$".r
      src.getLines().collect { case line(id, q) => (id, q) }.toList
    } finally src.close()
  }

  /** One measured query outcome — the spec asserts each `ok` with its
    * detail; the scoreboard aggregates them into a rate. */
  final case class Outcome(query: String, ok: Boolean, detail: String = "")

  def buildIndex(spark: org.apache.spark.sql.SparkSession): HadithSearch.Index =
    HadithSearch.buildIndex(
      HadithSearch.silver(Ingest.validated(
        Ingest.readBooks(spark, Queries.HadithBooks)))
    ).materialize()

  /** Driver-side corpus projection for the answerability oracles
    * (≈1,896 rows — ground truth for "does any document satisfy this
    * query at all"). */
  final case class CorpusRow(docId: String, narrator: String, english: String,
                             collection: String, refGlobal: Option[Long],
                             refBook: Option[Long], refNum: Option[Long])

  def corpusRows(index: HadithSearch.Index): Array[CorpusRow] =
    index.docs.select("doc_id", "narrator", "english_text",
        "collection", "ref_global", "ref_book", "ref_num").collect().map { r =>
      def optL(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      CorpusRow(r.getString(0), Option(r.getString(1)).getOrElse(""),
        Option(r.getString(2)).getOrElse(""), Option(r.getString(3)).getOrElse(""),
        optL(4), optL(5), optL(6))
    }

  private def narrMatches(probe: Seq[String], narrator: String): Boolean = {
    val nt = Router.tokenize(narrator)
    probe.forall(p => nt.exists(_.startsWith(p)))
  }

  /** Category 1 → exact_reference classification. */
  def cat1Classification(qs: Seq[(String, String)]): Seq[Outcome] =
    qs.filter(_._1.startsWith("1.")).map(_._2).map { q =>
      val t = Router.route(q).qtype
      Outcome(q, t == "exact_reference", s"routed $t")
    }

  /** 5.1/5.2 → the router extracts the quoted phrase. */
  def phraseExtraction(qs: Seq[(String, String)]): Seq[Outcome] =
    qs.filter(t => t._1.startsWith("5.1") || t._1.startsWith("5.2")).map(_._2)
      .map(q => Outcome(q, Router.route(q).phrase.isDefined, "phrase extraction"))

  /** Answerable narrator queries whose TOP hit's narrator matches the
    * probe (prefix semantics — the narrator field probe's regime). */
  def narratorTop1(index: HadithSearch.Index, rows: Array[CorpusRow],
                   qs: Seq[(String, String)]): Seq[Outcome] = {
    val narratorQs = qs.map(_._2)
      .map(q => q -> Router.route(q))
      .filter { case (_, i) => i.qtype == "narrator" && i.narrator.isDefined }
    narratorQs.flatMap { case (q, intent) =>
      val probe = Router.tokenize(intent.narrator.get) match {
        case Nil => intent.tokens.take(6); case ts => ts.take(6)
      }
      if (probe.nonEmpty && rows.exists(r => narrMatches(probe, r.narrator))) {
        val top = HadithSearch.searchWith(index, q, n = 1).collect()
        val got = top.headOption
          .map(r => Option(r.getAs[String]("narrator")).getOrElse(""))
        Some(Outcome(q, got.exists(narrMatches(probe, _)),
          s"top narrator ${got.getOrElse("<none>")} vs probe $probe"))
      } else None
    }
  }

  /** Answerable quoted-phrase queries whose top hit carries the phrase
    * bonus (the phrase occurs verbatim in some document). */
  def phraseFound(index: HadithSearch.Index, rows: Array[CorpusRow],
                  qs: Seq[(String, String)]): Seq[Outcome] = {
    val phraseQs = qs.filter(_._1.startsWith("5.1")).map(_._2)
      .flatMap(q => Router.route(q).phrase.map(q -> _))
    phraseQs.flatMap { case (q, phrase) =>
      val p = phrase.toLowerCase
      if (rows.exists(_.english.toLowerCase.contains(p))) {
        val top = HadithSearch.searchWith(index, q, n = 1).collect()
        Some(Outcome(q,
          top.nonEmpty && top.head.getAs[Double]("phrase_bonus") > 0.0,
          "phrase bonus at top-1"))
      } else None
    }
  }

  /** Exact-reference queries where spec mode returns exactly the cited
    * rows (and a fully-specified global citation is unique). */
  def exactRefPrecision(index: HadithSearch.Index, rows: Array[CorpusRow],
                        qs: Seq[(String, String)]): Seq[Outcome] = {
    val refQs = qs.filter(_._1.startsWith("1.")).map(_._2)
      .flatMap(q => Router.parseExactRef(Router.route(q).normalized).map(q -> _))
    refQs.flatMap { case (q, ref) =>
      val expected = rows.filter { r =>
        ref.collection.forall(_ == r.collection) &&
          ref.global.forall(gg => r.refGlobal.contains(gg)) &&
          ref.book.forall(bb => r.refBook.contains(bb)) &&
          ref.num.forall(xx => r.refNum.contains(xx))
      }.map(_.docId).sorted.take(10)
      if (expected.nonEmpty) {
        val got = HadithSearch.searchWith(index, q, n = 10, mode = "spec")
          .collect().map(_.getAs[String]("doc_id")).toSeq
        val unique = ref.global.isEmpty || got.size == 1
        Some(Outcome(q, got == expected.toSeq && unique,
          s"spec rows ${got.mkString(",")} vs ${expected.mkString(",")}"))
      } else None
    }
  }

  /** Category 6 (cross-lingual) queries returning a positive-score hit. */
  def crossLingual(index: HadithSearch.Index, qs: Seq[(String, String)]): Seq[Outcome] =
    qs.filter(_._1.startsWith("6.")).map(_._2).map { q =>
      val hits = HadithSearch.searchWith(index, q, n = 3).collect()
      Outcome(q, hits.nonEmpty && hits.head.getAs[Double]("score") > 0.0,
        "non-empty positive-score result")
    }

  /** Average best-of-top-5 term coverage over the English-query
    * categories (2, 3, 5.1, 5.3) — the reference's >70% target; 0.719
    * measured with the serving default's synonym-group expansion
    * (see GoldenQueriesSpec's doctrine note). Returns (average, n). */
  def termCoverage(index: HadithSearch.Index, qs: Seq[(String, String)]): (Double, Int) = {
    val en = qs.filter(t =>
      Seq("2.", "3.", "5.1", "5.3").exists(t._1.startsWith)).map(_._2)
    val covs = en.flatMap { q =>
      val hits = HadithSearch.searchWith(index, q, n = 5).collect()
      if (hits.isEmpty) None
      else Some(hits.map(_.getAs[Double]("term_coverage")).max)
    }
    (if (covs.isEmpty) 0.0 else covs.sum / covs.size, covs.size)
  }

  /** The full scoreboard as one JSON object — per-category (ok, total,
    * rate) against the documented bars — plus a tail-sized compact twin
    * (the driver parses only a 2000-char stdout tail). Builds the warm
    * index once and runs every measurement. */
  def scoreboard(spark: org.apache.spark.sql.SparkSession): (String, String) =
    scoreboard(buildIndex(spark))

  /** Scoreboard over a CALLER-built index — GoldenQueriesSpec pins the
    * JSON shape through this form at near-zero marginal cost (it already
    * holds the warm index); only the bench needs the self-building
    * overload above. */
  def scoreboard(index: HadithSearch.Index): (String, String) = {
    val qs = queries()
    val rows = corpusRows(index)
    def frac(os: Seq[Outcome]): Double =
      if (os.isEmpty) 0.0 else os.count(_.ok).toDouble / os.size
    def rate(name: String, os: Seq[Outcome], bar: Double): String =
      f""""$name":{"ok":${os.count(_.ok)},"n":${os.size},"rate":${frac(os)}%.3f,"bar":$bar%.2f}"""
    val cat1 = cat1Classification(qs)
    val phx = phraseExtraction(qs)
    val narr = narratorTop1(index, rows, qs)
    val phr = phraseFound(index, rows, qs)
    val ref = exactRefPrecision(index, rows, qs)
    val xl = crossLingual(index, qs)
    val (cov, covN) = termCoverage(index, qs)
    val full = Seq(
      rate("router_cat1", cat1, 0.95),
      rate("phrase_extract", phx, 0.95),
      rate("narrator_top1", narr, 1.0),
      rate("phrase_found", phr, 1.0),
      rate("exact_ref", ref, 1.0),
      rate("cross_lingual", xl, 0.85),
      f""""term_coverage":{"avg":$cov%.3f,"n":$covN,"target":0.70,"floor":0.70}""",
      s""""n_queries":${qs.size}""").mkString("{", ",", "}")
    val compact =
      f"""{"cat1":${frac(cat1)}%.2f,"phx":${frac(phx)}%.2f,"narr":${frac(narr)}%.2f,""" +
        f""""phr":${frac(phr)}%.2f,"ref":${frac(ref)}%.2f,"xling":${frac(xl)}%.2f,""" +
        f""""cov":$cov%.2f}"""
    (full, compact)
  }

}
