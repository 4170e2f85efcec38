package graft

import graft.operators.{HadithSearch, Quran, Resident}
import graft.sources.Npz
import scala.io.Source

/** Typed driver-resident search (operators/Resident.scala): parity with
  * the DataFrame search across the reference's full 86-query benchmark
  * corpus, zero Spark jobs per warm call, and the over-bound fallback. */
class ResidentSearchSpec extends SparkSpec {

  private val mdPath = "/root/reference/data/riyadussalihin/TEST_QUERIES.md"
  private lazy val queries: Seq[(String, String)] = {
    val src = Source.fromFile(mdPath, "UTF-8")
    try {
      val line = "^(\\d+(?:\\.\\d+){1,2})\\s{2,}(.+?)\\s*$".r
      src.getLines().collect { case line(id, q) => (id, q) }.toList
    } finally src.close()
  }

  private lazy val hadith =
    Graft.openHadith(spark, "/root/reference/data/riyadussalihin/book_*.jsonl")
  private lazy val quran = Graft.openQuran(spark, "/root/reference/data/quran",
    Some("/root/reference/data/indexes/quran/embeddings.npz"))
  private lazy val qv: Array[Float] = quran.emb.get
    .where(org.apache.spark.sql.functions.col("verse_key") === "1:1")
    .head().getSeq[Float](1).toArray

  private def dfHits(q: String, n: Int, mode: String): Seq[Resident.SearchHit] =
    hadith.search(q, n, mode).collect().toSeq.map(r => Resident.SearchHit(
      r.getString(0), r.getString(1), r.getString(2), r.getString(3),
      r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
      r.getDouble(8)))

  private def dfQuranHits(q: String, n: Int, mode: String,
                          vec: Option[Array[Float]]): Seq[Resident.QuranHit] =
    quran.search(q, n, mode, vec).collect().toSeq.map(r => Resident.QuranHit(
      r.getString(0), r.getInt(1), r.getInt(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5), r.getString(6)))

  test("hadith searchTyped matches the DataFrame search on all 86 benchmark queries (balanced)") {
    assert(queries.size >= 86)
    queries.foreach { case (id, q) =>
      val typed = hadith.searchTyped(q, 10, "balanced")
      val df = dfHits(q, 10, "balanced")
      assert(typed === df, s"$id '$q' diverged")
    }
  }

  test("hadith searchTyped matches on spec + term-priority modes (category sample)") {
    // one query per category prefix + every exact-ref shape
    val sample = queries.groupBy(_._1.takeWhile(_ != '.')).values.map(_.head).toSeq ++
      Seq(("x.1", "Riyad as-Salihin 680"), ("x.2", "book 1, hadith 3"),
        ("x.3", "1:5"), ("x.4", "riyadussalihin 99999"),
        ("x.5", ""), ("x.6", "   "), ("x.7", "\"عن النية\""))
    sample.foreach { case (id, q) =>
      Seq("spec", "term-priority").foreach { mode =>
        assert(hadith.searchTyped(q, 10, mode) === dfHits(q, 10, mode),
          s"$id '$q' [$mode] diverged")
      }
    }
  }

  test("quran searchTyped matches the DataFrame search across modes") {
    val qs = Seq("mercy forgiveness charity", "patience in hardship",
      "الرحمن", "guidance for mankind", "")
    qs.foreach { q =>
      Seq("hybrid", "fts", "semantic").foreach { mode =>
        Seq(Some(qv), None).foreach { vec =>
          assert(quran.searchTyped(q, 5, mode, vec) === dfQuranHits(q, 5, mode, vec),
            s"'$q' [$mode, vec=${vec.isDefined}] diverged")
        }
      }
    }
  }

  test("degenerate zero-norm query vector degrades to the fts leg (no ANSI throw), both paths equal") {
    // A zero query vector has no direction. The reference's NumPy sims
    // come out NaN and its sim>0 filter drops every row; under Spark's
    // ANSI mode the division would THROW instead — both engines now
    // degrade to an empty vector leg, and typed == DataFrame holds.
    val zero = Array.fill(384)(0f)
    Seq("hybrid", "semantic", "fts").foreach { mode =>
      val typed = quran.searchTyped("mercy forgiveness", 5, mode, Some(zero))
      val df = dfQuranHits("mercy forgiveness", 5, mode, Some(zero))
      assert(typed === df, s"[$mode] diverged")
      if (mode == "semantic") assert(typed.isEmpty)
      if (mode == "hybrid") assert(typed.nonEmpty) // fts leg carries it
    }
    // hybrid result with a zero vector equals the vector-less degraded mode
    assert(quran.searchTyped("mercy forgiveness", 5, "hybrid", Some(zero)).map(_.verseKey) ===
      quran.searchTyped("mercy forgiveness", 5, "fts", None).map(_.verseKey))
  }

  test("warm searchTyped launches ZERO Spark jobs (both engines)") {
    hadith.searchTyped("patience and gratitude", 5) // builds the layers
    hadith.searchTyped("Riyad as-Salihin 1", 5, "spec") // builds refRows too
    quran.searchTyped("mercy", 5, "hybrid", Some(qv))
    val tally = graft.obs.SparkTally.attach(spark.sparkContext)
    try {
      assert(hadith.searchTyped("narrated by Abu Hurairah", 5).nonEmpty)
      assert(hadith.searchTyped("Riyad as-Salihin 680", 5, "spec").nonEmpty)
      assert(quran.searchTyped("mercy forgiveness", 5, "hybrid", Some(qv)).nonEmpty)
      val jobs = tally.totals().jobs
      assert(jobs === 0, s"warm typed search launched $jobs Spark jobs")
    } finally tally.detach()
  }

  test("over-bound corpora fall back to the distributed search, same answers") {
    val bounded = new Graft.HadithEngine(hadith.index, maxResidentRows = 0)
    val boundedQ = new Graft.QuranEngine(quran.index, maxResidentRows = 0)
    val tally = graft.obs.SparkTally.attach(spark.sparkContext)
    try {
      assert(bounded.searchTyped("patience and gratitude", 5) ===
        hadith.searchTyped("patience and gratitude", 5))
      assert(boundedQ.searchTyped("mercy forgiveness", 5, "hybrid", Some(qv)) ===
        quran.searchTyped("mercy forgiveness", 5, "hybrid", Some(qv)))
      // the fallback path RUNS Spark jobs — proof the resident path is off
      assert(tally.totals().jobs > 0)
    } finally tally.detach()
  }

  test("ftsMatchTyped: resident equals the distributed fallback, AND semantics hold") {
    val bounded = new Graft.HadithEngine(hadith.index, maxResidentRows = 0)
    Seq(
      Seq("en" -> "charity"),
      Seq("en" -> "charity", "narrator" -> "hurairah"),
      Seq("narrator" -> "umar"),
      Seq("en" -> "zzz_no_such_token")).foreach { legs =>
      val res = hadith.ftsMatchTyped(legs, 5)
      assert(res === bounded.ftsMatchTyped(legs, 5), s"$legs diverged")
      // AND semantics: a two-leg match is a subset of each single leg's docs
      if (legs.size == 2) {
        val andIds = res.map(_.docId).toSet
        legs.foreach { leg =>
          val one = hadith.ftsMatchTyped(Seq(leg), 1000).map(_.docId).toSet
          assert(andIds.subsetOf(one))
        }
      }
    }
    assert(hadith.ftsMatchTyped(Nil, 5) === Nil)
  }

  test("fuzzed queries stay typed == DataFrame (seeded, punctuation/Arabic/quote noise)") {
    val rnd = new scala.util.Random(0x6f5a11)
    val words = Seq("patience", "charity", "intention", "prayer", "mercy",
      "عن", "النية", "hurairah", "umar", "fasting", "ramadan", "truth",
      "xqzzt", "1", "book", "narrated", "by")
    val glue = Seq(" ", "  ", ", ", "? ", "\" ", " \"", "' ", "-", "_")
    val queries = (0 until 40).map { _ =>
      val n = 1 + rnd.nextInt(7)
      (0 until n).map(_ => words(rnd.nextInt(words.size)))
        .mkString(glue(rnd.nextInt(glue.size)))
    }
    queries.foreach { q =>
      val mode = Seq("balanced", "spec", "term-priority")(rnd.nextInt(3))
      assert(hadith.searchTyped(q, 8, mode) === dfHits(q, 8, mode),
        s"fuzz '$q' [$mode] diverged")
    }
  }

  test("typed spec-mode citation equals the typed lookup twin") {
    val hits = hadith.searchTyped("Riyad as-Salihin 680", 10, "spec")
    val cits = hadith.lookupCitation("Riyad as-Salihin 680", 10)
    assert(hits.map(h => (h.docId, h.bookId, h.narrator, h.snippet)) ===
      cits.map(c => (c.docId, c.bookId, c.narrator, c.snippet)))
    assert(hits.forall(h => h.score == 1.0 && h.vectorSimilarity == 0.0))
  }
}
